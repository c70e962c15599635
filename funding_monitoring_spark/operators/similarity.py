"""Similarity search over embedding columns (north-star extension).

Two paths:

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  O(|Q|·|C|); fine for bounded query sets, the oracle target.
- ``cosine_topk_lsh``: random-hyperplane LSH — the scale path. Each
  vector hashes to a bucket by the sign pattern of its dot products
  with fixed hyperplanes; candidates are restricted to the query's
  bucket, so the join is an equi-join on bucket id instead of a cross
  join. At 100 TB the corpus is hash-partitioned by bucket, queries
  shuffle only to their bucket's partitions, and per-bucket top-k is a
  bounded heap. Recall is tunable via number of planes / multi-probe.

Determinism: dot products are computed as a SEQUENTIAL left fold
(zip → multiply → foldl add) so Spark and the DuckDB oracle produce
bit-identical doubles — sign decisions (LSH buckets) and rounded
scores then agree exactly.

No UDFs: higher-order array functions keep everything JVM-side. A
pandas_udf path would batch via Arrow but adds a Python hop; the
built-in expressions profile faster at 64-dim.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from funding_monitoring_spark.operators.cachescope import (
    scoped_persist,
)
from funding_monitoring_spark.plans.inspect import spread_to_parallelism

N_PLANES = 4  # planes (bits) per hash table
N_TABLES = 3  # independent hash tables (multi-probe recall dial)
DIM = 64
SCORE_ROUND = 6

#: fixed hyperplanes — N_TABLES independent tables of N_PLANES planes —
#: reproducible from the seed; inlined as literals into both the Spark
#: plan and the oracle SQL. One 4-bit table catches a cos≈0.4 neighbor
#: with p≈0.16; three tables lift that to ≈0.4, and genuinely close
#: neighbors (cos≥0.8) to >0.9 — the standard recall/candidate-count
#: tradeoff, tuned by (N_TABLES, N_PLANES).
PLANES: list[list[list[float]]] = (
    np.random.RandomState(7)
    .standard_normal((N_TABLES, N_PLANES, DIM))
    .tolist()
)


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def seq_dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: foldl(+, 0.0, zip_with(*, a, b))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def seq_norm(a: Column) -> Column:
    return F.sqrt(seq_dot(a, a))


def plane_literal(t: int, j: int) -> Column:
    return F.array(*[F.lit(v) for v in PLANES[t][j]])


def hyperplane_bucket(emb_double: Column, table: int) -> Column:
    """Sign-pattern bucket id for one hash table, in [0, 2^N_PLANES)."""
    bucket = F.lit(0)
    for j in range(N_PLANES):
        bit = F.when(
            seq_dot(emb_double, plane_literal(table, j)) >= 0,
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def bucket_keys(emb_double: Column) -> Column:
    """All N_TABLES bucket keys ('table:bucket') for a vector — explode
    to index it into every table."""
    return F.array(
        *[
            F.concat_ws(
                ":", F.lit(str(t)), hyperplane_bucket(emb_double, t)
            )
            for t in range(N_TABLES)
        ]
    )


def probe_bucket_keys(emb_double: Column) -> Column:
    """Multi-probe key set for the PROBING side of an LSH join: per
    table, the exact bucket plus every 1-bit flip — the buckets a
    near neighbor most likely landed in when it disagreed with the
    probe on a single hyperplane. N_TABLES*(N_PLANES+1) keys against
    an index built with plain `bucket_keys`; candidate volume grows
    ~(N_PLANES+1)× but stays bucket-bounded (never a cross join).

    Recall math (cos 0.5 neighbor, p = 1 - θ/π ≈ 0.667 per plane):
    exact-bucket only, one table catches it with p^4 ≈ 0.20 → three
    tables ≈ 0.48; with 1-bit probing a table catches at
    p^4 + 4·p^3(1-p) ≈ 0.59 → three tables ≈ 0.93. Measured on the
    sf0.01 fixture this lifts recall@5 from 0.34 to 0.85 (and the
    near-dup pair recall from 0.58 to 0.84), tracked by
    `ann_recall_report` / `near_dup_recall_report`."""
    keys = []
    for t in range(N_TABLES):
        b = hyperplane_bucket(emb_double, t)
        keys.append(F.concat_ws(":", F.lit(str(t)), b))
        keys.extend(
            F.concat_ws(
                ":", F.lit(str(t)), b.bitwiseXOR(F.lit(1 << j))
            )
            for j in range(N_PLANES)
        )
    return F.array(*keys)


def _bucket_int_cols() -> list[str]:
    return [f"__b{t}" for t in range(N_TABLES)]


def with_bucket_ints(df: DataFrame, emb_col: Column) -> DataFrame:
    """Materialize each table's integer bucket id as its own column in
    a SEPARATE projection. Catalyst's subexpression elimination skips
    higher-order-function folds, so an expression that references
    `hyperplane_bucket(...)` k times evaluates its N_PLANES seq_dot
    folds k times per row (`probe_bucket_keys` referenced each
    table's bucket N_PLANES+1 times — 5× the hyperplane work, 6× once
    the exact-key array recomputed it again). CollapseProject keeps
    the split: it never collapses a projection when doing so would
    duplicate a non-cheap expression, so downstream key builders see
    plain attribute references."""
    return df.select(
        "*",
        *[
            hyperplane_bucket(emb_col, t).alias(c)
            for t, c in enumerate(_bucket_int_cols())
        ],
    )


def bucket_keys_from_ints() -> Column:
    """`bucket_keys` over the materialized `with_bucket_ints` columns
    — identical key strings, each bucket fold evaluated once."""
    return F.array(
        *[
            F.concat_ws(":", F.lit(str(t)), F.col(c))
            for t, c in enumerate(_bucket_int_cols())
        ]
    )


def probe_keys_from_ints() -> Column:
    """`probe_bucket_keys` over the materialized columns: the 1-bit
    flips are integer XORs of the (already computed) bucket id."""
    keys = []
    for t, c in enumerate(_bucket_int_cols()):
        b = F.col(c)
        keys.append(F.concat_ws(":", F.lit(str(t)), b))
        keys.extend(
            F.concat_ws(
                ":", F.lit(str(t)), b.bitwiseXOR(F.lit(1 << j))
            )
            for j in range(N_PLANES)
        )
    return F.array(*keys)


def _prep(df: DataFrame, id_col: str, emb_col: str, prefix: str) -> DataFrame:
    emb = to_double_array(emb_col)
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        emb.alias(f"{prefix}_emb"),
        seq_norm(emb).alias(f"{prefix}_norm"),
    )


def _score_and_rank(pairs: DataFrame, k: int) -> DataFrame:
    scored = pairs.withColumn(
        "score",
        F.round(
            seq_dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
            SCORE_ROUND,
        ),
    ).filter(F.col("q_id") != F.col("c_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score"), F.asc("c_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "score",
            "rank",
        )
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the (small) query set
    against the corpus. Ties broken by neighbor id ascending."""
    q = F.broadcast(_prep(queries, id_col, emb_col, "q"))
    c = _prep(corpus, id_col, emb_col, "c")
    return _score_and_rank(c.crossJoin(q), k)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to vectors sharing at
    least one of the query's multi-probe bucket keys — each table's
    exact bucket plus its 1-bit flips (equi-join on exploded bucket
    keys + pair dedup — never a cross join). The corpus indexes with
    exact keys only, so the index stays N_TABLES entries/vector; only
    the (small) probing side fans out. Queries may return fewer than
    k rows — that's the approximation."""
    q = (
        with_bucket_ints(_prep(queries, id_col, emb_col, "q"), F.col("q_emb"))
        .withColumn("bucket", F.explode(probe_keys_from_ints()))
        .drop(*_bucket_int_cols())
    )
    c = (
        with_bucket_ints(_prep(corpus, id_col, emb_col, "c"), F.col("c_emb"))
        .withColumn("bucket", F.explode(bucket_keys_from_ints()))
        .drop(*_bucket_int_cols())
    )
    pairs = c.join(F.broadcast(q), on="bucket", how="inner").dropDuplicates(
        ["q_id", "c_id"]
    )
    return _score_and_rank(pairs, k)


#: cosine_topk_scale ships the query matrix in every task closure;
#: beyond this many query rows that stops being "a bounded broadcast"
#: and the LSH/IVF paths are the right tool — fail loudly, don't OOM.
MAX_SCALE_QUERY_ROWS = 10_000


def cosine_topk_scale(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_query_rows: int = MAX_SCALE_QUERY_ROWS,
) -> DataFrame:
    """Exact cosine top-k, the 100 TB path: vectorized `mapInPandas`
    over corpus partitions with the (bounded) query matrix shipped in
    the task closure. Each Arrow batch computes all scores as NumPy
    matrix ops, keeps only its local top-k per query (a bounded
    candidate set — the shuffle carries ≤ k rows per query per batch,
    never the corpus), and a final window rank merges the candidates.

    Numerics: dot products accumulate dimension-by-dimension
    (``acc += C[:,d] * Q[:,d]``), i.e. the same left-fold order as
    `seq_dot` and the DuckDB oracle — multiply-then-add per step, no
    FMA — so raw doubles are bit-identical to the HOF path and the
    global rank (raw score desc, id asc) is deterministic across all
    three engines. Rounding is applied by Spark after ranking.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, emb_col).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"cosine_topk_scale: query set exceeds max_query_rows="
            f"{max_query_rows}; this path broadcasts the query matrix "
            f"to every task — use cosine_topk_lsh/cosine_topk_ivf for "
            f"large query frames"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    dim = Q.shape[1] if len(Q) else 0
    qn = np.zeros(len(Q))
    for d in range(dim):
        qn += Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    def score_partition(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(Q) == 0:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.array(list(pdf[emb_col]), dtype=np.float64)
            S = np.zeros((len(C), len(Q)))
            cn = np.zeros(len(C))
            for d in range(dim):
                S += C[:, d : d + 1] * Q[None, :, d]
                cn += C[:, d] * C[:, d]
            cn = np.sqrt(cn)
            S = S / (qn[None, :] * cn[:, None])
            S[cids[:, None] == qids[None, :]] = -np.inf  # self-exclusion
            out_q, out_c, out_s = [], [], []
            for j in range(len(Q)):
                order = np.lexsort((cids, -S[:, j]))[:k]
                keep = order[np.isfinite(S[order, j])]
                out_q.extend([qids[j]] * len(keep))
                out_c.extend(cids[keep])
                out_s.extend(S[keep, j])
            yield pd.DataFrame(
                {"q_id": out_q, "c_id": out_c, "raw": out_s}
            )

    cand = corpus.select(id_col, emb_col).mapInPandas(
        score_partition, "q_id long, c_id long, raw double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("raw"), F.asc("c_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round("raw", SCORE_ROUND).alias("score"),
            "rank",
        )
    )


IVF_CENTROID_MOD = 101  # corpus vectors with vec_id % MOD == 0 are centroids
#: Centroid-set BOUND: the codebook must stay broadcastable, so the
#: cell count is a bounded design parameter, NOT proportional to the
#: corpus (an unbounded id-mod rule makes the assignment crossJoin
#: O(N^2/MOD) — the sf1 sweep measured exactly that blowup, 15x wall
#: at 10x data). Real IVF trains ~sqrt(N) centroids on a sample;
#: this deterministic stand-in caps the seed ids instead. 8192 is a
#: no-op at the sf0.01/sf0.1 fixtures (max vec_id 4999), so existing
#: oracle results are unchanged.
IVF_CENT_CAP = 8192
IVF_NPROBE = 3


def _cell_assignments(
    vecs: DataFrame, centroids: DataFrame, keep: int
) -> DataFrame:
    """Nearest-`keep` centroid cells per vector (1 = hard assignment
    for the corpus; nprobe > 1 for queries). Deterministic: raw cosine
    desc, centroid id asc.

    keep=1 (the CORPUS-side path — the big input) runs the argmax in
    ONE vectorized NumPy pass (guide §4.2 — the former
    crossJoin-against-broadcast shape evaluated an interpreted 64-dim
    seq_dot fold per (vector, centroid) pair, linear in corpus x
    centroids; bit-identical A/B in OPTIMIZATION_r14.md, sf1
    assignment 1.0 -> 0.6 s and growing with scale). Exactness: the
    raw cosine is computed with the fold's exact sequential term
    order and IEEE division, so every score is bit-identical to the
    JVM expression; the winner is picked by Spark's own comparison
    semantics (SQLOrderingUtil: equal by ``==``, NaN greatest) via a
    NaN-canonicalized IEEE total-order key with first-index (= lowest
    cent_id — the matrix is cent_id-sorted) tie-break. A -0.0 score
    is unreachable: the dot fold accumulates from +0.0 and IEEE
    addition never yields -0.0 from a +0.0 accumulator, so the one
    place total-order and ``==`` semantics differ cannot occur.
    The centroid frame is collected once — it is bounded by
    construction (IVF_CENT_CAP / IVF_CENTROID_MOD rows), the same
    rows the old plan broadcast. keep>1 (query probes, a small
    frame) keeps the row_number window — a top-N has no
    partial-aggregation form."""
    if keep == 1:
        import numpy as np

        cent_rows = centroids.select(
            "cent_id", "cent_emb", "cent_norm"
        ).collect()
        cent_rows.sort(key=lambda r: r["cent_id"])
        jid = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)
        c_mat = np.array(
            [r["cent_emb"] for r in cent_rows], dtype=np.float64
        )
        c_norm = np.array(
            [r["cent_norm"] for r in cent_rows], dtype=np.float64
        )
        id_t = vecs.schema["v_id"].dataType.simpleString()
        cid_t = centroids.schema["cent_id"].dataType.simpleString()
        cid_dtype = {"int": "int32", "bigint": "int64"}.get(
            cid_t, "int64"
        )
        out_schema = f"v_id {id_t}, cent_id {cid_t}"

        def assign(batches):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                if pdf.empty or len(jid) == 0:
                    continue
                v_mat = _np.stack(pdf["v_emb"].to_numpy())
                v_norm = pdf["v_norm"].to_numpy().astype(_np.float64)
                ids = pdf["v_id"].to_numpy()
                outs = []
                # chunk the (rows x cents x dim) temporary (~25 MB at
                # 256 rows x 200 cents x 64 dims)
                for lo in range(0, v_mat.shape[0], 256):
                    v = v_mat[lo : lo + 256]
                    n = v_norm[lo : lo + 256]
                    prod = v[:, None, :] * c_mat[None, :, :]
                    # EXPLICIT sequential fold — seq_dot's summation
                    # order (bit-identical doubles)
                    s = prod[:, :, 0]
                    for k in range(1, prod.shape[2]):
                        s = s + prod[:, :, k]
                    sc = s / (n[:, None] * c_norm[None, :])
                    # IEEE total-order key over the NEGATED score:
                    # ascending key == (cscore desc, NaN last), the
                    # min_by struct order; NaN canonicalized positive
                    # so a sign-flipped NaN cannot sort first
                    neg = _np.where(_np.isnan(sc), _np.nan, -sc)
                    u = neg.view(_np.uint64)
                    mask = _np.where(
                        u >> _np.uint64(63) == 1,
                        _np.uint64(0xFFFFFFFFFFFFFFFF),
                        _np.uint64(0x8000000000000000),
                    )
                    jw = (u ^ mask).argmin(axis=1)
                    outs.append(
                        _pd.DataFrame(
                            {
                                "v_id": ids[lo : lo + 256],
                                "cent_id": jid[jw].astype(
                                    cid_dtype, copy=False
                                ),
                            }
                        )
                    )
                if outs:
                    yield _pd.concat(outs, ignore_index=True)

        return spread_to_parallelism(
            vecs.select("v_id", "v_emb", "v_norm")
        ).mapInPandas(assign, out_schema)
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "cscore",
        seq_dot(F.col("v_emb"), F.col("cent_emb"))
        / (F.col("v_norm") * F.col("cent_norm")),
    )
    w = Window.partitionBy("v_id").orderBy(
        F.desc("cscore"), F.asc("cent_id")
    )
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= keep)
        .select("v_id", "cent_id")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: the corpus
    is hard-assigned to its nearest centroid cell; a query probes its
    `nprobe` nearest cells and scores only those members — the
    candidate join is an equi-join on cell id, never a cross join.

    Centroids are a deterministic corpus sample (vec_id % MOD == 0) —
    at scale you would k-means-refine them, which changes recall, not
    the pipeline shape: at 100 TB the corpus is hash-partitioned by
    cell (each cell's members co-located), queries shuffle only to
    their probed cells, and per-cell top-k is bounded work.
    """
    cents = _prep(
        corpus.filter(
            ((F.col(id_col) % IVF_CENTROID_MOD) == 0)
            & (F.col(id_col) < IVF_CENT_CAP)
        ),
        id_col,
        emb_col,
        "cent",
    )
    # the prepped frames are each consumed twice by the search (cell
    # assignment + candidate fetch); without a persist every consumer
    # re-scans the source and re-computes the norm fold (guide §2.4 /
    # §5 — Catalyst has no subplan reuse). MEMORY_AND_DISK persist
    # during an index build/search pass is the standard trade at any
    # scale; released by the cachescope registry at query end.
    c = _prep(corpus, id_col, emb_col, "c").transform(scoped_persist)
    q = _prep(queries, id_col, emb_col, "q").transform(scoped_persist)
    return _ivf_search(q, c, cents, k, nprobe)


def _ivf_search(
    q: DataFrame, c: DataFrame, cents: DataFrame, k: int, nprobe: int
) -> DataFrame:
    """Probe-and-score over a centroid table: corpus hard-assigned to
    its nearest cell, queries probe nprobe cells, candidates are the
    cell equi-join — never a cross join against the corpus."""
    c_cells = _cell_assignments(
        c.select(
            F.col("c_id").alias("v_id"),
            F.col("c_emb").alias("v_emb"),
            F.col("c_norm").alias("v_norm"),
        ),
        cents,
        keep=1,
    ).select(F.col("v_id").alias("c_id"), "cent_id")
    q_cells = _cell_assignments(
        q.select(
            F.col("q_id").alias("v_id"),
            F.col("q_emb").alias("v_emb"),
            F.col("q_norm").alias("v_norm"),
        ),
        cents,
        keep=nprobe,
    ).select(F.col("v_id").alias("q_id"), "cent_id")

    pairs = (
        q_cells.join(c_cells, on="cent_id")
        .select("q_id", "c_id")
        .distinct()
        .join(q, on="q_id")
        .join(c, on="c_id")
        .filter(F.col("q_id") != F.col("c_id"))
    )
    scored = pairs.withColumn(
        "raw",
        seq_dot(F.col("q_emb"), F.col("c_emb"))
        / (F.col("q_norm") * F.col("c_norm")),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("raw"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round("raw", SCORE_ROUND).alias("score"),
            "rank",
        )
    )


IVF_KMEANS_ITERS = 2
CENTROID_ROUND = 6


def kmeans_refined_centroids(
    c: DataFrame,
    init_cents: DataFrame,
    n_iters: int = IVF_KMEANS_ITERS,
    round_digits: int = CENTROID_ROUND,
) -> DataFrame:
    """Lloyd-iterate the centroid table over the full corpus, all
    declarative: per iteration, (1) hard-assign every vector to its
    nearest centroid by cosine (broadcast cross join against the small
    centroid table), (2) recompute each cell's per-dimension mean via
    the posexplode -> codegen'd avg -> ordered-reassembly pattern
    (operators/vectorops.py) — one tiny (cell, dim) shuffle per
    iteration regardless of corpus size, no Python UDFs, no driver
    collect of vectors.

    Determinism: per-dimension means are rounded to round_digits so the
    refined centroids (and every downstream sign/rank decision) are
    reproducible across engines despite order-dependent double
    summation. Cells that attract no members drop out (standard Lloyd
    with cluster death; the cell count can only shrink).
    """
    from funding_monitoring_spark.operators.vectorops import group_centroids

    cents = init_cents
    for _ in range(n_iters):
        assign = _cell_assignments(
            c.select(
                F.col("c_id").alias("v_id"),
                F.col("c_emb").alias("v_emb"),
                F.col("c_norm").alias("v_norm"),
            ),
            cents,
            keep=1,
        )
        members = assign.join(
            c.select(
                F.col("c_id").alias("v_id"), F.col("c_emb").alias("v_emb")
            ),
            "v_id",
        )
        refined = group_centroids(
            members, group_col="cent_id", vec_col="v_emb",
            round_digits=round_digits,
        )
        cents = refined.select(
            "cent_id",
            F.col("centroid").alias("cent_emb"),
            seq_norm(F.col("centroid")).alias("cent_norm"),
        )
    return cents


def cosine_topk_ivf_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    nprobe: int = IVF_NPROBE,
    n_iters: int = IVF_KMEANS_ITERS,
) -> DataFrame:
    """IVF top-k with k-means-refined centroids: same probe/score
    pipeline as `cosine_topk_ivf`, but the deterministic corpus-sample
    centroids are Lloyd-refined first — cells track the data's actual
    density, which lifts recall at the same nprobe without changing
    the pipeline shape (the refinement is a bounded per-iteration
    broadcast join + (cell, dim) aggregate; search is still the cell
    equi-join)."""
    init = _prep(
        corpus.filter(
            ((F.col(id_col) % IVF_CENTROID_MOD) == 0)
            & (F.col(id_col) < IVF_CENT_CAP)
        ),
        id_col,
        emb_col,
        "cent",
    )
    # the corpus frame feeds every Lloyd iteration TWICE (assignment
    # crossJoin + member fetch) plus both search branches — persist it
    # once (guide §2.4/§5; MEMORY_AND_DISK, scope-released at query
    # end) instead of re-scanning the source per consumer
    c = _prep(corpus, id_col, emb_col, "c").transform(scoped_persist)
    q = _prep(queries, id_col, emb_col, "q").transform(scoped_persist)
    # the refined centroid table is the (tiny) index; persist it so the
    # Lloyd chain — which scans the corpus once per iteration — is not
    # re-evaluated by each of the two search branches that consume it
    cents = kmeans_refined_centroids(c, init, n_iters).transform(scoped_persist)
    return _ivf_search(q, c, cents, k, nprobe)


def embedding_near_dup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold (id_a < id_b), the
    scale path: band-then-verify, mirroring `minhash_lsh_pairs`.

    Candidate pairs: one side of the self-join probes with the
    multi-probe key set (each table's exact bucket + 1-bit flips),
    the other indexes with exact keys — an equi-join on the bucket
    key, never a cross join. Hamming symmetry makes one-sided probing
    sufficient: if a and b differ by one plane in some table, a's
    probe set contains b's exact bucket. Every candidate is then
    verified with the exact cosine before the threshold filter — so
    probing widens RECALL (collision probability per table goes
    p^n → p^n + n·p^(n-1)(1-p)) while precision stays exact. At
    100 TB the exact-keyed signature frame is the persisted index:
    the self-join shuffles only (id, bucket) pairs, the verify join
    fetches embeddings for surviving candidates only, and hot
    buckets split via AQE skew handling.
    """
    # (id, emb, norm, buckets) computed once and persisted — the
    # hyperplane projection is the expensive part and the frame is
    # scanned three times (band self-join ×2, verify join ×2 via the
    # un-exploded view). The integer bucket ids are materialized in
    # their own projection first (with_bucket_ints): building the
    # exact-key AND multi-probe arrays straight from the embedding
    # re-evaluated each table's hyperplane fold 6× per row.
    vecs = (
        with_bucket_ints(
            _prep(df, id_col, emb_col, "q"), F.col("q_emb")
        )
        .select(
            "q_id",
            "q_emb",
            "q_norm",
            bucket_keys_from_ints().alias("buckets"),
            probe_keys_from_ints().alias("probes"),
        )
        .transform(scoped_persist)
    )

    probe_side = vecs.select(
        F.col("q_id").alias("id_a"), F.explode("probes").alias("bucket")
    )
    index_side = vecs.select(
        F.col("q_id").alias("id_b"), F.explode("buckets").alias("bucket")
    )
    candidates = (
        probe_side.join(index_side, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = candidates.join(
        vecs.select(
            F.col("q_id").alias("id_a"),
            F.col("q_emb").alias("a_emb"),
            F.col("q_norm").alias("a_norm"),
        ),
        "id_a",
    ).join(
        vecs.select(
            F.col("q_id").alias("id_b"),
            F.col("q_emb").alias("b_emb"),
            F.col("q_norm").alias("b_norm"),
        ),
        "id_b",
    )
    scored = verified.withColumn(
        "score",
        F.round(
            seq_dot(F.col("a_emb"), F.col("b_emb"))
            / (F.col("a_norm") * F.col("b_norm")),
            SCORE_ROUND,
        ),
    )
    return scored.filter(F.col("score") >= threshold).select(
        "id_a", "id_b", "score"
    )


def embedding_near_dup_exact(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs (id_a < id_b): the brute-force
    all-pairs twin of `embedding_near_dup`, kept as the bounded-input
    oracle baseline for recall measurement — O(N²), never the scale
    path."""
    a = _prep(df, id_col, emb_col, "q")
    b = _prep(df, id_col, emb_col, "c")
    pairs = a.crossJoin(b).filter(F.col("q_id") < F.col("c_id"))
    scored = pairs.withColumn(
        "score",
        F.round(
            seq_dot(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
            SCORE_ROUND,
        ),
    )
    return scored.filter(F.col("score") >= threshold).select(
        F.col("q_id").alias("id_a"), F.col("c_id").alias("id_b"), "score"
    )


def topk_recall(
    exact: DataFrame, approx: DataFrame, method: str
) -> DataFrame:
    """recall@k of an approximate top-k result against its exact twin:
    the fraction of true (query_id, neighbor_id) pairs the
    approximate path recovered. Both inputs are (query_id,
    neighbor_id[, ...]) top-k frames from the same (queries, corpus,
    k); both are deterministic (score-then-id tie-break), so recall
    is a reproducible oracle-checkable number, not a sampled
    estimate. One row out: method, n_queries, n_exact, n_hits,
    recall_at_k. The left-join probes the (tiny) approximate set
    against the exact set — broadcast-sized at any corpus scale since
    both are ≤ |queries|·k rows."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = e.join(a, ["query_id", "neighbor_id"], "left")
    return (
        joined.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.sum("hit"), F.lit(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("recall_at_k"),
        )
        .withColumn("method", F.lit(method))
        .select(
            "method", "n_queries", "n_exact", "n_hits", "recall_at_k"
        )
    )


# --- Product quantization (PQ / ADC) --------------------------------

PQ_M = 8                 #: subspaces per vector
PQ_SUBDIM = DIM // PQ_M  #: dims per subspace
#: sub-codebook = unit-normalized corpus vectors with
#: vec_id % MOD == 0 AND vec_id < CAP — deterministic on both engines
#: and O(1)-bounded, so the broadcast codebook and the per-vector
#: encode cost stay fixed as the corpus grows.
PQ_CENT_MOD = 11
PQ_CENT_CAP = 4096
#: ADC shortlist size = PQ_RERANK * k candidates, exact-rescored
PQ_RERANK = 16
#: IVF-PQ shortlist multiplier. Wider than the linear-ADC path's
#: because the fixture corpus is UNCLUSTERED (best-centroid cosine
#: ~0.16 at sf0.01), so residuals are larger than the vectors they
#: encode and the residual ADC winnows weakly — the wider exact
#: re-rank restores recall to the IVF routing ceiling (0.69 at
#: sf0.01, the max any PQ variant can reach inside the probed
#: cells). rerank*k is a CONSTANT per query at any corpus size; on a
#: genuinely clustered 100 TB corpus residuals quantize finer and
#: this can shrink back toward PQ_RERANK.
IVF_PQ_RERANK = 48


def _subspace_split(
    df: DataFrame, id_col: str, arr: Column, prefix: str
) -> DataFrame:
    """(id, m, sub): an already-prepared double array split into PQ_M
    contiguous subvectors (m is 1-based). Shared by the raw-vector PQ
    path (normalized embeddings) and the IVF-PQ residual path
    (vector minus assigned centroid, NOT renormalized)."""
    structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(
                    F.col("__arr"),
                    (m - 1) * PQ_SUBDIM + 1,
                    PQ_SUBDIM,
                ).alias("sub"),
            )
            for m in range(1, PQ_M + 1)
        ]
    )
    return (
        df.select(F.col(id_col).alias(f"{prefix}_id"), arr.alias("__arr"))
        .select(f"{prefix}_id", F.explode(structs).alias("s"))
        .select(
            f"{prefix}_id",
            F.col("s.m").alias("m"),
            F.col("s.sub").alias("sub"),
        )
    )


def _pq_subspaces(
    df: DataFrame, id_col: str, emb_col: str, prefix: str
) -> DataFrame:
    """(id, m, sub): the UNIT-normalized embedding split into PQ_M
    contiguous subvectors (m is 1-based). Normalizing first makes the
    ADC sum of per-subspace inner products equal the full cosine."""
    emb = to_double_array(emb_col)
    nemb = F.transform(emb, lambda x: x / seq_norm(emb))
    return _subspace_split(df, id_col, nemb, prefix)


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(m, j, csub): per-subspace codebook from the deterministic
    corpus sample — j is the sampled vector's id (the tie-break key).
    PQ_M * |sample| rows: broadcast-sized at any corpus scale."""
    sample = corpus.filter(
        ((F.col(id_col) % PQ_CENT_MOD) == 0)
        & (F.col(id_col) < PQ_CENT_CAP)
    )
    return _pq_subspaces(sample, id_col, emb_col, "cent").select(
        "m", F.col("cent_id").alias("j"), F.col("sub").alias("csub")
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance between two arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(c_id, m, code): every corpus vector compressed to PQ_M
    sub-centroid ids — its nearest codebook entry per subspace by
    squared L2 (distance rounded, then id, so the argmin is
    reproducible across engines). The codes table is the PQ index:
    PQ_M small ints per vector (~16x compression on 64-dim doubles),
    built by one broadcast join against the codebook — cost
    O(N * PQ_M * |codebook|) scan-stage folds, no shuffle of
    embeddings."""
    return _argmin_codes(_pq_subspaces(corpus, id_col, emb_col, "c"), cents)


def _argmin_codes(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """(c_id, m, code): nearest codebook entry per (vector, subspace)
    by squared L2 (distance rounded, then id — reproducible argmin).

    The argmin explosion is the PQ build's hot spot: the former shape
    (broadcast join against the codebook + an interpreted _sq_l2 HOF
    fold per pair) evaluated |subs| * |codebook/m| zip_with/aggregate
    lambdas — ~150M pairs = ~1.2B interpreted lambda steps at sf0.1,
    several seconds of pure Python-free but interpreter-bound JVM work
    (HOFs never enter codegen). Guide §4.2: hand the batch to
    vectorized native code. One mapInPandas computes the raw squared
    L2 for every candidate in NumPy and emits, per (c_id, m), ONLY the
    candidates within 2e-6 of the raw minimum; the JVM then applies
    the exact same F.round + min_by((dist, j)) as before to pick the
    winner.

    Equivalence argument (the winner is decided by the SAME rounded
    argmin as the old plan):
    - the raw distance is bit-identical: NumPy and the JVM fold both
      compute IEEE-double (x-y)*(x-y) terms summed in the SAME
      left-to-right order (the NumPy sum is an explicit sequential
      8-term add chain, not a pairwise reduction) — verified
      empirically over every (vector, subspace) of the sf0.1 fixture
      (0 mismatches; see OPTIMIZATION_r14.md);
    - rounding to 1e-6 is monotone, so any j whose ROUNDED distance
      ties the rounded minimum satisfies d_j <= d_min + 1e-6; the
      survivor filter keeps everything within 2e-6, a strict superset;
    - rounding and the (dist asc, j asc) tie-break run in the JVM on
      those survivors via the unchanged expressions, so no rounding
      semantics are re-implemented anywhere.

    The codebook is collected to the driver once — it is hard-bounded
    by construction (PQ_CENT_CAP / PQ_CENT_MOD entries per subspace x
    PQ_M subspaces, ~3k rows) — the same rows the old plan broadcast.
    min_by on the (dist, j) struct is exactly the (dist asc, j asc)
    argmin: j is unique within a group, so no tie can reach the
    struct's second field undecided."""
    import numpy as np

    # bounded driver-side collect (see docstring); sorted by j so the
    # per-m candidate matrices are deterministic
    cent_rows = cents.select("m", "j", "csub").collect()
    codebook: dict[int, tuple] = {}
    by_m: dict[int, list] = {}
    for r in cent_rows:
        by_m.setdefault(r["m"], []).append((r["j"], r["csub"]))
    for m_val, entries in by_m.items():
        entries.sort(key=lambda e: e[0])
        j_arr = np.array([e[0] for e in entries], dtype=np.int64)
        c_mat = np.array([e[1] for e in entries], dtype=np.float64)
        codebook[m_val] = (j_arr, c_mat)

    id_t = subs.schema["c_id"].dataType.simpleString()
    m_t = subs.schema["m"].dataType.simpleString()
    j_t = cents.schema["j"].dataType.simpleString()
    out_schema = f"c_id {id_t}, m {m_t}, j {j_t}, d double"
    _np_int = {"int": "int32", "bigint": "int64", "smallint": "int16"}
    m_dtype = _np_int.get(m_t, "int64")
    j_dtype = _np_int.get(j_t, "int64")

    def survivors(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if pdf.empty:
                continue
            outs = []
            for m_val, grp in pdf.groupby("m", sort=False):
                cb = codebook.get(m_val)
                if cb is None:  # degenerate empty codebook: inner-join
                    continue  # semantics — no candidates, no rows
                j_arr, c_mat = cb
                sub_mat = _np.stack(grp["sub"].to_numpy())
                ids = grp["c_id"].to_numpy()
                # bound the (rows x J x SUBDIM) temporary: ~25 MB per
                # slice at 1024 rows x 373 cents x 8 dims
                for lo in range(0, sub_mat.shape[0], 1024):
                    s = sub_mat[lo : lo + 1024]
                    diff = s[:, None, :] - c_mat[None, :, :]
                    sq = diff * diff
                    # EXPLICIT sequential fold — the JVM aggregate()'s
                    # exact summation order (bit-identical doubles)
                    d = sq[:, :, 0]
                    for k in range(1, sq.shape[2]):
                        d = d + sq[:, :, k]
                    dmin = d.min(axis=1)
                    keep = d <= dmin[:, None] + 2e-6
                    rows, cols = _np.nonzero(keep)
                    outs.append(
                        _pd.DataFrame(
                            {
                                "c_id": ids[lo : lo + 1024][rows],
                                "m": _np.full(
                                    len(rows), m_val, dtype=m_dtype
                                ),
                                "j": j_arr[cols].astype(
                                    j_dtype, copy=False
                                ),
                                "d": d[rows, cols],
                            }
                        )
                    )
            if outs:
                yield _pd.concat(outs, ignore_index=True)

    # spread the subs frame across the full parallelism FIRST: it is
    # small in bytes (AQE happily coalesces it to one partition) but
    # the per-row work below is |codebook|-fold — the classic
    # cheap-to-store / expensive-to-process shape. The sf1 sweep
    # measured the un-spread JVM version running the entire 60M-row
    # explosion in a single task (189 s -> ~6 s at 32 cores).
    cand = spread_to_parallelism(subs).mapInPandas(survivors, out_schema)
    dist = F.round(F.col("d"), SCORE_ROUND)
    return cand.groupBy("c_id", "m").agg(
        F.min_by(
            F.col("j"), F.struct(dist.alias("dist"), F.col("j"))
        ).alias("code")
    )


def build_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(cents, codes), both eagerly checkpointed — the PQ index as a
    reusable artifact. At 100 TB the encode is a once-per-ingest cost
    amortized over every query; callers serving several PQ queries in
    one session (the bench suite, a notebook) build this once and
    pass it to cosine_topk_pq(index=...) instead of re-encoding the
    corpus per query."""
    cents = pq_codebook(corpus, id_col, emb_col).localCheckpoint(
        eager=True
    )
    codes = pq_encode(corpus, cents, id_col, emb_col).localCheckpoint(
        eager=True
    )
    return cents, codes


def cosine_topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    rerank: int = PQ_RERANK,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k via product quantization with asymmetric
    distance computation (ADC) plus exact re-ranking: the corpus
    lives as PQ_M-byte codes, each query precomputes a lookup table
    of per-subspace inner products against the codebook, a
    candidate's ADC score is the m-ordered SUM of table lookups — no
    full-dimension dot in the scan, which reads the compressed codes,
    never the embeddings — and only the rerank*k ADC-shortlisted
    candidates per query get an exact full-dimension rescore (the
    standard PQ pipeline: the compressed scan does the winnowing, the
    expensive metric runs on a bounded shortlist). The per-(query,
    candidate) partials fold in m order (array_sort over (m, partial)
    structs), so the double sum is bit-identical on both engines
    before the shortlist cut.

    Scale path: this is the ADC linear scan; at 100 TB compose with
    the IVF cell routing (cosine_topk_ivf) so each query scans only
    its probed cells' codes — IVF-PQ, the standard composition. The
    codebook is sample-seeded like IVF's (k-means refinement via
    kmeans_refined_centroids changes recall, not shape)."""
    if index is not None:
        cents, codes = index
    else:
        cents = pq_codebook(corpus, id_col, emb_col)
        # the tiny codebook feeds BOTH the encode and the query LUT;
        # localCheckpoint so Catalyst doesn't recompute the sample
        # scan per consumer (aliased subplans are never reused)
        cents = cents.localCheckpoint(eager=True)
        codes = pq_encode(corpus, cents, id_col, emb_col)
    qsubs = _pq_subspaces(queries, id_col, emb_col, "q")
    lut = (
        qsubs.join(F.broadcast(cents), "m")
        .select(
            "q_id",
            "m",
            "j",
            seq_dot(F.col("sub"), F.col("csub")).alias("partial"),
        )
    )
    pairs = codes.join(
        F.broadcast(lut),
        (codes["m"] == lut["m"]) & (codes["code"] == lut["j"]),
    ).select("q_id", "c_id", codes["m"].alias("m"), "partial")
    ordered = F.array_sort(
        F.collect_list(
            F.struct(F.col("m").alias("m"), F.col("partial").alias("partial"))
        )
    )
    score = F.round(
        F.aggregate(
            ordered, F.lit(0.0), lambda acc, s: acc + s["partial"]
        ),
        SCORE_ROUND,
    )
    adc = (
        pairs.groupBy("q_id", "c_id")
        .agg(score.alias("adc_score"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("adc_score"), F.asc("c_id")
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k * rerank)
        .select("q_id", "c_id")
    )
    # exact re-rank of the bounded shortlist: rerank*k rows per query
    # join back to the raw embeddings — the only full-dimension dots
    # in the pipeline
    q = _prep(queries, id_col, emb_col, "q")
    c = _prep(corpus, id_col, emb_col, "c")
    # same explicit shape as cosine_topk_ivf_pq below: the bounded
    # (n_queries * k * rerank) shortlist+query side is BROADCAST so
    # the exact rescore probes the corpus scan as a BHJ regardless
    # of what the size estimator thinks of the ADC subtree.
    rescored = c.join(
        F.broadcast(shortlist.join(F.broadcast(q), "q_id")), "c_id"
    )
    return _score_and_rank(rescored, k)


def _adc_scores(pairs: DataFrame) -> DataFrame:
    """(q_id, c_id, adc_score) from per-subspace (m, partial) rows:
    partials fold in m order (array_sort over structs), so the
    4-or-8-term double sum is bit-identical on both engines."""
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("m").alias("m"), F.col("partial").alias("partial")
            )
        )
    )
    score = F.round(
        F.aggregate(
            ordered, F.lit(0.0), lambda acc, s: acc + s["partial"]
        ),
        SCORE_ROUND,
    )
    return pairs.groupBy("q_id", "c_id").agg(score.alias("adc_score"))


def build_ivf_pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(c_cells, pq_cents, codes), all eagerly checkpointed — the
    corpus side of the IVF-PQ index (cell assignments, residual
    codebook, residual codes) as a reusable artifact. At 100 TB these
    are once-per-ingest builds amortized over every query; callers
    serving several IVF-PQ queries in one session build this once and
    pass it to cosine_topk_ivf_pq(index=...)."""
    c_cells, rsubs, pq_cents = _ivf_pq_corpus(corpus, id_col, emb_col)
    codes = _argmin_codes(rsubs, pq_cents).localCheckpoint(eager=True)
    return c_cells, pq_cents, codes


def _ivf_pq_corpus(
    corpus: DataFrame, id_col: str, emb_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Corpus-side IVF-PQ frames: hard cell assignments (one
    crossJoin, checkpointed), residual subspace rows (checkpointed —
    they feed both the codebook sample and the encode argmin), and
    the residual codebook (checkpointed)."""
    cents = _prep(
        corpus.filter(
            ((F.col(id_col) % IVF_CENTROID_MOD) == 0)
            & (F.col(id_col) < IVF_CENT_CAP)
        ),
        id_col,
        emb_col,
        "cent",
    )
    c = _prep(corpus, id_col, emb_col, "c")
    c_cells = (
        _cell_assignments(
            c.select(
                F.col("c_id").alias("v_id"),
                F.col("c_emb").alias("v_emb"),
                F.col("c_norm").alias("v_norm"),
            ),
            cents,
            keep=1,
        )
        .select(F.col("v_id").alias("c_id"), "cent_id")
        .localCheckpoint(eager=True)
    )
    # residual encoding: r = v_n - cent_n (both unit-normalized,
    # element-wise — the residual itself is NOT renormalized)
    ncent = cents.select(
        "cent_id",
        F.transform(
            "cent_emb", lambda x: x / F.col("cent_norm")
        ).alias("ncent"),
    )
    resid = (
        c.select(
            "c_id",
            F.transform(
                "c_emb", lambda x: x / F.col("c_norm")
            ).alias("ncemb"),
        )
        .join(c_cells, "c_id")
        .join(F.broadcast(ncent), "cent_id")
        .select(
            "c_id",
            F.zip_with(
                "ncemb", "ncent", lambda a, b: a - b
            ).alias("remb"),
        )
    )
    rsubs = _subspace_split(
        resid, "c_id", F.col("remb"), "c"
    ).localCheckpoint(eager=True)
    pq_cents = (
        rsubs.filter(
            ((F.col("c_id") % PQ_CENT_MOD) == 0)
            & (F.col("c_id") < PQ_CENT_CAP)
        )
        .select("m", F.col("c_id").alias("j"), F.col("sub").alias("csub"))
        .localCheckpoint(eager=True)
    )
    return c_cells, rsubs, pq_cents


def cosine_topk_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    nprobe: int = IVF_NPROBE,
    rerank: int = IVF_PQ_RERANK,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding: the composed 100 TB ANN path.
    The IVF index routes — the corpus is hard-assigned to
    sampled-centroid cells and a query probes its nprobe nearest, so
    candidates are a cell equi-join, never a corpus scan; PQ
    compresses the RESIDUAL r = v_n - cent_n (unit vector minus its
    cell's unit centroid — the standard IVF-PQ trick: residuals
    cluster far tighter than raw vectors, so the same codebook budget
    quantizes much finer). The ADC identity is exact before
    quantization:  q_n . v_n = q_n . cent_n + q_n . r  — the centroid
    term enters the m-ordered fold as an m=0 row, and the PQ_M
    residual partials come from the query's lookup table against the
    residual codebook. Only the rerank*k ADC shortlist gets exact
    full-dimension rescoring. At scale the corpus is partitioned by
    cell with codes co-located, a query moves (nprobe cells x PQ_M
    lookups) of work, and the embeddings are touched only for the
    bounded shortlist — memory ~PQ_M bytes/vector in the scan path.
    Every stage keeps the determinism guarantees (rounded argmins,
    fixed fold orders), so the oracle replays it bit-for-bit."""
    cents = _prep(
        corpus.filter(
            ((F.col(id_col) % IVF_CENTROID_MOD) == 0)
            & (F.col(id_col) < IVF_CENT_CAP)
        ),
        id_col,
        emb_col,
        "cent",
    )
    q = _prep(queries, id_col, emb_col, "q")
    c = _prep(corpus, id_col, emb_col, "c")  # exact-rescore side
    # corpus-side index: cell assignments (the crossJoin), residual
    # codebook, residual codes — prebuilt and shared when the caller
    # passes index=..., else built here (codes stay lazy: one consumer)
    if index is not None:
        c_cells, pq_cents, codes = index
    else:
        c_cells, rsubs, pq_cents = _ivf_pq_corpus(
            corpus, id_col, emb_col
        )
        codes = _argmin_codes(rsubs, pq_cents)
    q_cells = _cell_assignments(
        q.select(
            F.col("q_id").alias("v_id"),
            F.col("q_emb").alias("v_emb"),
            F.col("q_norm").alias("v_norm"),
        ),
        cents,
        keep=nprobe,
    ).select(F.col("v_id").alias("q_id"), "cent_id")
    cand = (
        q_cells.join(c_cells, on="cent_id")
        .select("q_id", "c_id")
        .distinct()
        .filter(F.col("q_id") != F.col("c_id"))
    )
    ncent = cents.select(
        "cent_id",
        F.transform(
            "cent_emb", lambda x: x / F.col("cent_norm")
        ).alias("ncent"),
    )
    qsubs = _pq_subspaces(queries, id_col, emb_col, "q")
    lut = qsubs.join(F.broadcast(pq_cents), "m").select(
        "q_id",
        "m",
        F.col("j").alias("code"),
        seq_dot(F.col("sub"), F.col("csub")).alias("partial"),
    )
    pq_pairs = cand.join(codes, "c_id").join(
        F.broadcast(lut), ["q_id", "m", "code"]
    ).select("q_id", "c_id", "m", "partial")
    # the exact q . cent term enters the fold as the m=0 row — the
    # candidate's ONE hard-assigned cell, so exactly one row per pair
    nq = q.select(
        "q_id",
        F.transform("q_emb", lambda x: x / F.col("q_norm")).alias(
            "nqemb"
        ),
    )
    cent_term = (
        cand.join(c_cells, "c_id")
        .join(F.broadcast(ncent), "cent_id")
        .join(F.broadcast(nq), "q_id")
        .select(
            "q_id",
            "c_id",
            F.lit(0).alias("m"),
            seq_dot(F.col("nqemb"), F.col("ncent")).alias("partial"),
        )
    )
    adc = _adc_scores(pq_pairs.unionByName(cent_term))
    w = Window.partitionBy("q_id").orderBy(
        F.desc("adc_score"), F.asc("c_id")
    )
    # the shortlist is bounded (n_queries * k * rerank rows) while
    # the corpus is the full table — BROADCAST the shortlist+query
    # side so the exact rescore is a BroadcastHashJoin probing the
    # corpus scan, not a SortMergeJoin that shuffles and sorts the
    # whole corpus for a sliver. (A bloom prefilter on c_id was
    # evaluated and rejected: its driver collect forces a second
    # execution of the ADC pipeline — or a checkpoint barrier — and
    # rows it would drop are dropped just as cheaply at the BHJ
    # probe; neither variant reduces scan IO since the predicate
    # isn't parquet-pushable.)
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k * rerank)
        .select("q_id", "c_id")
    )
    rescored = c.join(
        F.broadcast(shortlist.join(F.broadcast(q), "q_id")), "c_id"
    )
    return _score_and_rank(rescored, k)
