"""Approximate string join under an edit-distance bound, without the
cross join: q-gram prefix filtering + banded Levenshtein verify.

The task — "find all pairs of keys within edit distance d" — is the
entity-resolution / near-dup-title primitive a curation pipeline needs
(canonicalizing URLs, titles, product names). The naive plan is an
O(N²) cross join; the classic fix (SSJoin, Chaudhuri et al. 2006; the
prefix-filtering family of PPJoin, Xiao et al. 2008) turns the bound
into a set-overlap condition on q-gram sets and blocks on a tiny
PREFIX of each set:

  1. one edit changes at most q distinct q-grams, so
     dist(a, b) <= d  =>  |G_a ∩ G_b| >= max(|G_a|, |G_b|) - d*q;
  2. order all grams by global frequency (rarest first): two sets with
     that much overlap MUST share a gram within their first d*q + 1
     grams (prefix principle) — provided the larger set has more than
     d*q grams;
  3. pairs where BOTH gram sets are that small fall back to a
     within-group all-pairs over just those rows (the "short block").

Candidates therefore come from a self-join on (group, prefix-gram) —
the shuffle key is a gram, never a row pair — followed by an exact
verify: a length filter (|len_a - len_b| <= d is necessary) and
Spark's banded ``levenshtein(l, r, threshold)``, which abandons a pair
the moment its distance provably exceeds d. The result is EXACT —
identical to the cross-join query — so the differential oracle is the
plain brute-force SQL; blocking affects how much data moves, never
the answer (the same contract as sketches.frequent_items_exact_2pass).

Scale: the prefix explode emits d*q + 1 rows per string; the
candidate join shuffles (group, gram) keys; the verify join shuffles
candidate ids. Nothing is ever quadratic in N unless the data itself
is (a degenerate corpus where everything matches everything). Hot
buckets degrade GRACEFULLY before failing: a (group, prefix-gram)
bucket larger than ``max_bucket`` is re-blocked by LENGTH BUCKET
(floor(len / (d+1)) — valid pairs satisfy |len_a - len_b| <= d, a
necessary condition, so adjacent-bucket joins keep the answer exact),
and the short-string fallback is length-blocked the same way. Only
when a bucket is still hot AFTER secondary blocking (same group, same
gram, same length class — candidates genuinely quadratic) does the
guard fail loudly — the signal to raise q, tighten the group, or
raise the bound deliberately; the same guarded-matrix discipline as
operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from funding_monitoring_spark.operators.cachescope import scoped_persist
from funding_monitoring_spark.plans.inspect import spread_to_parallelism


def qgram_set(s: Column, q: int) -> Column:
    """Distinct q-grams of a string (positional-free); a string
    shorter than q contributes itself as its only gram."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(s) - (q - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(starts, lambda i: F.substring(s, i, q))
    )


def _fuzzy_base(
    df: DataFrame, id_col: str, group_col: str, str_col: str, q: int
) -> DataFrame:
    """Normalized (_id, _g, _s, _grams, _len) frame both fuzzy joins
    start from (NULL strings carry no fuzzy identity and drop here).

    An UNDER-partitioned input (the fixture arrives as ONE parquet
    file) is spread to the cluster's default parallelism first — the
    bpe.word_state discipline. Without it every derived stage runs
    single-task: the q-gram explode (evaluated twice: frequency agg +
    prefix join), the frequency-ordered prefix window (AQE coalesces
    its 50k-row shuffle to ONE partition by bytes, so the checkpoint
    lands 1-partition and every downstream self-join inherits the
    skew) — measured 3.5 s single-task for the sf0.1 prefix build
    alone. A real multi-file corpus is left untouched."""
    return (
        spread_to_parallelism(df)
        .select(
            F.col(id_col).alias("_id"),
            F.col(group_col).alias("_g"),
            F.col(str_col).alias("_s"),
        )
        .filter(F.col("_s").isNotNull())
        .withColumn("_grams", qgram_set(F.col("_s"), q))
        .withColumn("_len", F.length("_s"))
    )


def _prefix_candidates(
    base: DataFrame,
    p: int,
    d: int,
    max_bucket: int | None,
    caller: str,
) -> DataFrame:
    """Candidate (_g, _ida, _idb) pairs from the frequency-ordered
    q-gram prefix index of size ``p`` — the blocking machinery shared
    by edit_distance_join (p = d*q + 1) and damerau_join
    (p = d*(q+1) + 1): a self-join on (group, prefix-gram) with
    length-class degradation for hot buckets and a length-blocked
    all-pairs fallback for short strings, both guarded by
    ``max_bucket``. Exactness argument per the module docstring; the
    returned pair set is a SUPERSET of the true answer that the
    caller's verify step filters exactly."""
    # length class: valid pairs (|len diff| <= d) land in the same or
    # an ADJACENT class, so an equi-join on the class plus a 3-way
    # offset explode on one side is exact — the secondary blocking key
    # for hot buckets
    blk = (F.col("_len") / (d + 1)).cast("long")

    # every row joins the prefix index — a short set's "prefix" is the
    # whole set, which is exactly what the prefix principle needs for
    # short-vs-long pairs (t = |G_long| - d*q >= 1 holds); only
    # short-vs-short pairs lack the guarantee and go to the fallback
    exploded = base.select(
        "_id", "_g", F.col("_len"), F.explode("_grams").alias("_gram")
    )
    freq = exploded.groupBy("_gram").agg(
        F.count(F.lit(1)).alias("_gf")
    )
    w = Window.partitionBy("_id").orderBy("_gf", "_gram")
    # the prefix index is consumed several times (hot-bucket tagging +
    # both sides of the candidate self-joins); without a checkpoint
    # the scan → gram explode → freq join → window chain re-executes
    # per consumer. Catalyst does not reuse aliased self-join subplans
    # (no ReusedExchange), so materializing the slim (id, group, gram,
    # len) frame — d*q+1 rows per string — is the repo-standard fix.
    prefix = (
        exploded.join(freq, "_gram")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= p)
        .select("_id", "_g", "_gram", "_len")
        .localCheckpoint(eager=True)
    )

    if max_bucket is not None:
        # hot (group, gram) buckets re-block by length class instead
        # of failing; the list is bounded (<= prefix_rows/max_bucket
        # entries) so it broadcasts
        hot_keys = (
            prefix.groupBy("_g", "_gram")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("_g", "_gram")
            .withColumn("_hot", F.lit(True))
        )
        tagged = prefix.join(
            F.broadcast(hot_keys), ["_g", "_gram"], "left"
        ).localCheckpoint(eager=True)
        cold_prefix = tagged.filter(F.col("_hot").isNull()).select(
            "_id", "_g", "_gram"
        )
        hot_prefix = tagged.filter(
            F.col("_hot").isNotNull()
        ).select("_id", "_g", "_gram", blk.alias("_blk"))
        still_hot = (
            hot_prefix.groupBy("_g", "_gram", "_blk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .limit(1)
            .collect()
        )
        if still_hot:
            r = still_hot[0]
            raise ValueError(
                f"{caller} blocking bucket (group={r._g!r}, "
                f"gram={r._gram!r}, length class {r._blk}) holds "
                f"{r._n} rows > max_bucket={max_bucket} even after "
                "length-class re-blocking: candidates are genuinely "
                "quadratic — raise q, tighten the group, or raise the "
                "bound deliberately"
            )
    else:
        cold_prefix = prefix.select("_id", "_g", "_gram")
        hot_prefix = None

    a, b = cold_prefix.alias("a"), cold_prefix.alias("b")
    cand_long = a.join(
        b,
        (F.col("a._g") == F.col("b._g"))
        & (F.col("a._gram") == F.col("b._gram"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._g").alias("_g"),
        F.col("a._id").alias("_ida"),
        F.col("b._id").alias("_idb"),
    )
    if hot_prefix is not None:
        # one side probes its own class and both neighbours via a
        # 3-row offset explode — an equi-join on (_g, _gram, _blk), so
        # the per-task bucket is the LENGTH CLASS, not the whole gram
        # bucket; a pair never matches twice per gram (offsets yield
        # distinct classes) and cross-gram repeats die in distinct()
        ha = hot_prefix.alias("ha")
        hb = (
            hot_prefix.withColumn(
                "_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
            )
            .withColumn("_blk", F.col("_blk") + F.col("_off"))
            .drop("_off")
            .alias("hb")
        )
        cand_hot = ha.join(
            hb,
            (F.col("ha._g") == F.col("hb._g"))
            & (F.col("ha._gram") == F.col("hb._gram"))
            & (F.col("ha._blk") == F.col("hb._blk"))
            & (F.col("ha._id") < F.col("hb._id")),
        ).select(
            F.col("ha._g").alias("_g"),
            F.col("ha._id").alias("_ida"),
            F.col("hb._id").alias("_idb"),
        )
        cand_long = cand_long.union(cand_hot)
    # a short string's prefix is its entire gram set, so its row count
    # in the (checkpointed) prefix index is < d*q + 1 — the short set
    # falls out of the index with no second gram pass over the data.
    # The all-pairs fallback is length-blocked up front (same exact
    # adjacency argument) and guarded per (group, length class).
    shorts = (
        prefix.groupBy("_id", "_g")
        .agg(
            F.count(F.lit(1)).alias("_pn"),
            F.first("_len").alias("_len"),
        )
        .filter(F.col("_pn") < p)
        .select("_id", "_g", blk.alias("_blk"))
    )
    if max_bucket is not None:
        short_hot = (
            shorts.groupBy("_g", "_blk")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .limit(1)
            .collect()
        )
        if short_hot:
            r = short_hot[0]
            raise ValueError(
                f"{caller} short-string fallback bucket "
                f"(group={r._g!r}, length class {r._blk}) holds "
                f"{r._n} rows > max_bucket={max_bucket}: the "
                "all-pairs fallback is quadratic in that bucket — "
                "raise q, tighten the group, or raise the bound "
                "deliberately"
            )
    sa = shorts.alias("sa")
    sb = (
        shorts.withColumn(
            "_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
        )
        .withColumn("_blk", F.col("_blk") + F.col("_off"))
        .drop("_off")
        .alias("sb")
    )
    cand_short = sa.join(
        sb,
        (F.col("sa._g") == F.col("sb._g"))
        & (F.col("sa._blk") == F.col("sb._blk"))
        & (F.col("sa._id") < F.col("sb._id")),
    ).select(
        F.col("sa._g").alias("_g"),
        F.col("sa._id").alias("_ida"),
        F.col("sb._id").alias("_idb"),
    )
    cands = cand_long.union(cand_short).distinct()
    return cands


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    group_col: str,
    str_col: str,
    d: int,
    q: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """All within-group pairs (id_a < id_b) whose ``str_col`` values
    are within Levenshtein distance ``d``. Exact output; blocking per
    the module docstring. Returns (group, id_a, id_b, dist).

    ``max_bucket`` bounds candidate volume (quadratic in the largest
    blocking bucket): a hot (group, prefix-gram) bucket degrades to
    length-blocked joins — still exact, since |len_a - len_b| <= d is
    necessary — and only a bucket that is STILL hot after length
    blocking raises. The short-string fallback is length-blocked and
    guarded the same way (a group dominated by sub-d*q-gram strings
    would otherwise go quadratic silently)."""
    p = d * q + 1
    base = _fuzzy_base(df, id_col, group_col, str_col, q)
    cands = _prefix_candidates(
        base, p, d, max_bucket, caller="edit_distance_join"
    )

    strings = base.select("_id", "_s", F.length("_s").alias("_len"))
    verified = (
        cands.join(
            strings.select(
                F.col("_id").alias("_ida"),
                F.col("_s").alias("_sa"),
                F.col("_len").alias("_la"),
            ),
            "_ida",
        )
        .join(
            strings.select(
                F.col("_id").alias("_idb"),
                F.col("_s").alias("_sb"),
                F.col("_len").alias("_lb"),
            ),
            "_idb",
        )
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= d)
        .withColumn(
            "_dist",
            F.levenshtein(F.col("_sa"), F.col("_sb"), d),
        )
        .filter(F.col("_dist") >= 0)
    )
    return verified.select(
        F.col("_g").alias(group_col),
        F.col("_ida").alias(f"{id_col}_a"),
        F.col("_idb").alias(f"{id_col}_b"),
        F.col("_dist").cast("bigint").alias("dist"),
    )


def damerau_levenshtein(a: str, b: str) -> int:
    """True (unrestricted) Damerau-Levenshtein distance — the
    Lowrance-Wagner (1975) recurrence where insert, delete,
    substitute, and adjacent-transpose each cost 1 and transposed
    characters may drift apart through later edits. This is NOT the
    restricted optimal-string-alignment variant:
    damerau_levenshtein('CA', 'ABC') = 2 (transpose then insert)
    where OSA gives 3. DuckDB's ``damerau_levenshtein`` implements
    the same unrestricted recurrence (probed: 'CA'/'ABC' -> 2,
    'ac'/'cba' -> 2), so the differential oracle compares like with
    like. O(|a|*|b|) time and space per pair — callers bound the
    string length (the registered query runs on 40-char title
    prefixes) and the blocking bounds the pair count."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxd = la + lb
    # H has a sentinel border row/col of maxd at index 0; the DP
    # proper lives at H[1..la+1][1..lb+1]
    last_row: dict[str, int] = {}
    H = [[maxd] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        H[i + 1][1] = i
    for j in range(lb + 1):
        H[1][j + 1] = j
    for i in range(1, la + 1):
        last_col = 0
        for j in range(1, lb + 1):
            k = last_row.get(b[j - 1], 0)
            l = last_col
            if a[i - 1] == b[j - 1]:
                cost = 0
                last_col = j
            else:
                cost = 1
            H[i + 1][j + 1] = min(
                H[i][j] + cost,  # substitute / match
                H[i + 1][j] + 1,  # insert
                H[i][j + 1] + 1,  # delete
                # transpose a[k-1]<->a[i-1] across the gap: delete the
                # (i-k-1) chars between them, transpose, insert the
                # (j-l-1) chars between the matched b positions
                H[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        last_row[a[i - 1]] = i
    return H[la + 1][lb + 1]


def damerau_join(
    df: DataFrame,
    id_col: str,
    group_col: str,
    str_col: str,
    d: int,
    q: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """All within-group pairs (id_a < id_b) whose ``str_col`` values
    are within TRUE Damerau-Levenshtein distance ``d`` — the
    entity-resolution metric where a swapped character pair ("teh" /
    "the", transposed word prefixes) counts as ONE edit instead of
    two. Exact output; returns (group, id_a, id_b, dist).

    Blocking reuses the prefix-filter machinery with a WIDER gram
    budget: a substitution or indel destroys at most q distinct
    q-grams, but a transposition rewrites a 2-character window and
    can destroy up to q+1, so the prefix size is d*(q+1) + 1
    (still a constant number of rows per string). The length bound
    |len_a - len_b| <= d remains necessary (a transposition is
    length-preserving).

    Verification is a three-stage funnel, cheapest first — the
    Python DP must only ever see pairs that are already almost
    certainly matches:
    1. JVM banded ``levenshtein(a, b, 2*d)``: a transposition is at
       most two Levenshtein edits, so DL <= d implies Lev <= 2d —
       a sound prefilter that runs in codegen and abandons early.
       Measured at sf0.1 it cuts 1.4M gram-blocked candidates to
       the ~80 true-neighborhood pairs (the first cut of this
       operator ran the DP on all 1.4M and burned ~40 CPU-minutes
       in Python workers — the census could not see it because
       mapInPandas cost is invisible to a plan).
    2. DISTINCT (a, b) string pairs: duplicate-heavy corpora send
       every copy-pair through the same DP; computing once per
       distinct value pair and joining back makes the Python cost
       proportional to distinct-neighbor mass, not pair mass.
    3. The exact Lowrance-Wagner DP, Arrow-batched, O(|a|*|b|) per
       DISTINCT SURVIVOR — Spark's built-in levenshtein cannot
       count a transposition as one edit, and a JVM HOF encoding of
       the 2D+history DP would leave codegen anyway.
    Shuffle shapes stay those of edit_distance_join: gram keys for
    candidates, id keys then value-pair keys for the verify joins —
    nothing quadratic in N unless the data is."""
    import pandas as pd  # noqa: PLC0415 — Arrow-batch verify only

    from funding_monitoring_spark.operators.multimodal import (
        register_module_by_value,
    )

    register_module_by_value(__name__)
    p = d * (q + 1) + 1
    base = _fuzzy_base(df, id_col, group_col, str_col, q)
    cands = _prefix_candidates(
        base, p, d, max_bucket, caller="damerau_join"
    )

    strings = base.select("_id", "_s", F.length("_s").alias("_len"))
    pairs = (
        cands.join(
            strings.select(
                F.col("_id").alias("_ida"),
                F.col("_s").alias("_sa"),
                F.col("_len").alias("_la"),
            ),
            "_ida",
        )
        .join(
            strings.select(
                F.col("_id").alias("_idb"),
                F.col("_s").alias("_sb"),
                F.col("_len").alias("_lb"),
            ),
            "_idb",
        )
        .filter(F.abs(F.col("_la") - F.col("_lb")) <= d)
        # funnel stage 1: sound JVM prefilter (DL <= d => Lev <= 2d)
        .filter(F.levenshtein(F.col("_sa"), F.col("_sb"), 2 * d) >= 0)
        .select("_g", "_ida", "_idb", "_sa", "_sb")
        # consumed twice (distinct DP input + the final join-back):
        # without a persist the gram join AND the banded-levenshtein
        # pass over ~1.4M candidates run twice (guide §2.4 — no
        # subplan reuse). The surviving frame is the post-funnel
        # near-miss set — tiny relative to the candidate mass.
        .transform(scoped_persist)
    )

    # funnel stage 2: one DP per DISTINCT string pair
    distinct_pairs = pairs.select("_sa", "_sb").distinct()

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf.copy()
            out["_dist"] = pd.Series(
                [
                    damerau_levenshtein(sa, sb)
                    for sa, sb in zip(pdf["_sa"], pdf["_sb"])
                ],
                index=pdf.index,
            )
            yield out[out["_dist"] <= d]

    dl = distinct_pairs.mapInPandas(
        verify, schema="_sa string, _sb string, _dist long"
    )
    return pairs.join(dl, ["_sa", "_sb"]).select(
        F.col("_g").alias(group_col),
        F.col("_ida").alias(f"{id_col}_a"),
        F.col("_idb").alias(f"{id_col}_b"),
        F.col("_dist").alias("dist"),
    )


def edit_distance_cluster_edges(
    df: DataFrame,
    id_col: str,
    group_col: str,
    str_col: str,
    d: int,
    q: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """A SPANNING edge set of the within-group edit-distance-<=d graph
    in cluster-representative (star) form — the scale path for
    CLUSTERING consumers, which need connectivity, not every pair.

    Exact-duplicate collapse first: identical (group, string) values
    enter the fuzzy candidate space ONCE via their min-id
    representative, and the other copies attach by star edges
    (representative -> member). A viral duplicate group of k copies
    therefore costs k star rows plus one node in the quadratic
    candidate space instead of C(k, 2) verified pairs — the r9 sf1
    sweep measured 2,948x pair growth at 10x data (79 -> 232,900
    pairs) on exactly this shape, wall tracking pair count by
    construction in the all-pairs form (VERDICT r9 next-item #4).

    Connectivity is IDENTICAL to edit_distance_join's full pair set:
    copies are distance 0 from their representative (<= d), and any
    cross-copy pair's distance equals its representatives' distance,
    so a path exists in the star form iff one exists in the pair
    form. Connected components over these edges yield the same
    clusters; only the (deliberately unmaterialized) pair multiset
    differs. Returns (group, id_a, id_b, dist) with dist = 0 on star
    edges and the verified distance on representative pairs."""
    # ONE shuffle tags every row with its value-representative (a
    # groupBy + re-join would shuffle twice); the slim tagged frame
    # is checkpointed because both outputs filter it and Catalyst
    # re-executes unshared subplans per consumer
    w = Window.partitionBy(group_col, str_col)
    tagged = (
        df.select(id_col, group_col, str_col)
        .filter(F.col(str_col).isNotNull())
        .withColumn("_rep", F.min(id_col).over(w))
        .localCheckpoint(eager=True)
    )
    star = tagged.filter(F.col(id_col) != F.col("_rep")).select(
        F.col(group_col),
        F.col("_rep").alias(f"{id_col}_a"),
        F.col(id_col).alias(f"{id_col}_b"),
        F.lit(0).cast("bigint").alias("dist"),
    )
    rep_rows = tagged.filter(F.col(id_col) == F.col("_rep")).select(
        id_col, group_col, str_col
    )
    rep_pairs = edit_distance_join(
        rep_rows, id_col, group_col, str_col, d, q, max_bucket
    )
    return rep_pairs.unionByName(star)


def edit_distance_clusters(
    df: DataFrame,
    id_col: str,
    group_col: str,
    str_col: str,
    d: int,
    q: int = 3,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Cluster membership (id, cluster_id, is_canonical) for EVERY row
    of ``df`` under the within-group edit-distance-<=d relation — the
    end-to-end scale path: exact-duplicate collapse, fuzzy pairing
    over distinct (group, string) representatives only, and connected
    components over the QUOTIENT graph (representatives only). Star
    edges never enter the iterative label propagation — they cannot
    change connectivity between representatives — so CC runs on
    O(distinct strings) nodes instead of O(corpus), and members
    inherit their representative's final label with one broadcast
    join. Rows with a NULL string (no fuzzy identity) are their own
    singleton clusters, matching dedup_cluster_assignment over the
    edge form exactly. cluster_id is the min id in the component (the
    deterministic survivor rule)."""
    from funding_monitoring_spark.operators.components import (
        connected_components,
    )

    # ONE window pass, checkpointed: both the membership map and the
    # representative rows slice it (Catalyst re-executes unshared
    # subplans per consumer)
    w = Window.partitionBy(group_col, str_col)
    tagged = (
        df.select(id_col, group_col, str_col)
        .filter(F.col(str_col).isNotNull())
        .withColumn("_rep", F.min(id_col).over(w))
        .localCheckpoint(eager=True)
    )
    rep_rows = tagged.filter(F.col(id_col) == F.col("_rep")).select(
        id_col, group_col, str_col
    )
    rep_pairs = edit_distance_join(
        rep_rows, id_col, group_col, str_col, d, q, max_bucket
    )
    comp = connected_components(
        rep_pairs, src=f"{id_col}_a", dst=f"{id_col}_b"
    ).withColumnRenamed("id", "_rep")
    return (
        df.select(id_col)
        .join(tagged.select(id_col, "_rep"), id_col, "left")
        .join(F.broadcast(comp), "_rep", "left")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("cluster_id"), F.col("_rep"), F.col(id_col)),
        )
        .select(
            id_col,
            "cluster_id",
            (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        )
    )
