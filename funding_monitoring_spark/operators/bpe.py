"""Distributed BPE tokenizer training (byte-pair-encoding merges).

The full training loop behind `textstats.char_pairs`'s counting
primitive: start from per-word character symbols, repeatedly (1) count
adjacent symbol pairs across the whole corpus, (2) pick the most
frequent pair, (3) merge its adjacent occurrences left-to-right in
every word — the merge list IS the tokenizer (Sennrich et al. 2016,
the standard public algorithm).

Spark-first shape — and unlike most BPE implementations, NO driver
round trip at all: each step's winning pair is a 1-row DataFrame
cross-joined (broadcast) into the corpus state, so the whole K-merge
loop unrolls into one declarative plan. Per step: one
map-side-combined pair count (shuffles distinct pairs, not
occurrences) and one narrow per-row merge projection. State between
steps is the per-word symbol array; nothing is collected.

The merge itself rides on plain `replace` (left-to-right,
non-overlapping in every engine — exactly BPE's greedy order) over a
DOUBLE-SPACE-joined symbol string: separators are two spaces, the
search pattern ' a  b ' claims ONE space on each side and the
replacement ' ab ' restores it, so consecutive occurrences
(' a  b  a  b ') both merge in a single pass, while symbol-internal
false matches are impossible (a symbol never contains a space, so the
pattern's boundary spaces can't match inside one). The same algebra
runs verbatim in the DuckDB oracle (suites/analytics_suite.py builds
the unrolled CTE chain).

Scale: the corpus state is (doc_id, word_id, symbols) — embarrassingly
parallel rows; the only shuffle per step carries one row per DISTINCT
pair per task. K is small (a production tokenizer is ~30k merges of
exactly this job; the plan depth grows linearly in K, so a real run
checkpoints the state every few hundred steps the way
operators/components.py does for PageRank).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from funding_monitoring_spark.plans.inspect import spread_to_parallelism

#: pair-string separator for counting/ordering (never appears in a
#: symbol: symbols come from \S+ words)
PAIR_SEP = " "


def word_state(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 200,
) -> DataFrame:
    """Initial BPE state: one row per word with its character-symbol
    array. Text is bounded and lowercased (training normalization);
    words are maximal \\S+ runs.

    An UNDER-partitioned input (the fixture arrives as ONE parquet
    file) is spread to the cluster's default parallelism — without
    that, every training scan (pair counts, vocab, merge rewrites,
    every round) inherits the single partition and runs on one core
    (measured: the whole K=20 loop single-threaded). An input that
    already has enough partitions — any real multi-file corpus — is
    left alone: no unconditional full-corpus shuffle."""
    docs = spread_to_parallelism(docs)
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.regexp_extract_all(
                F.lower(F.substring(F.col(text_col), 1, max_chars)),
                F.lit(r"(\S+)"),
                1,
            )
        ).alias("word_id", "word"),
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return words.select("doc_id", "word_id", chars.alias("symbols"))


def word_freq_state(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 200,
) -> DataFrame:
    """DISTINCT-word BPE state: one row per distinct word with its
    corpus frequency and character-symbol array — the standard
    Sennrich training representation. Pair counts weighted by ``wn``
    are EXACTLY the per-occurrence counts word_state yields (each
    occurrence of a word contributes identical adjacent pairs), so
    the learned merge table is identical while every per-round corpus
    pass touches |distinct words| rows instead of |word instances| —
    the natural-language corpus ratio is 5-30x, and it GROWS with
    corpus size (Heaps' law: instances scale linearly, distinct words
    sublinearly), so the win compounds at 100 TB."""
    docs = spread_to_parallelism(docs)
    words = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.substring(F.col(text_col), 1, max_chars)),
                F.lit(r"(\S+)"),
                1,
            )
        ).alias("word"),
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return freq.select("wn", chars.alias("symbols"))


def adjacent_pairs(symbols: Column) -> Column:
    """Adjacent symbol pairs as '<a> <b>' strings (the multiset —
    every occurrence counts)."""
    n = F.size(symbols)
    pairs = F.zip_with(
        F.slice(symbols, 1, n - 1),
        F.slice(symbols, 2, n - 1),
        lambda a, b: F.concat_ws(PAIR_SEP, a, b),
    )
    return F.when(n >= 2, pairs).otherwise(F.array().cast("array<string>"))


def best_pair(state: DataFrame) -> DataFrame:
    """The step's winning pair: 1 row (pair_a, pair_b, n), most
    frequent first, ties broken by (pair_a, pair_b) ascending — a
    total order, so the argmax is deterministic across engines."""
    counts = (
        state.select(F.explode(adjacent_pairs(F.col("symbols"))).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    split = F.split(F.col("p"), PAIR_SEP)
    return (
        counts.select(
            split[0].alias("pair_a"), split[1].alias("pair_b"), "n"
        )
        .orderBy(F.desc("n"), F.asc("pair_a"), F.asc("pair_b"))
        .limit(1)
    )


def merge_pair(symbols: Column, a: Column, b: Column) -> Column:
    """Merge adjacent (a, b) occurrences left-to-right in one symbol
    array — the double-space `replace` trick (module docstring)."""
    joined = F.concat(
        F.lit("  "), F.array_join(symbols, "  "), F.lit("  ")
    )
    merged = F.replace(
        joined,
        F.concat(F.lit(" "), a, F.lit("  "), b, F.lit(" ")),
        F.concat(F.lit(" "), a, b, F.lit(" ")),
    )
    arr = F.split(merged, "  ")
    # strip the empty padding cells ('' from the leading/trailing
    # double spaces)
    return F.filter(arr, lambda s: s != F.lit(""))


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 5,
    max_chars: int = 200,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns the
    merge table (step, pair_a, pair_b, merged, n) — the tokenizer
    artifact, in training order.

    Fully declarative: the per-step argmax joins back as a broadcast
    1-row table, so no data ever reaches the driver.
    ``checkpoint_every`` truncates lineage for large K (localCheckpoint
    the state, PageRank-style); None keeps the plan pure for small K.
    """
    state = word_state(docs, text_col=text_col, max_chars=max_chars)
    merges: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        best = best_pair(state)
        if checkpoint_every:
            # pin the 1-row argmax too: without it, evaluating the
            # returned merge table re-derives every step's argmax from
            # the original lineage (deterministic but O(K²) work)
            best = best.localCheckpoint(eager=True)
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                "pair_a",
                "pair_b",
                F.concat("pair_a", "pair_b").alias("merged"),
                "n",
            )
        )
        state = state.crossJoin(F.broadcast(best)).select(
            "doc_id",
            "word_id",
            merge_pair(
                F.col("symbols"), F.col("pair_a"), F.col("pair_b")
            ).alias("symbols"),
        )
        if checkpoint_every and step % checkpoint_every == 0:
            state = state.localCheckpoint(eager=True)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def merge_pairs_fold(symbols: Column, merges: Column) -> Column:
    """Apply an ORDERED array of merge structs (rank, pair_a, pair_b)
    to one symbol array in a single projection: the double-space
    `replace` algebra folded over the batch with F.aggregate. One
    narrow pass per row regardless of batch size — no per-merge job."""
    joined = F.concat(
        F.lit("  "), F.array_join(symbols, "  "), F.lit("  ")
    )
    folded = F.aggregate(
        merges,
        joined,
        lambda acc, m: F.replace(
            acc,
            F.concat(
                F.lit(" "),
                m["pair_a"],
                F.lit("  "),
                m["pair_b"],
                F.lit(" "),
            ),
            F.concat(F.lit(" "), m["pair_a"], m["pair_b"], F.lit(" ")),
        ),
    )
    arr = F.split(folded, "  ")
    return F.filter(arr, lambda s: s != F.lit(""))


def batch_candidates(
    state: DataFrame,
    cap: int,
    vocab: frozenset[str],
    weight_col: str | None = None,
) -> DataFrame:
    """Select the largest batch of ranked pairs whose one-pass merge
    is PROVABLY identical to applying them sequentially — the
    exactness argument, so the sequential unrolled oracle stays valid:

    1. Rank all pairs by (n DESC, a ASC, b ASC) — the sequential
       argmax order — and keep the top cap+1.
    2. Walk the ranked prefix CONTIGUOUSLY and stop at the first pair
       that (a) shares any symbol — or its concatenated merged
       string — with an earlier prefix pair (merging would change the
       later pair's count, breaking the ranking), (b) whose merged
       string already exists in the vocab (the merge would create new
       occurrences of existing pairs, which could out-rank a later
       prefix pair), or (c) FOLLOWS a self-pair (pair_a == pair_b) in
       the prefix: a self-pair merge over a run ('aaa' under (a,a))
       creates pairs like (aa, a) whose pre-merge witness is the
       selected pair ITSELF — not some blocked candidate — so the
       boundary bound in step 3 does not cover them and a created
       pair can tie (and out-tie-break) a later prefix pair. A
       self-pair therefore always ends its batch.
    3. Require every selected count to STRICTLY exceed the first
       excluded pair's count: any pair a NON-SELF merge can create
       has a pre-merge witness sharing a symbol with the creating
       pair, so the witness is either a blocked candidate or below
       the candidate list — either way count <= that boundary — and
       at sequential step j every competitor still loses to prefix
       pair j without tie-break ambiguity. Rank 1 is always kept (a
       single merge is literally the sequential step).

    Runs entirely on a <= cap+1-row frame: a row_number window, a
    running collect_list for the disjointness scan, and a literal
    IN-list flag against the distinct-symbol vocab.

    ``vocab``: the CURRENT distinct-symbol set (alphabet + merges,
    bounded at any corpus size), which becomes a literal IN-list
    predicate — no join, no exchange, no per-round DataFrame
    construction. bpe_train_batched maintains it incrementally —
    initial distinct characters once, plus each round's merged
    strings — so the per-round cost stays at one corpus pass.

    ``weight_col``: when the state is the distinct-word frequency
    table (word_freq_state), pair occurrences are weighted by that
    column — identical counts to the per-instance state, fewer rows.
    """
    from pyspark.sql import Window

    exploded = state.select(
        (
            F.col(weight_col) if weight_col else F.lit(1)
        ).alias("_w"),
        F.explode(adjacent_pairs(F.col("symbols"))).alias("p"),
    )
    counts = exploded.groupBy("p").agg(F.sum("_w").alias("n"))
    split = F.split(F.col("p"), PAIR_SEP)
    cand = (
        counts.select(
            split[0].alias("pair_a"), split[1].alias("pair_b"), "n"
        )
        .orderBy(F.desc("n"), F.asc("pair_a"), F.asc("pair_b"))
        .limit(cap + 1)
    )
    # literal IN-list membership: bounded (alphabet + merges), so the
    # predicate never grows with the corpus; sorted for a
    # deterministic expression
    vocab_lit = sorted(vocab)
    in_vocab = F.col("merged").isin(vocab_lit) if vocab_lit else F.lit(False)
    w = Window.orderBy(F.desc("n"), F.asc("pair_a"), F.asc("pair_b"))
    toks = F.array(
        F.col("pair_a"),
        F.col("pair_b"),
        F.concat("pair_a", "pair_b"),
    )
    prev = F.flatten(
        F.coalesce(
            F.collect_list(toks).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.array().cast("array<array<string>>"),
        )
    )
    after_self = F.coalesce(
        F.max(
            F.when(F.col("pair_a") == F.col("pair_b"), F.lit(1))
        ).over(w.rowsBetween(Window.unboundedPreceding, -1))
        == 1,
        F.lit(False),
    )
    flagged = (
        cand.withColumn("merged", F.concat("pair_a", "pair_b"))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "blocked",
            F.arrays_overlap(toks, prev)
            | F.coalesce(in_vocab, F.lit(False))
            | after_self,
        )
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cut = F.coalesce(
        F.min(F.when(F.col("blocked"), F.col("rank"))).over(wall),
        F.lit(cap + 1),
    )
    resolved = flagged.withColumn("cut", cut).withColumn(
        "boundary_n",
        F.max(
            F.when(F.col("rank") == F.col("cut"), F.col("n"))
        ).over(wall),
    )
    return resolved.filter(
        (F.col("rank") == 1)
        | (
            (F.col("rank") < F.col("cut"))
            & (
                F.col("boundary_n").isNull()
                | (F.col("n") > F.col("boundary_n"))
            )
        )
    ).select("rank", "pair_a", "pair_b", "merged", "n")


def bpe_train_batched(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    max_chars: int = 200,
    max_batch: int = 8,
) -> DataFrame:
    """`bpe_train` with batched merge rounds: per round, ONE pair
    count picks up to ``max_batch`` merges (batch_candidates — the
    selected prefix is provably sequential-equivalent, so the
    unrolled sequential CTE remains the oracle) and ONE fold
    projection applies them all. Per-round job overhead is paid once
    per BATCH instead of once per merge — the fixed ~1.4 s/step cost
    that capped usable K in the unbatched loop amortizes by the
    average batch size.

    Driver values (r14): each round collects its SELECTED BATCH —
    <= max_batch (rank, pair, merged, n) rows, i.e. exactly the rows
    the caller materializes as the result anyway — plus, once, the
    initial vocabulary, which is the corpus's distinct CHARACTERS
    (alphabet-bounded at any corpus size; merges add <= n_merges
    strings). Nothing corpus-sized ever reaches the driver.

    r10 cost model fixes (same merge table, same oracle):
    - DISTINCT-WORD state (word_freq_state): every per-round pass
      touches |distinct words| rows with frequency-weighted pair
      counts instead of |word instances| rows — the standard Sennrich
      representation; the ratio grows with corpus size (Heaps' law),
      so the win compounds at 100 TB.
    - LAZY state checkpoints (eager=False): a lazy localCheckpoint
      materializes inside its first action, so round i's fold rewrite
      executes INSIDE round i+1's pair-count collect instead of as
      its own corpus pass — ONE corpus-scale job per round.
    r14 job-count fix (VERDICT item 4; same merge table, same
    oracle): the round's selection is COLLECTED (<= cap+1 rows)
    instead of eager-checkpointed-then-counted, the vocabulary set
    lives on the driver as a plain set rebuilt into a LocalRelation
    per round (no lazy vocab checkpoint jobs, no broadcast
    materialization job), and the selected merges re-enter the state
    fold as LITERAL structs (no crossJoin against a 1-row aggregate
    subplan). Jobs per round: 3 -> 1; the 11-round sf0.1 loop's
    fixed overhead halves (in-session A/B in OPTIMIZATION_r14.md).
    sf0.1 K=20: 9.2 (r9) -> ~3 s (r10) -> ~2.3 s warm (r14)."""
    spark = docs.sparkSession
    state = word_freq_state(
        docs, text_col=text_col, max_chars=max_chars
    ).localCheckpoint(eager=False)
    # incremental vocab: distinct characters once (alphabet-bounded),
    # then each round's merged strings — batch_candidates' collision
    # check never re-scans the corpus
    vocab_set = {
        r["merged"]
        for r in state.select(F.explode("symbols").alias("merged"))
        .distinct()
        .collect()
    }
    merge_rows: list[tuple] = []
    done = 0
    while done < n_merges:
        cap = min(max_batch, n_merges - done)
        # the round's ONE corpus job: folds the previous round's
        # merges (lazy state checkpoint), counts pairs, selects the
        # batch, and returns the <= cap+1 selected rows; the vocab
        # membership check is a literal IN-list (alphabet-bounded)
        batch = sorted(
            batch_candidates(
                state, cap, frozenset(vocab_set), weight_col="wn"
            ).collect(),
            key=lambda r: r["rank"],
        )
        if not batch:
            break  # corpus exhausted (no adjacent pairs remain)
        vocab_set.update(r["merged"] for r in batch)
        merge_rows.extend(
            (done + r["rank"], r["pair_a"], r["pair_b"], r["merged"],
             r["n"])
            for r in batch
        )
        ms = F.array(
            *[
                F.struct(
                    F.lit(r["rank"]).alias("rank"),
                    F.lit(r["pair_a"]).alias("pair_a"),
                    F.lit(r["pair_b"]).alias("pair_b"),
                )
                for r in batch  # already rank-ordered
            ]
        )
        state = state.select(
            "wn",
            merge_pairs_fold(F.col("symbols"), ms).alias("symbols"),
        ).localCheckpoint(eager=False)
        done += len(batch)
    return spark.createDataFrame(
        merge_rows,
        "step long, pair_a string, pair_b string, "
        "merged string, n long",
    )
