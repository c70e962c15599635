"""Unigram-LM tokenizer training (SentencePiece-style), distributed.

The second tokenizer-training surface next to operators/bpe.py: where
BPE greedily merges the most frequent adjacent pair, the unigram LM
(Kudo 2018, "Subword Regularization") keeps a CANDIDATE piece
vocabulary and fits piece scores by EM — each E-step segments every
word with Viterbi under the current scores, each M-step re-estimates
scores from piece usage. This module implements a deterministic,
oracle-exact variant of that loop:

- candidate vocabulary = every substring of length 1..MAX_PIECE of
  the corpus' distinct words, weighted by occurrence x word count;
  the selected vocab is ALL single characters (segmentability
  guarantee) plus the top ``vocab_multi`` multi-character pieces by
  (weight desc, piece asc) — a BOUNDED, broadcastable artifact, the
  same design-parameter discipline as IVF_CENT_CAP;
- piece scores are INTEGER costs round(-ln(p) * 1e6) (BIGINT on both
  engines), so the Viterbi DP is pure integer arithmetic and
  cross-engine float summation cannot reorder results; ln() itself
  is irrational-output rounding (measure-zero boundary risk, the
  round-4 lesson);
- Viterbi is a forward min-cost DP over word positions (piece length
  <= MAX_PIECE, unknown pieces = +INF) followed by a backward
  reconstruction that prefers the SHORTEST piece on cost ties — one
  deterministic segmentation per (word, costs), identical in the
  Python core, the Spark operator, and the unrolled DuckDB oracle;
- EM runs a FIXED number of steps (init costs -> E -> M -> E), so
  the oracle replays the whole loop as unrolled MATERIALIZED CTEs —
  the quality-classifier precedent for oracle-exact iterative
  training.

Scale shape: the E-step maps over the DISTINCT-WORD table (corpus
text never re-tokenizes per step — the same word_state design as
batched BPE), Arrow-batched with the bounded cost table broadcast in
the closure; the only shuffles are the word-count and piece-count
aggregations, keyed by word/piece strings. The M-step's cost table
is a bounded driver artifact (<= alphabet + vocab_multi rows), the
same bounded-collect contract as BPE's per-round argmax row.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PIECE = 4
#: integer-cost scale: cost = round(-ln(p) * COST_SCALE)
COST_SCALE = 1_000_000
#: "not in vocab" sentinel — larger than any reachable path cost
#: (<= ~64 pieces x ~40e6) while summing safely in int64
INF_COST = 10**15


def word_substrings(word: str, max_piece: int = MAX_PIECE):
    """All (piece, occurrence) substrings of length 1..max_piece."""
    for i in range(len(word)):
        for l in range(1, min(max_piece, len(word) - i) + 1):
            yield word[i : i + l]


def viterbi_segment(
    word: str, costs: dict[str, int], max_piece: int = MAX_PIECE
) -> list[str]:
    """Min-total-cost segmentation of ``word`` into vocab pieces;
    ties broken by preferring the SHORTEST piece at each backward
    step. Raises if the word cannot be segmented (the single-char
    vocab guarantee makes that impossible for selected vocabs)."""
    n = len(word)
    best = [0] * (n + 1)
    for j in range(1, n + 1):
        b = None
        for l in range(1, min(max_piece, j) + 1):
            c = costs.get(word[j - l : j])
            if c is None:
                continue
            cand = best[j - l] + c
            if b is None or cand < b:
                b = cand
            # note: forward pass needs only the min value; the
            # backward pass re-derives the arg with its own tie rule
        best[j] = b if b is not None else INF_COST
    if best[n] >= INF_COST:
        raise ValueError(
            f"word {word!r} cannot be segmented under the vocab"
        )
    pieces: list[str] = []
    pos = n
    while pos > 0:
        chosen = None
        for l in range(1, min(max_piece, pos) + 1):  # shortest first
            c = costs.get(word[pos - l : pos])
            if c is not None and best[pos - l] + c == best[pos]:
                chosen = l
                break
        if chosen is None:  # unreachable given best[] construction
            raise ValueError(
                f"backtrack failed at {pos} for {word!r}"
            )
        pieces.append(word[pos - chosen : pos])
        pos -= chosen
    pieces.reverse()
    return pieces


def cost_of(p_num: float, p_den: float) -> int:
    """round(-ln(num/den) * COST_SCALE) with banker's-free rounding
    (Python round() is banker's; both engines must agree, so use
    floor(x + 0.5) — DuckDB ROUND is half-up)."""
    x = -math.log(p_num / p_den) * COST_SCALE
    return int(math.floor(x + 0.5))


def unigram_lm_train(
    docs: DataFrame,
    text_col: str = "text",
    vocab_multi: int = 150,
    max_piece: int = MAX_PIECE,
) -> DataFrame:
    """Train the unigram LM per the module docstring (fixed 2-E-step
    EM) and return one row per vocab piece:
    (piece, cost, n_used) — the final integer cost after the M-step
    and the piece's weighted usage count in the final E-step."""
    from funding_monitoring_spark.operators.multimodal import (
        register_module_by_value,
    )
    from funding_monitoring_spark.operators.textstats import tokens

    register_module_by_value(__name__)
    spark = docs.sparkSession

    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
        # unconditional: an aggregate's partition count costs its shuffle
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )

    # candidate weights: occurrences x word count, JVM-side explode
    # of the (start, length) grid
    subs = words.select(
        "wcount",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.lit(1), F.length("word")
                    ),
                    lambda i: F.transform(
                        F.sequence(
                            F.lit(1),
                            F.least(
                                F.lit(max_piece),
                                F.length("word") - i + 1,
                            ),
                        ),
                        lambda l: F.substring("word", i, l),
                    ),
                )
            )
        ).alias("piece"),
    )
    cand = subs.groupBy("piece").agg(
        F.sum("wcount").alias("weight")
    )
    singles = cand.filter(F.length("piece") == 1)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("weight").desc(), F.col("piece"))
    multis = (
        cand.filter(F.length("piece") > 1)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= vocab_multi)
        .drop("_rn")
    )
    # bounded driver artifact: <= alphabet + vocab_multi rows
    vocab_rows = singles.unionByName(multis).collect()
    total0 = sum(r.weight for r in vocab_rows)
    costs0 = {
        r.piece: cost_of(r.weight, total0) for r in vocab_rows
    }

    def e_step(costs: dict[str, int]):
        def run(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                out_p, out_w = [], []
                for word, wc in zip(pdf["word"], pdf["wcount"]):
                    for piece in viterbi_segment(
                        str(word), costs, max_piece
                    ):
                        out_p.append(piece)
                        out_w.append(int(wc))
                yield pd.DataFrame(
                    {"piece": out_p, "wcount": out_w}
                )

        return (
            words.mapInPandas(run, schema="piece string, wcount long")
            .groupBy("piece")
            .agg(F.sum("wcount").alias("n_used"))
        )

    # E1 -> M (Laplace-smoothed so unused pieces keep a finite cost)
    counts1 = {r.piece: r.n_used for r in e_step(costs0).collect()}
    v = len(costs0)
    total1 = sum(counts1.values()) + v
    costs1 = {
        p: cost_of(counts1.get(p, 0) + 1, total1) for p in costs0
    }

    # final E-step under the re-estimated costs
    used = e_step(costs1)
    cost_df = spark.createDataFrame(
        [(p, c) for p, c in costs1.items()], "piece string, cost long"
    )
    return (
        cost_df.join(used, "piece", "left")
        .select(
            "piece",
            "cost",
            F.coalesce("n_used", F.lit(0)).cast("bigint").alias(
                "n_used"
            ),
        )
    )
