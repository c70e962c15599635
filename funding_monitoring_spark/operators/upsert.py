"""Join-based upsert / last-write-wins merge (SURVEY.md §2.1 K1/K2).

The reference upserts with Postgres ``INSERT ... ON CONFLICT DO
UPDATE`` on the PK (funding_rates_etl.py:100-111,
lending_data_etl.py:76-91): a re-arriving key UPDATES the stored value
(last write wins). Spark has no transactional PK, so the merge is a
join: keep existing rows whose key does NOT re-arrive, union the new
batch (which wins on conflict). Idempotent under retry: replaying the
same batch yields the same result (SURVEY.md §7 "What's hard" #1).

Scale notes: existing >> new in steady state, so the anti-join
broadcasts the NEW batch's keys (one 5-minute tick is tiny relative to
the store). On a lakehouse this same plan is Delta/Iceberg
``MERGE INTO``; here it is expressed with plain DataFrame ops so it
runs anywhere parquet does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedupe_batch(
    batch: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Collapse duplicate keys WITHIN a batch, keeping the row that wins
    under order_cols (max wins). The reference's drop_duplicates
    keep-first on an API-ordered frame (funding_rates_etl.py:93-95)
    becomes an explicit deterministic winner: max_by over the order key.
    """
    order_key = F.struct(*[F.col(c) for c in order_cols])
    value_cols = [c for c in batch.columns if c not in key_cols]
    aggs = [F.max_by(F.col(c), order_key).alias(c) for c in value_cols]
    return batch.groupBy(*key_cols).agg(*aggs).select(*batch.columns)


def upsert(
    existing: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Merge of ``new`` into ``existing`` on key_cols.

    With order_cols=None the incoming batch always wins on conflict
    (classic last-write-wins, the reference's ON CONFLICT DO UPDATE).
    With order_cols given, the HIGHER order key wins across batches —
    so an out-of-order re-emission (e.g. after streaming state
    eviction) cannot regress a stored aggregate to an older value;
    ties go to the incoming row, which keeps batch replay idempotent.

    Equivalent SQL (order_cols=None):
        SELECT * FROM existing WHERE key NOT IN (SELECT key FROM new)
        UNION ALL SELECT * FROM new

    Scale shape: the batch's distinct keys are always broadcast, so
    both variants touch the (huge) store only through broadcast joins
    against the (tiny) batch — no shuffle of the store. The ordered
    variant reads the store twice (anti-join for untouched keys,
    semi-join for contested ones) and re-resolves only the contested
    rows, a frame bounded by 2x the batch size.
    """
    new = new.select(*existing.columns)
    new_keys = F.broadcast(
        new.select(*key_cols).dropDuplicates(list(key_cols))
    )
    survivors = existing.join(new_keys, on=list(key_cols), how="left_anti")
    if order_cols is None:
        return survivors.unionByName(new)
    contested = existing.join(new_keys, on=list(key_cols), how="left_semi")
    tagged = contested.withColumn("__src", F.lit(0)).unionByName(
        new.withColumn("__src", F.lit(1))
    )
    resolved = dedupe_batch(
        tagged, key_cols, [*order_cols, "__src"]
    ).drop("__src")
    return survivors.unionByName(resolved)


def cdc_materialize(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    delete_pred,
) -> DataFrame:
    """Materialize the current state of a change feed: per key, the row
    winning under order_cols decides — if it satisfies delete_pred the
    key is gone, otherwise its values are the current state. A
    change-count column rides along for audit.

    Expressed as a single max_by aggregation (NOT window+filter): the
    per-key winner is computed with map-side partial aggregation, so
    one shuffle carries only one candidate row per key per map
    partition — the classic scale shape for compacting a 100 TB CDC
    log where keys repeat heavily within partitions.
    """
    order_key = F.struct(*[F.col(c) for c in order_cols])
    value_cols = [c for c in changes.columns if c not in key_cols]
    latest = changes.groupBy(*key_cols).agg(
        *[F.max_by(F.col(c), order_key).alias(c) for c in value_cols],
        F.count("*").alias("n_changes"),
    )
    return latest.filter(~delete_pred)
