"""Plan inspection helpers (explain, shuffle audit)."""

from funding_monitoring_spark.plans.inspect import (  # noqa: F401
    conf_override,
    count_exchanges,
    has_broadcast_join,
    plan_string,
    pushed_filters,
    read_schema_columns,
    scan_size_bytes,
    spread_to_parallelism,
)
