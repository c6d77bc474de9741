"""Driver-contract query registry.

Each query key from SURVEY §2's inventory registers
  - a Spark callable ``(spark, sf_dir) -> DataFrame`` built on the
    engine's operators, and
  - (where ANSI-SQL-expressible) an equivalent DuckDB oracle SQL string
    over the same parquet tables.

Column names/types are aligned on both sides (the driver hash-compares
order-insensitively after sorting columns by name). Conventions used
throughout to keep the hash deterministic:

- double sums go through exact integer cents (``round(x*100)::bigint``)
  or stay as min/max (order-independent);
- DuckDB ``SUM(int)`` returns HUGEINT -> always ``CAST(... AS BIGINT)``;
- epoch seconds via ``unix_timestamp`` (Spark) == ``floor(epoch(ts))``
  (DuckDB), with the session timezone pinned to UTC;
- window orderings always carry a unique tiebreaker column.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

# Runtime confs every query needs regardless of who built the session
# (the driver passes its own SparkSession): UTC for epoch<->date parity
# with the DuckDB oracle, permissive casts (Snowflake '::' semantics),
# and nanos-as-long so the driver's TIMESTAMP(NANOS) parquet is readable.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Size shuffles for the local run: AQE coalesces batch shuffles
    # anyway, but streaming microbatches bypass AQE, so a vanilla
    # session's 200 partitions become 200 tasks per tiny batch in the
    # streaming parity queries. Every checked output is
    # partitioning-independent by construction (hash-stable keys,
    # two-phase ranks), so this is purely a scheduling-cost knob.
    "spark.sql.shuffle.partitions": "32",
}


def prepare(spark: SparkSession) -> SparkSession:
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/unknown conf on some builds — best effort
    return spark


def query(name: str, oracle: str | None = None):
    """Register a driver-contract query (and its DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return wrapped

    return deco


def registry() -> dict[str, QueryFn]:
    _load()
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    _load()
    return dict(_ORACLES)


_LOADED = False


def _load() -> None:
    global _LOADED
    if not _LOADED:
        from . import analytics, behavior, core, llmdata, scale  # noqa: F401
        _LOADED = True


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized-reach rollup — the engine's headline query."""
    _load()
    from .core import sessionized_reach

    return sessionized_reach(spark, sf_dir)
