"""Mutation suite on plain parquet: insert-only MERGE, keyed DELETE,
semi-join key selection (SURVEY §4.2-2).

The reference's three MERGE statements (``etl-dag.sql:12-26,33-46,
53-83``) have no ``WHEN MATCHED`` branch, so each is exactly a LEFT
ANTI join against the target's key set followed by an append — no
Delta/ACID machinery required for parity. Snowflake semantics
preserved deliberately:

- duplicate keys *within one source batch* all insert (no in-batch
  dedup — SURVEY §1.4-10's weak-key quirk);
- a key that already exists in the target is skipped entirely, even
  when the new row differs.

``delete_by_keys`` is the reference's
``DELETE FROM … WHERE (k…) IN (SELECT …)`` (``etl-dag.sql:96-97``):
read-anti-join-overwrite on plain parquet, atomic via the
write-new-then-swap discipline in ``sources.writer``.

Scale: the anti-join shuffles on the merge key — the same key the
target would be bucketed by on a real deployment, so the exchange is
one-sided there. The keys side of ``delete_by_keys`` /
``semi_join_keys`` is a DISTINCT over the incremental slice (small) —
broadcast. A full-table rewrite for DELETE is the plain-parquet cost;
the Delta backend (drop-in at the Warehouse layer) turns it into a
file-level operation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_insert_only(
    source: DataFrame, target: DataFrame | None, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``source`` whose key tuple is absent from ``target``
    (the WHEN NOT MATCHED INSERT set). ``target=None`` = first load.
    The rows keep ``source``'s column order (a join on ``keys`` would
    move the keys first), so an appended delta lands in the same
    column order as the table's first load."""
    if target is None:
        return source
    return source.join(
        target.select(*keys).distinct(), on=list(keys), how="left_anti"
    ).select(*source.columns)


def delete_by_keys(
    target: DataFrame, keys_df: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Survivors of ``DELETE WHERE (keys) IN keys_df`` — a LEFT ANTI
    join (NULL-safe difference is not needed: the reference's tuple-IN
    never matches NULL keys, and neither does the anti-join's
    equality).

    No broadcast hint: the key set is usually a daily increment (tiny),
    but a multi-day backfill can make it arbitrarily large, and a
    forced ``F.broadcast`` would collect it to the driver regardless.
    AQE sizes the distinct key set at runtime and picks broadcast when
    it actually fits (``spark.sql.adaptive.autoBroadcastJoinThreshold``).
    The survivors keep ``target``'s column order, so a rewrite lands in
    the table's own order."""
    return target.join(
        keys_df.select(*keys).distinct(),
        on=list(keys),
        how="left_anti",
    ).select(*target.columns)


def semi_join_keys(
    df: DataFrame, keys_df: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``df`` whose key tuple appears in ``keys_df`` — the
    tuple-IN / INNER-join-to-keys pattern (``etl-dag.sql:97,103-104``).
    The keys side is tiny by construction -> broadcast."""
    return df.join(
        F.broadcast(keys_df.select(*keys).distinct()),
        on=list(keys),
        how="left_semi",
    )
