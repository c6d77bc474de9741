"""Declared schemas for the raw and modelling tables.

Mirrors the reference DDL (``ingest-ddl.sql:1-69``,
``etl-ddl-backfill.sql:2-233``) with the SURVEY §1.2 type mapping:
NUMBER(38,0) epoch/seconds columns -> LongType, FLOAT -> DoubleType,
VARCHAR -> StringType, DATE -> DateType. Column comments from the
reference's ``COMMENT`` clauses (``ingest-ddl.sql:43-68``) are carried
in StructField metadata.

Deliberate fidelity notes (SURVEY §1.2):
- ACR declares yyyy/mm/dd as numbers (``ingest-ddl.sql:26-28``) while
  STB and GEO_WEIGHTS keep them as strings (``ingest-ddl.sql:33-35,
  43-45``). The inconsistency is preserved.
- STB = ACR minus APPLICATION/RELEASE_DATE (``ingest-ddl.sql:42-69``).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, comment: str | None = None) -> T.StructField:
    meta = {"comment": comment} if comment else {}
    return T.StructField(name, dtype, nullable=True, metadata=meta)


_S = T.StringType()
_L = T.LongType()
_I = T.IntegerType()
_D = T.DateType()
_F64 = T.DoubleType()


# Shared event columns in reference order (ingest-ddl.sql:1-30).
_EVENT_COMMON_HEAD = [
    _f("smba_id", _S, "Samba household/device identifier"),
    _f("intermediate_id", _S),
    _f("exposure_start_ts", _L, "epoch seconds"),
    _f("exposure_end_ts", _L, "epoch seconds"),
    _f("duration", _L, "seconds"),
    _f("content_type", _S),
    _f("content_id", _S),
    _f("title", _S),
    _f("episode_title", _S),
    _f("season", _S),
    _f("episode", _S),
    _f("description", _S),
    _f("genres", _S, "stringified list (kept as text — ingest-ddl.sql:58)"),
]

_EVENT_COMMON_TAIL = [
    _f("network", _S),
    _f("network_id", _S),
    _f("affiliate_call_sign", _S),
    _f("scheduled_program_start_ts", _L),
    _f("scheduled_program_end_ts", _L),
    _f("channel_content_offset_s", _L),
    _f("program_content_offset_s", _L),
    _f("dma", _S, "designated market area code"),
    _f("zip", _S),
]

# ACR: + release_date, + application, numeric yyyy/mm/dd (ingest-ddl.sql:1-30).
ACR = T.StructType(
    _EVENT_COMMON_HEAD
    + [_f("release_date", _D)]
    + _EVENT_COMMON_TAIL
    + [
        _f("application", _S, "ACR-only column (etl-ddl-backfill.sql:21)"),
        _f("yyyy", _I),
        _f("mm", _I),
        _f("dd", _I),
        _f("metadata_date", _D, "file-drop date derived from path"),
    ]
)

# STB: same minus application/release_date, string yyyy/mm/dd
# (ingest-ddl.sql:42-69).
STB = T.StructType(
    _EVENT_COMMON_HEAD
    + _EVENT_COMMON_TAIL
    + [
        _f("yyyy", _S),
        _f("mm", _S),
        _f("dd", _S),
        _f("metadata_date", _D),
    ]
)

# GEO_WEIGHTS (ingest-ddl.sql:32-40).
GEO_WEIGHTS = T.StructType(
    [
        _f("yyyy", _S),
        _f("mm", _S),
        _f("dd", _S),
        _f("metadata_date", _D, "panel Monday the weight row belongs to"),
        _f("hh_id", _S, "household id"),
        _f("smba_id", _S, "device id"),
        _f("geo_weight", _F64, "panel sampling weight"),
    ]
)

# Modelling layer (etl-ddl-backfill.sql).
PANEL_WINDOWS = T.StructType(
    [
        _f("panel_monday", _D),
        _f("window_start", _D, "panel_monday - 28 days"),
        _f("window_end", _D, "panel_monday - 1 day"),
        _f("created_at", T.TimestampType()),
    ]
)

# The three event/session tables in the order the writers produce
# them. A hive-partitioned read lists its partition columns last
# (``Warehouse.schema`` moves them).
RAW_VIEWING_EVENTS = T.StructType(
    [
        _f(n, _S)
        for n in (
            "source_table", "smba_id", "content_type", "application",
            "title", "content_id", "episode_title", "season", "episode",
            "network",
        )
    ]
    + [_f(n, _L) for n in ("duration", "exposure_start_ts", "exposure_end_ts")]
    + [_f("dma", _S), _f("zip", _S), _f("metadata_date", _D)]
    + [_f(n, _S) for n in ("yyyy", "mm", "dd")]
    + [_f("created_at", T.TimestampType())]
)

WEIGHTED_EVENTS = T.StructType(
    RAW_VIEWING_EVENTS.fields[:-1]
    + [
        _f("panel_monday", _D),
        _f("hh_id", _S),
        _f("panel_weight", _F64),
        _f("created_at", T.TimestampType()),
    ]
)

VIEWING_SESSIONS = T.StructType(
    [
        _f(n, _S)
        for n in (
            "hh_id", "dma", "source_table", "content_type", "application",
            "title", "content_id", "episode_title", "season", "episode",
            "network",
        )
    ]
    + [_f("panel_monday", _D)]
    + [
        _f(n, _L)
        for n in (
            "session_id", "session_start_ts", "session_end_ts",
            "total_duration",
        )
    ]
    + [_f("panel_weight", _F64), _f("created_at", T.TimestampType())]
)

TASK_CONTROL = T.StructType(
    [
        _f("task_name", _S),
        _f("last_successful_run_date", _D),
    ]
)

LOAD_LEDGER = T.StructType(
    [
        _f("file_path", _S),
        _f("feed", _S),
        _f("loaded_at", T.TimestampType()),
    ]
)
