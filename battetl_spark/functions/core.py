"""Scalar column-expression library (SURVEY.md §2.2, §2.8).

Every helper returns a pure Catalyst Column — JVM-side, whole-stage-codegen'd,
never per-row Python. Each mirrors a reference behavior (cited); the
implementation is Spark-native, not a translation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# "1d 15:07:52.77" — Maccor interval form (reference utils.py:307-330,
# format gate Transformer.py:296-300).
_DHMS = r"^(?:(\d+)d )?(\d+):(\d+):(\d+(?:\.\d+)?)$"


def _strip_ws(col) -> Column:
    """Strip ALL leading/trailing whitespace (F.trim only strips spaces; the
    reference's leading-tab datetime format utils.py:383 needs tabs too)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, r"^\s+", ""), r"\s+$", "")


def strip_thousands(col) -> Column:
    """Numeric strings with thousands separators → double; non-numeric → NULL
    (ANSI-safe try_cast; reference utils.py:274-275, 401-416)."""
    return F.regexp_replace(
        F.col(col) if isinstance(col, str) else col, ",", ""
    ).try_cast("double")


def to_milli(col) -> Column:
    """Unit harmonization ×1e3 — V→mV, Ah→mAh, ... (reference utils.py:256-281,
    map constants.py:169-197)."""
    return strip_thousands(col) * F.lit(1000.0)


def interval_to_seconds(col, ndigits: int = 3) -> Column:
    """'1d 15:07:52.77' or '0:00:01.000' → float seconds, rounded
    (reference utils.py:307-330; quick-mode battetl_quick.py:87-104).
    NULL for strings not matching either interval shape."""
    c = _strip_ws(col)
    days = F.nullif(F.regexp_extract(c, _DHMS, 1), F.lit("")).cast("double")
    h = F.nullif(F.regexp_extract(c, _DHMS, 2), F.lit("")).cast("double")
    m = F.nullif(F.regexp_extract(c, _DHMS, 3), F.lit("")).cast("double")
    s = F.nullif(F.regexp_extract(c, _DHMS, 4), F.lit("")).cast("double")
    total = (
        F.coalesce(days, F.lit(0.0)) * 86400.0 + h * 3600.0 + m * 60.0 + s
    )
    return F.round(total, ndigits)


def parse_datetime_multi(col, formats: list[str] | None = None) -> Column:
    """Try explicit formats before the generic parser — the reference's
    fast-path list incl. a leading-tab variant (utils.py:361-399).
    Catalyst constant-folds the format literals; coalesce short-circuits."""
    c = _strip_ws(col)
    formats = formats or [
        "MM/dd/yyyy HH:mm:ss.SSS",
        "MM/dd/yyyy HH:mm:ss",
        "yyyy-MM-dd HH:mm:ss.SSS",
        "yyyy-MM-dd HH:mm:ss",
    ]
    attempts = [F.try_to_timestamp(c, F.lit(f)) for f in formats]
    attempts.append(F.try_to_timestamp(c))
    return F.coalesce(*attempts)


def to_utc(ts_col, timezone: str = "America/Los_Angeles") -> Column:
    """Localize a naive timestamp to ``timezone`` and convert to UTC
    (reference utils.py:332-359; default tz constants.py:2)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.to_utc_timestamp(c, timezone)


def unixtime_s(ts_col) -> Column:
    """Derived integer epoch seconds (reference Transformer.py:302-323)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.unix_timestamp(c).cast("long")


def pack_other_details(extra_cols: list[str]) -> Column:
    """Leftover columns → JSON string, nulls dropped — the open-schema escape
    hatch (reference Loader.py:495-524). Native to_json, not a row UDF."""
    if not extra_cols:
        return F.lit(None).cast("string")
    return F.to_json(
        F.struct(*[F.col(c) for c in sorted(extra_cols)]), {"ignoreNullFields": "true"}
    )
