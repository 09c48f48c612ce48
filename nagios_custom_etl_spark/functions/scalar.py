"""Scalar function layer (SURVEY.md §2.8, F1–F15).

Every function here is a pure Column expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly, zero
Python UDFs (SURVEY §2.11). Reference citations point at the behavior
being re-expressed, not code being copied.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact-arithmetic helpers (oracle-parity convention, see plans/registry.py)
# ---------------------------------------------------------------------------


def dec(col: str | Column, precision: int = 12, scale: int = 2) -> Column:
    """Cast a measure to exact decimal before arithmetic/aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """Exact decimal sum, surfaced as double (bit-identical across engines)."""
    return F.sum(dec(col, precision, scale)).cast("double")


def davg(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """avg as exact-decimal sum / count, evaluated in double.

    Spark's avg(decimal) and DuckDB's AVG(decimal) return different types
    (decimal vs double); sum/count in double matches exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, precision, scale)).cast("double") / F.count(c)


# ---------------------------------------------------------------------------
# F1 — numeric normalize (reference extract.py:53-61 `convert_to_int`):
# cast to float, NaN -> null, non-numeric -> null, round to 2 decimals.
# ---------------------------------------------------------------------------


def numeric_normalize(col: str | Column, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    d = c.try_cast("double")  # non-numeric -> null (ANSI-safe, like try/except ValueError)
    # The reference's f"{v:.2f}" rounds the exact binary value (2.675 is
    # 2.67499... -> 2.67). bround rounds half-even on the shortest decimal
    # repr, which agrees unless that repr stops on a tie digit at scale+1
    # ("2.675"). For such a tie, d * 10**scale lands within a few ulps of
    # k + 0.5; rows that close (a 4.5x margin over the product's error)
    # take format_number, whose DecimalFormat rounds the binary value.
    # Doubles at or above 2**53 are integers, so bround is exact there;
    # NaN sorts above them, so it never reaches format_number.
    # One CASE with d used bare keeps d a single shared parse.
    y = d * float(10**scale)
    near_tie = (F.abs(d) < float(2**53)) & (
        F.abs(F.abs(y % 1.0) - 0.5) <= F.abs(y) * 1e-15
    )
    exact = F.regexp_replace(F.format_number(d, scale), ",", "").cast("double")
    return (
        F.when(F.isnan(d), F.lit(None))
        .when(near_tie, exact)
        .otherwise(F.bround(d, scale))
    )


# ---------------------------------------------------------------------------
# F2/F3/F4/F5 — timestamp conversions (extract.py:64-67,
# url_service_status_InfluxDB_insert.py:102, extract.py:28-31)
# ---------------------------------------------------------------------------

MSSQL_DT2_FMT = "yyyy-MM-dd HH:mm:ss"


def epoch_to_datetime_str(col: str | Column) -> Column:
    """epoch seconds -> 'yyyy-MM-dd HH:mm:ss' string (F2)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.from_unixtime(c), MSSQL_DT2_FMT)


def datetime_str_to_epoch(col: str | Column) -> Column:
    """'yyyy-MM-dd HH:mm:ss' string -> epoch seconds; null on parse failure (F3+P6).

    try_to_timestamp, not unix_timestamp(str): ANSI mode makes the latter
    throw on garbage, but the reference treats parse failure as
    drop-the-row (url_...py:101-105).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(F.try_to_timestamp(c, F.lit(MSSQL_DT2_FMT)))


def ts_str(col: str | Column, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """Canonical string form of a timestamp for engine-portable output."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, fmt)


# ---------------------------------------------------------------------------
# F6/F7 — categorical decode/encode with default
# (url_service_status_InfluxDB_insert.py:26-37)
# ---------------------------------------------------------------------------

STATUS_DECODE = {"0": "OK", "1": "WARNING", "2": "CRITICAL", "3": "UNKNOWN"}
STATUS_ENCODE = {"OK": 0, "WARNING": 1, "CRITICAL": 2, "UNKNOWN": 3}


def categorical_decode(col: str | Column, mapping: dict, default) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for k, v in mapping.items():
        expr = F.when(c == F.lit(k), F.lit(v)) if expr is None else expr.when(c == F.lit(k), F.lit(v))
    return expr.otherwise(F.lit(default))


def categorical_encode(col: str | Column, mapping: dict, default=-1) -> Column:
    return categorical_decode(col, mapping, default)


# ---------------------------------------------------------------------------
# F11/F12 — map normalization + lookup with default
# (url_service_status_InfluxDB_insert.py:89-95)
# ---------------------------------------------------------------------------


def map_get_default(map_col: str | Column, key: str, default: str) -> Column:
    c = F.col(map_col) if isinstance(map_col, str) else map_col
    return F.coalesce(c.getItem(key), F.lit(default))


def entries_to_map(entries_col: str | Column) -> Column:
    """list of {name, value} structs -> map (the customvars list form)."""
    c = F.col(entries_col) if isinstance(entries_col, str) else entries_col
    return F.map_from_entries(F.transform(c, lambda e: F.struct(e["name"], e["value"])))


# ---------------------------------------------------------------------------
# F14/T4 — canonical row hash (extract.py:119,127 json.dumps sort_keys row
# identity). We hash a canonical '|'-joined string of explicitly stringified
# columns in sorted-name order: portable across engines, unlike to_json.
# ---------------------------------------------------------------------------


def canonical_row_hash(*cols: Column | str) -> Column:
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.sha2(F.concat_ws("|", *[c.cast("string") for c in cs]), 256)


# ---------------------------------------------------------------------------
# F4/F5 — now/interval arithmetic and date stamps (extract.py:28-31,
# load_to_db.py:17). `now` is injectable so pipelines are testable and
# re-runnable (the reference's implicit wall-clock is why its runs aren't
# reproducible).
# ---------------------------------------------------------------------------


def lookback_window_start(hours: int = 25, now: Column | None = None) -> Column:
    """Epoch seconds of now - N hours — the reference's 25h lookback
    (extract.py:29-31), rounded like its round(timestamp())."""
    base = now if now is not None else F.current_timestamp()
    return F.round(F.unix_timestamp(base) - hours * 3600).cast("long")


def datestamp(now: Column | None = None) -> Column:
    """'yyyyMMdd' stamp for backup naming (load_to_db.py:17)."""
    base = now if now is not None else F.current_date()
    return F.date_format(base, "yyyyMMdd")
