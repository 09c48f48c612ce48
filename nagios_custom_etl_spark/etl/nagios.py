"""The reference's three pipelines (SURVEY §3 EP1–EP3) re-expressed as
composable DataFrame transforms over Nagios-shaped inputs (FIXTURES.md §B).

Every step is a declarative plan node; the reference's row-at-a-time loops,
file handoffs and first-row schema inference disappear into Catalyst
lineage + fixed StructTypes. EP2 parses, gates and dedups all ten service
families as one points frame and materializes it once per run; the
per-family frames it returns are projections of that one result.
Citations point at the behavior re-expressed.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nagios_custom_etl_spark.functions.scalar import (
    categorical_decode,
    datetime_str_to_epoch,
    epoch_to_datetime_str,
    numeric_normalize,
)

# ---------------------------------------------------------------------------
# Data model: service → value-column names (the reference's dynamic wide
# schema, /root/reference/extract.py:37-48, kept verbatim as the sink
# contract — including the historical `Free_Gib` casing quirk for home).
# ---------------------------------------------------------------------------

SERVICE_KEYS: dict[str, list[str]] = {
    "Memory Usage": [
        "memory_available_GiB",
        "memory_total_GiB",
        "memory_used_percent",
        "memory_free_GiB",
        "memory_used_GiB",
    ],
    "Swap Usage": ["swap_used_GiB", "swap_total_GiB", "swap_free_GiB"],
    "Disk Usage root": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage tmp": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage apps": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage boot": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage opt": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage var": ["Used_Gib", "Free_GiB", "Total_GiB"],
    "Disk Usage home": ["Used_Gib", "Free_Gib", "Total_GiB"],
    "CPU Usage": ["percent_used"],
}

# routing domains (/root/reference/load_to_db.py:34): substring of the
# lowercased service name → target table
METRIC_ROUTES = ("cpu", "memory", "disk", "swap")

KEY_COLUMNS = ("host_name", "timestamp", "service_name")  # extract.py:80-84

HOSTGROUP_FILTER = ("linux-servers", "windows-servers")  # IN-list shape, extract.py:140


def services_df(spark) -> DataFrame:
    """The static 10-service dimension (cross-join side, extract.py:50)."""
    return spark.createDataFrame(
        [(s,) for s in SERVICE_KEYS], T.StructType([T.StructField("service_name", T.StringType())])
    )


# ---------------------------------------------------------------------------
# EP1 — host inventory (hosts_to_csv.py): nested JSON → (host, group) rows
# ---------------------------------------------------------------------------

HOSTGROUP_MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField(
            "hostgroup",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("hostgroup_name", T.StringType()),
                        T.StructField(
                            "members",
                            T.StructType(
                                [
                                    T.StructField(
                                        "host",
                                        T.ArrayType(
                                            T.StructType(
                                                [T.StructField("host_name", T.StringType())]
                                            )
                                        ),
                                    )
                                ]
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def host_inventory(members_json: DataFrame, keep_groups: tuple[str, ...] = ()) -> DataFrame:
    """EP1 (hosts_to_csv.py:17-48): explode hostgroups[i].members.host[j]
    into (host_name, host_group) rows, optionally IN-list filtered."""
    out = (
        members_json.select(F.explode("hostgroup").alias("g"))
        .select(F.col("g.hostgroup_name").alias("host_group"), F.explode("g.members.host").alias("h"))
        .select(F.col("h.host_name").alias("host_name"), "host_group")
    )
    if keep_groups:
        out = out.filter(F.col("host_group").isin(*keep_groups))
    return out


# ---------------------------------------------------------------------------
# EP2 — perf extraction: one points frame per run (array → fixed value
# slots, completeness gate, cross-run dedup), projected per service family
# ---------------------------------------------------------------------------

_SLOTS = tuple(f"_v{i}" for i in range(max(map(len, SERVICE_KEYS.values()))))


class WideFamilies(dict):
    """``{service_name: wide family DataFrame}`` that also carries the one
    ``points`` frame every family is a projection of, so a later run can
    dedup against it without repacking the families."""

    def __init__(self, points: DataFrame):
        super().__init__((svc, _family(points, svc)) for svc in SERVICE_KEYS)
        self.points = points


def _family(points: DataFrame, service: str) -> DataFrame:
    """One family's rows of ``points``, its slots named by SERVICE_KEYS."""
    return points.filter(F.col("service_name") == service).select(
        *KEY_COLUMNS, *(F.col(s).alias(k) for s, k in zip(_SLOTS, SERVICE_KEYS[service]))
    )


def _points(perf_raw: DataFrame) -> DataFrame:
    """KEY_COLUMNS + value slots ``_v0.._vN`` for every family at once.
    Slot i holds the i-th normalized array element while i is below the
    family's arity and is null past it, so extra elements are ignored.
    T6 completeness gate (extract.py:95-99): the spool may not have
    flushed every metric yet — a row missing a key or any slot within its
    arity is dropped now (NaN and garbage normalize to null), and the 25h
    overlap re-delivers it next run. Unknown services are dropped."""
    arities = (F.lit(x) for svc, keys in SERVICE_KEYS.items() for x in (svc, len(keys)))
    arity = F.create_map(*arities)[F.col("service_name")]
    slots = [F.when(arity > i, numeric_normalize(F.get("v", i))).alias(s) for i, s in enumerate(_SLOTS)]
    complete = F.col("host_name").isNotNull() & F.col("timestamp").isNotNull()
    for i, s in enumerate(_SLOTS):
        complete &= F.col(s).isNotNull() | (arity <= i)
    return (
        perf_raw.filter(F.col("service_name").isin(*SERVICE_KEYS))
        .select("host_name", epoch_to_datetime_str("t").alias("timestamp"), "service_name", *slots)
        .filter(complete)
    )


def _points_of(wide: dict[str, DataFrame]) -> DataFrame:
    """The points frame behind ``wide``: the carried one, or a plain
    per-family dict repacked into slots with one union."""
    if isinstance(wide, WideFamilies):
        return wide.points
    fams = [
        df.filter(F.col("service_name") == svc).select(
            *KEY_COLUMNS,
            *(
                (F.col(keys[i]) if i < len(keys) else F.lit(None)).cast("double").alias(s)
                for i, s in enumerate(_SLOTS)
            ),
        )
        for svc, df in wide.items()
        if (keys := SERVICE_KEYS.get(svc))
    ]
    return functools.reduce(DataFrame.unionByName, fams)


def rrd_points_to_wide(perf_raw: DataFrame) -> dict[str, DataFrame]:
    """T2 (extract.py:78-93): per service family, name each element of the
    value array and normalize numerics — one declared-schema DataFrame per
    family, replacing the reference's first-row key inference.

    Input shape (FIXTURES.md §B perf_raw): host_name, service_name,
    t (epoch s), v (array<string>, may contain 'NaN'/garbage).
    Output: a :class:`WideFamilies` ``{service_name: wide df with
    KEY_COLUMNS + typed value cols}``. Every family is a lazy projection
    of one gated points frame, so the array is parsed and gated in one
    pass however many families a consumer reads.
    """
    return WideFamilies(_points(perf_raw))


def route_metric_type(service_name: Column | str = "service_name") -> Column:
    """T5 (load_to_db.py:34-36): substring routing to metric families."""
    c = F.lower(F.col(service_name) if isinstance(service_name, str) else service_name)
    expr = F.when(c.contains("cpu"), "cpu")
    for route in ("memory", "disk", "swap"):
        expr = expr.when(c.contains(route), route)
    return expr.otherwise("unrouted")


def cross_run_dedup_batch(current: DataFrame, previous: DataFrame) -> DataFrame:
    """J3/SO1 (extract.py:115-132): drop rows whose canonical whole-row
    identity appeared in the previous run. exceptAll == the reference's
    serialized-row set difference, but distributed and spill-safe."""
    return current.exceptAll(previous.select(*current.columns))


def extract_pipeline(
    hosts: DataFrame,
    perf_raw: DataFrame,
    previous_wide: dict[str, DataFrame] | None = None,
    keep_groups: tuple[str, ...] = HOSTGROUP_FILTER,
) -> dict[str, DataFrame]:
    """EP2 end-to-end (extract.py main, 135-161): host filter → keyspace
    restriction → pivot + gate → cross-run dedup, each done once over all
    families. The deduped points are materialized once with a lazy
    ``localCheckpoint`` (the first action over any family computes them)
    and the returned :class:`WideFamilies` projects them, so routed
    appends read computed rows instead of re-running the scan, gate and
    dedup per family; the trade-off is that checkpoint blocks are not
    lineage-recoverable if an executor is lost. A ``previous_wide``
    returned by this function is deduped against through its carried
    points; a plain per-family dict is repacked. The scan/fetch
    parallelism that was a 5-thread pool is now source partitioning."""
    selected = hosts.filter(F.col("host_group").isin(*keep_groups)).select("host_name")
    scoped = perf_raw.join(F.broadcast(selected), "host_name", "left_semi")
    points = _points(scoped)
    if previous_wide:
        points = cross_run_dedup_batch(points, _points_of(previous_wide))
    # lazy, not eager: the previous run's points then materialize inside
    # this run's dedup job instead of a job of their own (measured fewer
    # jobs and less CPU per cron run than eager)
    return WideFamilies(points.localCheckpoint(eager=False))


# ---------------------------------------------------------------------------
# EP3 — status → time-series points
# ---------------------------------------------------------------------------

STATUS_DECODE = {"0": "OK", "1": "WARNING", "2": "CRITICAL", "3": "UNKNOWN"}
STATUS_ENCODE = {"OK": 0, "WARNING": 1, "CRITICAL": 2, "UNKNOWN": 3}


def normalize_customvars(details: DataFrame, col: str = "customvars") -> DataFrame:
    """F11 (url_...py:89-95): customvars arrive as map *or* list of
    {name,value} — normalize to map<string,string>."""
    dtype = dict(details.dtypes).get(col, "")
    if dtype.startswith("array"):
        return details.withColumn(
            col,
            F.map_from_entries(
                F.transform(F.col(col), lambda e: F.struct(e["name"], e["value"]))
            ),
        )
    return details


def status_points_pipeline(
    statuses: DataFrame, members: DataFrame, details: DataFrame
) -> DataFrame:
    """EP3 (url_service_status_InfluxDB_insert.py:39-139): membership
    semi-join → broadcast left enrich with defaults → P5/P6 validity
    filters → decode/encode → point assembly (tags/fields/time)."""
    key = ["host_name", "service_description"]
    details = normalize_customvars(details)
    epoch = datetime_str_to_epoch("last_check")
    enriched = (
        statuses.join(members.select(*key), key, "left_semi")
        .join(F.broadcast(details), key, "left")
        .filter(F.col("last_check").isNotNull())  # P5
        .filter(epoch.isNotNull())  # P6: unparseable timestamps dropped
    )
    state = F.coalesce(F.col("current_state"), F.lit("3"))  # url_...py:107 default
    label = categorical_decode(state, STATUS_DECODE, "UNKNOWN")
    return enriched.select(
        F.lit("service_status").alias("measurement"),
        F.struct(
            F.col("service_description"),
            F.coalesce("display_name", F.lit("unknown")).alias("display_name"),
            F.coalesce(F.col("customvars")["FRIENDLYNAME"], F.lit("unknown")).alias(
                "friendlyname"
            ),
            F.coalesce(F.col("customvars")["CROWNJEWEL"], F.lit("unknown")).alias("crownjewel"),
            F.col("host_name"),
        ).alias("tags"),
        F.struct(
            label.alias("service_status"),
            categorical_encode_label(label).alias("service_status_numeric"),
        ).alias("fields"),
        epoch.alias("time"),
    )


def categorical_encode_label(label: Column) -> Column:
    """F7 (url_...py:32-37): label → numeric with default -1."""
    return categorical_decode(label, STATUS_ENCODE, -1)
