"""ETL-semantics tests on Nagios-shaped synthetic data (SURVEY §5.4,
FIXTURES.md §B): EP1 inventory explode, EP2 pivot + completeness gate +
cross-run dedup, EP3 status points, T5 routing."""

from __future__ import annotations

import functools
from collections import Counter

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nagios_custom_etl_spark.etl.nagios import (
    HOSTGROUP_FILTER,
    HOSTGROUP_MEMBERS_SCHEMA,
    KEY_COLUMNS,
    SERVICE_KEYS,
    cross_run_dedup_batch,
    extract_pipeline,
    host_inventory,
    normalize_customvars,
    route_metric_type,
    rrd_points_to_wide,
    status_points_pipeline,
)
from nagios_custom_etl_spark.functions.scalar import epoch_to_datetime_str, numeric_normalize
from nagios_custom_etl_spark.operators import snapshots as S


@pytest.fixture(scope="module")
def members_json(spark):
    data = [
        {
            "hostgroup": [
                {
                    "hostgroup_name": "linux-servers",
                    "members": {"host": [{"host_name": "web01"}, {"host_name": "web02"}]},
                },
                {
                    "hostgroup_name": "windows-servers",
                    "members": {"host": [{"host_name": "win01"}]},
                },
                {
                    "hostgroup_name": "other",
                    "members": {"host": [{"host_name": "misc01"}]},
                },
            ]
        }
    ]
    return spark.createDataFrame(data, HOSTGROUP_MEMBERS_SCHEMA)


def test_ep1_host_inventory(members_json):
    rows = host_inventory(members_json, ("linux-servers", "windows-servers")).collect()
    got = {(r["host_name"], r["host_group"]) for r in rows}
    assert got == {
        ("web01", "linux-servers"),
        ("web02", "linux-servers"),
        ("win01", "windows-servers"),
    }


@pytest.fixture(scope="module")
def perf_raw(spark):
    rows = [
        # complete CPU point
        ("web01", "CPU Usage", 1700000000, ["42.5"]),
        # swap point with garbage value → completeness gate drops it
        ("web01", "Swap Usage", 1700000000, ["1.0", "NaN", "3.0"]),
        # complete swap point
        ("web01", "Swap Usage", 1700003600, ["1.0", "2.0", "3.0"]),
        # memory point with too-few values → nulls → dropped
        ("web01", "Memory Usage", 1700000000, ["1", "2", "3"]),
        # complete memory point
        ("web01", "Memory Usage", 1700003600, ["1", "2", "3", "4", "5"]),
        # host outside the selected groups
        ("misc01", "CPU Usage", 1700000000, ["9.9"]),
    ]
    return spark.createDataFrame(
        rows, "host_name string, service_name string, t long, v array<string>"
    )


def test_ep2_pivot_and_completeness_gate(perf_raw):
    wide = rrd_points_to_wide(perf_raw)
    assert set(wide) == set(SERVICE_KEYS)
    cpu = wide["CPU Usage"].collect()
    assert {r["host_name"] for r in cpu} == {"web01", "misc01"}
    assert all(r["percent_used"] is not None for r in cpu)
    swap = wide["Swap Usage"].collect()
    assert len(swap) == 1 and swap[0]["swap_total_GiB"] == 2.0  # NaN row dropped
    mem = wide["Memory Usage"].collect()
    assert len(mem) == 1 and mem[0]["memory_used_GiB"] == 5.0  # short row dropped
    # timestamps are reference-format strings
    assert swap[0]["timestamp"] == "2023-11-14 23:13:20"  # 1700003600 UTC


def test_ep2_full_pipeline_with_dedup(spark, perf_raw):
    hosts = spark.createDataFrame(
        [("web01", "linux-servers"), ("misc01", "other")],
        "host_name string, host_group string",
    )
    run1 = extract_pipeline(hosts, perf_raw)
    assert {r["host_name"] for r in run1["CPU Usage"].collect()} == {"web01"}  # misc01 filtered
    # second run re-delivers the same data → everything dedups away
    run2 = extract_pipeline(hosts, perf_raw, previous_wide=run1)
    assert all(df.count() == 0 for df in run2.values())


def _per_family_extract(hosts, raw, previous=None):
    """The per-family EP2 formula the fused extract must reproduce:
    filter(service) → select → dropna → exceptAll(previous family)."""
    selected = hosts.filter(F.col("host_group").isin(*HOSTGROUP_FILTER)).select("host_name")
    # materialized once: the host scope is not what this formula pins
    scoped = raw.join(F.broadcast(selected), "host_name", "left_semi").localCheckpoint()
    out = {}
    for svc, keys in SERVICE_KEYS.items():
        fam = (
            scoped.filter(F.col("service_name") == svc)
            .select(
                "host_name",
                epoch_to_datetime_str("t").alias("timestamp"),
                "service_name",
                *(numeric_normalize(F.get("v", i)).alias(k) for i, k in enumerate(keys)),
            )
            .dropna(how="any")
        )
        if previous and svc in previous:
            fam = fam.exceptAll(previous[svc].select(*fam.columns))
        out[svc] = fam
    return out


def _family_rows(wide):
    """Each family's dtypes, and every family's rows as one multiset of
    (service, row as json) collected in one action."""
    tagged = [
        df.select(F.lit(svc).alias("svc"), F.to_json(F.struct(*df.columns)).alias("row"))
        for svc, df in wide.items()
    ]
    rows = Counter(map(tuple, functools.reduce(DataFrame.unionByName, tagged).collect()))
    return {svc: df.dtypes for svc, df in wide.items()}, rows


@pytest.fixture(scope="module")
def planted_runs(spark):
    """(hosts, previous run's raw rows, current run's raw rows) with every
    edge the completeness gate and the cross-run dedup must keep."""
    hosts = spark.createDataFrame(
        [("web01", "linux-servers"), ("win01", "windows-servers"), ("misc01", "other")],
        "host_name string, host_group string",
    )
    t0, t1, t2 = 1700000000, 1700000300, 1700000600
    full = {svc: [str(i + 1.25) for i in range(len(keys))] for svc, keys in SERVICE_KEYS.items()}
    prev = [(h, svc, t0, v) for h in ("web01", "win01") for svc, v in full.items()] + [
        ("web01", "Disk Usage tmp", t1, ["1", "2", "3"]),  # delivered once before ...
        ("web01", "CPU Usage", t1, ["42.5"]),
    ]
    cur = [(h, svc, t, v) for h in ("web01", "win01") for svc, v in full.items() for t in (t0, t2)] + [
        ("web01", "Disk Usage tmp", t1, ["1", "2", "3"]),  # ... and twice now:
        ("web01", "Disk Usage tmp", t1, ["1", "2", "3"]),  # exactly one survives
        ("web01", "CPU Usage", t1, ["42.5", "7"]),  # too long: extra element ignored → deduped
        ("win01", "CPU Usage", t1, ["13", "x", "y"]),  # too long: kept as 13.0
        ("web01", "Swap Usage", t1, ["1.0", "NaN", "3.0"]),  # NaN → dropped
        ("web01", "Disk Usage home", t1, ["1", "garbage", "3"]),  # garbage → dropped
        ("win01", "Memory Usage", t1, ["1", "2", "3"]),  # short → dropped
        ("win01", "Disk Usage var", t1, []),  # empty → dropped
        ("web01", "CPU Usage", None, ["5"]),  # no timestamp → dropped
        ("misc01", "CPU Usage", t1, ["9.9"]),  # host outside the kept groups
        ("web01", "Mystery Service", t1, ["1"]),  # unknown service
    ]
    schema = "host_name string, service_name string, t long, v array<string>"
    return hosts, spark.createDataFrame(prev, schema), spark.createDataFrame(cur, schema)


def test_ep2_fused_extract_matches_per_family_formula(planted_runs):
    hosts, prev_raw, cur_raw = planted_runs
    want_prev = _per_family_extract(hosts, prev_raw)
    prev = extract_pipeline(hosts, prev_raw)
    assert _family_rows(prev) == _family_rows(want_prev)
    want = _family_rows(_per_family_extract(hosts, cur_raw, want_prev))
    # the planted multiset case: delivered twice now, once before → one copy
    assert [n for (svc, row), n in want[1].items() if svc == "Disk Usage tmp" and "22:18:20" in row] == [1]
    # carried result (the cron pattern)
    assert _family_rows(extract_pipeline(hosts, cur_raw, previous_wide=prev)) == want
    # a hand-built plain dict; the families it leaves out are not deduped
    partial = {svc: want_prev[svc] for svc in ("CPU Usage", "Disk Usage tmp", "Memory Usage")}
    assert _family_rows(extract_pipeline(hosts, cur_raw, previous_wide=partial)) == _family_rows(
        _per_family_extract(hosts, cur_raw, partial)
    )


def test_ep2_routed_appends_run_one_pass_per_table(spark, planted_runs, tmp_path):
    """A cron run's 4 routed appends read the materialized extract: the
    disk append (7 unioned families) runs no more Spark jobs than the
    single-family cpu append."""
    hosts, prev_raw, cur_raw = planted_runs
    wide = extract_pipeline(hosts, cur_raw, previous_wide=extract_pipeline(hosts, prev_raw))
    routed = {}
    for svc, df in wide.items():
        route = svc.split()[0].lower()
        if route == "disk":  # 7 mounts, one table: canonical value names
            df = df.toDF(*KEY_COLUMNS, *SERVICE_KEYS["Disk Usage root"])
        routed[route] = routed[route].unionByName(df) if route in routed else df
    sc = spark.sparkContext
    jobs = {}
    try:
        for route, df in routed.items():
            sc.setJobGroup(f"etl-append-{route}", route)
            S.append(df, str(tmp_path / route))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs[route] = len(sc.statusTracker().getJobIdsForGroup(f"etl-append-{route}"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert set(jobs) == {"cpu", "memory", "disk", "swap"}
    assert 1 <= jobs["disk"] <= jobs["cpu"], jobs


def test_cross_run_dedup_partial_overlap(spark):
    cur = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    prev = spark.createDataFrame([("a", 1), ("z", 9)], "k string, v int")
    out = {tuple(r) for r in cross_run_dedup_batch(cur, prev).collect()}
    assert out == {("b", 2), ("c", 3)}


def test_t5_route_metric_type(spark):
    df = spark.createDataFrame(
        [(s,) for s in SERVICE_KEYS] + [("Mystery Service",)], "service_name string"
    )
    got = {r["service_name"]: r["route"] for r in df.select("service_name", route_metric_type().alias("route")).collect()}
    assert got["CPU Usage"] == "cpu"
    assert got["Memory Usage"] == "memory"
    assert got["Swap Usage"] == "swap"
    assert all(got[f"Disk Usage {m}"] == "disk" for m in ("root", "tmp", "home"))
    assert got["Mystery Service"] == "unrouted"


@pytest.fixture(scope="module")
def status_inputs(spark):
    statuses = spark.createDataFrame(
        [
            ("web01", "HTTP", "0", "2024-01-01 10:00:00"),
            ("web01", "SSH", "2", "2024-01-01 10:00:00"),
            ("web02", "HTTP", None, "2024-01-01 10:00:00"),  # missing state → UNKNOWN
            ("web01", "DNS", "1", None),  # P5: null last_check dropped
            ("web01", "SMTP", "1", "not-a-date"),  # P6: unparseable dropped
            ("out01", "HTTP", "0", "2024-01-01 10:00:00"),  # not a member
        ],
        "host_name string, service_description string, current_state string, last_check string",
    )
    members = spark.createDataFrame(
        [("web01", "HTTP"), ("web01", "SSH"), ("web02", "HTTP"), ("web01", "DNS"), ("web01", "SMTP")],
        "host_name string, service_description string",
    )
    details_list_variant = spark.createDataFrame(
        [
            (
                "web01",
                "HTTP",
                "Web Frontend",
                [{"name": "FRIENDLYNAME", "value": "frontdoor"}, {"name": "CROWNJEWEL", "value": "yes"}],
            ),
        ],
        "host_name string, service_description string, display_name string, "
        "customvars array<struct<name string, value string>>",
    )
    return statuses, members, details_list_variant


def test_ep3_status_points(status_inputs):
    statuses, members, details = status_inputs
    points = status_points_pipeline(statuses, members, details).collect()
    by_key = {(r["tags"]["host_name"], r["tags"]["service_description"]): r for r in points}
    # P5/P6 rows and non-members dropped
    assert set(by_key) == {("web01", "HTTP"), ("web01", "SSH"), ("web02", "HTTP")}
    http = by_key[("web01", "HTTP")]
    assert http["fields"]["service_status"] == "OK"
    assert http["fields"]["service_status_numeric"] == 0
    assert http["tags"]["friendlyname"] == "frontdoor"
    assert http["tags"]["crownjewel"] == "yes"
    assert http["time"] == 1704103200  # 2024-01-01 10:00:00 UTC
    ssh = by_key[("web01", "SSH")]
    assert ssh["fields"]["service_status"] == "CRITICAL"
    assert ssh["tags"]["display_name"] == "unknown"  # joined-miss default
    unknown = by_key[("web02", "HTTP")]
    assert unknown["fields"]["service_status"] == "UNKNOWN"  # missing state default
    assert unknown["fields"]["service_status_numeric"] == 3


def test_customvars_map_variant_passthrough(spark):
    details_map = spark.createDataFrame(
        [("h", "s", "d", {"FRIENDLYNAME": "x"})],
        "host_name string, service_description string, display_name string, "
        "customvars map<string,string>",
    )
    out = normalize_customvars(details_map)
    assert dict(out.dtypes)["customvars"] == "map<string,string>"
    assert out.head()["customvars"]["FRIENDLYNAME"] == "x"
