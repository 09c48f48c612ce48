"""Custom source/sink tests (SURVEY §2.1/§2.2): the REST data source with
partitioning + filter pushdown (offline demo fetcher), the routed JDBC
sink contract, and InfluxDB line-protocol rendering."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, In, EqualTo, IsNotNull

from nagios_custom_etl_spark.etl.nagios import SERVICE_KEYS
from nagios_custom_etl_spark.sinks.influx import influx_batch_writer, line_protocol
from nagios_custom_etl_spark.sinks.jdbc_routed import ROUTE_TABLES, write_routed
from nagios_custom_etl_spark.sources.rest import NagiosRrdReader, register_sources

DEMO_FETCHER = "nagios_custom_etl_spark.sources.rest:demo_fetcher"


def _rrd_df(spark, hosts="web01,web02", **opts):
    register_sources(spark)
    reader = (
        spark.read.format("nagios_rrd")
        .option("endpoint", "https://nagios.example/api/v1/objects/rrdexport")
        .option("fetcher", DEMO_FETCHER)
        .option("hosts", hosts)
        .option("start_ts", "1700000000")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def test_rest_source_reads_all_pairs(spark):
    df = _rrd_df(spark)
    # 2 hosts × 10 services × 6 points
    assert df.count() == 2 * len(SERVICE_KEYS) * 6
    assert df.schema.simpleString() == (
        "struct<host_name:string,service_name:string,t:bigint,v:array<string>>"
    )
    row = df.filter((F.col("host_name") == "web01") & (F.col("service_name") == "CPU Usage")).head()
    assert len(row["v"]) == 1  # value arity follows SERVICE_KEYS


def test_rest_source_filter_pushdown_plan(spark):
    df = _rrd_df(spark).filter(
        (F.col("t") >= 1700003600) & (F.col("service_name") == "CPU Usage")
    )
    # pushdown prunes the keyspace: only CPU rows with tightened start
    rows = df.collect()
    assert {r["service_name"] for r in rows} == {"CPU Usage"}
    assert min(r["t"] for r in rows) >= 1700003600


def test_rest_reader_pushdown_unit():
    reader = NagiosRrdReader(
        {
            "endpoint": "x",
            "hosts": "a,b,c",
            "start_ts": "100",
            "num_partitions": "2",
        }
    )
    leftover = list(
        reader.pushFilters(
            [
                GreaterThanOrEqual(("t",), 500),
                In(("host_name",), ("a", "c")),
                EqualTo(("service_name",), "CPU Usage"),
                IsNotNull(("v",)),  # unsupported → returned to Spark
            ]
        )
    )
    assert reader.start_ts == 500
    assert reader.hosts == ["a", "c"]
    assert reader.services == ["CPU Usage"]
    assert len(leftover) == 1 and isinstance(leftover[0], IsNotNull)
    parts = reader.partitions()
    assert sum(len(p.pairs) for p in parts) == 2  # (a|c) × CPU Usage


def test_routed_jdbc_sink_contract(spark):
    rows = [
        ("web01", "2024-01-01 00:00:00", "CPU Usage", 1.0),
        ("web01", "2024-01-01 00:00:00", "Memory Usage", 2.0),
        ("web01", "2024-01-01 00:00:00", "Disk Usage root", 3.0),
        ("web01", "2024-01-01 00:00:00", "Mystery", 4.0),
    ]
    df = spark.createDataFrame(rows, "host_name string, timestamp string, service_name string, value double")
    written: dict[str, int] = {}
    counts = write_routed(df, lambda part, table: written.__setitem__(table, part.count()))
    assert counts == {"cpu": 1, "memory": 1, "disk": 1, "swap": 0, "unrouted": 1}
    # empty route (swap) skipped; unrouted logged, not written
    assert written == {"host_cpu_usage": 1, "host_mem_usage": 1, "host_disk_usage": 1}
    assert set(written) <= set(ROUTE_TABLES.values())


def test_influx_line_protocol_rendering(spark):
    df = spark.createDataFrame(
        [("web 01", "disk=root", "OK", 0, 42.5, 1704103200)],
        "host string, svc string, status string, code int, load double, ts long",
    )
    line = df.select(
        line_protocol(
            "service_status",
            tags={"host": F.col("host"), "svc": F.col("svc")},
            fields={
                "status": ("str", F.col("status")),
                "code": ("int", F.col("code")),
                "load": ("float", F.col("load")),
            },
            time_s=F.col("ts"),
        ).alias("line")
    ).head()["line"]
    assert line == (
        'service_status,host=web\\ 01,svc=disk\\=root '
        'status="OK",code=0i,load=42.5 1704103200'
    )


def test_influx_batch_writer_posts_batches(spark):
    df = spark.createDataFrame([(f"m v={i}i 1",) for i in range(7)], "line string")
    import tempfile, os, glob, json

    out = tempfile.mkdtemp(prefix="influx_post_")

    def post(lines):  # executor-side: write each batch to a file
        import uuid

        with open(os.path.join(out, uuid.uuid4().hex), "w") as f:
            json.dump(lines, f)

    influx_batch_writer(post, batch_size=3)(df.repartition(2), batch_id=0)
    posted = []
    for p in glob.glob(f"{out}/*"):
        with open(p) as f:
            posted.extend(json.load(f))
    assert sorted(posted) == sorted(r["line"] for r in df.collect())


def test_fetch_objects_df(spark):
    from pyspark.sql import types as T

    from nagios_custom_etl_spark.sources.rest import fetch_objects_df

    def fake(endpoint, params):
        assert params["apikey"] == "k"
        return [
            {"host_name": "web01", "service_description": "HTTP"},
            {"host_name": "web02", "service_description": "SSH"},
        ]

    schema = T.StructType(
        [
            T.StructField("host_name", T.StringType()),
            T.StructField("service_description", T.StringType()),
        ]
    )
    df = fetch_objects_df(spark, "https://x/api", {"apikey": "k"}, schema, fetcher=fake)
    assert {r["host_name"] for r in df.collect()} == {"web01", "web02"}


def test_f4_f5_time_helpers(spark):
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.functions.scalar import datestamp, lookback_window_start

    fixed = F.to_timestamp(F.lit("2024-01-02 01:00:00"))
    row = spark.range(1).select(
        lookback_window_start(25, now=fixed).alias("start"),
        datestamp(now=fixed).alias("stamp"),
    ).head()
    assert row["start"] == 1704157200 - 25 * 3600  # 2024-01-02 01:00:00 UTC - 25h
    assert row["stamp"] == "20240102"


def test_rrd_stream_reader_windows_and_overlap(spark, tmp_path):
    """ST1/ST2: the streaming RRD source drains deterministically under
    AvailableNow, covers (start, end] in window-sized batches, and the
    overlap rewind re-fetches late points that the batch window then
    bounds source-side (no duplicates from within one batch)."""
    register_sources(spark)
    out = (
        spark.readStream.format("nagios_rrd")
        .option("endpoint", "http://fake/rrdexport")
        .option("fetcher", DEMO_FETCHER)
        .option("hosts", "web01,db01")
        .option("services", "CPU Usage")
        .option("start_ts", "0")
        .option("end_ts", str(6 * 3600))
        .option("window_seconds", str(3 * 3600))
        .option("overlap_seconds", "3600")
        .option("num_partitions", "2")
    )
    q = (
        out.load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "data"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "data"))
    rows = got.collect()
    # demo fetcher emits hourly points from the (rewound) start; the
    # window bound keeps t in [max(lo-overlap,0), hi) per batch. Batch 1
    # covers [0, 3h) -> t in {0,1h,2h}; batch 2 covers [3h-1h, 6h) ->
    # t in {2h,..,5h} (the 2h point is the deliberate overlap re-read).
    ts = sorted(r.t for r in rows if r.host_name == "web01")
    hours = [t // 3600 for t in ts]
    assert hours == [0, 1, 2, 2, 3, 4, 5]
    assert {r.host_name for r in rows} == {"web01", "db01"}
    # the overlap duplicate is exactly what dropDuplicates removes (ST4)
    dedup = got.dropDuplicates(["host_name", "service_name", "t"]).count()
    assert dedup == 2 * 6  # 2 hosts x hourly points 0..5


def test_influx_lines_datasource_writer(spark, tmp_path):
    """K5 as a Python DataSource batch sink: spool files + manifest via
    two-phase commit; content is the rendered line protocol."""
    import glob
    import os

    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.sinks.influx import line_protocol, register_influx_sink

    register_influx_sink(spark)
    df = spark.createDataFrame(
        [("web01", "CPU Usage", 0.97, 1700000000), ("db01", "Mem", 0.5, 1700000060)],
        "host string, service string, load double, ts long",
    )
    lines = df.select(
        line_protocol(
            "service_status",
            tags={"host": F.col("host"), "service": F.col("service")},
            fields={"load": ("float", F.col("load"))},
            time_s=F.col("ts"),
        ).alias("line")
    )
    out = str(tmp_path / "spool")
    lines.write.format("influx_lines").option("path", out).mode("append").save()
    files = glob.glob(f"{out}/part-*.lp")
    assert files and not glob.glob(f"{out}/*.tmp")
    content = sorted(
        line for f in files for line in open(f, encoding="utf-8").read().splitlines()
    )
    assert content == [
        "service_status,host=db01,service=Mem load=0.5 1700000060",
        "service_status,host=web01,service=CPU\\ Usage load=0.97 1700000000",
    ]
    manifest = open(os.path.join(out, "_MANIFEST-0"), encoding="utf-8").read().splitlines()
    assert manifest[0] == "points=2"
    listed = {ln[len("file=") :].rsplit(":", 1)[0] for ln in manifest[1:]}
    assert listed == {os.path.basename(f) for f in files}


def test_influx_sink_exactly_once_after_midcommit_crash(spark, tmp_path):
    """VERDICT r4 task 5: kill the writer mid-commit, re-run, assert
    exactly-once via the manifest. The mid-commit crash state is planted
    deterministically — one part file already renamed visible, one still
    .tmp, NO manifest (commit writes it last) — then the job is re-run
    (the retry path) and the consumer contract (read_committed_lines:
    only manifest-listed files count) must yield each point exactly
    once, with the orphans invisible."""
    import glob
    import os

    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.sinks.influx import (
        line_protocol,
        read_committed_lines,
        register_influx_sink,
    )

    register_influx_sink(spark)
    out = str(tmp_path / "spool")
    os.makedirs(out)
    # failed attempt's debris: a visible part (rename happened) and a tmp
    # (rename didn't) — the exact on-disk state of a mid-commit crash
    stale_visible = os.path.join(out, "part-deadbeef.lp")
    with open(stale_visible, "w", encoding="utf-8") as f:
        f.write("m,host=a load=0.1 1700000000\nm,host=b load=0.2 1700000001\n")
    with open(os.path.join(out, "part-cafe.lp.tmp"), "w", encoding="utf-8") as f:
        f.write("m,host=c load=0.3 1700000002\n")
    assert not glob.glob(os.path.join(out, "_MANIFEST-*"))

    df = spark.createDataFrame(
        [("web01", 0.97, 1700000100), ("db01", 0.5, 1700000160)],
        "host string, load double, ts long",
    )
    lines = df.select(
        line_protocol(
            "service_status",
            tags={"host": F.col("host")},
            fields={"load": ("float", F.col("load"))},
            time_s=F.col("ts"),
        ).alias("line")
    )
    lines.write.format("influx_lines").option("path", out).mode("append").save()

    got = sorted(read_committed_lines(out))
    assert got == [
        "service_status,host=db01 load=0.5 1700000160",
        "service_status,host=web01 load=0.97 1700000100",
    ]  # exactly once: each retried point once, orphan points zero times
    # re-running the SAME job again (double retry) still yields the same
    # point set — the manifest is replaced, never appended
    lines.write.format("influx_lines").option("path", out).mode("append").save()
    assert sorted(read_committed_lines(out)) == got
    # the stale visible orphan is still on disk but never consumed
    assert os.path.exists(stale_visible)
    assert len(glob.glob(f"{out}/part-*.lp")) >= 3
    # a DIFFERENT jobid appends alongside the committed history instead of
    # superseding it — manifests are per-job, retries replace only their own
    df2 = spark.createDataFrame([("app07", 0.1, 1700000200)], "host string, load double, ts long")
    lines2 = df2.select(
        line_protocol(
            "service_status",
            tags={"host": F.col("host")},
            fields={"load": ("float", F.col("load"))},
            time_s=F.col("ts"),
        ).alias("line")
    )
    lines2.write.format("influx_lines").option("path", out).option("jobid", "1").mode(
        "append"
    ).save()
    assert sorted(read_committed_lines(out)) == sorted(
        got + ["service_status,host=app07 load=0.1 1700000200"]
    )


def test_influx_sink_abort_leaves_no_visible_output(spark, tmp_path):
    """Two-phase commit abort path: a task failure mid-job must leave no
    visible .lp files and no manifest — a partial job is invisible."""
    import glob
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.sinks.influx import register_influx_sink

    register_influx_sink(spark)
    out = str(tmp_path / "spool")
    df = spark.range(0, 100, 1, 4).select(
        F.when(F.col("id") == 99, F.raise_error("boom"))
        .otherwise(F.concat(F.lit("m v="), F.col("id").cast("string"), F.lit("i 1700000000")))
        .alias("line")
    )
    with _pytest.raises(Exception, match="boom"):
        df.write.format("influx_lines").option("path", out).mode("append").save()
    assert not glob.glob(f"{out}/part-*.lp")
    assert not glob.glob(os.path.join(out, "_MANIFEST-*"))


def _paced_fetcher_impl(endpoint, params):
    """Module-level (executor-importable) fetcher logging call times to
    the path embedded in the endpoint after 'log='."""
    import json
    import time

    log_path = endpoint.split("log=", 1)[1]
    with open(log_path, "a", encoding="utf-8") as f:
        f.write(json.dumps({"t": time.monotonic()}) + "\n")
    return {"data": {"row": [{"t": 0, "v": [1.0]}]}}


def test_rrd_source_rate_limit_paces_requests(spark, tmp_path):
    """S4: requests_per_second paces fetches per task — the distributed
    replacement for the reference's 5-worker global throttle."""
    import json

    log = str(tmp_path / "fetch_log.jsonl")

    from nagios_custom_etl_spark.sources.rest import register_sources

    register_sources(spark)
    df = (
        spark.read.format("nagios_rrd")
        .option("endpoint", f"http://fake/rrd?log={log}")
        .option("fetcher", "tests.test_sources_sinks:_paced_fetcher_impl")
        .option("hosts", "h1")
        .option("services", "CPU Usage;Memory Usage;Swap Usage;Disk Usage")
        .option("num_partitions", "1")  # one task -> one pacing sequence
        .option("requests_per_second", "20")
        .load()
    )
    n = df.count()
    assert n == 4
    stamps = sorted(json.loads(line)["t"] for line in open(log, encoding="utf-8"))
    assert len(stamps) == 4
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert all(g >= 0.045 for g in gaps), gaps  # 20 rps -> >=50ms (5ms slack)


def test_influx_manifest_replay_follows_numeric_job_order(tmp_path):
    """ADVICE r5: cross-job replay order. Numeric jobids (the foreachBatch
    batch-id path) must be consumed in NUMERIC order — lexicographic
    sorting would read job '10' before job '2'. Pure consumer-side test:
    the spool state is planted directly."""
    import os

    from nagios_custom_etl_spark.sinks.influx import read_committed_lines

    out = str(tmp_path / "spool")
    os.makedirs(out)
    for jobid in ("2", "10", "1"):
        part = f"part-{jobid}.lp"
        with open(os.path.join(out, part), "w", encoding="utf-8") as f:
            f.write(f"m,job={jobid} v=1 1700000000\n")
        with open(os.path.join(out, f"_MANIFEST-{jobid}"), "w", encoding="utf-8") as f:
            f.write("points=1\n")
            f.write(f"file={part}:1\n")
    got = read_committed_lines(out)
    assert got == [
        "m,job=1 v=1 1700000000",
        "m,job=2 v=1 1700000000",
        "m,job=10 v=1 1700000000",
    ]


# --- snapshot_tail streaming source (st21) -----------------------------------


def _snap_df(spark, lo, hi):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(i=i, s=f"r{i}") for i in range(lo, hi)], "i int, s string"
    )


def _tail_once(spark, root, out, ckpt, ddl="i int, s string"):
    from nagios_custom_etl_spark.sources.snapshot_tail import SnapshotTailSource

    spark.dataSource.register(SnapshotTailSource)
    q = (
        spark.readStream.format("snapshot_tail")
        .option("root", root)
        .option("schema_ddl", ddl)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_snapshot_tail_refuses_non_append_commit(spark, tmp_path):
    from nagios_custom_etl_spark.operators import snapshots as S
    from pyspark.errors.exceptions.captured import StreamingQueryException

    root = str(tmp_path / "table")
    S.append(_snap_df(spark, 0, 3), root)
    S.overwrite(_snap_df(spark, 10, 12), root)  # mutating commit in range
    with pytest.raises(StreamingQueryException, match="not append"):
        _tail_once(spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt"))


def test_snapshot_tail_backfills_evolved_column_with_typed_nulls(spark, tmp_path):
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators import snapshots as S

    root = str(tmp_path / "table")
    S.append(_snap_df(spark, 0, 2), root)  # pre-evolution files lack 'extra'
    S.append(
        _snap_df(spark, 2, 4).withColumn("extra", F.col("i").cast("bigint") * 10),
        root,
        evolve=True,
    )
    got = _tail_once(
        spark,
        root,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        ddl="i int, s string, extra bigint",
    )
    rows = {r["i"]: (r["extra"], r["commit_version"]) for r in got.collect()}
    assert rows == {0: (None, 1), 1: (None, 1), 2: (20, 2), 3: (30, 2)}
    assert dict(got.dtypes)["extra"] == "bigint"


# --- snapshot_changes streaming source (st36) --------------------------------


def _changes_once(spark, root, out, ckpt, ddl="i int, s string"):
    from nagios_custom_etl_spark.sources.snapshot_changes import (
        SnapshotChangesSource,
    )

    spark.dataSource.register(SnapshotChangesSource)
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("schema_ddl", ddl)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_snapshot_changes_streams_feed_resumes_and_steps_empty(spark, tmp_path):
    """r13 verdict task 3 (st36): the streaming CDF source — derived
    inserts for appends, recorded files as-is (they carry their own
    _change_type), checkpoint restart-resume, and x142's
    recorded-EMPTY compaction stepping over without refusing; the
    streamed multiset equals batch read_changes."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators import snapshots as S

    root = str(tmp_path / "table")
    S.set_change_feed(spark, root, True)
    S.append(_snap_df(spark, 0, 4), root, stats_cols=["i"])  # v1
    S.mor_delete(spark.createDataFrame([Row(i=1)]), root, keys=["i"])  # v2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got = _changes_once(spark, root, out, ckpt)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r.i) for r in got.collect()
    )
    assert rows == [
        (1, "insert", 0),
        (1, "insert", 1),
        (1, "insert", 2),
        (1, "insert", 3),
        (2, "delete", 1),
    ]
    # v3: feed-on MATERIALIZING compaction records an EMPTY change list
    # — the stream steps over it (recorded-empty != unrecorded)
    assert S.compact(spark, root) == 3
    # v4: merge with recorded pre/post transitions
    S.merge_commit(
        root,
        spark.createDataFrame([Row(i=2, s="u2")], "i int, s string"),
        keys=["i"], prune_on="i",
        when_matched_update={c: F.col(f"s.{c}") for c in ("i", "s")},
    )
    got = _changes_once(spark, root, out, ckpt)  # resumes from checkpoint
    late = sorted(
        (r.i, r.s, r["_change_type"])
        for r in got.collect()
        if r["_commit_version"] > 2
    )
    assert late == [(2, "r2", "update_preimage"), (2, "u2", "update_postimage")]
    # streamed multiset == batch read_changes over the full range
    cols = ["i", "s", "_change_type", "_commit_version"]
    sb = S.read_changes(spark, root, 0).select(
        F.col("i").cast("int"), "s", "_change_type",
        F.col("_commit_version").cast("long"),
    )
    ss = got.select(
        F.col("i").cast("int"), "s", "_change_type",
        F.col("_commit_version").cast("long"),
    )
    assert ss.exceptAll(sb).isEmpty() and sb.exceptAll(ss).isEmpty()


def test_snapshot_changes_refuses_unrecorded_mutation(spark, tmp_path):
    """A row-mutating version with NO recorded change files (committed
    before the feed existed) fails the batch — read_changes' refusal
    inherited verbatim."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import Row

    from nagios_custom_etl_spark.operators import snapshots as S

    root = str(tmp_path / "table")
    S.append(_snap_df(spark, 0, 3), root, stats_cols=["i"])  # v1 (no feed)
    S.mor_delete(spark.createDataFrame([Row(i=1)]), root, keys=["i"])  # v2
    with pytest.raises(StreamingQueryException, match="no change files"):
        _changes_once(
            spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
