"""ETL-semantics streaming tests (SURVEY §5.4): the reference's
25h-overlap cross-run dedup, late-data policy, and routed fan-out, on
Nagios-shaped synthetic data driven through real streaming queries."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nagios_custom_etl_spark.streaming.ops import (
    late_data_gate,
    read_events_stream,
    routed_parquet_sink,
    run_to_memory,
    tumbling_window_counts,
)


@pytest.fixture()
def nagios_runs_dir(spark):
    """Two extract 'runs' as parquet files in one source dir: run2 re-delivers
    run1's last 2 hours (the 25h-lookback overlap, extract.py:29-31)."""
    d = tempfile.mkdtemp(prefix="nagios_runs_")

    def rows(run_start_h, run_end_h, host):
        return [
            (host, "CPU Usage", f"2024-01-01 {h:02d}:00:00", float(h))
            for h in range(run_start_h, run_end_h)
        ]

    schema = "host_name string, service_name string, ts_str string, cpu double"
    run1 = spark.createDataFrame(rows(0, 12, "web01"), schema)
    run2 = spark.createDataFrame(rows(10, 22, "web01"), schema)  # 2h overlap
    # one file per run => one micro-batch per run, in run order
    run1.coalesce(1).withColumn("ts", F.to_timestamp("ts_str")).write.parquet(f"{d}/run=1")
    run2.coalesce(1).withColumn("ts", F.to_timestamp("ts_str")).write.parquet(f"{d}/run=2")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cross_run_overlap_dedup(spark, nagios_runs_dir):
    schema = spark.read.parquet(f"{nagios_runs_dir}/run=1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{nagios_runs_dir}/run=*")
    )
    deduped = (
        stream.withWatermark("ts", "25 hours")
        .dropDuplicatesWithinWatermark(["host_name", "service_name", "ts"])
    )
    name = run_to_memory(deduped)
    out = spark.table(name)
    # 22 distinct hours survive; the 2 overlap rows are dropped exactly once
    assert out.count() == 22
    assert out.select("ts").distinct().count() == 22


def test_late_data_gate_drops_incomplete(spark, sf_dir):
    stream = late_data_gate(read_events_stream(spark, sf_dir))
    name = run_to_memory(stream.select("event_id"))
    got = spark.table(name).count()
    # fixture has no nulls: the gate must be a pass-through there
    from nagios_custom_etl_spark.catalog import load_table

    assert got == load_table(spark, sf_dir, "events").count()


def test_routed_sink_fanout_totals(spark, sf_dir):
    """T5 invariant (load_to_db.py:34-48): per-route counts sum to the
    input count; unrouted rows are routed to 'unrouted', never lost."""
    out_dir = tempfile.mkdtemp(prefix="fanout_")
    ckpt = tempfile.mkdtemp(prefix="fanout_ckpt_")
    stream = read_events_stream(spark, sf_dir)
    q = (
        stream.writeStream.foreachBatch(routed_parquet_sink(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    routed = spark.read.parquet(out_dir)
    from nagios_custom_etl_spark.catalog import load_table

    total = load_table(spark, sf_dir, "events").count()
    assert routed.count() == total
    per_route = {r["route"]: r["n"] for r in routed.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(per_route) <= {"revenue", "alerts", "traffic", "unrouted"}
    assert sum(per_route.values()) == total
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_tumbling_window_stream_matches_batch(spark, sf_dir):
    """The streaming window aggregate (emitted windows only) must be a
    prefix of the batch window aggregate over the same data."""
    from nagios_custom_etl_spark.catalog import load_table

    stream_name = run_to_memory(
        tumbling_window_counts(read_events_stream(spark, sf_dir), watermark="0 seconds")
    )
    streamed = {
        (r["window_start"], r["event_type"]): r["n"] for r in spark.table(stream_name).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
        .collect()
    }
    assert streamed  # something emitted
    assert set(streamed) <= set(batch)
    assert all(batch[k] == v for k, v in streamed.items())


def test_incremental_rollup_multibatch_upsert(spark, nagios_runs_dir):
    """Two micro-batches with overlapping hours: the overlapped window's
    partition must be overwritten (not duplicated) and the final
    materialized rollup must equal the batch rollup over all data."""
    from nagios_custom_etl_spark.streaming.ops import incremental_rollup

    schema = spark.read.parquet(f"{nagios_runs_dir}/run=1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{nagios_runs_dir}/run=*")
        .withColumnRenamed("cpu", "value")
        .withColumn("event_type", F.col("service_name"))
    )
    out = tempfile.mkdtemp(prefix="rollup_mb_")
    ckpt = tempfile.mkdtemp(prefix="rollup_mb_ckpt_")
    rolled = incremental_rollup(spark, stream, out, ckpt)

    both = spark.read.parquet(f"{nagios_runs_dir}/run=*").withColumnRenamed("cpu", "value")
    expected = {
        (r["ws"], r["n"]): r["tv"]
        for r in both.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n", "tv")
        .collect()
    }
    got = {
        (r["window_start"], r["n"]): r["total_value"] for r in rolled.collect()
    }
    # NOTE: the overlap rows are duplicated in the raw union (no dedup in
    # this test) — the invariant under test is pure upsert convergence:
    # same windows, same counts, same sums as the batch aggregate.
    assert got == expected


def test_user_profile_totals_state_spans_batches(spark, tmp_path):
    """The legacy (applyInPandasWithState) profile twin must carry state
    across micro-batches: two files -> two batches, and the final
    update-mode emission per key equals the union's GROUP BY."""
    import pandas as pd
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.streaming.ops import run_to_memory
    from nagios_custom_etl_spark.streaming.stateful import user_profile_totals

    d = str(tmp_path / "events2")
    rows1 = [(1, 10, "click"), (1, 11, "error"), (2, 12, "view")]
    rows2 = [(1, 13, "error"), (2, 14, "view"), (2, 15, "purchase")]
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(
            rows, "user_id long, event_id long, event_type string"
        ).coalesce(1).write.parquet(f"{d}/f{i}")
    schema = spark.read.parquet(f"{d}/f0").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/f*")
    )
    name = run_to_memory(user_profile_totals(stream, impl="legacy"), output_mode="update")
    out = spark.table(name)
    # keep each key's last emission (largest n_events)
    final = {
        r["user_id"]: r
        for r in out.orderBy("n_events").groupBy("user_id").agg(
            F.max(F.struct("n_events", "n_event_types", "n_errors",
                           "first_event_id", "last_event_id")).alias("s")
        ).select("user_id", "s.*").collect()
    }
    assert final[1]["n_events"] == 3 and final[1]["n_errors"] == 2
    assert final[1]["n_event_types"] == 2
    assert final[1]["first_event_id"] == 10 and final[1]["last_event_id"] == 13
    assert final[2]["n_events"] == 3 and final[2]["n_errors"] == 0
    assert final[2]["n_event_types"] == 2
    # state really spanned >1 batch: some emission for user 1 has fewer
    # events than the final total (the first batch's partial)
    partials = [r["n_events"] for r in out.filter("user_id = 1").collect()]
    assert len(partials) == 2 and min(partials) < 3


def test_user_profile_totals_tws_when_available(spark, sf_dir):
    """Exercise the real transformWithStateInPandas path when protobuf is
    installed (skipped in environments without it)."""
    import pytest

    from nagios_custom_etl_spark.streaming.ops import read_events_stream, run_to_memory
    from nagios_custom_etl_spark.streaming.stateful import tws_available, user_profile_totals

    if not tws_available():
        pytest.skip("protobuf not available: transformWithState state protocol")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = read_events_stream(spark, sf_dir)
    name = run_to_memory(user_profile_totals(stream, impl="tws"), output_mode="update")
    assert spark.table(name).count() > 0


def test_session_finalizer_timeout_vs_retained(spark, tmp_path):
    """EventTimeTimeout: a key that goes silent for > gap before the
    final watermark emits via the hasTimedOut branch; a key active until
    the end stays in state, unemitted. In-batch closes emit always."""
    import pandas as pd

    from nagios_custom_etl_spark.streaming.ops import run_to_memory
    from nagios_custom_etl_spark.streaming.stateful import session_finalizer

    t0 = pd.Timestamp("2024-06-01 00:00:00").to_pydatetime()
    from datetime import timedelta

    m = timedelta(minutes=1)
    rows = [
        # user 1: burst, 40-min silence, burst again (first closes in-batch),
        # then silent until stream end (watermark passes end+gap -> timeout)
        (1, t0), (1, t0 + m), (1, t0 + 40 * m), (1, t0 + 41 * m),
        # user 2: last event near the stream maximum -> still open, no emit
        (2, t0 + 100 * m),
        # user 3: advances the watermark far past everyone's gap
        (3, t0 + 200 * m),
    ]
    d = str(tmp_path / "sess_events")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(d)
    name = run_to_memory(session_finalizer(stream, gap_minutes=30))
    got = sorted(
        (r["user_id"], r["n_events"]) for r in spark.table(name).collect()
    )
    # user 1: two sessions (2 events, 2 events); user 2: silent > gap before
    # watermark max -> timed out (1 event); user 3: active at end -> retained
    assert got == [(1, 2), (1, 2), (2, 1)]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """ST5: the checkpoint carries source progress across process
    restarts — re-running the same query (same checkpointLocation) after
    new files arrive appends ONLY the new data; re-running with no new
    data appends nothing. The reference's previous-payload file + dated
    backups (extract.py:14-17, load_to_db.py:16-20) reduced to
    checkpoint + idempotent append sink."""
    import glob as _glob
    import os
    import shutil as _shutil

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def add_file(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        _shutil.copy(part, f"{src}/{name}.parquet")

    def run_once():
        stream = spark.readStream.schema("event_id long, v string").parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_file(
        spark.createDataFrame([(i, "a") for i in range(100)], "event_id long, v string"),
        "f1",
    )
    run_once()
    add_file(
        spark.createDataFrame(
            [(i, "b") for i in range(100, 200)], "event_id long, v string"
        ),
        "f2",
    )
    run_once()  # restart: must process ONLY f2
    run_once()  # restart with nothing new: must process nothing
    got = spark.read.parquet(out)
    assert got.count() == 200  # no re-ingestion of f1, no empty-run dupes
    assert got.select("event_id").distinct().count() == 200


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir):
    """The RocksDB provider (the 100 TB state backend — spills to local
    disk instead of executor-heap hashmaps) must produce byte-identical
    stateful results to the default HDFS-backed provider; only the state
    backend changes, never the answer."""
    from nagios_custom_etl_spark.streaming.ops import (
        ROCKSDB_PROVIDER,
        cross_run_dedup,
        rocksdb_state_store,
        tumbling_window_counts,
    )

    def run_both(make_stream):
        default_name = run_to_memory(make_stream())
        with rocksdb_state_store(spark):
            assert (
                spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER
            )
            rocks_name = run_to_memory(make_stream())
        lhs = sorted(map(tuple, spark.table(default_name).collect()))
        rhs = sorted(map(tuple, spark.table(rocks_name).collect()))
        return lhs, rhs

    # windowed aggregate state
    lhs, rhs = run_both(
        lambda: tumbling_window_counts(
            read_events_stream(spark, sf_dir), watermark="0 seconds"
        )
    )
    assert lhs and lhs == rhs
    # dropDuplicatesWithinWatermark state
    lhs, rhs = run_both(
        lambda: cross_run_dedup(read_events_stream(spark, sf_dir)).select("event_id")
    )
    assert lhs and lhs == rhs
    # conf restored after the context exits
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) in (
        None,
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )


def test_streaming_serving_queries_rerun_idempotent(spark, sf_dir):
    """st13/st14 write through append-mode parquet sinks cleaned per
    invocation: a second run in the same process must return the exact
    same rows, never doubled output from a stale spool/checkpoint.
    Non-emptiness is a fixture PREcondition, not the property under
    test (project rule: don't pin data-dependent thresholds) — the
    idempotency assertion holds for any regenerated fixture."""
    from nagios_custom_etl_spark.plans import all_queries

    qs = all_queries()
    for name in ["st13_stream_ann_serving", "st14_stream_ingest_dedup"]:
        first = sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()))
        second = sorted(map(tuple, qs[name].fn(spark, sf_dir).collect()))
        assert first == second, name
        if not first:
            pytest.skip(f"{name}: regenerated fixture left the stream side empty")


def test_persisted_index_serving_restart_exactly_once(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r5 task 6: stop/restart the ANN serving loop across new
    query arrivals, booting each 'process' from the PERSISTED index with
    every fit entry point disabled — the checkpoint must deliver each
    query exactly once and the answers must equal brute force."""
    import glob as _glob
    import os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.catalog import load_table
    from nagios_custom_etl_spark.operators import similarity as S

    em = load_table(spark, sf_dir, "embeddings")
    idx_dir = str(tmp_path / "index")
    src = str(tmp_path / "queries")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    # offline build job: runs once, persists
    assigned, centroids = S.ivf_build(em, "embedding", "vec_id", n_cells=8, seed=42)
    S.ann_write_index(idx_dir, assigned, centroids, "vec_id", "embedding")

    expected = sorted(
        map(
            tuple,
            S.cosine_topk_join(
                em, em.filter(F.col("vec_id") < 4), "embedding", "vec_id", "embedding", "vec_id", k=3
            )
            .select("query_id", "nbr_id", "rank")
            .collect(),
        )
    )

    def add_queries(lo, hi, name):
        stage = str(tmp_path / f"stage_{name}")
        em.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(1).write.parquet(stage)
        part = _glob.glob(f"{stage}/part-*.parquet")[0]
        _shutil.copy(part, f"{src}/{name}.parquet")

    def serve_once():
        # each run simulates a fresh serving process: index loaded from
        # disk, checkpoint carries source progress
        idx = S.ann_load_index(spark, idx_dir)
        stream = spark.readStream.schema(em.schema).parquet(src)

        def serve(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            res = idx.topk_join(batch_df, "embedding", "vec_id", k=3, n_probe=8)
            res.select("query_id", "nbr_id", "rank").write.mode("append").parquet(out)

        q = (
            stream.writeStream.foreachBatch(serve)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    add_queries(0, 2, "qa")
    serve_once()

    # the RESTARTED process cannot fit anything
    from pyspark.ml.clustering import KMeans

    def boom(*a, **k):
        raise AssertionError("serving restart must not refit")

    monkeypatch.setattr(KMeans, "fit", boom)
    monkeypatch.setattr(S, "_lloyd", boom)
    S._IVF_MEMO.clear()
    S._PQ_MEMO.clear()

    add_queries(2, 4, "qb")
    serve_once()  # restart: must process ONLY qb
    serve_once()  # restart with nothing new: must append nothing

    got = sorted(map(tuple, spark.read.parquet(out).select("query_id", "nbr_id", "rank").collect()))
    assert got == expected  # exactly once per query, answers == brute force


def test_keyed_upsert_last_write_wins_any_order(spark, tmp_path):
    """Drive keyed_upsert_sink with two batches in BOTH orders: the
    final store must be identical — last-write-wins on (ts, event_id)
    is delivery-order-independent, which is what makes the file
    source's nondeterministic batch order safe."""
    from pyspark.sql import Row

    from nagios_custom_etl_spark.streaming.ops import keyed_upsert_sink

    def ev(eid, uid, typ, ts, val):
        return Row(event_id=eid, ts=ts, user_id=uid, event_type=typ, value=val)

    import datetime

    t1 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    t2 = datetime.datetime(2024, 1, 2, 10, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    early = spark.createDataFrame(
        [ev(1, 7, "old", t1, 1.0), ev(2, 8, "only-early", t1, 2.0), ev(3, None, "nullkey", t1, 0.0)],
        schema,
    )
    late = spark.createDataFrame(
        [ev(10, 7, "new", t2, 9.0), ev(11, 9, "only-late", t2, 3.0)], schema
    )

    def final_state(batches, out):
        sink = keyed_upsert_sink(str(out))
        for i, b in enumerate(batches):
            sink(b, i)
        return {
            r.user_id: (r.event_id, r.event_type)
            for r in spark.read.parquet(str(out)).collect()
        }

    fwd = final_state([early, late], tmp_path / "fwd")
    rev = final_state([late, early], tmp_path / "rev")
    expected = {7: (10, "new"), 8: (2, "only-early"), 9: (11, "only-late")}
    assert fwd == expected and rev == expected  # null keys never stored


def test_keyed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """A batch touching one key must leave every other bucket's files
    byte-identical (dynamic partition overwrite — the 100 TB property:
    small change batches rewrite small fractions of the store)."""
    import datetime
    import glob
    import os

    from pyspark.sql import Row

    from nagios_custom_etl_spark.streaming.ops import keyed_upsert_sink

    out = str(tmp_path / "store")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    t1 = datetime.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [Row(event_id=i, ts=t1, user_id=i, event_type="a", value=0.0) for i in range(16)],
        schema,
    )
    sink = keyed_upsert_sink(out)
    sink(base, 0)

    def snapshot():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(out, "bucket=*", "*.parquet"))
        }

    before = snapshot()
    touch = spark.createDataFrame(
        [Row(event_id=99, ts=datetime.datetime(2024, 1, 2), user_id=3, event_type="b", value=1.0)],
        schema,
    )
    sink(touch, 1)
    after = snapshot()
    changed = {os.path.dirname(p) for p in set(after) - set(before)} | {
        os.path.dirname(p)
        for p in set(before) & set(after)
        if before[p] != after[p]
    }
    assert {os.path.basename(d) for d in changed} == {"bucket=3"}
    # untouched buckets: identical file sets
    untouched_before = {p for p in before if "bucket=3" not in p}
    untouched_after = {p for p in after if "bucket=3" not in p}
    assert untouched_before == untouched_after
