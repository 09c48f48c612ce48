"""The three benchmark workloads. Each is a closed loop with one client:
the harness calls ``prepare(i)`` (untimed: generate the next input),
then ``op(i)`` (timed: one request against the engine's public
functions), and ``check()`` once at the end. ``op`` returns False on a
wrong answer; an exception is a failed request.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import os

import duckdb
import numpy as np
from pyspark.sql import functions as F

import gen

FIXTURE_SEED = 20240101  # fixtures shared by all seeds (cached per checkout)
ETL_HOSTS = 4
ETL_MAINT_EVERY = 3  # retention dv_delete + compact_small every 3rd cron run
ETL_KEEP_S = 2 * 86_400
STREAM_HOSTS = 6
STREAM_POINTS = 12  # one hour of 5-minute steps per poll ...
STREAM_OVERLAP = 3  # ... plus the previous poll's last 15 minutes again
STREAM_WARMUP = 3  # untimed batches first: a batch's CPU falls by a third over the first ten


@functools.lru_cache(maxsize=1 << 16)
def _ts_str(t: int) -> str:
    """Epoch seconds as the engine's 'yyyy-MM-dd HH:mm:ss' UTC string."""
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class Workload:
    name = ""
    min_ops = 3  # timed ops per run at least, so that a median is not the mean of two
    cycle = 1  # the timed loop stops only after a whole number of cycles of ops

    def __init__(self, rt) -> None:
        self.rt = rt
        self.spark = rt.spark
        self.rng = np.random.default_rng(rt.seed)
        self.input_digest = hashlib.sha256()  # of every generated input, in order

    def _digest_file(self, path: str) -> None:
        with open(path, "rb") as fh:
            self.input_digest.update(fh.read())

    @staticmethod
    def fixture_keys(engine_fingerprint: str) -> dict[str, dict]:
        """Cached fixtures shared by every seed: name -> build key."""
        return {}

    @staticmethod
    def build_fixtures(spark, cache: str, engine_fingerprint: str) -> None:
        """Build the stale fixtures. run.py calls this in a process of its
        own, so a measured run never carries a build's time or memory."""

    def setup(self, k: int) -> None:
        raise NotImplementedError

    def warmup(self) -> tuple[int, int]:
        """Untimed work before the loop: (outputs checked, mismatches)."""
        return 0, 0

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> bool:
        raise NotImplementedError

    def after_op(self, i: int, recorded: bool) -> None:
        pass

    def check(self) -> tuple[int, int]:
        """Final output check: (outputs checked, mismatches)."""
        return 0, 0

    def layer_metrics(self, tracer, recorded: list[int]) -> dict:
        return {}

    def report(self) -> dict:
        """Workload-specific facts for the human-readable stamp."""
        return {}

    def close(self) -> None:
        pass


def _table_layout(spark, roots) -> dict:
    """Live data files and stored bytes per live row over ``roots``."""
    from nagios_custom_etl_spark.operators import snapshots as S

    files = rows = stored = 0
    for root in roots:
        last = S.table_history(spark, root)[-1]
        files += last["n_files"]
        rows += last["n_rows"] or 0
        for dirpath, _, names in os.walk(root):
            stored += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return {"snapshots.live_files": files, "snapshots.stored_bytes_per_row": stored / max(rows, 1)}


# ---------------------------------------------------------------------------
# etl_cron
# ---------------------------------------------------------------------------


class EtlCron(Workload):
    """The paper's EP2 plus load, run after run: a 25 h RRD window per
    run, cross-run dedup against the previous run, routing into 4 metric
    tables (run id = txn token), periodic retention + compaction."""

    name = "etl_cron"
    # every run times one whole retention cycle (or more): whether the
    # maintenance run was timed must not depend on the machine's speed
    cycle = ETL_MAINT_EVERY

    def __init__(self, rt) -> None:
        super().__init__(rt)
        from nagios_custom_etl_spark.etl import nagios as N

        self.N = N
        hosts = gen.host_inventory(ETL_HOSTS)
        self.hosts = rt.spark.createDataFrame(hosts, "host_name string, host_group string").cache()
        self.hosts.count()
        self.cutoff = None
        self.last_run = -1

    def _input(self, run: int) -> str:
        path = os.path.join(self.dir, "landing", f"run-{run:04d}.parquet")
        if not os.path.exists(path):
            gen.write_parquet(gen.perf_run_table(self.rt.seed, ETL_HOSTS, run), path)
            self._digest_file(path)
        return path

    def _cron_run(self, run: int) -> None:
        from nagios_custom_etl_spark.operators import snapshots as S

        spark, N = self.spark, self.N
        perf = spark.read.parquet(self._input(run))
        prev = None
        if run:
            prev = N.extract_pipeline(self.hosts, spark.read.parquet(self._input(run - 1)))
        wide = N.extract_pipeline(self.hosts, perf, previous_wide=prev)
        routed: dict[str, list] = {}
        for svc, df in wide.items():
            route = gen.route_of(svc)
            if route == "disk":  # 7 mounts, one table: canonical value names
                df = df.toDF(*N.KEY_COLUMNS, *N.SERVICE_KEYS["Disk Usage root"])
            routed.setdefault(route, []).append(df)
        for route, dfs in routed.items():
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionByName(other)
            S.append(df, self.roots[route], txn=f"run-{run}")
        if run and run % ETL_MAINT_EVERY == 0:
            self.cutoff = gen.T0 + run * gen.RUN_EVERY_S - ETL_KEEP_S
            for root in self.roots.values():
                S.dv_delete(spark, root, f"timestamp < '{_ts_str(self.cutoff)}'")
                S.compact_small(spark, root)
        self.last_run = run

    def setup(self, k: int) -> None:
        self.dir = os.path.join(self.rt.work, f"etl-{k}")
        self.roots = {r: os.path.join(self.dir, "tables", r) for r in gen.ROUTES}
        self.cutoff, self.last_run = None, -1
        self._cron_run(0)

    def prepare(self, i: int) -> None:
        self._input(i + 1)

    def op(self, i: int) -> bool:
        self._cron_run(i + 1)
        return True

    def check(self) -> tuple[int, int]:
        from nagios_custom_etl_spark.operators import snapshots as S

        want = gen.expected_etl_rows(self.rt.seed, ETL_HOSTS, self.last_run + 1, self.cutoff)
        bad = 0
        for route, root in self.roots.items():
            tb = S.read_snapshot(self.spark, root).toArrow()
            cols = [c for c in tb.column_names if c not in self.N.KEY_COLUMNS]
            d = tb.to_pydict()
            got = list(zip(d["host_name"], d["service_name"], d["timestamp"], *(d[c] for c in cols)))
            exp = {(h, s, _ts_str(t), *v) for h, s, t, *v in want[route]}
            if len(got) != len(exp) or set(got) != exp:
                bad += 1
        return len(self.roots), bad

    def layer_metrics(self, tracer, recorded) -> dict:
        return _table_layout(self.spark, self.roots.values())


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------

# One op is a block of requests: each kind this often, in a seeded
# order; "query" requests cycle through QUERIES, two per block.
READ_BLOCK = ("latest", "timetravel", "pruned", "metadata", "history", "query", "query")
GOLDEN = 0.6180339887498949  # step of the low-discrepancy sequence the reads draw versions from
QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "x1_exact_dedup", "x3_cosine_topk")
RELATIONAL = ("q1_pricing_summary", "q3_shipping_priority")


def _canon(rows, columns) -> list:
    """Order-insensitive, column-order-insensitive form of a result."""

    def cell(v):
        if v is None:
            return "None"
        if isinstance(v, float):
            return "NaN" if v != v else repr(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def _build_log_table(spark, base: str, ti: int) -> dict:
    """Commit table ``ti``'s log plan and record, per version, the live-row
    model and where the manifest-only answers are allowed."""
    from nagios_custom_etl_spark.operators import snapshots as S

    root = os.path.join(base, "tables", gen.ROUTES[ti])
    model = gen.RowModel()
    count_ok, minmax_ok = [], []
    for step in gen.log_plan(ti, FIXTURE_SEED):
        if step["op"] == "append":
            batch = gen.log_batch(ti, FIXTURE_SEED, step)
            v = S.append(spark.createDataFrame(batch.to_pandas()), root, single_file=True)
            model.append(v, batch)
        elif step["op"] == "add_column":
            v = S.add_column(spark, root, "unit", "string")
        else:
            v = S.dv_delete(spark, root, f"day = {step['day']} AND value < {step['below']}")
            model.dv_delete(v, step["day"], step["below"])
        for fn, ok, want in (
            (lambda: S.metadata_count(spark, root, v), count_ok, lambda: model.agg(v)[0]),
            (lambda: tuple(S.metadata_minmax(spark, root, "ts", v)), minmax_ok, lambda: model.minmax(v)),
        ):
            try:
                got = fn()
            except ValueError:
                continue  # refused: not answerable from metadata here
            if got != want():
                raise RuntimeError(f"{root}@{v}: metadata answer {got} != model {want()}")
            ok.append(v)
    model.save(os.path.join(base, f"model-{ti}.npz"))
    return {"versions": v, "count_ok": count_ok, "minmax_ok": minmax_ok, "days": int(model.day.max()) + 1}


def _build_log(spark, base: str) -> None:
    import json
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(4) as pool:
        metas = list(pool.map(lambda ti: _build_log_table(spark, base, ti), range(4)))
    with open(os.path.join(base, "meta.json"), "w") as fh:
        json.dump(metas, fh)


def _build_mix(base: str) -> None:
    for t, tb in gen.mix_tables(FIXTURE_SEED).items():
        gen.write_parquet(tb, os.path.join(base, f"{t}.parquet"))


class Reads(Workload):
    """Read-only requests of one analyst. Table requests run over a
    multi-version log of 4 metric tables whose (table, version) states
    outnumber the engine's state cache: latest / time-travel / pruned
    aggregates, manifest-only count and min/max, history. Query requests
    run registry queries over generated fixture tables, which bypass the
    table layer."""

    name = "reads"

    @staticmethod
    def fixture_keys(engine_fingerprint: str) -> dict[str, dict]:
        # the log is written by the engine, so an engine change rebuilds it;
        # a change to the code that builds either fixture rebuilds it too
        builder = gen.code_digest(gen, _build_log_table, _build_log, _build_mix)
        return {
            "table_log": {"fixture_seed": FIXTURE_SEED, "versions": gen.LOG_VERSIONS,
                          "rows": gen.LOG_BATCH_ROWS, "engine": engine_fingerprint, "builder": builder},
            "mix_tables": {"fixture_seed": FIXTURE_SEED, "tables": gen.MIX_TABLES, "builder": builder},
        }

    @staticmethod
    def build_fixtures(spark, cache: str, engine_fingerprint: str) -> None:
        builders = {"table_log": lambda base: _build_log(spark, base), "mix_tables": _build_mix}
        for name, key in Reads.fixture_keys(engine_fingerprint).items():
            gen.cached_dir(cache, name, key, builders[name])

    def __init__(self, rt) -> None:
        import json

        from nagios_custom_etl_spark.plans import all_queries

        super().__init__(rt)
        keys = self.fixture_keys(rt.engine_fingerprint)
        self.log_cache, self.mix_cache = (gen.cached_path(rt.cache, name, keys[name])
                                          for name in ("table_log", "mix_tables"))
        if self.log_cache is None or self.mix_cache is None:
            raise RuntimeError("reads: fixtures missing or stale; run.py builds them before the measured run")
        with open(os.path.join(self.log_cache, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.models = [gen.RowModel.load(os.path.join(self.log_cache, f"model-{ti}.npz")) for ti in range(4)]
        self.answerable = [(ti, v, kind) for ti, m in enumerate(self.meta)
                           for kind, vs in (("count", m["count_ok"]), ("minmax", m["minmax_ok"])) for v in vs]
        qs = all_queries()
        self.queries = {n: qs[n] for n in QUERIES}
        # seeded starts of the sequences for the versions and for the
        # pruned read's first day
        self.offsets = self.rng.random(2)

    def setup(self, k: int) -> None:
        from nagios_custom_etl_spark import catalog
        from nagios_custom_etl_spark.operators import snapshots as S

        # the requests only read: each set-up opens the cached fixtures
        # under a fresh path (a link), so the engine sees them cold
        base = os.path.join(self.rt.work, f"reads-{k}")
        os.makedirs(base)
        os.symlink(os.path.join(self.log_cache, "tables"), os.path.join(base, "tables"))
        os.symlink(self.mix_cache, os.path.join(base, "mix"))
        self.roots = [os.path.join(base, "tables", r) for r in gen.ROUTES]
        self.mix_dir = os.path.join(base, "mix")
        for root in self.roots:  # cold open: replay each table's latest state
            S.metadata_count(self.spark, root)
        for t in gen.MIX_TABLES:
            catalog.load_table(self.spark, self.mix_dir, t)
        self.requests: list[tuple[str, float]] = []  # (kind, seconds)
        self.scan_legs = 0
        self.traced_dfs: list = []  # table reads of recorded ops, inspected untimed
        self.query_order: list[str] = []

    def warmup(self) -> tuple[int, int]:
        """Run each query once, untimed, against its DuckDB oracle; then
        an untimed latest aggregate per table, because a session's first
        read of a table runs about twice as long as later ones."""
        con = duckdb.connect()
        for t in gen.MIX_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.mix_dir}/{t}.parquet'")
        self.answers = {}
        for name, q in self.queries.items():
            df = q.fn(self.spark, self.mix_dir)
            self.answers[name] = _canon([tuple(r) for r in df.collect()], df.columns)
            rel = con.sql(q.oracle)
            self.answers[name + "@oracle"] = _canon(rel.fetchall(), rel.columns)
        con.close()
        bad = sum(self.answers[n] != self.answers[n + "@oracle"] for n in self.queries)
        from nagios_custom_etl_spark.operators import snapshots as S

        for root, model, meta in zip(self.roots, self.models, self.meta):
            self.last_df = S.read_snapshot(self.spark, root)
            bad += self._agg() != model.agg(meta["versions"])
        return len(self.queries) + len(self.roots), bad

    @staticmethod
    def _version(meta: dict, u: float) -> int:
        return min(1 + int(u * meta["versions"]), meta["versions"])

    def _agg(self) -> tuple[int, float]:
        if self.rt.tracer.recording:
            self.traced_dfs.append(self.last_df)
        with self.rt.tracer.span("spark", "collect"):
            r = self.last_df.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")).collect()[0]
        return int(r["n"]), float(r["s"] or 0.0)

    def op(self, i: int) -> bool:
        ok = True
        # versions and days come from seeded golden-ratio sequences rather
        # than independent draws, so any few consecutive ops spread evenly
        # over the history. A read costs more the newer its version, so the
        # pruned read mirrors the time-travel read's position: every op
        # reads one old and one new version, and ops cost alike
        u, day = ((o + i * GOLDEN) % 1.0 for o in self.offsets)
        self.draws = (u, 1.0 - u, day)
        for kind in self.rng.permutation(READ_BLOCK):
            t0 = self.rt.clock()
            with self.rt.tracer.span("harness", f"request.{kind}"):
                ok &= self._request(kind)
            self.requests.append((kind, self.rt.clock() - t0))
        return ok

    def _request(self, kind: str) -> bool:
        from nagios_custom_etl_spark.operators import snapshots as S

        spark, rng = self.spark, self.rng
        if kind == "query":
            if not self.query_order:
                self.query_order = list(rng.permutation(QUERIES))
            name = self.query_order.pop()
            self.input_digest.update(name.encode())
            family = "relational" if name in RELATIONAL else "llm"
            with self.rt.tracer.span("plans", name):
                df = self.queries[name].fn(spark, self.mix_dir)
            with self.rt.tracer.span("spark", f"collect.{family}"):
                rows = [tuple(r) for r in df.collect()]
            return _canon(rows, df.columns) == self.answers[name]
        ti = int(rng.integers(0, 4))
        root, model, meta = self.roots[ti], self.models[ti], self.meta[ti]
        self.input_digest.update(repr((kind, ti, rng.bit_generator.state["state"])).encode())
        if kind == "latest":
            self.last_df = S.read_snapshot(spark, root)
            return self._agg() == model.agg(meta["versions"])
        if kind == "timetravel":
            v = self._version(meta, self.draws[0])
            self.last_df = S.read_snapshot(spark, root, version=v)
            return self._agg() == model.agg(v)
        if kind == "pruned":
            v = self._version(meta, self.draws[1])
            lo = gen.T0 + int(self.draws[2] * meta["days"]) * 86_400
            hi = lo + int(rng.integers(1, 3)) * 86_400 - 1
            df, _, _ = S.read_snapshot_pruned(spark, root, "ts", lo, hi, version=v)
            self.last_df = df.filter(F.col("ts").between(lo, hi))
            return self._agg() == model.agg(v, lo, hi)
        if kind == "metadata":
            ti, v, what = self.answerable[int(rng.integers(0, len(self.answerable)))]
            root, model = self.roots[ti], self.models[ti]
            if what == "count":
                return S.metadata_count(spark, root, v) == model.agg(v)[0]
            return tuple(S.metadata_minmax(spark, root, "ts", v)) == model.minmax(v)
        return len(S.table_history(spark, root)) == meta["versions"]

    def after_op(self, i: int, recorded: bool) -> None:
        for df in self.traced_dfs:
            self.scan_legs += df._jdf.queryExecution().optimizedPlan().toString().count("Relation ")
        self.traced_dfs.clear()

    def report(self) -> dict:
        """Latencies per request class: table requests and queries."""
        out = {}
        for cls in ("table", "query"):
            xs = [t for k, t in self.requests if (k == "query") == (cls == "query")]
            if xs:
                out[cls] = {"requests": len(xs), "p50_s": float(np.median(xs)), "latencies_s": xs}
        return out

    def layer_metrics(self, tracer, recorded) -> dict:
        by_id = {sp.id: sp for sp in tracer.spans}

        def request_kind(sp):
            while sp is not None and not sp.name.startswith("request."):
                sp = by_id.get(sp.parent)
            return sp.name[len("request."):] if sp is not None else None

        n = max(len(recorded), 1)
        out = {}
        for metric, kind, names in (
            ("snapshots.plan_latest_s", "latest", ("read_snapshot",)),
            ("snapshots.plan_timetravel_s", "timetravel", ("read_snapshot",)),
            ("snapshots.plan_pruned_s", "pruned", ("read_snapshot_pruned",)),
            ("snapshots.metadata_agg_s", "metadata", ("metadata_count", "metadata_minmax")),
        ):
            out[metric] = sum(sp.end - sp.start for sp in tracer.outermost("snapshots", names)
                              if request_kind(sp) == kind) / n
        out["snapshots.scan_legs"] = self.scan_legs / n
        out["plans.build_s"] = sum(sp.end - sp.start for sp in tracer.spans if sp.layer == "plans") / n
        for family in ("relational", "llm"):
            out[f"operators.{family}_s"] = sum(
                sp.end - sp.start for sp in tracer.spans if sp.name == f"collect.{family}") / n
        out.update(_table_layout(self.spark, self.roots))
        return out


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    """A long-running Structured Streaming query: file source over a
    landing directory -> completeness gate -> cross_run_dedup (state) ->
    snapshot_append_sink per route. The next poll's file lands only
    after processAllAvailable() returns."""

    name = "stream_ingest"
    min_ops = 6
    SCHEMA = "host_name string, service_name string, t bigint, value double"

    def __init__(self, rt) -> None:
        super().__init__(rt)
        self.query = None

    def _stage(self, poll: int) -> str:
        path = os.path.join(self.dir, "staging", f"poll-{poll:05d}.parquet")
        if not os.path.exists(path):
            tb = gen.stream_poll_table(self.rt.seed, STREAM_HOSTS, poll, STREAM_POINTS, STREAM_OVERLAP)
            gen.write_parquet(tb, path)
            self._digest_file(path)
        return path

    def _land(self, poll: int) -> None:
        os.rename(self._stage(poll), os.path.join(self.dir, "landing", f"poll-{poll:05d}.parquet"))
        with self.rt.tracer.span("streaming", "processAllAvailable"):
            self.query.processAllAvailable()
        self.polls = poll + 1

    def setup(self, k: int) -> None:
        from nagios_custom_etl_spark.etl import nagios as N
        from nagios_custom_etl_spark.streaming import ops

        if self.query is not None:
            self.query.stop()
        spark, tracer = self.spark, self.rt.tracer
        self.dir = os.path.join(self.rt.work, f"stream-{k}")
        os.makedirs(os.path.join(self.dir, "landing"))
        self.roots = {r: os.path.join(self.dir, "tables", r) for r in gen.ROUTES}
        raw = spark.readStream.schema(self.SCHEMA).option("maxFilesPerTrigger", 1).parquet(
            os.path.join(self.dir, "landing"))
        gated = raw.filter(F.col("value").isNotNull() & ~F.isnan("value"))
        keyed = gated.withColumn("ts", F.timestamp_seconds("t")).withColumn(
            "event_id", F.concat_ws("|", "host_name", "service_name", F.col("t").cast("string")))
        routed = ops.cross_run_dedup(keyed).withColumn("route", N.route_metric_type()).drop("event_id")
        sinks = {r: ops.snapshot_append_sink(root) for r, root in self.roots.items()}
        self.sink_s = []

        def write(batch_df, batch_id):
            t0 = self.rt.clock()
            with tracer.span("streaming", "sink"):
                batch_df.persist()
                try:
                    for r, sink in sinks.items():
                        sink(batch_df.filter(F.col("route") == r).drop("route"), batch_id)
                finally:
                    batch_df.unpersist()
            self.sink_s.append(self.rt.clock() - t0)

        with ops.stream_state_partitions(spark, 4):
            self.query = (
                routed.writeStream.foreachBatch(write)
                .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
                .start()
            )
        self._land(0)

    def warmup(self) -> tuple[int, int]:
        for _ in range(STREAM_WARMUP):
            self._land(self.polls)
        self.progress_seen = self.query.lastProgress["batchId"]
        del self.sink_s[:]
        return 0, 0

    def prepare(self, i: int) -> None:
        self._stage(self.polls)

    def op(self, i: int) -> bool:
        self._land(self.polls)
        return True

    def check(self) -> tuple[int, int]:
        from nagios_custom_etl_spark.operators import snapshots as S

        self.progress = [p for p in self.query.recentProgress if p["batchId"] > self.progress_seen]
        self.query.stop()
        self.query = None
        want = gen.expected_stream_rows(self.rt.seed, STREAM_HOSTS, self.polls, STREAM_POINTS, STREAM_OVERLAP)
        bad = 0
        for route, root in self.roots.items():
            d = S.read_snapshot(self.spark, root).select("host_name", "service_name", "t", "value").toArrow()
            d = d.to_pydict()
            got = list(zip(d["host_name"], d["service_name"], d["t"], d["value"]))
            if len(got) != len(want[route]) or set(got) != want[route]:
                bad += 1
        return len(self.roots), bad

    def layer_metrics(self, tracer, recorded) -> dict:
        prog = [p for p in self.progress if p["numInputRows"] > 0]

        def med(xs):
            return float(np.median(xs)) if xs else 0.0

        dur = [p["durationMs"] for p in prog]
        return {
            "streaming.trigger_ms": med([d.get("triggerExecution", 0) for d in dur]),
            "streaming.add_batch_ms": med([d.get("addBatch", 0) for d in dur]),
            "streaming.wal_commit_ms": med([d.get("walCommit", 0) for d in dur]),
            "streaming.commit_offsets_ms": med([d.get("commitOffsets", 0) for d in dur]),
            "streaming.sink_s": med(self.sink_s),
            "streaming.idle_s": med(self.rt.latencies) - med([d.get("triggerExecution", 0) / 1e3 for d in dur]),
            "streaming.state_rows": float(sum(s.get("numRowsTotal", 0) for s in prog[-1]["stateOperators"]))
            if prog else 0.0,
        }

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (EtlCron, Reads, StreamIngest)}
