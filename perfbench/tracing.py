"""Spans and counters recorded at the boundaries of the engine's layers.

The benchmark wraps the public functions of each engine module it calls:
the module attribute, and the same function wherever an engine module
bound it by name (``from ..catalog import load_table``), so calls the
engine makes to its own public functions are seen too. A wrapper does
nothing but call through unless the tracer is recording; a recorded call becomes a
span (name, layer, start, end, parent span, request id) kept in memory
and summarised when the run ends. Spark work is attributed to a request
through the job ids that appeared while it ran, read back from the
driver's status store.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from collections import Counter, defaultdict

_FSIO_STAT = ("exists", "mtime_ms", "file_size", "stat_mtime_size")
_FSIO_LIST = ("list_names", "list_files_recursive", "list_files_with_sizes")
_FSIO_WRITE = ("write_text", "create_text_atomic")
_FSIO_OTHER = ("delete", "mkdirs", "rename_nooverwrite")
_SNAPSHOT_FNS = (
    "append", "dv_delete", "compact_small", "add_column", "read_snapshot",
    "read_snapshot_pruned", "metadata_count", "metadata_minmax", "table_history",
    "latest_version", "txn_version",
)


class Span:
    __slots__ = ("id", "parent", "request", "layer", "name", "start", "end")

    def __init__(self, sid, parent, request, layer, name, start):
        self.id, self.parent, self.request = sid, parent, request
        self.layer, self.name, self.start, self.end = layer, name, start, start


class Tracer:
    """Owns the spans, the counters and the wrappers it installed.

    ``recording`` is switched per request by the harness. With
    ``plant_read_text_s`` > 0 every ``fsio.read_text`` sleeps that long
    first, recording or not: the planted slowdown of the self-test."""

    def __init__(self, plant_read_text_s: float = 0.0) -> None:
        self.recording = False
        self.plant_read_text_s = plant_read_text_s
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: Span | None = None
        self._request_stack: list[Span] = []
        self._restore: list[tuple[object, str, object]] = []
        self._index: dict[int, Span] = {}
        # span clocks are perf_counter; Spark reports epoch milliseconds
        self.epoch_offset = time.time() - time.perf_counter()

    # -- wrapping ---------------------------------------------------------

    def _patch(self, owner, attr: str, layer: str, on_result=None, on_args=None) -> None:
        orig = getattr(owner, attr)
        tracer = self
        plant = layer == "fsio" and attr == "read_text"

        def wrapper(*args, **kwargs):
            if plant and tracer.plant_read_text_s:
                if tracer.recording:
                    with tracer.span(layer, "planted_delay"):
                        time.sleep(tracer.plant_read_text_s)
                else:
                    time.sleep(tracer.plant_read_text_s)
            if not tracer.recording:
                return orig(*args, **kwargs)
            if on_args is not None:
                on_args(tracer.counts, args, kwargs)
            with tracer.span(layer, attr):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(tracer.counts, out)
            return out

        wrapper.__wrapped__ = orig
        wrapper.__name__ = getattr(orig, "__name__", attr)
        engine = [m for name, m in list(sys.modules.items())
                  if name.startswith("nagios_custom_etl_spark") and m is not None and m is not owner
                  and vars(m).get(attr) is orig]
        for mod in (owner, *engine):
            setattr(mod, attr, wrapper)
            self._restore.append((mod, attr, orig))

    def install(self) -> None:
        import pyarrow.parquet as pq

        # import every module that may bind a wrapped name before wrapping
        import nagios_custom_etl_spark.plans  # noqa: F401
        from nagios_custom_etl_spark import catalog, fsio
        from nagios_custom_etl_spark.etl import nagios
        from nagios_custom_etl_spark.operators import snapshots

        def count(key):
            return lambda c, *_: c.update([key])

        def read_bytes(c, out):
            c["fsio.read_text_calls"] += 1
            c["fsio.read_text_bytes"] += len(out)

        def write_bytes(c, args, kwargs):
            c["fsio.write_calls"] += 1
            c["fsio.write_bytes"] += len(kwargs.get("text", args[2] if len(args) > 2 else ""))

        self._patch(fsio, "read_text", "fsio", on_result=read_bytes)
        for name in _FSIO_STAT:
            self._patch(fsio, name, "fsio", on_args=count("fsio.stat_calls"))
        for name in _FSIO_LIST:
            self._patch(fsio, name, "fsio", on_args=count("fsio.list_calls"))
        for name in _FSIO_WRITE:
            self._patch(fsio, name, "fsio", on_args=write_bytes)
        for name in _FSIO_OTHER:
            self._patch(fsio, name, "fsio")
        for name in _SNAPSHOT_FNS:
            self._patch(snapshots, name, "snapshots")
        self._patch(nagios, "extract_pipeline", "etl")
        self._patch(catalog, "load_table", "catalog")
        for name in ("read_schema", "read_metadata", "ParquetFile"):  # each opens a parquet footer
            self._patch(pq, name, "footer")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.recording or self._root is None:
            yield None
            return
        stack = self._stack()
        # a span opened on another thread (a streaming sink callback)
        # nests under whatever the request's own thread has open
        outer = stack or self._request_stack
        parent = outer[-1] if outer else self._root
        with self._lock:
            self._next_id += 1
            sp = Span(self._next_id, parent.id, self._root.request, layer, name, time.perf_counter())
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def request(self, rid: int, name: str):
        """Root span of one request (layer ``harness``)."""
        with self._lock:
            self._next_id += 1
            root = Span(self._next_id, None, rid, "harness", name, time.perf_counter())
            self.spans.append(root)
        self._root = root
        self._request_stack = self._stack()
        try:
            yield root
        finally:
            root.end = time.perf_counter()
            self._root = None
            self._request_stack = []

    # -- summaries --------------------------------------------------------

    def self_times(self) -> tuple[dict[str, float], list[float]]:
        """Total self time per layer over all recorded requests, and per
        request its unattributed share: the self time of its ``harness``
        spans (the root and the benchmark's own grouping spans, i.e. time
        in no wrapped layer) over its wall time.

        A span's self time is its duration minus the part of it its
        children cover (children on other threads included, overlaps
        counted once)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        per_layer: Counter = Counter()
        unattributed: Counter = Counter()
        walls: dict[int, float] = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(children.get(sp.id, ()), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            self_s = (sp.end - sp.start) - covered
            per_layer[sp.layer] += self_s
            if sp.layer == "harness":
                unattributed[sp.request] += self_s
            if sp.parent is None:
                walls[sp.request] = sp.end - sp.start
        shares = [unattributed[r] / w for r, w in walls.items() if w > 0]
        return dict(per_layer), shares

    def under(self, sp: Span, layer: str) -> bool:
        """Whether a span of ``layer`` encloses ``sp``."""
        by_id = self._by_id()
        p = by_id.get(sp.parent)
        while p is not None and p.layer != layer:
            p = by_id.get(p.parent)
        return p is not None

    def _by_id(self) -> dict[int, Span]:
        if len(self._index) != len(self.spans):
            self._index = {sp.id: sp for sp in self.spans}
        return self._index

    def outermost(self, layer: str, names: tuple[str, ...]) -> list[Span]:
        """Spans named ``names`` in ``layer`` that no other such span
        encloses (a nested call to the same group is not counted twice)."""
        by_id = self._by_id()
        out = []
        for sp in self.spans:
            if sp.layer != layer or sp.name not in names:
                continue
            p = by_id.get(sp.parent)
            while p is not None and not (p.layer == layer and p.name in names):
                p = by_id.get(p.parent)
            if p is None:
                out.append(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "parent": sp.parent, "request": sp.request, "layer": sp.layer,
                    "name": sp.name, "start": sp.start, "end": sp.end,
                }) + "\n")


class SparkJobs:
    """Spark work done between two points, read from the driver's status
    store: jobs, stages, tasks, executor run time, shuffle bytes, and the
    wall time during which at least one job was running."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._max_job_id()

    def _jobs_after(self, seen: int):
        """Jobs with an id above ``seen``; the store lists newest first."""
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= seen:
                break
            out.append(j)
        return out

    def _max_job_id(self) -> int:
        return max((j.jobId() for j in self._jobs_after(-1)), default=-1)

    def take(self) -> tuple[dict, list[tuple[float, float]]]:
        """Counters for the jobs submitted since the previous call, and
        each job's (submitted, completed) epoch seconds."""
        new = self._jobs_after(self._seen)
        out = Counter()
        intervals = []
        for j in new:
            self._seen = max(self._seen, j.jobId())
            out["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            sids = j.stageIds()
            for i in range(sids.size()):
                st = self._store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["shuffle_bytes"] += st.shuffleWriteBytes()
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        out["job_busy_s"] = busy
        return dict(out), intervals
