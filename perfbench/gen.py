"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the engine never sees the
generator, only the files and arguments it produces, and the expected
results the workloads check against are computed here, independently of
the engine. The same seed always yields the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Nagios service -> number of perf values per RRD point (the reference's
# service_keys arity, extract.py:37-48).
SERVICE_ARITY = {
    "Memory Usage": 5,
    "Swap Usage": 3,
    "Disk Usage root": 3,
    "Disk Usage tmp": 3,
    "Disk Usage apps": 3,
    "Disk Usage boot": 3,
    "Disk Usage opt": 3,
    "Disk Usage var": 3,
    "Disk Usage home": 3,
    "CPU Usage": 1,
}
SERVICES = list(SERVICE_ARITY)
ROUTES = ("cpu", "memory", "disk", "swap")
KEPT_GROUPS = ("linux-servers", "windows-servers")

STEP_S = 300  # RRD step
WINDOW_S = 25 * 3600  # each cron run fetches 25 h ...
RUN_EVERY_S = 24 * 3600  # ... once a day, so consecutive runs overlap 1 h
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
NAN_PER_MILLE = 2  # ~0.2% of points not flushed yet at fetch time


def route_of(service: str) -> str:
    s = service.lower()
    return next(r for r in ROUTES if r in s)


def _mix(*parts) -> np.ndarray:
    """splitmix64 over broadcast uint64 arrays: a stateless hash, so a
    value depends only on its coordinates, never on generation order."""
    with np.errstate(over="ignore"):
        h = np.uint64(0x9E3779B97F4A7C15)
        for p in parts:
            h = h ^ np.asarray(p, dtype=np.uint64)
            h = h * np.uint64(0xBF58476D1CE4E5B9)
            h = h ^ (h >> np.uint64(31))
            h = h * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(29))
    return h


# ---------------------------------------------------------------------------
# etl_cron / stream_ingest: RRD perf points
# ---------------------------------------------------------------------------


def host_inventory(n_hosts: int) -> list[tuple[str, str]]:
    """``n_hosts`` monitored hosts in the two kept groups plus a quarter as
    many network devices the extract's host-group filter must drop."""
    kept = [(f"host{i:03d}", KEPT_GROUPS[i % 2]) for i in range(n_hosts)]
    dropped = [(f"netdev{i:03d}", "network-devices") for i in range(max(1, n_hosts // 4))]
    return kept + dropped


def point_value(seed: int, host: np.ndarray, svc: np.ndarray, t: np.ndarray, k: int) -> np.ndarray:
    """Value ``k`` of the point (host, svc, t): a 2-dp number in [0, 1000)."""
    return (_mix(seed, host, svc, t, k + 1) % np.uint64(100_000)).astype(np.float64) / 100.0


def point_is_nan(seed: int, run: int, host: np.ndarray, svc: np.ndarray, t: np.ndarray) -> np.ndarray:
    """Whether the point was still unflushed when run ``run`` fetched it."""
    return _mix(seed, 7_000_003, run, host, svc, t) % np.uint64(1000) < np.uint64(NAN_PER_MILLE)


def run_window(run: int) -> np.ndarray:
    start = T0 + run * RUN_EVERY_S
    return np.arange(start, start + WINDOW_S, STEP_S, dtype=np.int64)


def _fmt(values: np.ndarray) -> np.ndarray:
    return np.char.mod("%.2f", values)


def perf_run_table(seed: int, n_hosts: int, run: int) -> pa.Table:
    """One cron run's rrdexport payload in the perf_raw shape
    (host_name, service_name, t, v: array<string>)."""
    hosts = host_inventory(n_hosts)
    t = run_window(run)
    cols = {"host_name": [], "service_name": [], "t": [], "v": []}
    for hi, (h, _) in enumerate(hosts):
        for si, svc in enumerate(SERVICES):
            arity = SERVICE_ARITY[svc]
            vals = [_fmt(point_value(seed, hi, si, t, k)) for k in range(arity)]
            nan = point_is_nan(seed, run, hi, si, t)
            vals[0] = np.where(nan, "NaN", vals[0])
            cols["host_name"].append(np.full(len(t), h))
            cols["service_name"].append(np.full(len(t), svc))
            cols["t"].append(t)
            cols["v"].append(np.stack(vals, axis=1))
    # arities differ per service, so the value arrays become Python lists
    v_lists = [row.tolist() for block in cols["v"] for row in block]
    return pa.table(
        {
            "host_name": pa.array(np.concatenate(cols["host_name"]).tolist(), pa.string()),
            "service_name": pa.array(np.concatenate(cols["service_name"]).tolist(), pa.string()),
            "t": pa.array(np.concatenate(cols["t"]), pa.int64()),
            "v": pa.array(v_lists, pa.list_(pa.string())),
        }
    )


def expected_etl_rows(seed: int, n_hosts: int, runs: int, cutoff: int | None) -> dict[str, set]:
    """Rows every route table must hold after ``runs`` cron runs whose
    retention deleted everything older than ``cutoff`` (epoch s): each
    (kept host, service, t) that any run delivered without a NaN, once.
    Returned per route as a set of (host, service, t, values...)."""
    hosts = host_inventory(n_hosts)
    out: dict[str, set] = {r: set() for r in ROUTES}
    for hi, (h, group) in enumerate(hosts):
        if group not in KEPT_GROUPS:
            continue
        for si, svc in enumerate(SERVICES):
            delivered: dict[int, None] = {}
            for run in range(runs):
                t = run_window(run)
                ok = ~point_is_nan(seed, run, hi, si, t)
                delivered.update(dict.fromkeys(t[ok].tolist()))
            t = np.array(sorted(delivered), dtype=np.int64)
            if cutoff is not None:
                t = t[t >= cutoff]
            vals = [point_value(seed, hi, si, t, k) for k in range(SERVICE_ARITY[svc])]
            rows = out[route_of(svc)]
            for j, tj in enumerate(t.tolist()):
                rows.add((h, svc, tj, *(float(v[j]) for v in vals)))
    return out


def stream_poll_table(seed: int, n_hosts: int, poll: int, points: int, overlap: int) -> pa.Table:
    """Poll ``poll`` of the streaming feed: ``points`` new RRD steps per
    (host, service) plus the previous poll's last ``overlap`` steps
    re-delivered, flattened to one value per row (host_name,
    service_name, t, value); not-yet-flushed values arrive as NaN."""
    lo = poll * points - (overlap if poll else 0)
    t = T0 + np.arange(lo, (poll + 1) * points, dtype=np.int64) * STEP_S
    parts = {"host_name": [], "service_name": [], "t": [], "value": []}
    for hi, (h, group) in enumerate(host_inventory(n_hosts)):
        if group not in KEPT_GROUPS:
            continue
        for si, svc in enumerate(SERVICES):
            v = point_value(seed, hi, si, t, 0)
            v = np.where(point_is_nan(seed, poll, hi, si, t), np.nan, v)
            parts["host_name"].append(np.full(len(t), h))
            parts["service_name"].append(np.full(len(t), svc))
            parts["t"].append(t)
            parts["value"].append(v)
    return pa.table(
        {
            "host_name": pa.array(np.concatenate(parts["host_name"]).tolist(), pa.string()),
            "service_name": pa.array(np.concatenate(parts["service_name"]).tolist(), pa.string()),
            "t": pa.array(np.concatenate(parts["t"]), pa.int64()),
            "value": pa.array(np.concatenate(parts["value"]), pa.float64()),
        }
    )


def expected_stream_rows(seed: int, n_hosts: int, polls: int, points: int, overlap: int) -> dict[str, set]:
    """Per route: each (host, service, t) some poll delivered non-NaN, once."""
    out: dict[str, set] = {r: set() for r in ROUTES}
    for poll in range(polls):
        tb = stream_poll_table(seed, n_hosts, poll, points, overlap).to_pydict()
        for h, s, t, v in zip(tb["host_name"], tb["service_name"], tb["t"], tb["value"]):
            if v == v:
                out[route_of(s)].add((h, s, t, v))
    return out


# ---------------------------------------------------------------------------
# table_reads: a multi-version partitioned table log and its row model
# ---------------------------------------------------------------------------

LOG_HOSTS = 8
LOG_BATCH_ROWS = 240
LOG_VERSIONS = 66  # per table: 4 x 66 states > the engine's 256-state cache
LOG_ADD_COLUMN_AT = 24  # schema era: `unit` exists from this version on
LOG_DV_EVERY = 20  # a positional-delete commit every 20th version after the era


def log_plan(table_idx: int, fixture_seed: int) -> list[dict]:
    """The commit sequence of one table: a list of {op, ...} steps. Step
    i (0-based) becomes version i + 1."""
    steps: list[dict] = []
    day = 0
    for i in range(LOG_VERSIONS):
        v = i + 1
        if v == LOG_ADD_COLUMN_AT:
            steps.append({"op": "add_column"})
        elif v > LOG_ADD_COLUMN_AT and v % LOG_DV_EVERY == 0:
            d = int(_mix(fixture_seed, table_idx, v) % np.uint64(max(day, 1)))
            steps.append({"op": "dv_delete", "day": d, "below": 2500})
        else:
            steps.append({"op": "append", "day": day, "batch": i, "unit": v > LOG_ADD_COLUMN_AT})
            if i % 4 == 3:
                day += 1
    return steps


def log_batch(table_idx: int, fixture_seed: int, step: dict) -> pa.Table:
    """Rows of one append step (host_name, service_name, ts, day, value
    [, unit]); values are whole numbers so sums are exact in doubles."""
    n = LOG_BATCH_ROWS
    i = np.arange(n, dtype=np.int64)
    h = _mix(fixture_seed, table_idx, step["batch"], i, 1)
    ts = T0 + step["day"] * 86_400 + (h % np.uint64(86_400)).astype(np.int64)
    value = (_mix(fixture_seed, table_idx, step["batch"], i, 2) % np.uint64(10_000)).astype(np.float64)
    cols = {
        "host_name": pa.array([f"host{x:03d}" for x in (h % np.uint64(LOG_HOSTS)).tolist()]),
        "service_name": pa.array([ROUTES[table_idx]] * n),
        "ts": pa.array(ts, pa.int64()),
        "day": pa.array(np.full(n, step["day"], dtype=np.int32), pa.int32()),
        "value": pa.array(value, pa.float64()),
    }
    if step["unit"]:
        cols["unit"] = pa.array(["pct"] * n)
    return pa.table(cols)


class RowModel:
    """Live-row model of one table across versions: every row carries
    the version that added it and the version that deleted it."""

    def __init__(self) -> None:
        self.ts = np.zeros(0, np.int64)
        self.day = np.zeros(0, np.int32)
        self.value = np.zeros(0, np.float64)
        self.added = np.zeros(0, np.int64)
        self.deleted = np.zeros(0, np.int64)

    def append(self, version: int, batch: pa.Table) -> None:
        n = batch.num_rows
        self.ts = np.concatenate([self.ts, batch["ts"].to_numpy()])
        self.day = np.concatenate([self.day, batch["day"].to_numpy()])
        self.value = np.concatenate([self.value, batch["value"].to_numpy()])
        self.added = np.concatenate([self.added, np.full(n, version)])
        self.deleted = np.concatenate([self.deleted, np.full(n, np.iinfo(np.int64).max)])

    def dv_delete(self, version: int, day: int, below: float) -> None:
        hit = self.live(version - 1) & (self.day == day) & (self.value < below)
        self.deleted[hit] = version

    def live(self, version: int) -> np.ndarray:
        return (self.added <= version) & (self.deleted > version)

    def agg(self, version: int, lo: int | None = None, hi: int | None = None) -> tuple[int, float]:
        m = self.live(version)
        if lo is not None:
            m &= (self.ts >= lo) & (self.ts <= hi)
        return int(m.sum()), float(self.value[m].sum())

    def minmax(self, version: int) -> tuple[int, int]:
        m = self.live(version)
        return int(self.ts[m].min()), int(self.ts[m].max())

    def save(self, path: str) -> None:
        np.savez(path, ts=self.ts, day=self.day, value=self.value, added=self.added, deleted=self.deleted)

    @classmethod
    def load(cls, path: str) -> RowModel:
        m = cls()
        with np.load(path) as z:
            m.ts, m.day, m.value, m.added, m.deleted = (z[k] for k in ("ts", "day", "value", "added", "deleted"))
        return m


# ---------------------------------------------------------------------------
# reads: fixture tables for the registry queries
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data table query scan join agg group order sort key value row column part "
    "line customer window batch stream merge filter hash spark fast slow big small vector"
).split()


MIX_TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")


def mix_tables(fixture_seed: int) -> dict[str, pa.Table]:
    """The fixture tables the benchmark's registry queries read, with the
    schemas of the repository's fixtures at sf0.01 size (60k lineitem)."""
    rng = np.random.default_rng(fixture_seed)
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    day_ms = 86_400_000
    base_ms = 788_918_400_000  # 1995-01-01
    t = {}
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust).tolist(),
    })
    odate = base_ms + rng.integers(0, 2404, n_ord) * day_ms
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ok)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(odate[l_ok] + rng.integers(1, 122, n_li) * day_ms, pa.timestamp("ms")),
    })
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i % 10 == 9:  # planted near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(20, 80)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n_emb = 500
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return t


# ---------------------------------------------------------------------------
# Fingerprints and the generated-input cache
# ---------------------------------------------------------------------------


def code_digest(*objs) -> str:
    """sha256 over the source code of modules or functions ``objs``."""
    import inspect

    h = hashlib.sha256()
    for o in objs:
        h.update(inspect.getsource(o).encode())
    return h.hexdigest()[:16]


def files_fingerprint(root: str) -> str:
    """sha256 over (relative path, mtime, size) of every file under
    ``root`` — cheap, and it changes whenever a file is rewritten."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}\0{st.st_mtime_ns}\0{st.st_size}\n".encode())
    return h.hexdigest()[:16]


def cached_path(cache_root: str, name: str, key: dict) -> str | None:
    """Directory ``cache_root/name`` if its stamp still matches ``key``
    AND the fingerprint of its own files recorded when it was built, else
    None: a stale or hand-edited cache is never silently reused."""
    path = os.path.join(cache_root, name)
    stamp = os.path.join(cache_root, name + ".stamp.json")
    if os.path.exists(stamp) and os.path.isdir(path):
        with open(stamp) as fh:
            rec = json.load(fh)
        if rec.get("key") == json.dumps(key, sort_keys=True) and rec.get("files") == files_fingerprint(path):
            return path
    return None


def cached_dir(cache_root: str, name: str, key: dict, build) -> str:
    """``cached_path``, (re)built by ``build(path)`` when it is stale."""
    import shutil

    path = cached_path(cache_root, name, key)
    if path is not None:
        return path
    path = os.path.join(cache_root, name)
    stamp = os.path.join(cache_root, name + ".stamp.json")
    want = json.dumps(key, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    tmp = path + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    with open(stamp, "w") as fh:
        json.dump({"key": want, "files": files_fingerprint(path)}, fh)
    return path


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
