"""Coverage for fsio's two routes and their driver-side pyarrow
companions:

- in the test environment every path is local, so every fsio op takes
  the pyarrow ``LocalFileSystem`` route and the Hadoop route would be
  dead code under test — a sweep that makes ``_pa_fs`` return None
  whenever a session is passed keeps it exercised (session-free footer
  and log reads keep pyarrow);
- the one stats kernel (``_table_stats`` via ``_single_file_stats``),
  on the driver and in executor tasks, against a Spark
  ``groupBy(input_file_name())`` aggregate on planted NaN/±Inf/-0.0/
  all-null/escaped-partition/zero-row files;
- ``create_text_atomic`` race arbitration on the local route (threads);
- the one pyarrow resolver ``_pa_fs(path, spark=None)``: the ``file:``,
  ``file:/`` and ``file://localhost`` forms and bare paths under a
  ``file:`` defaultFS are local; ``file://host`` goes to Hadoop instead
  of silently dropping the host; the defaultFS verdict cache is
  identity-guarded against id() reuse; without a session a bare path is
  local and an unservable path raises;
- a symlinked root (a fixture that links its tables dir) lists its
  target, and deleting the link keeps the target;
- ``_dv_summary`` never materializes the full position column on the
  driver (footer row count + streamed pc.unique — the r14-verdict
  scale-safety fix).
"""

from __future__ import annotations

import json
import threading

import pytest

from nagios_custom_etl_spark import fsio
from nagios_custom_etl_spark.operators import snapshots as S


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "tab")


def _hadoop_only(monkeypatch) -> None:
    """Send every fsio op with a session down the Hadoop route; callers
    without one (footer and log reads) keep pyarrow."""
    real = fsio._pa_fs
    monkeypatch.setattr(
        fsio, "_pa_fs", lambda path, spark=None: None if spark is not None else real(path)
    )


def _df(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").cast("long").alias("i"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id") * 10)
        .cast("long")
        .alias("v"),
        F.lit(None).cast("long").alias("allnull"),
    )


# ---------------------------------------------------------------- parity


_NAN, _INF = float("nan"), float("inf")

#: one Hive partition (so one file) per planted case; the last value is
#: Hive-escaped on disk (hh=00%3A00%3A00)
_PLANTED = {
    "nan": [(1, 1, 1, 1.0, "a"), (2, 2, 2, _NAN, "B"), (3, None, 3, 3.0, None)],
    "allnan": [(1, 1, 1, _NAN, "x"), (None, 2, 2, _NAN, "y")],
    "inf": [(-128, -32768, -(2**63), -_INF, "é"), (127, 32767, 2**63 - 1, _INF, ""),
            (0, 0, 0, 2.0, "z")],
    "zero": [(0, 0, 0, -0.0, "m"), (0, 0, 0, 0.0, "n")],
    "allnull": [(None, None, None, None, None)] * 2,
    "big": [(1, 1, 9 * 10**18, 0.5, "q"), (1, 1, 9 * 10**18, 0.25, "q")],
    "00:00:00": [(5, 6, 7, 8.5, "hh")],
}


def _spark_stats_oracle(spark, root, files, cols, int_cols, schema):
    """The reference: one Spark ``groupBy(input_file_name())`` aggregate
    over the listed leaf files, keyed back to the on-disk relative path
    (input_file_name() double-encodes an escaped segment: unquote once).
    A zero-row file forms no group."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    for c in int_cols:
        aggs += [
            F.sum(F.col(c).cast("decimal(38,0)")).alias(f"_sum_{c}"),
            F.sum(F.isnull(c).cast("long")).alias(f"_nulls_{c}"),
        ]
    rows = (
        spark.read.schema(schema).parquet(*[f"{root}/{f}" for f in files])
        .groupBy(F.input_file_name().alias("_f")).agg(*aggs).collect()
    )
    want = {f: {"__rows": 0} for f in files}
    for r in rows:
        full = unquote(r["_f"])
        e = want[full[full.index("/data-") + 1 :]]
        e["__rows"] = r["__rows"]
        for c in cols:
            e[c] = [r[f"_min_{c}"], r[f"_max_{c}"]]
        for c in int_cols:
            s = r[f"_sum_{c}"]
            e[f"__sum_{c}"] = None if s is None else int(s)
            e[f"__nulls_{c}"] = r[f"_nulls_{c}"]
    return want


def _by_value(entry):
    """NaN made comparable; -0.0 == 0.0 already holds by value."""
    return {
        k: [("NaN" if isinstance(x, float) and x != x else x) for x in v]
        if isinstance(v, list) else v
        for k, v in entry.items()
    }


_COLS, _INT_COLS = ["ti", "si", "bi", "d", "s", "f"], ["ti", "si", "bi"]


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """(root, listed (relpath, bytes), oracle entries): the planted
    files, one Hive partition per case plus a zero-row file, written
    once and aggregated once by the Spark reference."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    root = str(tmp_path_factory.mktemp("planted"))
    leaf = T.StructType([
        T.StructField("ti", T.ByteType()), T.StructField("si", T.ShortType()),
        T.StructField("bi", T.LongType()), T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
    ])
    schema = T.StructType([T.StructField("p", T.StringType()), *leaf.fields])
    rows = [(p, *r) for p, rs in _PLANTED.items() for r in rs]
    df = spark.createDataFrame(rows, schema).withColumn("f", F.col("d").cast("float"))
    files, _ = S._write_data_files(
        df.coalesce(1), root, partition_by="p", collect_stats=False
    )
    assert len(files) == len(_PLANTED)
    assert any("/p=00%3A00%3A00/" in f for f in files)
    leaf = leaf.add("f", T.FloatType())
    empty = "data-empty/part-00000.parquet"  # a zero-row file, pyarrow-written
    os.mkdir(f"{root}/data-empty")
    pq.write_table(pa.Table.from_pylist([], schema=pa.schema([
        ("ti", pa.int8()), ("si", pa.int16()), ("bi", pa.int64()),
        ("d", pa.float64()), ("s", pa.string()), ("f", pa.float32()),
    ])), f"{root}/{empty}")
    files.append(empty)
    want = _spark_stats_oracle(spark, root, files, _COLS, _INT_COLS, leaf)
    assert want[empty] == {"__rows": 0}
    return root, [(f, os.path.getsize(f"{root}/{f}")) for f in files], want


@pytest.mark.parametrize("path", ["driver", "executor"])
def test_stats_kernel_parity_with_spark_aggregate(spark, planted, monkeypatch, path):
    """Every write's stats come from the one pyarrow kernel, read back on
    the driver for a small write and by one Spark job's tasks over the
    listed files above the cap (cap 0 here). Both must equal a Spark
    aggregate field for field on planted files: NaN (Spark orders it
    greatest), all-NaN, ±Inf, -0.0/0.0, all-null, tinyint/smallint/
    bigint with a bigint sum past 2**63, a string column, a Hive-escaped
    partition value, and a zero-row file."""
    root, listed, want = planted
    if path == "executor":
        monkeypatch.setattr(S, "_DRIVER_STATS_MAX_BYTES", 0)
    stats = S._listed_stats(spark, root, listed, _COLS)
    assert sorted(stats) == sorted(want)
    for f, nbytes in listed:
        got = dict(stats[f])
        assert got.pop("__bytes") == nbytes > 0, f
        assert _by_value(got) == _by_value(want[f]), f
        # no stats columns: the footer alone gives the row count
        assert S._single_file_stats(root, f, []) == {"__rows": want[f]["__rows"]}, f
    allnan = next(f for f, _ in listed if "/p=allnan/" in f)
    assert _by_value(stats[allnan])["d"] == ["NaN", "NaN"]


def test_single_file_stats_zero_row_file(spark, root):
    df = _df(spark, 0, 0).repartition(1)
    sub = "data-zero"
    df.write.parquet(f"{root}/{sub}")
    files = [
        f"{sub}/{f}"
        for f in fsio.list_files_recursive(spark, f"{root}/{sub}")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    assert S._single_file_stats(root, files[0], ["i"]) == {"__rows": 0}


# ------------------------------------------------- local-path semantics


def test_create_text_atomic_local_race_single_winner(spark, tmp_path):
    """N threads racing create_text_atomic on one path: exactly one wins,
    the losers all get FileExistsError, the content is complete, and no
    _tmp_ residue survives."""
    path = str(tmp_path / "commit" / "v00000001.json")
    results: list[str] = []
    lock = threading.Lock()

    def attempt(i: int) -> None:
        try:
            fsio.create_text_atomic(spark, path, json.dumps({"writer": i}))
            with lock:
                results.append(f"won:{i}")
        except FileExistsError:
            with lock:
                results.append(f"lost:{i}")

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [r for r in results if r.startswith("won:")]
    assert len(winners) == 1 and len(results) == 8
    body = json.loads(fsio.read_text(spark, path))
    assert f"won:{body['writer']}" == winners[0]
    leftovers = [
        f
        for f in fsio.list_names(spark, str(tmp_path / "commit"))
        if f.startswith("_tmp_")
    ]
    assert leftovers == []


def test_local_path_uri_forms(spark):
    """Under a session the local forms map to the one LocalFileSystem; a
    ``file://`` URI with a remote authority must NOT silently drop the
    host: it goes to Hadoop (None)."""
    from pyarrow import fs as pafs

    # a bare path under a file: defaultFS (the test session's) is local
    for uri in ("file:///a/b", "file:/a/b", "file://localhost/a/b", "/a/b"):
        fs, path = fsio._pa_fs(uri, spark)
        assert isinstance(fs, pafs.LocalFileSystem) and path == "/a/b", uri
    assert fsio._pa_fs("file://nas01/a/b", spark) is None


def test_default_fs_cache_identity_guarded(spark):
    """A stale id()-keyed entry from a dead session must not be served to
    a NEW session object that reused the id — the hit is identity-checked
    (r14 ADVICE): a bare path under its hdfs:// defaultFS goes to
    Hadoop."""

    class FakeSession:
        class _JSC:
            @staticmethod
            def hadoopConfiguration():
                class C:
                    @staticmethod
                    def get(k, d):
                        return "hdfs://nn:8020"

                return C()

        _jsc = _JSC()

    fake = FakeSession()
    # plant a stale "local" verdict under the fake session's id, as if a
    # GC'd session had left it behind
    fsio._DEFAULT_FS_LOCAL[id(fake)] = (object(), True)
    try:
        assert fsio._pa_fs("/a/b", fake) is None  # re-probed: hdfs
    finally:
        fsio._DEFAULT_FS_LOCAL.pop(id(fake), None)


def test_pa_fs_session_free_single_slash_file_uri(tmp_path):
    p = tmp_path / "x.json"
    p.write_text("{}")
    # Hadoop single-slash form file:/x
    fs, path = fsio._pa_fs(f"file:{p}")
    with fs.open_input_stream(path) as fh:
        assert fh.read() == b"{}"
    fs2, path2 = fsio._pa_fs(str(p))
    with fs2.open_input_stream(path2) as fh:
        assert fh.read() == b"{}"


def test_symlinked_root_lists_target_and_delete_keeps_it(spark, tmp_path):
    """A root that is a symlink (a fixture linking a cached tables dir)
    lists its target's files, and deleting the link removes the link
    only — never the target's files."""
    target = tmp_path / "target"
    (target / "d").mkdir(parents=True)
    (target / "a.txt").write_text("hello")
    (target / "d" / "b.txt").write_text("hi")
    link = tmp_path / "link"
    link.symlink_to(target)
    assert fsio.list_names(spark, str(link)) == ["a.txt", "d"]
    assert fsio.list_files_with_sizes(spark, str(link)) == [("a.txt", 5), ("d/b.txt", 2)]
    assert fsio.delete(spark, str(link))
    assert not link.is_symlink() and not link.exists()
    assert sorted(p.name for p in target.rglob("*")) == ["a.txt", "b.txt", "d"]


# ------------------------------------------------- Hadoop branch sweep


def test_hadoop_branch_roundtrip(spark, tmp_path, monkeypatch):
    """With pyarrow out of reach for every op with a session, each fsio
    op must still behave identically through the Hadoop route — keeps
    the remote code path exercised under test (r14 ADVICE: in this
    environment it is otherwise dead code). Text reads come back byte
    for byte: a trailing newline and a CRLF survive."""
    _hadoop_only(monkeypatch)
    base = str(tmp_path / "hadoop")
    fsio.mkdirs(spark, f"{base}/d1")
    assert fsio.exists(spark, f"{base}/d1")
    fsio.write_text(spark, f"{base}/d1/a.txt", "hello\nworld")
    assert fsio.read_text(spark, f"{base}/d1/a.txt") == "hello\nworld"
    for text in ("hello\nworld\n", "a\r\nb"):
        fsio.write_text(spark, f"{base}/t.txt", text)
        assert fsio.read_text(spark, f"{base}/t.txt") == text
    assert fsio.delete(spark, f"{base}/t.txt")
    fsio.create_text_atomic(spark, f"{base}/d1/b.txt", "atomic")
    with pytest.raises(FileExistsError):
        fsio.create_text_atomic(spark, f"{base}/d1/b.txt", "loser")
    assert fsio.read_text(spark, f"{base}/d1/b.txt") == "atomic"
    assert fsio.list_names(spark, f"{base}/d1") == ["a.txt", "b.txt"]
    sizes = dict(fsio.list_files_with_sizes(spark, base))
    assert sizes == {"d1/a.txt": 11, "d1/b.txt": 6}
    assert fsio.file_size(spark, f"{base}/d1/b.txt") == 6
    mt, sz = fsio.stat_mtime_size(spark, f"{base}/d1/b.txt")
    assert sz == 6 and mt > 0
    assert fsio.mtime_ms(spark, f"{base}/d1/b.txt") == mt
    fsio.rename_nooverwrite(spark, f"{base}/d1/a.txt", f"{base}/d1/c.txt")
    with pytest.raises(FileExistsError):
        fsio.rename_nooverwrite(spark, f"{base}/d1/c.txt", f"{base}/d1/b.txt")
    with pytest.raises(FileNotFoundError):
        fsio.rename_nooverwrite(spark, f"{base}/d1/a.txt", f"{base}/d1/z.txt")
    assert fsio.delete(spark, f"{base}/d1/c.txt", recursive=False)
    assert not fsio.delete(spark, f"{base}/d1/c.txt", recursive=False)
    assert fsio.delete(spark, base)
    assert fsio.list_names(spark, base) == []
    assert fsio.list_files_with_sizes(spark, base) == []


def test_hadoop_branch_snapshot_table_roundtrip(spark, tmp_path, monkeypatch):
    """One representative snapshot-table flow entirely through the
    Hadoop branch: append, read, mor_delete, compact, metadata_count."""
    _hadoop_only(monkeypatch)
    from pyspark.sql import functions as F

    root = str(tmp_path / "htab")
    df = spark.range(0, 20).select(F.col("id").cast("long").alias("i"))
    S.append(df, root, stats_cols=["i"], single_file=True)
    S.append(
        spark.range(20, 30).select(F.col("id").cast("long").alias("i")),
        root,
        stats_cols=["i"],
        single_file=True,
    )
    assert S.metadata_count(spark, root) == 30
    S.mor_delete(
        spark.range(0, 5).select(F.col("id").cast("long").alias("i")),
        root,
        keys=["i"],
    )
    assert sorted(r.i for r in S.read_snapshot(spark, root).collect()) == list(
        range(5, 30)
    )
    S.compact(spark, root)
    assert S.metadata_count(spark, root) == 25


# ------------------------------------------------- pyarrow.fs branch


def test_pyarrow_branch_roundtrip(spark, tmp_path, monkeypatch):
    """Every path pyarrow serves routes through pyarrow.fs before Hadoop
    (r14 verdict item 4). Exercised via file:/// URIs, which _pa_fs
    resolves to LocalFileSystem: every op below runs the pyarrow route
    (Hadoop is never reached)."""

    def no_hadoop(spark, path):
        raise AssertionError(f"fell through to Hadoop for {path}")

    monkeypatch.setattr(fsio, "_fs", no_hadoop)
    base = f"file://{tmp_path}/pa"
    fsio.mkdirs(spark, f"{base}/d1")
    assert fsio.exists(spark, f"{base}/d1")
    assert not fsio.exists(spark, f"{base}/nope")
    fsio.write_text(spark, f"{base}/d1/a.txt", "hello\nworld")
    assert fsio.read_text(spark, f"{base}/d1/a.txt") == "hello\nworld"
    fsio.write_text(spark, f"{base}/d1/b.txt", "atomic")
    assert fsio.list_names(spark, f"{base}/d1") == ["a.txt", "b.txt"]
    assert fsio.list_names(spark, f"{base}/d1/a.txt") == ["a.txt"]
    assert fsio.list_names(spark, f"{base}/nope") == []
    assert dict(fsio.list_files_with_sizes(spark, base)) == {
        "d1/a.txt": 11,
        "d1/b.txt": 6,
    }
    assert fsio.list_files_with_sizes(spark, f"{base}/nope") == []
    assert fsio.file_size(spark, f"{base}/d1/b.txt") == 6
    mt, sz = fsio.stat_mtime_size(spark, f"{base}/d1/b.txt")
    assert sz == 6 and mt > 0
    assert fsio.mtime_ms(spark, f"{base}/d1/b.txt") == mt
    with pytest.raises(FileNotFoundError):
        fsio.file_size(spark, f"{base}/d1/zzz.txt")
    with pytest.raises(OSError):
        fsio.delete(spark, f"{base}/d1", recursive=False)  # non-empty
    assert fsio.delete(spark, f"{base}/d1/a.txt", recursive=False)
    assert not fsio.delete(spark, f"{base}/d1/a.txt", recursive=False)
    assert fsio.delete(spark, base)
    assert not fsio.exists(spark, base)


def test_pa_fs_scheme_routing(spark):
    from pyarrow import fs as pafs

    # bare paths: local without a session, and under the session's
    # file: defaultFS
    for sess in (None, spark):
        f, p = fsio._pa_fs("/a/b", sess)
        assert isinstance(f, pafs.LocalFileSystem) and p == "/a/b"
    # file:// with a remote authority, and an unknown scheme pyarrow
    # can't load: Hadoop under a session, an error without one
    for uri in ("file://nas01/a/b", "weirdfs://c@acct.example.net/a"):
        assert fsio._pa_fs(uri, spark) is None
        with pytest.raises(Exception):
            fsio._pa_fs(uri)


# ------------------------------------------------- _dv_summary bounds


def test_dv_summary_streams_and_never_materializes_full_column(
    tmp_path, monkeypatch
):
    """_dv_summary must take the footer row count + batched pc.unique
    path — a full-column read_table would be O(matched rows) in driver
    memory (r14 verdict what's-wrong #1). Pin it by making read_table
    explode, and verify multi-batch iteration (200k rows > the default
    64k arrow batch) still yields the exact count and distinct targets."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 200_000
    files = pa.array(
        [f"data-abc/part-{i % 7:05d}.parquet" for i in range(n)]
    )
    pos = pa.array(range(n), pa.int64())
    t = pa.Table.from_arrays([files, pos], names=["_dv_file", "_dv_pos"])
    root = str(tmp_path)
    (tmp_path / "dv-dir").mkdir()
    pq.write_table(t, f"{root}/dv-dir/positions.parquet")

    def boom(*a, **k):  # any full-table read is the O(matched) path
        raise AssertionError("_dv_summary materialized the full column")

    monkeypatch.setattr(pq, "read_table", boom)
    count, targets = S._dv_summary(root, ["dv-dir/positions.parquet"])
    assert count == n
    assert targets == sorted(f"data-abc/part-{i:05d}.parquet" for i in range(7))


def test_pa_fs_cache_hit_resolves_like_first_call(monkeypatch):
    """A cache hit must give the fs-native path the first call gave:
    abfss keeps its container (the authority's user part), s3 its bucket,
    hdfs none — trailing slash dropped, and a ``%`` kept literal as
    Hadoop keeps it (the resolver quotes the path for from_uri, which
    percent-decodes). Stubbed filesystem: only the client constructor is
    replaced."""
    from urllib.parse import unquote, urlparse

    from pyarrow import fs as pafs

    calls = []

    def native(u):  # the fs-native prefix: abfss container, s3 bucket
        return {"abfss": u.netloc.split("@")[0], "s3": u.netloc}.get(u.scheme, "")

    class StubFileSystem:
        @staticmethod
        def from_uri(uri):
            calls.append(uri)
            u = urlparse(uri)
            return f"fs:{u.scheme}:{u.netloc}", native(u) + unquote(u.path).rstrip("/")

    monkeypatch.setattr(pafs, "FileSystem", StubFileSystem)
    monkeypatch.setattr(fsio, "_PA_FS_CACHE", {})
    az = "abfss://box@acct.dfs.core.windows.net"
    for uris in (
        [f"{az}/t/_snapshots/v1.json", f"{az}/t/data-1/part%200.parquet", f"{az}/t/d/"],
        ["s3a://bkt/t/v1.json", "s3a://bkt/t/data-2/p.parquet"],
        ["hdfs://nn:8020/t/v1.json", "hdfs://nn:8020/t/x%3Ay"],
    ):
        n = len(calls)
        got = [fsio._pa_fs(u) for u in uris]
        assert len(calls) == n + 1  # first call builds the client, the rest hit
        want = [  # the path exactly as written, "%" escapes included
            (f"fs:{v.scheme}:{v.netloc}", native(v) + v.path.rstrip("/"))
            for v in (urlparse(u.replace("s3a:", "s3:", 1)) for u in uris)
        ]
        assert got == want, uris


@pytest.mark.parametrize("branch", ["hadoop", "pyarrow"])
def test_write_bytes_every_branch(spark, tmp_path, monkeypatch, branch):
    """write_bytes lands any bytes-like object byte for byte through the
    Hadoop branch (bare path, pyarrow out of reach) and the pyarrow.fs
    branch (file:/// URI, Hadoop unreachable)."""
    import pyarrow as pa

    base = str(tmp_path / "b")
    if branch == "hadoop":
        _hadoop_only(monkeypatch)
    else:
        def no_hadoop(spark, path):
            raise AssertionError(f"fell through to Hadoop for {path}")

        monkeypatch.setattr(fsio, "_fs", no_hadoop)
        base = f"file://{base}"
    payload = b"\x00PAR1\xff\n"
    fsio.write_bytes(spark, f"{base}/d/x.bin", pa.py_buffer(payload))
    fsio.write_bytes(spark, f"{base}/d/y.bin", payload)
    for name in ("x.bin", "y.bin"):
        with open(tmp_path / "b" / "d" / name, "rb") as fh:
            assert fh.read() == payload


def test_hadoop_branch_driver_written_append(spark, tmp_path, monkeypatch):
    """A driver-written data file reaches a destination only Hadoop
    serves: it goes through fsio.write_bytes like every metadata file."""
    _hadoop_only(monkeypatch)
    root = str(tmp_path / "htab")
    df = spark.range(0, 20).selectExpr("id i", "concat('v', id) s")
    assert S._append(df, root, stats_cols=["i"], single_file=True, driver=True) == 1
    (f,) = S._read_manifest(spark, root, 1)["files"]
    assert "_SUCCESS" not in fsio.list_names(spark, f"{root}/{f.split('/')[0]}")
    assert S.metadata_count(spark, root) == 20
    assert sorted(map(tuple, S.read_snapshot(spark, root).collect())) == sorted(
        map(tuple, df.collect())
    )


def _stub_s3(tmp_path, monkeypatch) -> list[str]:
    """Replace pyarrow's client constructor with a stubbed s3 client whose
    keys map onto ``tmp_path``: like an object store it never resolves a
    ``..`` segment, and like the real ``from_uri`` it percent-decodes the
    URI's path. Returns the list of URIs a client was built for."""
    from urllib.parse import unquote, urlparse

    from pyarrow import fs as pafs

    local = pafs.LocalFileSystem()

    class LiteralKeys(pafs.FileSystemHandler):
        def _p(self, path):
            if ".." in path.split("/"):
                raise FileNotFoundError(f"no such key: {path}")
            return f"{tmp_path}/{path}"

        def get_type_name(self):
            return "literal-keys"

        def equals(self, other):
            return self is other

        def normalize_path(self, path):
            return path

        def get_file_info(self, paths):
            out = []
            for p in paths:
                info = local.get_file_info(self._p(p))
                out.append(pafs.FileInfo(p, info.type, size=info.size))
            return out

        def open_input_stream(self, path):
            return local.open_input_stream(self._p(path))

        def open_input_file(self, path):
            return local.open_input_file(self._p(path))

        def _unused(self, *a, **k):
            raise NotImplementedError

        get_file_info_selector = create_dir = delete_dir = _unused
        delete_dir_contents = delete_root_dir_contents = delete_file = _unused
        move = copy_file = open_output_stream = open_append_stream = _unused

    clients = []
    real_fs = pafs.FileSystem

    class IsFileSystem(type):  # pyarrow's own isinstance checks still pass
        def __instancecheck__(cls, obj):
            return isinstance(obj, real_fs)

    class StubFileSystem(metaclass=IsFileSystem):
        @staticmethod
        def from_uri(uri):
            clients.append(uri)
            u = urlparse(uri)
            return pafs.PyFileSystem(LiteralKeys()), u.netloc + unquote(u.path)

    monkeypatch.setattr(pafs, "FileSystem", StubFileSystem)
    monkeypatch.setattr(fsio, "_PA_FS_CACHE", {})
    return clients


def test_remote_branch_members_normalize_through_one_client(tmp_path, monkeypatch):
    """A branch root's members are referenced as ``../../data-*/part-*``.
    Object-store keys are literal, so the one pyarrow resolver must
    collapse the ``..`` (keeping the bucket) before the driver-side
    footer readers open them, and N per-file opens on one remote root
    must construct ONE client."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "bkt/t/data-x").mkdir(parents=True)
    (tmp_path / "bkt/t/dv-y").mkdir(parents=True)
    members = []
    for i in range(3):
        pq.write_table(
            pa.table({"i": pa.array(range(i, i + 4), pa.int64())}),
            tmp_path / f"bkt/t/data-x/part-{i}.parquet",
        )
        members.append(f"../../data-x/part-{i}.parquet")
    pq.write_table(
        pa.table({"_dv_file": ["data-x/part-0.parquet"] * 2, "_dv_pos": [0, 1]}),
        tmp_path / "bkt/t/dv-y/pos.parquet",
    )
    clients = _stub_s3(tmp_path, monkeypatch)
    monkeypatch.setattr(S, "_GROUP_SCHEMA_MEMO", {})
    root = "s3://bkt/t/_branches/b"
    assert S._footer_rows(root, members) == 12
    assert "i: int64" in S._group_schema_fingerprint(root, "../../data-x", members[0])
    assert S._single_file_stats(root, members[2], ["i"])["i"] == [2, 5]
    assert S._dv_summary(root, ["../../dv-y/pos.parquet"]) == (
        2, ["data-x/part-0.parquet"],
    )
    assert len(clients) == 1


def test_remote_escaped_partition_keys_are_literal(tmp_path, monkeypatch):
    """Spark writes a Hive-escaped partition segment (``hh=00%3A00%3A00``)
    as that literal key, and Hadoop's ``Path(String)`` reads it
    literally. The pyarrow resolver must too, on the first (client-
    building) call and on cache hits, though ``from_uri`` percent-decodes:
    the stats and footer reads of a partitioned remote write open the
    listed key, not ``hh=00:00:00``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "bkt/t/data-x/hh=00%3A00%3A00"
    d.mkdir(parents=True)
    rel = "data-x/hh=00%3A00%3A00/part-0.parquet"
    pq.write_table(pa.table({"i": pa.array([4, 9, None], pa.int64())}), d / "part-0.parquet")
    clients = _stub_s3(tmp_path, monkeypatch)
    root = "s3://bkt/t"
    for _ in range(2):  # the client-building call, then a cache hit
        assert fsio._pa_fs(f"{root}/{rel}")[1] == f"bkt/t/{rel}"
        assert S._single_file_stats(root, rel, ["i"]) == {
            "__rows": 3, "i": [4, 9], "__sum_i": 13, "__nulls_i": 1,
        }
        assert S._footer_rows(root, [rel]) == 3
    assert len(clients) == 1
