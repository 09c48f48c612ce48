"""r14-ADVICE coverage for the fsio dual-path layer and its driver-side
pyarrow companions (optimization round r15):

- in the test environment every fsio call takes the LOCAL fast path, so
  the Hadoop branch of the dual-path functions was dead code under test
  — a monkeypatched ``_local_path -> None`` sweep keeps it exercised;
- ``_single_file_stats`` (driver-side pyarrow stats for single-file
  writes) parity against the distributed ``_file_stats`` job on a
  null-bearing integer file, an all-null column, and empty stats_cols;
- ``create_text_atomic`` race arbitration on the local path (threads);
- ``_local_path`` URI handling: ``file://host`` remote authority falls
  back to Hadoop instead of silently dropping the host; the
  ``_DEFAULT_FS_LOCAL`` cache is identity-guarded against id() reuse;
- the session-free form of the one pyarrow resolver (``_pa_fs(...,
  session_free=True)``) accepts bare paths and the Hadoop single-slash
  ``file:/x`` form;
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


def test_single_file_stats_parity_with_spark_job(spark, root):
    """_single_file_stats (driver pyarrow) must equal _file_stats (the
    distributed job) field-for-field on a null-bearing int file, an
    all-null column, and with empty stats_cols."""
    df = _df(spark, 0, 100).repartition(1)
    sub = "data-parity"
    df.write.parquet(f"{root}/{sub}")
    files = [
        f"{sub}/{f}"
        for f in fsio.list_files_recursive(spark, f"{root}/{sub}")
        if f.endswith(".parquet")
    ]
    assert len(files) == 1
    for cols in (["i", "v", "allnull"], []):
        via_spark = S._file_stats(spark, root, sub, files, cols)[files[0]]
        via_arrow = S._single_file_stats(root, files[0], cols)
        assert via_arrow == via_spark, f"stats_cols={cols}"


def test_multi_file_driver_stats_parity(spark, root, monkeypatch):
    """_write_data_files takes the driver-side pyarrow stats path for
    ANY small write (total listed bytes <= _DRIVER_STATS_MAX_BYTES, all
    stats columns integer) — not just single-file writes. The entries
    must equal the distributed _file_stats job field-for-field, and the
    Spark job must provably not run on the driver path."""
    cols = ["i", "v", "allnull"]
    df = _df(spark, 0, 300).repartition(4, "i")
    files, stats = S._write_data_files(df, root, stats_cols=cols)
    assert len(files) > 1  # genuinely multi-file
    sub = files[0].split("/")[0]
    via_spark = S._file_stats(spark, root, sub, files, cols)
    for f in files:
        got = dict(stats[f])
        assert got.pop("__bytes") > 0
        assert got == via_spark[f], f
    # the driver path must not have launched the Spark stats job: with
    # _file_stats exploding, a small write still collects full stats
    def boom(*a, **k):  # pragma: no cover - failure arm
        raise AssertionError("distributed stats job ran on the small-write path")

    monkeypatch.setattr(S, "_file_stats", boom)
    files2, stats2 = S._write_data_files(
        _df(spark, 300, 500).repartition(3, "i"), root, stats_cols=cols
    )
    assert files2 and all("__rows" in stats2[f] for f in files2)
    # ...and a write above the byte ceiling falls back to the Spark job
    monkeypatch.setattr(S, "_DRIVER_STATS_MAX_BYTES", 0)
    with pytest.raises(AssertionError, match="distributed stats job"):
        S._write_data_files(
            _df(spark, 500, 600).repartition(2, "i"), root, stats_cols=cols
        )


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
    assert fsio._local_path(spark, "file:///a/b") == "/a/b"
    assert fsio._local_path(spark, "file:/a/b") == "/a/b"
    assert fsio._local_path(spark, "file://localhost/a/b") == "/a/b"
    # non-empty remote authority: must NOT silently drop the host
    assert fsio._local_path(spark, "file://nas01/a/b") is None
    assert fsio._local_path(spark, "hdfs:///a/b") is None
    assert fsio._local_path(spark, "s3a://bucket/a/b") is None
    # bare path under a file: defaultFS (the test session's) is local
    assert fsio._local_path(spark, "/a/b") == "/a/b"


def test_default_fs_cache_identity_guarded(spark):
    """A stale id()-keyed entry from a dead session must not be served to
    a NEW session object that reused the id — the hit is identity-checked
    (r14 ADVICE)."""

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
        assert fsio._local_path(fake, "/a/b") is None  # re-probed: hdfs
    finally:
        fsio._DEFAULT_FS_LOCAL.pop(id(fake), None)


def test_pa_fs_session_free_single_slash_file_uri(tmp_path):
    p = tmp_path / "x.json"
    p.write_text("{}")
    # Hadoop single-slash form file:/x
    fs, path = fsio._pa_fs(f"file:{p}", session_free=True)
    with fs.open_input_stream(path) as fh:
        assert fh.read() == b"{}"
    fs2, path2 = fsio._pa_fs(str(p), session_free=True)
    with fs2.open_input_stream(path2) as fh:
        assert fh.read() == b"{}"


# ------------------------------------------------- Hadoop branch sweep


def test_hadoop_branch_roundtrip(spark, tmp_path, monkeypatch):
    """With the local fast path disabled (_local_path -> None), every
    dual-path fsio op must still behave identically through the Hadoop
    branch — keeps the remote code path exercised under test (r14
    ADVICE: in this environment it is otherwise dead code)."""
    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
    base = str(tmp_path / "hadoop")
    fsio.mkdirs(spark, f"{base}/d1")
    assert fsio.exists(spark, f"{base}/d1")
    fsio.write_text(spark, f"{base}/d1/a.txt", "hello\nworld")
    assert fsio.read_text(spark, f"{base}/d1/a.txt") == "hello\nworld"
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
    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
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
    """Remote URIs route through pyarrow.fs before Hadoop (r14 verdict
    item 4). Exercised via file:/// URIs with the local fast path
    disabled: _pa_fs resolves them to LocalFileSystem, so every dual-path
    op below runs the pyarrow branch (Hadoop is never reached)."""
    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)

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


def test_pa_fs_scheme_routing():
    from pyarrow import fs as pafs

    # bare paths: defaultFS territory, never pyarrow
    assert fsio._pa_fs("/a/b") is None
    # file:// with a remote authority: Hadoop must resolve the host
    assert fsio._pa_fs("file://nas01/a/b") is None
    # local file URI resolves (exercised when the fast path is off)
    f, p = fsio._pa_fs("file:///a/b")
    assert isinstance(f, pafs.LocalFileSystem) and p == "/a/b"
    # unknown scheme pyarrow can't load: Hadoop fallback
    assert fsio._pa_fs("weirdfs://c@acct.example.net/a") is None


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
    """A cache hit must give the fs-native path from_uri would give:
    abfss keeps its container (the authority's user part), s3 its bucket,
    hdfs none — percent-decoded, trailing slash dropped. Stubbed
    filesystem: only the client constructor is replaced."""
    from urllib.parse import unquote, urlparse

    from pyarrow import fs as pafs

    calls = []

    class StubFileSystem:
        @staticmethod
        def from_uri(uri):
            calls.append(uri)
            u = urlparse(uri)
            prefix = {"abfss": u.netloc.split("@")[0], "s3": u.netloc}.get(u.scheme, "")
            return f"fs:{u.scheme}:{u.netloc}", prefix + unquote(u.path).rstrip("/")

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
        want = [StubFileSystem.from_uri(u.replace("s3a:", "s3:", 1)) for u in uris]
        assert got == want, uris


@pytest.mark.parametrize("branch", ["hadoop", "pyarrow"])
def test_write_bytes_every_branch(spark, tmp_path, monkeypatch, branch):
    """write_bytes lands any bytes-like object byte for byte through the
    Hadoop branch (bare path, no local fast path) and the pyarrow.fs
    branch (file:/// URI, Hadoop unreachable)."""
    import pyarrow as pa

    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
    base = str(tmp_path / "b")
    if branch == "pyarrow":
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
    monkeypatch.setattr(fsio, "_local_path", lambda spark, path: None)
    root = str(tmp_path / "htab")
    df = spark.range(0, 20).selectExpr("id i", "concat('v', id) s")
    assert S._append(df, root, stats_cols=["i"], single_file=True, driver=True) == 1
    (f,) = S._read_manifest(spark, root, 1)["files"]
    assert "_SUCCESS" not in fsio.list_names(spark, f"{root}/{f.split('/')[0]}")
    assert S.metadata_count(spark, root) == 20
    assert sorted(map(tuple, S.read_snapshot(spark, root).collect())) == sorted(
        map(tuple, df.collect())
    )


def test_remote_branch_members_normalize_through_one_client(tmp_path, monkeypatch):
    """A branch root's members are referenced as ``../../data-*/part-*``.
    Object-store keys are literal, so the one pyarrow resolver must
    collapse the ``..`` (keeping the bucket) before the driver-side
    footer readers open them, and N per-file opens on one remote root
    must construct ONE client. Stubbed s3 client: a filesystem that maps
    keys onto a local dir and, like an object store, never resolves a
    ``..`` segment."""
    from urllib.parse import urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq
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
            return pafs.PyFileSystem(LiteralKeys()), u.netloc + u.path

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
    monkeypatch.setattr(pafs, "FileSystem", StubFileSystem)
    monkeypatch.setattr(fsio, "_PA_FS_CACHE", {})
    monkeypatch.setattr(S, "_GROUP_SCHEMA_MEMO", {})
    root = "s3://bkt/t/_branches/b"
    assert S._footer_rows(root, members) == 12
    assert "i: int64" in S._group_schema_fingerprint(root, "../../data-x", members[0])
    assert S._single_file_stats(root, members[2], ["i"])["i"] == [2, 5]
    assert S._dv_summary(root, ["../../dv-y/pos.parquet"]) == (
        2, ["data-x/part-0.parquet"],
    )
    assert len(clients) == 1
