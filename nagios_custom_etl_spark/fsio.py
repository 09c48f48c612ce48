"""Small-file and metadata IO for the engine: pyarrow.fs wherever it
serves the path, the Hadoop FileSystem API where it does not.

Every op takes a path in any scheme the cluster can reach — file:/,
hdfs://, s3a://, abfss:// — so the ANN index sidecar
(operators/similarity.py) and the snapshot manifest layer
(operators/snapshots.py) run where a 100 TB table lives, on an object
store or HDFS, not only on the driver's local disk. :func:`_pa_fs` is the
engine's ONE pyarrow path resolver: these ops, the table log's
``ArrowLog`` and every caller without a SparkSession share its client
cache and its path normalization.

ROUTING: each op has two routes. ``pyarrow.fs`` comes first — the
driver's own process, no py4j (every Hadoop call from Python is 2-6 py4j
round trips of ~1-3 ms, and one table commit makes dozens). A local path
(a ``file:`` URI, or a bare path under a ``file:`` ``fs.defaultFS``) maps
to the one ``LocalFileSystem``; a remote URI to pyarrow's client for its
scheme. ``Path.getFileSystem(hadoopConf)`` is the LAST RESORT: for
schemes pyarrow cannot load, ``file://host`` with a remote authority,
bare paths under a non-local ``fs.defaultFS``, and the remote forms of
the two ATOMIC ops (:func:`create_text_atomic` /
:func:`rename_nooverwrite`), whose no-overwrite-rename commit guarantee
pyarrow does not provide. Listings return the same sorted relative names
on every route; absent paths behave alike ([] / False /
FileNotFoundError).

The one primitive object stores make awkward — atomic create-if-absent —
is exposed as :func:`create_text_atomic`. It is two-phase so a reader can
never observe a torn commit: the full content is written under a temp
name first, then moved into place with no overwrite — locally
``os.link`` (atomic no-overwrite on POSIX; pyarrow has no
create-if-absent), remotely ``FileContext.rename(..., Rename.NONE)``, the
rename Delta's HDFSLogStore commits through. The move is the commit
point: the destination either does not exist or holds COMPLETE content,
and of two racing writers exactly one wins (the loser gets
:class:`FileExistsError`). On HDFS the no-overwrite check is enforced
server-side in one namenode op; on S3A it maps to a conditional PUT
(If-None-Match) on recent Hadoop, else the caller layers a lock service
— protocol unchanged either way.
"""

from __future__ import annotations

import os
import posixpath
import re
import uuid
from urllib.parse import quote, urlsplit, urlunsplit

from py4j.protocol import Py4JJavaError

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

# id(spark) -> (session, fs.defaultFS is file:) — the session object is
# stored so a hit can be identity-verified: after a session is GC'd a new
# one can reuse the same id() and must not inherit the stale verdict
# (the _READ_MEMO identity-guard discipline)
_DEFAULT_FS_LOCAL: dict[int, tuple] = {}


def _file_uri_path(path: str) -> str | None:
    """The OS path of a ``file:`` URI (``file:/x``, ``file:///x``,
    ``file://localhost/x``), or None for ``file://host/...`` with a
    remote authority, which only Hadoop resolves (it must not be
    silently dropped)."""
    p = path[5:]
    if p.startswith("//"):  # file://authority/path
        p = p[2:]
        if "/" in p:
            auth, rest = p.split("/", 1)
            p = "/" + rest
        else:
            auth, p = p, "/"
        if auth not in ("", "localhost"):
            return None
    return p or "/"


def _bare_path_local(spark) -> bool:
    """Whether a scheme-less path is on the local filesystem: always
    without a session; with one, iff its ``fs.defaultFS`` is ``file:``
    (cached per session — on a cluster whose default FS is HDFS, bare
    paths stay on Hadoop)."""
    if spark is None:
        return True
    hit = _DEFAULT_FS_LOCAL.get(id(spark))
    if hit is not None and hit[0] is spark:
        return hit[1]
    try:
        conf = spark._jsc.hadoopConfiguration()
        isloc = str(conf.get("fs.defaultFS", "file:///")).startswith("file:")
    except Exception:  # noqa: BLE001 — torn-down session: leave it to Hadoop
        return False
    _DEFAULT_FS_LOCAL[id(spark)] = (spark, isloc)
    return isloc


# (scheme, authority) -> (pyarrow FileSystem, fs-native prefix of the
# authority's paths) — client construction is the expensive part for
# object stores; the FS object is thread-safe. ("file", "") holds the one
# LocalFileSystem.
_PA_FS_CACHE: dict[tuple[str, str], tuple[object, str]] = {}

# Hadoop scheme aliases pyarrow resolves under its canonical scheme
_PA_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}


def _pa_fs(path: str, spark=None):
    """(pyarrow FileSystem, fs-native path) for ``path``, or None when
    pyarrow cannot serve it (the caller falls back to Hadoop). ``file:``
    URIs (``file:/x`` included) map to the one LocalFileSystem, except
    with a remote authority (pyarrow would silently drop the host); a
    bare path does too when :func:`_bare_path_local` says so for
    ``spark``.

    Without a session (the streaming sources, executor tasks, the
    driver's footer reads) there is no Hadoop to fall back to: a bare
    path is local, and a path pyarrow cannot serve raises instead of
    returning None.

    A remote path is normalized (``.``, ``..``, doubled and trailing
    slashes) with its authority kept: object-store keys are literal, so
    a branch member referenced as ``../../data-*/part-*`` must collapse
    here (local paths stay as given; the OS resolves ``..``). A ``%``
    in a remote path is literal too, as Hadoop's ``Path(String)`` reads
    it: Spark writes a Hive-escaped partition segment
    (``hh=00%3A00%3A00``) as that very key, so the path is quoted before
    ``from_uri``, which percent-decodes. One client is built per
    (scheme, authority); a cache hit maps the path under the fs-native
    prefix the first ``from_uri`` returned ("bucket" on s3/gs,
    "container" on abfss, "" on hdfs), exactly as that call would
    have."""
    is_file = path.startswith("file:")
    if is_file or not _SCHEME_RE.match(path):
        if is_file:
            local = _file_uri_path(path)
        else:
            local = path if _bare_path_local(spark) else None
        if local is None:
            if spark is None:
                raise ValueError(f"no pyarrow filesystem serves {path!r}")
            return None
        hit = _PA_FS_CACHE.get(("file", ""))
        if hit is None:
            from pyarrow import fs as pafs

            hit = _PA_FS_CACHE[("file", "")] = (pafs.LocalFileSystem(), "")
        return hit[0], local
    parts = urlsplit(path)
    scheme = _PA_SCHEME_ALIASES.get(parts.scheme, parts.scheme)
    norm = posixpath.normpath(parts.path) if parts.path else ""
    key = (scheme, parts.netloc)
    tail = norm.rstrip("/")
    hit = _PA_FS_CACHE.get(key) if tail else None
    if hit is not None:
        fs, prefix = hit
        return fs, prefix + tail
    try:
        from pyarrow import fs as pafs

        fs, p = pafs.FileSystem.from_uri(
            urlunsplit((scheme, parts.netloc, quote(norm), parts.query, parts.fragment))
        )
    except Exception:  # noqa: BLE001 — scheme pyarrow can't serve
        if spark is None:
            raise
        return None
    if tail and p.endswith(tail):
        _PA_FS_CACHE[key] = (fs, p[: len(p) - len(tail)])
    return fs, p


def _is_local(pf) -> bool:
    """Whether a :func:`_pa_fs` result is the local filesystem."""
    from pyarrow import fs as pafs

    return pf is not None and isinstance(pf[0], pafs.LocalFileSystem)


def _fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def write_text(spark, path: str, text: str) -> None:
    """Write (overwrite) a small text file."""
    write_bytes(spark, path, text.encode("utf-8"))


def write_bytes(spark, path: str, data) -> None:
    """Write (overwrite) a small file with ``data`` (any bytes-like
    object): pyarrow.fs when it serves the path, else Hadoop."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        fs, p = pf
        parent = p.rsplit("/", 1)[0] if "/" in p else ""
        if parent:
            fs.create_dir(parent, recursive=True)
        with fs.open_output_stream(p) as out:
            out.write(data)
        return
    fs, jpath, _ = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def create_text_atomic(spark, path: str, text: str) -> None:
    """Create ``path`` with ``text`` iff it does not already exist.

    Two-phase (see module docstring): content lands complete under a
    sibling ``_tmp_*`` name, then a no-overwrite move puts it in place —
    so the destination path NEVER holds partial content (the old
    create-then-write form exposed an empty/torn window a concurrent
    ``latest_version`` + manifest read could hit).
    Raises :class:`FileExistsError` for the loser of a commit race (its
    temp file is cleaned up); other IO failures propagate unchanged. A
    writer that crashes before the move leaves only a ``_tmp_*`` file,
    which readers ignore and the orphan GC sweeps.

    Locally the move is ``os.link`` (atomic no-overwrite on POSIX) with
    a check-then-rename fallback for link-less filesystems — the
    guarantee Hadoop's RawLocalFileSystem gives and Delta accepts for
    ``file:/``; remotely it is the no-overwrite ``FileContext.rename``
    Delta commits through.
    """
    pf = _pa_fs(path, spark)
    if _is_local(pf):
        from pyarrow import fs as pafs

        fs, lp = pf
        d = posixpath.dirname(lp)
        if d:
            fs.create_dir(d, recursive=True)
        tmp = posixpath.join(d, f"_tmp_{uuid.uuid4().hex}")
        with fs.open_output_stream(tmp) as out:
            out.write(text.encode("utf-8"))
        try:
            os.link(tmp, lp)
        except FileExistsError as ex:
            fs.delete_file(tmp)
            raise FileExistsError(path) from ex
        except OSError:
            # filesystem without hard links: check-then-rename
            if fs.get_file_info(lp).type != pafs.FileType.NotFound:
                fs.delete_file(tmp)
                raise FileExistsError(path) from None
            fs.move(tmp, lp)
            return
        fs.delete_file(tmp)
        return
    fs, jpath, jvm = _fs(spark, path)
    qual = fs.makeQualified(jpath)
    tmp = fs.makeQualified(
        jvm.org.apache.hadoop.fs.Path(jpath.getParent(), f"_tmp_{uuid.uuid4().hex}")
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    gw = spark.sparkContext._gateway
    rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(rename_cls, 1)
    opts[0] = rename_cls.NONE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        qual.toUri(), spark._jsc.hadoopConfiguration()
    )
    try:
        fc.rename(tmp, qual, opts)
    except Py4JJavaError as ex:
        fs.delete(tmp, False)
        jex = ex.java_exception
        name = jex.getClass().getName() if jex is not None else ""
        msg = str(jex.getMessage() or "") if jex is not None else ""
        if "AlreadyExists" in name or "already exists" in msg.lower():
            raise FileExistsError(path) from ex
        raise


def rename_nooverwrite(spark, src: str, dst: str) -> None:
    """Atomically rename ``src`` to ``dst``, failing if ``dst`` exists —
    the same no-overwrite rename the manifest commit uses, exposed for
    ARBITRATION: of N processes racing to claim a file (e.g. WAP publish
    vs abort claiming the staged manifest), exactly one rename succeeds;
    losers get :class:`FileExistsError` (dst taken) or
    :class:`FileNotFoundError` (src already claimed away). Both src and
    dst must share a filesystem (same table root in practice).

    Locally this mirrors Hadoop's RawLocalFileSystem exactly: existence
    check then ``LocalFileSystem.move``, which is ``rename(2)`` — the
    SOURCE vanishes atomically (so a claimed file can never be claimed
    twice), the dst no-overwrite check has the same narrow TOCTOU window
    the Hadoop local path has. Remote renames go through Hadoop."""
    psrc, pdst = _pa_fs(src, spark), _pa_fs(dst, spark)
    if _is_local(psrc) and _is_local(pdst):
        from pyarrow import fs as pafs

        fs = psrc[0]
        if fs.get_file_info(pdst[1]).type != pafs.FileType.NotFound:
            raise FileExistsError(dst)
        try:
            fs.move(psrc[1], pdst[1])
        except FileNotFoundError as ex:
            raise FileNotFoundError(src) from ex
        return
    fs, jsrc, jvm = _fs(spark, src)
    qsrc = fs.makeQualified(jsrc)
    qdst = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(dst))
    gw = spark.sparkContext._gateway
    rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
    opts = gw.new_array(rename_cls, 1)
    opts[0] = rename_cls.NONE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        qsrc.toUri(), spark._jsc.hadoopConfiguration()
    )
    try:
        fc.rename(qsrc, qdst, opts)
    except Py4JJavaError as ex:
        jex = ex.java_exception
        name = jex.getClass().getName() if jex is not None else ""
        msg = str(jex.getMessage() or "") if jex is not None else ""
        if "NotFound" in name or "does not exist" in msg.lower():
            raise FileNotFoundError(src) from ex
        if "AlreadyExists" in name or "already exists" in msg.lower():
            raise FileExistsError(dst) from ex
        raise


def read_text(spark, path: str) -> str:
    pf = _pa_fs(path, spark)
    if pf is not None:
        fs, p = pf
        with fs.open_input_stream(p) as fh:
            return fh.read().decode("utf-8")
    fs, jpath, jvm = _fs(spark, path)
    stream = fs.open(jpath)
    try:  # the bytes in one call, decoded as the other route decodes them
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream)).decode("utf-8")
    finally:
        stream.close()


def exists(spark, path: str) -> bool:
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        return fs.get_file_info(p).type != pafs.FileType.NotFound
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def delete(spark, path: str, recursive: bool = True) -> bool:
    """Delete a path; returns False if it was already absent. A symlink
    is removed itself, never its target."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            return False
        if info.type == pafs.FileType.Directory:
            if not recursive:
                children = fs.get_file_info(pafs.FileSelector(p))
                if children:  # non-empty dir raises, like Hadoop delete(d, false)
                    raise OSError(f"directory not empty: {path}")
            fs.delete_dir(p)
        else:
            fs.delete_file(p)
        return True
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def mkdirs(spark, path: str) -> None:
    pf = _pa_fs(path, spark)
    if pf is not None:
        fs, p = pf
        fs.create_dir(p, recursive=True)
        return
    fs, jpath, _ = _fs(spark, path)
    fs.mkdirs(jpath)


def list_names(spark, path: str) -> list[str]:
    """Basenames of a directory's children ([] if the dir is absent) —
    used only on METADATA directories (manifests, one data subdir);
    table reads never list, they plan from explicit manifest file lists."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            return []
        if info.type == pafs.FileType.File:  # Hadoop listStatus(file) lists the file
            return [info.base_name]
        return sorted(
            i.base_name for i in fs.get_file_info(pafs.FileSelector(p))
        )
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(jpath))


def list_files_recursive(spark, path: str) -> list[str]:
    """Relative paths of every FILE under ``path``, at any depth ([] if
    the dir is absent). Metadata-scale use only (orphan GC's walk of one
    data directory; partitioned data dirs hold ``col=val`` subdirs)."""
    return [f for f, _ in list_files_with_sizes(spark, path)]


def list_files_with_sizes(spark, path: str) -> list[tuple[str, int]]:
    """(relative path, byte length) of every FILE under ``path``, sorted
    by path ([] if the dir is absent). ONE listing returns both — the
    write path records an AddFile size per just-written file, and N
    per-file ``getFileStatus`` round trips after a listing that already
    carried the lengths were pure overhead (profiled at ~0.1 s per
    32-file commit in local mode)."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        base = p.rstrip("/")
        infos = fs.get_file_info(
            pafs.FileSelector(base, recursive=True, allow_not_found=True)
        )
        return sorted(
            (i.path[len(base) + 1 :], int(i.size))
            for i in infos
            if i.type == pafs.FileType.File
        )
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    base = str(fs.makeQualified(jpath).toUri().getPath()).rstrip("/")
    out = []
    it = fs.listFiles(jpath, True)  # recursive RemoteIterator
    while it.hasNext():
        st = it.next()
        full = str(st.getPath().toUri().getPath())
        out.append((full[len(base) + 1 :], int(st.getLen())))
    return sorted(out)


def mtime_ms(spark, path: str) -> int:
    """Modification time of a path in epoch millis — the retention
    signal orphan GC uses to spare files an in-flight writer just wrote
    but has not yet committed (Delta VACUUM's retention check)."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(path)
        if info.mtime_ns is not None:
            return info.mtime_ns // 1_000_000
    fs, jpath, _ = _fs(spark, path)
    return int(fs.getFileStatus(jpath).getModificationTime())


def file_size(spark, path: str) -> int:
    """Byte length of a file — the AddFile ``size`` every table format
    records; compact_small's bin-packing input."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(path)
        if info.size is not None:
            return int(info.size)
    fs, jpath, _ = _fs(spark, path)
    return int(fs.getFileStatus(jpath).getLen())


def stat_mtime_size(spark, path: str) -> tuple[int, int]:
    """(mtime_ms, byte length) from ONE stat — the manifest state
    cache's file-identity probe makes this pair of calls on every
    access, and two separate ``getFileStatus`` round trips per probe
    were measurable overhead in local mode."""
    pf = _pa_fs(path, spark)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            raise FileNotFoundError(path)
        if info.mtime_ns is not None and info.size is not None:
            return info.mtime_ns // 1_000_000, int(info.size)
    fs, jpath, _ = _fs(spark, path)
    st = fs.getFileStatus(jpath)
    return int(st.getModificationTime()), int(st.getLen())
