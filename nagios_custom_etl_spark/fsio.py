"""Small-file and metadata IO for the engine: the OS, pyarrow.fs or the
Hadoop FileSystem API, whichever serves the path.

Every op takes a path in any scheme the cluster can reach — file:/,
hdfs://, s3a://, abfss:// — so the ANN index sidecar
(operators/similarity.py) and the snapshot manifest layer
(operators/snapshots.py) run where a 100 TB table lives, on an object
store or HDFS, not only on the driver's local disk. :func:`_pa_fs` is the
engine's ONE pyarrow path resolver: these ops, the table log's
``ArrowLog`` and every caller without a SparkSession (``session_free``)
share its client cache and its path normalization.

LOCAL FAST PATH (r14 optimization round, guide §5/§7.3): every Hadoop
call from Python is 2-6 py4j round trips (~1-3 ms each), and a single
table commit makes dozens of them — profiled at ~35% of the wall time of
the metadata-heavy bench queries, pure driver-side overhead that exists
only in local mode. When a path provably resolves to the LOCAL
filesystem (``file:`` scheme, or scheme-less under a ``file:`` Hadoop
``fs.defaultFS``) each operation short-circuits to the equivalent
``os``/``shutil`` call. Semantics are preserved or strengthened:

- :func:`create_text_atomic` keeps the two-phase tmp + no-overwrite
  move; locally the move is ``os.link`` + ``unlink``, which is ATOMIC
  no-overwrite on POSIX — strictly stronger than Hadoop's
  check-then-rename on RawLocalFileSystem (the guarantee Delta accepts
  for ``file:/``).
- :func:`rename_nooverwrite` mirrors Hadoop-local exactly: existence
  check then ``os.rename`` — the source vanishes atomically (claim
  arbitration unchanged), the no-overwrite check has the same TOCTOU
  window RawLocalFileSystem has today.
- Listings return the same sorted relative names; absent paths behave
  identically ([] / False / FileNotFoundError).

REMOTE ROUTING (r15, r14-verdict item 4): remote URIs are served by
``pyarrow.fs`` when it can load the scheme — the driver's own process,
no py4j — with ``Path.getFileSystem(hadoopConf)`` as the LAST RESORT for
schemes pyarrow cannot serve, for bare paths under a non-local
``fs.defaultFS``, and for the two ATOMIC ops (:func:`create_text_atomic`
/ :func:`rename_nooverwrite`), whose no-overwrite-rename commit guarantee
pyarrow does not provide. The routing is a driver-overhead
optimization, not a semantic fork.

The one primitive object stores make awkward — atomic create-if-absent —
is exposed as :func:`create_text_atomic`. It is two-phase so a reader can
never observe a torn commit: the full content is written under a temp
name first, then renamed into place with ``FileContext.rename(...,
Rename.NONE)`` — the no-overwrite rename Delta's HDFSLogStore commits
through. The rename is the commit point: the destination either does not
exist or holds COMPLETE content, and of two racing writers exactly one
wins (the loser gets :class:`FileExistsError`). On HDFS the no-overwrite
check is enforced server-side in one namenode op; on raw local FS it is
check-then-rename (the same guarantee Delta accepts for ``file:/``); on
S3A it maps to a conditional PUT (If-None-Match) on recent Hadoop, else
the caller layers a lock service — protocol unchanged either way.
"""

from __future__ import annotations

import os
import posixpath
import re
import shutil
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


def _local_path(spark, path: str) -> str | None:
    """The plain OS path when ``path`` provably lives on the LOCAL
    filesystem, else None (take the Hadoop route). ``file:`` URIs are
    local by definition, except with a remote authority
    (:func:`_file_uri_path`); scheme-less paths are local iff the
    session's ``fs.defaultFS`` is ``file:`` (cached per session — on a
    cluster whose default FS is HDFS, bare paths correctly stay on
    Hadoop)."""
    if path.startswith("file:"):
        return _file_uri_path(path)
    if _SCHEME_RE.match(path):
        return None  # foreign scheme: hdfs:, s3a:, abfss:, ...
    key = id(spark)
    hit = _DEFAULT_FS_LOCAL.get(key)
    if hit is not None and hit[0] is spark:
        isloc = hit[1]
    else:
        try:
            conf = spark._jsc.hadoopConfiguration()
            isloc = str(conf.get("fs.defaultFS", "file:///")).startswith("file:")
        except Exception:  # noqa: BLE001 — torn-down session: no fast path
            return None
        _DEFAULT_FS_LOCAL[key] = (spark, isloc)
    return path if isloc else None


# (scheme, authority) -> (pyarrow FileSystem, fs-native prefix of the
# authority's paths) — client construction is the expensive part for
# object stores; the FS object is thread-safe. ("file", "") holds the one
# LocalFileSystem.
_PA_FS_CACHE: dict[tuple[str, str], tuple[object, str]] = {}

# Hadoop scheme aliases pyarrow resolves under its canonical scheme
_PA_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3"}


def _pa_fs(path: str, session_free: bool = False):
    """(pyarrow FileSystem, fs-native path) for ``path``, or None when
    pyarrow cannot serve it (the caller falls back to Hadoop). ``file:``
    URIs (``file:/x`` included) map to the one LocalFileSystem, except
    with a remote authority (pyarrow would silently drop the host).

    ``session_free=True`` is the form for callers with no SparkSession
    (the streaming sources, executor tasks, the driver's footer reads):
    with no Hadoop conf to consult, a bare path is local, and a path
    pyarrow cannot serve raises instead of returning None.

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
        # a bare path under a session is defaultFS territory (Hadoop),
        # and so is file:// with a remote authority
        local = _file_uri_path(path) if is_file else path if session_free else None
        if local is None:
            if session_free:
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
        if session_free:
            raise
        return None
    if tail and p.endswith(tail):
        _PA_FS_CACHE[key] = (fs, p[: len(p) - len(tail)])
    return fs, p


def _fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def write_text(spark, path: str, text: str) -> None:
    """Write (overwrite) a small text file."""
    write_bytes(spark, path, text.encode("utf-8"))


def write_bytes(spark, path: str, data) -> None:
    """Write (overwrite) a small file with ``data`` (any bytes-like
    object): the OS path when local, pyarrow.fs for a remote URI it can
    serve, else Hadoop."""
    lp = _local_path(spark, path)
    if lp is not None:
        os.makedirs(os.path.dirname(lp) or "/", exist_ok=True)
        with open(lp, "wb") as fh:
            fh.write(data)
        return
    pf = _pa_fs(path)
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
    writer that crashes before rename leaves only a ``_tmp_*`` file,
    which readers ignore and the orphan GC sweeps.

    Locally the move is ``os.link`` (atomic no-overwrite on POSIX) with
    a check-then-rename fallback for link-less filesystems; remotely it
    is the no-overwrite ``FileContext.rename`` Delta commits through.
    """
    lp = _local_path(spark, path)
    if lp is not None:
        d = os.path.dirname(lp) or "/"
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f"_tmp_{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(text)
        try:
            os.link(tmp, lp)
        except FileExistsError as ex:
            os.unlink(tmp)
            raise FileExistsError(path) from ex
        except OSError:
            # filesystem without hard links: Hadoop-local parity
            # (check-then-rename)
            if os.path.exists(lp):
                os.unlink(tmp)
                raise FileExistsError(path) from None
            os.rename(tmp, lp)
            return
        os.unlink(tmp)
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
    check then ``rename(2)`` — the SOURCE vanishes atomically (so a
    claimed file can never be claimed twice), the dst no-overwrite check
    has the same narrow TOCTOU window the Hadoop local path has."""
    lsrc, ldst = _local_path(spark, src), _local_path(spark, dst)
    if lsrc is not None and ldst is not None:
        if os.path.exists(ldst):
            raise FileExistsError(dst)
        try:
            os.rename(lsrc, ldst)
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
    lp = _local_path(spark, path)
    if lp is not None:
        with open(lp, encoding="utf-8") as fh:
            return fh.read()
    pf = _pa_fs(path)
    if pf is not None:
        fs, p = pf
        with fs.open_input_stream(p) as fh:
            return fh.read().decode("utf-8")
    fs, jpath, jvm = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        chunks = []
        line = reader.readLine()
        while line is not None:
            chunks.append(line)
            line = reader.readLine()
        return "\n".join(chunks)
    finally:
        stream.close()


def exists(spark, path: str) -> bool:
    lp = _local_path(spark, path)
    if lp is not None:
        return os.path.exists(lp)
    pf = _pa_fs(path)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        return fs.get_file_info(p).type != pafs.FileType.NotFound
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def delete(spark, path: str, recursive: bool = True) -> bool:
    """Delete a path; returns False if it was already absent."""
    lp = _local_path(spark, path)
    if lp is not None:
        if not os.path.lexists(lp):
            return False
        if os.path.isdir(lp) and not os.path.islink(lp):
            if recursive:
                shutil.rmtree(lp)
            else:
                os.rmdir(lp)  # non-empty dir raises, like Hadoop delete(d, false)
        else:
            os.unlink(lp)
        return True
    pf = _pa_fs(path)
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
    lp = _local_path(spark, path)
    if lp is not None:
        os.makedirs(lp, exist_ok=True)
        return
    pf = _pa_fs(path)
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
    lp = _local_path(spark, path)
    if lp is not None:
        if not os.path.exists(lp):
            return []
        if os.path.isfile(lp):  # Hadoop listStatus(file) lists the file
            return [os.path.basename(lp)]
        return sorted(os.listdir(lp))
    pf = _pa_fs(path)
    if pf is not None:
        from pyarrow import fs as pafs

        fs, p = pf
        info = fs.get_file_info(p)
        if info.type == pafs.FileType.NotFound:
            return []
        if info.type == pafs.FileType.File:
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
    lp = _local_path(spark, path)
    if lp is not None:
        if not os.path.exists(lp):
            return []
        out = []
        base = lp.rstrip("/")
        for dirpath, _dirnames, filenames in os.walk(base):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                out.append((os.path.relpath(full, base), os.stat(full).st_size))
        return sorted(out)
    pf = _pa_fs(path)
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
    lp = _local_path(spark, path)
    if lp is not None:
        return os.stat(lp).st_mtime_ns // 1_000_000
    pf = _pa_fs(path)
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
    lp = _local_path(spark, path)
    if lp is not None:
        return os.stat(lp).st_size
    pf = _pa_fs(path)
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
    lp = _local_path(spark, path)
    if lp is not None:
        st = os.stat(lp)
        return st.st_mtime_ns // 1_000_000, st.st_size
    pf = _pa_fs(path)
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
