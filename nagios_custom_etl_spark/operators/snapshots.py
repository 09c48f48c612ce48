"""Minimal snapshot-versioned table layer over parquet: atomic commits,
time-travel reads, rollback, and vacuum — the transactional substrate
the CDC/digest operators (x41/x67) assume when they compare "the
corpus as of run N" with "as of run N+1", and the version isolation
the mutation family (x60 MERGE, st17 keyed upsert) publishes through.

The reference keeps exactly one previous snapshot as a flat file
(`data_extract_last.txt`, extract.py:115-132) and loses history beyond
that. A table format keeps EVERY version reachable: a commit is one
small JSON manifest listing the data files of that version, written
atomically (create-if-absent — two writers racing to the same version
number: exactly one wins, the loser retries on top of the winner's
commit, which is optimistic concurrency exactly as Delta/Iceberg do
it). Data files are immutable and shared across versions — an
overwrite does not delete the old files, it just publishes a manifest
that no longer references them, so time travel is a manifest read and
rollback is a new commit re-publishing an old file list (never a data
copy).

100 TB notes: manifests carry file PATHS + stats, not data — commits
are O(files-touched) metadata writes regardless of table size. Reads
plan from the manifest's explicit file list (no directory listing —
at millions of objects, listing IS the bottleneck manifests exist to
kill). Vacuum deletes only files unreachable from every retained
manifest. ALL metadata IO goes through the Hadoop FileSystem API
(fsio.py), so the same table runs on file:/, hdfs://, or s3a:// —
``FileSystem.create(path, overwrite=false)`` is the atomic commit
point on HDFS/local; on object stores it maps to a conditional PUT
(If-None-Match) or a lock service, protocol unchanged.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import json
import math
import operator
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from nagios_custom_etl_spark import fsio, table_log
from nagios_custom_etl_spark.table_log import (
    DELTA_FORMAT as _DELTA_FORMAT,
    DIFFED_KEYS as _DIFFED_KEYS,
    apply_delta as _apply_delta,
    snap_dir as _snap_dir,
)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


class SchemaMismatchError(RuntimeError):
    """The batch's schema differs from the table's recorded schema and
    evolution was not requested (or the change is a type change, which
    is never allowed — Delta/Iceberg semantics: columns may be added,
    never silently retyped)."""


def _schema_list(df: DataFrame) -> list[list[str]]:
    """Manifest-recorded schema: ordered [name, simple type] pairs —
    JSON-stable and sufficient to reconcile heterogeneous data files.
    Entries may grow a third element, a metadata dict, once COLUMN
    MAPPING is in play (:func:`rename_column` / :func:`drop_column` /
    :func:`add_column`): ``{"aliases": [...]}`` lists the column's
    FORMER physical names (old data files store the column under one of
    them; reads resolve name-first-then-aliases), ``{"dropped": true}``
    marks a logically-dropped column (physically retained, hidden from
    every reader until :func:`compact` purges or :func:`undrop_column`
    restores), ``{"default": <json literal>}`` is the value reads
    materialize for files written without the column (Iceberg
    initial-default). Plain tables keep 2-element entries — their
    manifests are byte-identical to pre-mapping ones."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


#: reserved name prefix for logically-dropped columns: the entry stays in
#: the schema (it must keep guarding its alias names against reuse and
#: keep carrying through commits) but every reader skips it
_DROPPED_PREFIX = "__dropped_"


def _entry_meta(e) -> dict:
    """Column-mapping metadata of a schema entry ({} for plain 2-lists)."""
    return e[2] if len(e) > 2 else {}


def _schema_types(schema) -> dict:
    """Visible logical name -> simple type (dropped entries excluded) —
    the mapping-aware replacement for ``dict(schema)``, which breaks on
    3-element entries."""
    return {e[0]: e[1] for e in schema or [] if not _entry_meta(e).get("dropped")}


def _visible_names(schema) -> list[str]:
    """Visible logical column names in declared order."""
    return [e[0] for e in schema or [] if not _entry_meta(e).get("dropped")]


def _alias_names(schema) -> set[str]:
    """Every FORMER name still bound to old data files (renamed-away and
    dropped names): adding a column under one of these would let stale
    physical values resurrect through the alias resolution, so writers
    refuse them."""
    return {a for e in schema or [] for a in _entry_meta(e).get("aliases", ())}


# Lossless type-widening lattice (Delta typeWidening): an evolving
# append may WIDEN a column — the recorded schema takes the wider type
# and the schema-reconciling read (_read_files casts every file's
# column to the declared type) upcasts old files for free, so no data
# rewrite is ever needed. Only exactly-representable widenings qualify:
# int->long never changes a value, float stays OUT of the double rung
# (a float widened to double exposes representation garbage beyond the
# float's 24-bit mantissa — Delta excludes it from automatic widening
# for the same reason).
_WIDENS_TO: dict[str, tuple[str, ...]] = {
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
}


def _merged_schema(
    parent: list[list[str]] | None, new: list[list[str]], evolve: bool
) -> list[list[str]]:
    """Table schema after committing a batch with schema ``new`` onto a
    table with schema ``parent``: identical -> unchanged; added/omitted
    columns -> allowed only with ``evolve`` (added columns go to the end,
    omitted ones stay — old files simply lack the new columns and new
    files lack the omitted ones; reads reconcile both with NULLs); with
    ``evolve`` a column may also WIDEN along the integer lattice
    (:data:`_WIDENS_TO` — the recorded type becomes the wider one, old
    files upcast at read); any other type change is refused, and a
    NARROWER batch does not narrow the table (its values read back at
    the table's wider type)."""
    if parent is None:
        return [list(x) for x in new]
    pt = _schema_types(parent)  # visible entries drive drift comparison
    nt = {n: t for n, t in new}
    widened: dict[str, str] = {}
    retyped = []
    for n in sorted(pt.keys() & nt.keys()):
        if pt[n] == nt[n]:
            continue
        if nt[n] in _WIDENS_TO.get(pt[n], ()):
            widened[n] = nt[n]  # batch is wider: widen the table
        elif pt[n] in _WIDENS_TO.get(nt[n], ()):
            pass  # batch is narrower: table type stays, reads upcast
        else:
            retyped.append(n)
    if retyped:
        raise SchemaMismatchError(f"type change on {retyped} is not allowed")
    added = [[n, t] for n, t in new if n not in pt]
    # column-mapping guard: a former name (renamed-away or dropped) is
    # still the PHYSICAL name inside old data files — a new column under
    # it would read those stale values back. Refused even with evolve.
    bad = sorted({n for n, _ in added} & _alias_names(parent))
    if bad:
        raise SchemaMismatchError(
            f"column name(s) {bad} are former names of renamed/dropped "
            "columns still bound to old data files; pick another name, "
            "undrop_column(), or compact() to purge the mapping first"
        )
    # a column with a declared default is freely omittable (reads
    # materialize the default for files written without it); dropped
    # internal entries never participate in drift
    omitted = [
        e[0]
        for e in parent
        if not _entry_meta(e).get("dropped")
        and e[0] not in nt
        and "default" not in _entry_meta(e)
    ]
    if (added or omitted or widened) and not evolve:
        raise SchemaMismatchError(
            f"schema drift (added {[n for n, _ in added]}, omitted {omitted}, "
            f"widened {sorted(widened)}); pass evolve=True to evolve the "
            "table schema"
        )
    out = []
    for e in parent:
        meta = _entry_meta(e)
        t = widened.get(e[0], e[1])
        out.append([e[0], t, meta] if meta else [e[0], t])
    return out + added


def _manifest_path(root: str, version: int) -> str:
    return f"{_snap_dir(root)}/{table_log.manifest_name(version)}"


def _manifest_versions(spark: SparkSession, root: str) -> list[int]:
    """Versions whose manifest file EXISTS (vacuum drops expired ones,
    so this is not a contiguous range)."""
    return table_log.parse_versions(fsio.list_names(spark, _snap_dir(root)))


def latest_version(spark: SparkSession, root: str) -> int:
    """Highest committed version, 0 if the table is empty."""
    vs = _manifest_versions(spark, root)
    return vs[-1] if vs else 0


# ---------------------------------------------------------------------------
# Delta-log storage (r11 verdict task 2; the format rules and the replay
# walk live in table_log.py): a version file holds EITHER a
# self-contained ("full") manifest — v1, overwrites/compactions whose
# change set approaches the table size, and every pre-existing table —
# OR a DELTA record: the files added/removed, the stats/seqs entries
# set/deleted, and the commit's non-file fields verbatim. Appending K
# files to an N-file table writes O(K) metadata bytes, not O(N) — the
# Delta-Lake JSON-log model. Readers reconstruct a version's logical
# manifest by walking back to the nearest base (a full version file or a
# ``ckpt-<v>.json`` CHECKPOINT, written every ``_CKPT_EVERY`` commits
# and at vacuum-retained versions) and folding the deltas forward;
# reconstructed states are memoized per (root, version, file-identity)
# — the identity guard (mtime+size of the version file) keeps the memo
# honest when a work dir is wiped and rebuilt at the same path. The
# atomic-create commit point and every refusal are unchanged: the
# version FILE is still what arbitrates racing writers.
# ---------------------------------------------------------------------------

_CKPT_EVERY = 16  # bounded reconstruction walk; amortized full writes
_STATE_CACHE: dict[tuple, dict] = {}  # (root, v, ident) -> IMMUTABLE state
_STATE_CACHE_MAX = 256


def _ckpt_path(root: str, version: int) -> str:
    return f"{_snap_dir(root)}/{table_log.ckpt_name(version)}"


class _FsioLog:
    """The table log handle (see table_log.py) bound to ``fsio``, so the
    Hadoop fallback serves it; checkpoint and shard bytes parsed are
    counted in ``_CKPT_BYTES_READ``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.dir = spark, _snap_dir(root)

    def exists(self, name: str) -> bool:
        return fsio.exists(self.spark, f"{self.dir}/{name}")

    def read_json(self, name: str) -> dict:
        txt = fsio.read_text(self.spark, f"{self.dir}/{name}")
        if name.startswith("ckpt"):
            _CKPT_BYTES_READ["n"] += len(txt)
        return json.loads(txt)


# --- manifest-list sharding (r12 verdict task 2) -------------------------
# A checkpoint of a table with >= _SHARD_MIN_FILES files is written as a
# MANIFEST LIST (Iceberg's manifest-list/manifest split): the file
# entries (paths + per-file stats + MoR seqs) land in _SHARD_SIZE-file
# SHARD files clustered by path (partition dirs stay together) then by
# the lead stats column's min, and the ckpt-*.json index holds only the
# non-file fields plus, per shard, its file count and the [min, max]
# ENVELOPE of every stats column whose bounds are known for ALL member
# files (any unknown member -> no envelope -> conservative include).
# Pruned reads (read_snapshot_pruned*) then parse ONLY the shards whose
# envelopes intersect the predicate — shard exclusion is sound because
# an envelope is the union of member ranges: a disjoint envelope implies
# every member file would fail the same per-file check. Small tables
# keep the inline single-JSON checkpoint (sharding two shards' worth of
# files buys nothing).
_SHARD_MIN_FILES = 2048  # >= 2 shards before sharding pays
_SHARD_SIZE = 1024  # file entries per shard (~Iceberg manifest target)
#: test-visible instrumentation: bytes of checkpoint/shard JSON parsed
_CKPT_BYTES_READ = {"n": 0}
#: test-visible instrumentation: bytes of checkpoint/shard JSON WRITTEN
#: (counted only on a successful create — a content-addressed collision
#: reuses the existing identical file and writes nothing)
_CKPT_BYTES_WRITTEN = {"n": 0}


def _shard_path(root: str, version: int, i: int, digest: str) -> str:
    # content-addressed name: a checkpoint retry under DIFFERENT shard
    # constants (process upgrade between a crash and its retry) writes
    # differently-named shards instead of colliding with stale ones —
    # the index references exact names, orphans expire with the version
    return f"{_snap_dir(root)}/ckptshard-{version:08d}-{i:04d}-{digest}.json"


def _write_ckpt_text(spark: SparkSession, path: str, text: str) -> None:
    """Create-if-absent write of checkpoint/shard JSON with the written
    bytes counted (an existing identical file — content-addressed shard
    collision or a racing checkpointer — costs zero new bytes)."""
    try:
        fsio.create_text_atomic(spark, path, text)
    except FileExistsError:
        return
    _CKPT_BYTES_WRITTEN["n"] += len(text)


def _cluster_key(stats: dict):
    """Shard clustering heuristic: partition dirs cluster together;
    within a dir, order by the lead stats column's min so shard
    envelopes stay tight on it. Envelopes are correct under ANY order —
    only tightness varies; str() keeps mixed-type keys comparable."""

    def key(f: str):
        d, _, b = f.rpartition("/")
        s = stats.get(f) or {}
        lead = next((c for c in sorted(s) if not c.startswith("__")), None)
        lo = s.get(lead, [None, None])[0] if lead else None
        return (d, lead or "", lo is None, str(lo), b)

    return key


def _shard_payload(
    version: int, idx: int, sub: list[str], stats: dict, seqs: dict | None
) -> tuple[str, str, dict]:
    """PURE computation of one shard: (json text, content digest, index
    meta). No IO and no Spark — callable identically on the driver and
    inside an executor task (:func:`_build_shards_distributed`), which
    is what makes the distributed checkpoint write provably equal to
    the single-node one: same inputs → same bytes → same
    content-addressed name. Meta carries the per-shard row sum (None
    when any member predates ``__rows`` — lets metadata_count answer
    from the INDEX alone), integer [total, nonnull] sum aggregates
    replaying :func:`_metadata_sum_parts`' exact member semantics
    (zero-row files contribute nothing; a non-zero member missing the
    keys kills the column for the shard, so the index fast path falls
    back to the full reconstruction and its precise refusal), and the
    [min, max] ENVELOPE of every stats column whose bounds are known
    for ALL members (any unknown member -> no envelope -> conservative
    include)."""
    shard: dict = {"files": sub, "stats": {f: stats[f] for f in sub if f in stats}}
    if seqs is not None:
        shard["seqs"] = {f: seqs[f] for f in sub if f in seqs}
    ranges: dict = {}
    cols = {c for f in sub for c in (stats.get(f) or {}) if not c.startswith("__")}
    for c in sorted(cols):
        ents = [(stats.get(f) or {}).get(c) for f in sub]
        if all(e and e[0] is not None and e[1] is not None for e in ents):
            ranges[c] = [min(e[0] for e in ents), max(e[1] for e in ents)]
    text = json.dumps(shard)
    digest = hashlib.md5(text.encode()).hexdigest()[:8]
    rows = None
    if all("__rows" in (stats.get(f) or {}) for f in sub):
        rows = sum(int(stats[f]["__rows"]) for f in sub)
    sums: dict = {}
    sum_cols = {
        c[len("__sum_"):]
        for f in sub
        for c in (stats.get(f) or {})
        if c.startswith("__sum_")
    }
    for c in sorted(sum_cols):
        total, nonnull, ok = 0, 0, True
        for f in sub:
            s = stats.get(f) or {}
            if s.get("__rows") == 0:
                continue
            if (
                f"__sum_{c}" not in s
                or f"__nulls_{c}" not in s
                or "__rows" not in s
            ):
                ok = False
                break
            if s[f"__sum_{c}"] is not None:
                total += int(s[f"__sum_{c}"])
            nonnull += int(s["__rows"]) - int(s[f"__nulls_{c}"])
        if ok:
            sums[c] = [total, nonnull]
    meta = {
        "path": f"ckptshard-{version:08d}-{idx:04d}-{digest}.json",
        "n_files": len(sub),
        "rows": rows,
        "sums": sums,
        "ranges": ranges,
    }
    return text, digest, meta


def _build_shard(
    spark: SparkSession,
    root: str,
    version: int,
    idx: int,
    sub: list[str],
    stats: dict,
    seqs: dict | None,
) -> dict:
    """Driver-side shard build: compute the payload and write it."""
    text, digest, meta = _shard_payload(version, idx, sub, stats, seqs)
    _write_ckpt_text(spark, _shard_path(root, version, idx, digest), text)
    return meta


#: shard-count threshold above which a checkpoint's shard files are
#: written by EXECUTOR tasks instead of a driver loop (Iceberg
#: distributes its manifest writes the same way); below it the Spark
#: job overhead exceeds the serial write cost
_DIST_CKPT_MIN_SHARDS = 64
#: test-visible instrumentation: shards written via the distributed path
_DIST_SHARD_WRITES = {"n": 0}


def _build_shards_distributed(
    spark: SparkSession,
    root: str,
    version: int,
    chunks: list[list[str]],
    stats: dict,
    seqs: dict | None,
    start_idx: int,
) -> list[dict]:
    """Write checkpoint shards as a SPARK JOB — one executor task per
    shard (r14: the write-side twin of x153's distributed manifest
    READS): each task computes :func:`_shard_payload` for its member
    slice and writes the content-addressed file through ``pyarrow.fs``,
    returning (index meta, bytes written) to the driver. Driver cost is
    O(shards) metas collected + the index write — at 10^6 files a full
    checkpoint writes ~10^3 shard files in parallel across the cluster
    instead of serially through one Python loop. Payload purity makes
    the result BYTE-IDENTICAL to the driver loop (same content → same
    digest → same name), so the two paths are interchangeable and the
    x156 oracle pins their equality. An already-existing shard file
    (content-addressed collision with a racing checkpointer writing the
    same version — identical bytes by construction) is skipped; tasks
    write complete content to a ``_tmp_*`` sibling then rename, so a
    reader never observes a torn shard."""
    import uuid as _uuid

    sdir = _snap_dir(root)
    tasks = [
        (
            start_idx + j,
            sub,
            {f: stats[f] for f in sub if f in stats},
            None if seqs is None else {f: seqs[f] for f in sub if f in seqs},
        )
        for j, sub in enumerate(chunks)
    ]

    def run(t):
        idx, sub, sstats, sseqs = t
        from pyarrow.fs import FileType

        text, digest, meta = _shard_payload(version, idx, sub, sstats, sseqs)
        fs, base = fsio._pa_fs(sdir)
        dst = f"{base}/{meta['path']}"
        if fs.get_file_info(dst).type != FileType.NotFound:
            return meta, 0  # content-addressed: identical bytes exist
        tmp = f"{dst}_tmp_{_uuid.uuid4().hex[:12]}"
        with fs.open_output_stream(tmp) as out:
            out.write(text.encode("utf-8"))
        fs.move(tmp, dst)
        return meta, len(text)

    results = (
        spark.sparkContext.parallelize(tasks, len(tasks)).map(run).collect()
    )
    _CKPT_BYTES_WRITTEN["n"] += sum(b for _, b in results)
    _DIST_SHARD_WRITES["n"] += sum(1 for _, b in results if b)
    return [m for m, _ in results]


def _try_incremental_ckpt(spark: SparkSession, root: str, version: int) -> bool:
    """INCREMENTAL checkpoint (r13 verdict task 1 — the writer-side
    O(files) checkpoint-write ceiling removed): when the nearest base
    below ``version`` is a SHARDED checkpoint and everything above it is
    delta records, the new checkpoint REUSES the previous one's shard
    files whose membership and member stats are untouched by the deltas
    (referenced by name in the new index — shard files are immutable and
    content-addressed, so sharing is safe) and writes only (a) rewritten
    shards for prev members the deltas removed or re-statted and (b) new
    shards for the delta-added files. A checkpoint after K small appends
    then writes O(K + touched shards) bytes, not O(table files) — the
    Iceberg incremental-manifest-list model. The delta records themselves
    carry every changed file/stat/seq, so the pure-append fast path reads
    ZERO previous shard bytes; only a prev-member-touching chain pays
    shard reads to locate the touched members (write stays O(touched)).

    Returns False (caller falls back to the exact full write) whenever
    the incremental form is not provably identical to it: a full
    manifest or missing version file in the chain, an inline previous
    checkpoint, a drop of the base's seqs, a shrink below the sharding
    threshold, or any membership-count mismatch after the fold."""
    log = _FsioLog(spark, root)
    try:
        _, base_idx, chain, _ = table_log.walk(log, version)
    except FileNotFoundError:
        return False  # a version file in the chain is gone
    if base_idx.get("format") != table_log.CKPT_LIST_FORMAT:
        return False  # a full manifest or inline checkpoint: full write is right
    fold = table_log.fold(chain)
    if fold.seqs_dropped and base_idx.get("has_seqs"):
        return False  # seqs dropped wholesale: every prev entry dies
    total = sum(sm["n_files"] for sm in base_idx["shards"]) + fold.files_delta
    if total < _SHARD_MIN_FILES:
        return False  # table shrank: inline checkpoint is the right form
    # prev members the chain removed or re-statted: their shards rewrite
    # (a re-added member's too — the new shard carries its final stats)
    to_locate = fold.removed | (set(fold.stats) | set(fold.seqs)) - fold.added
    reused: list[dict] = []
    pool: list[str] = []
    stats: dict = {}
    seqs: dict = {}
    for sm in base_idx["shards"]:
        if to_locate:
            sh = log.read_json(sm["path"])
            if to_locate.intersection(sh["files"]):
                to_locate.difference_update(sh["files"])
                pool.extend(f for f in sh["files"] if f not in fold.removed)
                stats.update(sh.get("stats") or {})
                seqs.update(sh.get("seqs") or {})
                continue
        reused.append(sm)
    pool.extend(sorted(fold.added))
    if sum(sm["n_files"] for sm in reused) + len(pool) != total:
        return False  # fold inconsistency: take the exact full write
    _write_sharded_ckpt(
        spark, root, version,
        base_idx["base"] if fold.fields is None else fold.fields, pool,
        *fold.maps(pool, stats, seqs, bool(base_idx.get("has_seqs"))), reused,
    )
    return True


def _write_sharded_ckpt(
    spark: SparkSession,
    root: str,
    version: int,
    fields: dict,
    files: list[str],
    stats: dict,
    seqs: dict | None,
    reused: list[dict] | tuple = (),
) -> None:
    """Write ``files`` as new shards after the ``reused`` shard metas,
    then the manifest-list index — the index create is the atomic
    publish point. Past ``_DIST_CKPT_MIN_SHARDS`` shards, executor tasks
    write them (x156): the pure payload makes the result byte-identical
    to the driver loop."""
    metas = list(reused)
    ordered = sorted(files, key=_cluster_key(stats))
    chunks = [
        ordered[i : i + _SHARD_SIZE]
        for i in range(0, len(ordered), _SHARD_SIZE)
    ]
    if len(chunks) >= _DIST_CKPT_MIN_SHARDS:
        metas.extend(
            _build_shards_distributed(
                spark, root, version, chunks, stats, seqs, len(metas)
            )
        )
    else:
        for sub in chunks:
            metas.append(
                _build_shard(spark, root, version, len(metas), sub, stats, seqs)
            )
    index = {
        "format": table_log.CKPT_LIST_FORMAT,
        "base": {k: v for k, v in fields.items() if k not in _DIFFED_KEYS},
        "has_seqs": seqs is not None,
        "shards": metas,
    }
    _write_ckpt_text(spark, _ckpt_path(root, version), json.dumps(index))


def _write_checkpoint(
    spark: SparkSession, root: str, version: int, state: dict | None = None
) -> None:
    """Write the full checkpoint for ``version`` — create-if-absent,
    sharded into a manifest list when the file count crosses
    ``_SHARD_MIN_FILES``. An INCREMENTAL sharded write (reusing the
    previous checkpoint's untouched shard files, :func:`
    _try_incremental_ckpt`) is tried first, so the common append-heavy
    cadence writes O(touched) bytes and a caller may pass ``state=None``
    to avoid reconstructing the full file list at all; the exact full
    write remains the fallback. Shards land BEFORE the index file, and
    the index create is the atomic publish point: a reader never sees an
    index whose shards are missing, and a crash in between leaves only
    orphan shard files (reclaimed when the version expires)."""
    cp = _ckpt_path(root, version)
    if fsio.exists(spark, cp):
        return
    if _try_incremental_ckpt(spark, root, version):
        return
    if state is None:
        state = _state(spark, root, version)
    files = state.get("files") or []
    if len(files) < _SHARD_MIN_FILES:
        _write_ckpt_text(spark, cp, json.dumps(state))
        return
    _write_sharded_ckpt(
        spark, root, version, state, files, state.get("stats") or {},
        state.get("seqs"),
    )


def _ckpt_index(spark: SparkSession, root: str, version: int) -> dict | None:
    """The manifest-list checkpoint index at ``version``, None when the
    version has no sharded checkpoint — what the metadata-only
    aggregates answer from without loading a shard."""
    log = _FsioLog(spark, root)
    if log.exists(table_log.ckpt_name(version)):
        obj = log.read_json(table_log.ckpt_name(version))
        if obj.get("format") == table_log.CKPT_LIST_FORMAT:
            return obj
    return None


def _copy_json(o):
    if isinstance(o, dict):
        return {k: _copy_json(v) for k, v in o.items()}
    if isinstance(o, list):
        return [_copy_json(v) for v in o]
    return o


def _cache_state(key: tuple, state: dict) -> None:
    if len(_STATE_CACHE) >= _STATE_CACHE_MAX:
        for k in list(_STATE_CACHE)[: _STATE_CACHE_MAX // 2]:
            del _STATE_CACHE[k]
    _STATE_CACHE[key] = state


def _dict_diff(prev: dict, new: dict) -> tuple[dict, list]:
    set_map = {k: v for k, v in new.items() if prev.get(k) != v}
    del_list = sorted(k for k in prev if k not in new)
    return set_map, del_list


def _make_delta(prev: dict, manifest: dict) -> dict:
    """Delta record: ``manifest`` expressed as changes against ``prev``.
    Non-file fields (op/parent/txn/schema/partition_spec/deletes/...)
    ride verbatim in ``base`` — they are small and replace, never
    inherit, so reconstruction is exact field-for-field."""
    d = {
        "format": _DELTA_FORMAT,
        "base": {k: v for k, v in manifest.items() if k not in _DIFFED_KEYS},
    }
    pf, nf = set(prev["files"]), set(manifest["files"])
    d["files_added"] = sorted(nf - pf)
    d["files_removed"] = sorted(pf - nf)
    sset, sdel = _dict_diff(prev.get("stats") or {}, manifest.get("stats") or {})
    if sset:
        d["stats_set"] = sset
    if sdel:
        d["stats_del"] = sdel
    if "seqs" in manifest:
        qset, qdel = _dict_diff(prev.get("seqs") or {}, manifest["seqs"])
        d["seqs"] = {"set": qset, "del": qdel}
    return d


def _file_ident(spark: SparkSession, path: str) -> tuple[int, int]:
    return fsio.stat_mtime_size(spark, path)


def _state(spark: SparkSession, root: str, version: int) -> dict:
    """Reconstructed logical manifest at ``version`` — INTERNAL, shared,
    never hand out without :func:`_copy_json`. Raises like a plain read
    when the version file is gone (vacuumed). The walk down stops at the
    first version memoized in ``_STATE_CACHE`` (so a warm call reads no
    manifest at all), and every version it folds is memoized on the way
    up."""
    keys: dict[int, tuple] = {}

    def memo(v: int) -> dict | None:
        keys[v] = (root, v, _file_ident(spark, _manifest_path(root, v)))
        return _STATE_CACHE.get(keys[v])

    return table_log.replay(
        _FsioLog(spark, root), version, memo,
        lambda v, state: _cache_state(keys[v], state),
    )


def _ensure_checkpoint(spark: SparkSession, root: str, version: int) -> None:
    """Materialize a full checkpoint at ``version`` (create-if-absent) —
    vacuum calls this for every retained version BEFORE expiring older
    version files, so retained versions stay reconstructible however
    non-contiguous the survivor set (tags keep arbitrary old versions)."""
    if fsio.exists(spark, _ckpt_path(root, version)):
        return
    # state=None: the incremental path (previous-checkpoint shard reuse)
    # needs no full reconstruction; only its fallback pays _state()
    _write_checkpoint(spark, root, version)


def _manifest_base_field(spark: SparkSession, root: str, version: int, key: str):
    """A single non-file manifest field (txn/op/committed_at/...) from
    the RAW version file — no reconstruction, one read: what keeps
    O(versions) scans like txn_version linear in versions, not
    versions x files."""
    raw = json.loads(fsio.read_text(spark, _manifest_path(root, version)))
    return table_log.head_fields(raw).get(key)


def _read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    return _copy_json(_state(spark, root, version))


def _plan_pruned_state(
    spark: SparkSession, root: str, version: int, preds: list[tuple]
) -> dict:
    """Manifest-shaped planning state for the pruned readers, touching
    O(intersecting shards + deltas above the base) checkpoint bytes
    instead of reconstructing the full file list (r12 verdict task 2 —
    the Iceberg manifest-list read path): ``files``/``stats``/``seqs``
    hold only the CANDIDATE files (members of shards whose envelopes
    intersect every predicate, plus every delta-added file), non-file
    fields are exact, and ``_files_total`` carries the true table file
    count (tracked arithmetically through the delta fold — a valid log
    only removes present files and adds absent ones). Shard-level
    exclusion is a strict subset of the per-file check the caller still
    applies (an envelope is the union of member ranges), so the planned
    file set is IDENTICAL to a full-reconstruction plan. A full state
    already memoized in ``_STATE_CACHE`` short-circuits with zero IO —
    warm processes never regress."""
    p = _manifest_path(root, version)
    key = (root, version, _file_ident(spark, p))
    full = _STATE_CACHE.get(key)
    if full is None:
        log = _FsioLog(spark, root)
        _, base_obj, chain, _ = table_log.walk(log, version)
        if base_obj.get("format") == table_log.CKPT_LIST_FORMAT:
            # a shard envelope is the union of its members' ranges: one
            # the per-file stats check rules out holds no candidate
            shards = base_obj["shards"]
            keep = [sm for sm in shards if table_log.stats_check(sm.get("ranges"), preds)]
            if len(keep) < len(shards):
                # read only those, and fold the chain over their members
                # plus every delta-added file
                fold = table_log.fold(chain)
                part = table_log.load_base(log, {**base_obj, "shards": keep})
                m = dict(base_obj["base"] if fold.fields is None else fold.fields)
                m["files"] = sorted((set(part["files"]) - fold.removed) | fold.added)
                m["stats"], sq = fold.maps(
                    m["files"], part["stats"], part.get("seqs") or {}, "seqs" in part
                )
                if sq is not None:
                    m["seqs"] = sq
                m["_files_total"] = sum(sm["n_files"] for sm in shards) + fold.files_delta
                return m
        # every file is a candidate (inline checkpoint, full manifest, or
        # no shard excluded): the planner holds the FULL state anyway, so
        # fold it exactly and memoize it under _state()'s key (r13
        # ADVICE) — repeated cold pruned reads then short-circuit with
        # zero IO instead of re-walking the chain per call
        full = table_log.load_base(log, base_obj)
        for d in chain:
            full = _apply_delta(full, d)
        _cache_state(key, full)
    m = _copy_json(full)
    m["_files_total"] = len(m["files"])
    return m


def _commit(
    spark: SparkSession,
    root: str,
    files: list[str],
    op: str,
    parent: int,
    stats: dict | None = None,
    schema: list[list[str]] | None = None,
    txn: str | None = None,
    partition_spec: list[str] | None = None,
    extra: dict | None = None,
) -> int:
    """Publish ``files`` as version ``parent + 1`` atomically.

    Create-if-absent of the manifest is the commit point: the filesystem
    arbitrates racing writers, exactly one sees the version appear under
    its pen. Losers get ConcurrentCommitError and must retry against the
    new latest (re-running their conflict check — optimistic
    concurrency). ``extra`` carries op-family fields (the MoR layer's
    ``seqs``/``deletes``) verbatim into the manifest.

    STORAGE is delta-logged: when the change set against the parent is
    small, the version file holds only the delta (O(files-touched)
    bytes — a 1-file append to a million-file table writes one tiny
    record); when it approaches the table size (overwrite, compaction)
    a full manifest is written instead, which doubles as an implicit
    checkpoint. Every ``_CKPT_EVERY``-th version also gets an explicit
    ``ckpt-*.json`` so reconstruction walks stay bounded; a crash before
    the checkpoint write only lengthens the walk, never loses state."""
    fsio.mkdirs(spark, _snap_dir(root))
    version = parent + 1
    manifest = {
        "version": version,
        "parent": parent,
        "op": op,
        "files": sorted(files),
        "stats": {f: stats[f] for f in sorted(stats)} if stats else {},
        "committed_at": time.time(),
    }
    if schema is not None:
        manifest["schema"] = schema
    if txn is not None:
        manifest["txn"] = txn
    if partition_spec:
        manifest["partition_spec"] = partition_spec
    if extra:
        manifest.update(extra)
    payload = manifest
    if parent > 0 and fsio.exists(spark, _manifest_path(root, parent)):
        prev = _state(spark, root, parent)
        delta = _make_delta(prev, manifest)
        n_changed = (
            len(delta["files_added"])
            + len(delta["files_removed"])
            + len(delta.get("stats_set", {}))
            + len(delta.get("stats_del", ()))
            + len(delta.get("seqs", {}).get("set", {}))
            + len(delta.get("seqs", {}).get("del", ()))
        )
        n_full = len(manifest["files"]) + len(manifest["stats"])
        if n_changed < max(1, n_full // 2):
            payload = delta
    try:
        fsio.create_text_atomic(spark, _manifest_path(root, version), json.dumps(payload))
    except FileExistsError as ex:
        raise ConcurrentCommitError(
            f"version {version} was committed by another writer"
        ) from ex
    _cache_state(
        (root, version, _file_ident(spark, _manifest_path(root, version))),
        _copy_json(manifest),
    )
    if version % _CKPT_EVERY == 0:
        _write_checkpoint(spark, root, version, manifest)
    return version


def _parent_head(spark: SparkSession, root: str, parent: int) -> tuple[dict, bool]:
    """(non-file manifest fields at ``parent``, parent-is-delta-record)
    from ONE raw version-file read — a delta record's ``base`` carries
    every non-file field (schema/partition_spec/deletes/txn/...) verbatim
    and is O(commit-touched) bytes, so a writer that only needs the HEAD
    fields never reconstructs the O(files) state (r13 verdict task 2)."""
    raw = json.loads(fsio.read_text(spark, _manifest_path(root, parent)))
    return table_log.head_fields(raw), raw.get("format") == _DELTA_FORMAT


def _commit_delta(
    spark: SparkSession,
    root: str,
    parent: int,
    op: str,
    files_added: list[str],
    stats_added: dict | None,
    schema: list[list[str]] | None = None,
    txn: str | None = None,
    partition_spec: list[str] | None = None,
    files_removed: list[str] | tuple = (),
    stats_del: list[str] | tuple = (),
    extra_base: dict | None = None,
) -> int:
    """Publish an append/merge-family commit as a DELTA RECORD directly
    — the shard-lazy writer path (r13 verdict task 2): nothing here
    reads or reconstructs the parent's file list, so a K-file append
    (or a merge that removed ``files_removed`` and added
    ``files_added``) to a million-file table costs one raw head read
    (the caller's) + one O(touched)-byte delta write, plus — every
    ``_CKPT_EVERY``-th version — an incremental checkpoint that reuses
    the previous checkpoint's untouched shards
    (:func:`_try_incremental_ckpt`). Driver memory is O(touched +
    touched shards), never O(table files).

    Only valid when the committed state is exactly parent-state −
    ``files_removed`` + ``files_added`` with the given stats changes
    and no MoR bookkeeping (callers fall back to :func:`_commit` when
    the parent holds pending deletes or is a full manifest).
    ``extra_base`` carries op-family non-file fields (a merge's
    recorded ``change_files``) verbatim. The atomic commit point and
    its :class:`ConcurrentCommitError` contract are identical to
    :func:`_commit`'s."""
    version = parent + 1
    base: dict = {
        "version": version,
        "parent": parent,
        "op": op,
        "committed_at": time.time(),
    }
    if schema is not None:
        base["schema"] = schema
    if txn is not None:
        base["txn"] = txn
    if partition_spec:
        base["partition_spec"] = partition_spec
    if extra_base:
        base.update(extra_base)
    d: dict = {
        "format": _DELTA_FORMAT,
        "base": base,
        "files_added": sorted(files_added),
        "files_removed": sorted(files_removed),
    }
    if stats_added:
        d["stats_set"] = {f: stats_added[f] for f in sorted(stats_added)}
    if stats_del:
        d["stats_del"] = sorted(stats_del)
    fsio.mkdirs(spark, _snap_dir(root))
    try:
        fsio.create_text_atomic(
            spark, _manifest_path(root, version), json.dumps(d)
        )
    except FileExistsError as ex:
        raise ConcurrentCommitError(
            f"version {version} was committed by another writer"
        ) from ex
    if version % _CKPT_EVERY == 0:
        _write_checkpoint(spark, root, version)
    return version


def _single_file_stats(root: str, relpath: str, stats_cols: list[str]) -> dict:
    """Stats entry for ONE just-written file through :func:`_table_stats`:
    a read of only its stats columns, or of only its footer when there
    are none (scheme-portable via pyarrow.fs, x156). Runs on the driver
    for a small write and inside an executor task for a large one
    (:func:`_listed_stats`)."""
    import pyarrow.parquet as pq

    fs, path = fsio._pa_fs(f"{root}/{relpath}")
    if not stats_cols:
        return {"__rows": pq.read_metadata(path, filesystem=fs).num_rows}
    return _table_stats(pq.read_table(path, columns=stats_cols, filesystem=fs), stats_cols)


def _table_stats(t, stats_cols: list[str]) -> dict:
    """The stats kernel: the manifest stats entry of one file's rows,
    held as a pyarrow table — the only code that builds one. Every entry
    records ``__rows`` (the basis of metadata-only COUNT,
    :func:`metadata_count`) and ``[min, max]`` per stats column, nulls
    skipped as ``F.min``/``F.max`` skip them (``[None, None]`` when every
    value is null). INTEGER columns also record the exact ``__sum_<c>``
    (carried in decimal128(38,0), a Python int in the JSON) and
    ``__nulls_<c>``, the basis of metadata-only SUM/AVG
    (:func:`metadata_sum`); a float sum depends on reduction order and is
    never recorded (the HUGEINT-rule discipline). Floats follow Spark's
    order, where NaN is greater than every other value: the max is NaN
    when any value is, the min only when every non-null value is
    (pyarrow's ``min_max`` skips NaN, and on an all-NaN column returns
    the inverted ``[inf, -inf]``, which a pruning check would read as
    "matches nothing")."""
    import pyarrow as pa
    import pyarrow.compute as pc

    entry: dict = {"__rows": t.num_rows}
    if t.num_rows == 0:
        return entry
    for c in stats_cols:
        col = t.column(c)
        n = len(col) - col.null_count
        if n == 0:
            entry[c] = [None, None]
        else:
            mm = pc.min_max(col)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if pa.types.is_floating(col.type):
                nans = pc.sum(pc.is_nan(col)).as_py() or 0
                if nans == n:
                    lo = hi = math.nan
                elif nans:
                    hi = math.nan
            entry[c] = [lo, hi]
        if pa.types.is_integer(col.type):
            entry[f"__sum_{c}"] = (
                int(pc.sum(pc.cast(col, pa.decimal128(38, 0))).as_py()) if n else None
            )
            entry[f"__nulls_{c}"] = col.null_count
    return entry


#: ceiling for the DRIVER passes of a write: the Arrow bytes a small
#: batch may be collected into for a driver-written file, and the listed
#: bytes of a Spark-written write whose files are read back for stats
#: on the driver. Writes above it — the actual at-scale case — take the
#: Spark write, and one Spark job's tasks read their files back.
_DRIVER_STATS_MAX_BYTES = 16 * 1024 * 1024


#: Arrow bytes of one value of each FIXED-width leaf type a
#: driver-written parquet file encodes exactly as Spark's writer does
#: (checked type by type: equal footer fingerprints, equal read-back
#: rows). Strings and binary (:data:`_VAR_LEAVES`) encode exactly too
#: and cost an offset plus their payload. UDTs (ML vectors), intervals,
#: variant, void and char/varchar are absent and take the Spark write.
_LEAF_BYTES = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.LongType: 8, T.FloatType: 4, T.DoubleType: 8, T.DecimalType: 16,
    T.DateType: 4, T.TimestampType: 8, T.TimestampNTZType: 8,
}
_VAR_LEAVES = (T.StringType, T.BinaryType)

#: the variable-length Arrow bytes (string/binary payloads, array and
#: map contents) one row may carry on the driver-write path; a batch
#: with a wider row takes the Spark write. With it every collected row
#: has a known ceiling, so the prefix a driver write collects is
#: bounded in BYTES, not only in rows.
_DRIVER_VAR_ROW_BYTES = 1024


#: spark.sql.parquet.compression.codec -> Spark's file name infix; the
#: codec name is pyarrow's too. Other codecs take the Spark write.
_PA_CODECS = {"snappy": ".snappy", "gzip": ".gz", "zstd": ".zstd", "none": ""}


def _driver_write_plan(spark: SparkSession, schema) -> dict | None:
    """The ``pq.write_table`` options under which a pyarrow file of
    ``schema`` is what Spark's parquet writer would emit in this session
    — or None when no such options exist and the write must go through
    Spark. Decided from the schema and the writer confs alone, before
    any data moves:

    - every leaf type is in :data:`_LEAF_BYTES` or :data:`_VAR_LEAVES`
      and no struct level has duplicate (case-insensitive) names, which
      Spark's write refuses;
    - the codec maps (:data:`_PA_CODECS`) and the legacy (Hive) layout
      is off;
    - dates and timestamps are written without calendar rebasing;
    - ``timestamp`` follows ``spark.sql.parquet.outputTimestampType``:
      INT96 (the default) needs pyarrow's
      ``use_deprecated_int96_timestamps``, which would also turn a
      ``timestamp_ntz`` into a ``timestamp``, so a schema holding both
      kinds (nested ones included) takes the Spark write;
      TIMESTAMP_MILLIS takes it too."""
    kinds: set = set()

    def supported(dt) -> bool:
        if isinstance(dt, T.StructType):
            names = [f.name.lower() for f in dt.fields]
            return len(set(names)) == len(names) and all(
                supported(f.dataType) for f in dt.fields
            )
        if isinstance(dt, T.ArrayType):
            return supported(dt.elementType)
        if isinstance(dt, T.MapType):
            return supported(dt.keyType) and supported(dt.valueType)
        kinds.add(type(dt))
        return type(dt) in _LEAF_BYTES or type(dt) in _VAR_LEAVES

    if not supported(schema):
        return None
    conf = spark.conf
    codec = conf.get("spark.sql.parquet.compression.codec").lower()
    codec = "none" if codec == "uncompressed" else codec
    if codec not in _PA_CODECS or conf.get("spark.sql.parquet.writeLegacyFormat") == "true":
        return None
    int96 = False
    if kinds & {T.DateType, T.TimestampType, T.TimestampNTZType}:
        for k in ("datetimeRebaseModeInWrite", "int96RebaseModeInWrite"):
            if conf.get(f"spark.sql.parquet.{k}") != "CORRECTED":
                return None
    if T.TimestampType in kinds:
        out = conf.get("spark.sql.parquet.outputTimestampType")
        if out == "INT96" and T.TimestampNTZType not in kinds:
            int96 = True
        elif out != "TIMESTAMP_MICROS":
            return None
    return {"compression": codec, "use_deprecated_int96_timestamps": int96}


def _arrow_bytes(c, dt):
    """(fixed, variable) Arrow bytes of the value ``c`` of a type
    :func:`_driver_write_plan` accepts: the fixed part an int, the
    variable part — string/binary payloads, array and map contents — a
    Column that counts a null as 0, or None for a fixed-width type."""
    from pyspark.sql import functions as F

    if isinstance(dt, T.StructType):
        parts = [_arrow_bytes(c.getField(f.name), f.dataType) for f in dt.fields]
        var = [v for _, v in parts if v is not None]
        return sum(f for f, _ in parts), (functools.reduce(operator.add, var) if var else None)
    if isinstance(dt, (T.ArrayType, T.MapType)):
        arrays = (
            [(c, dt.elementType)] if isinstance(dt, T.ArrayType)
            else [(F.map_keys(c), dt.keyType), (F.map_values(c), dt.valueType)]
        )
        # F.aggregate builds its merge lambda on the spot, so ``e`` is
        # this element type
        var = [
            F.coalesce(
                F.aggregate(a, F.lit(0).cast("bigint"), lambda acc, x: acc + _value_bytes(x, e)),
                F.lit(0),
            )
            for a, e in arrays
        ]
        return 4, functools.reduce(operator.add, var)
    if type(dt) in _VAR_LEAVES:
        return 4, F.coalesce(F.octet_length(c), F.lit(0))
    return _LEAF_BYTES[type(dt)], None


def _value_bytes(c, dt):
    """All Arrow bytes of the value ``c`` of type ``dt`` (an int or a
    Column; see :func:`_arrow_bytes`)."""
    fixed, var = _arrow_bytes(c, dt)
    return fixed if var is None else var + fixed


def _write_table_file(
    spark: SparkSession, t, schema, root: str, sub: str, opts: dict
) -> tuple[str, int]:
    """Land the Arrow table ``t`` as ``<sub>/part-00000-<uuid>-c000….parquet``
    under ``root`` with ``pq.write_table`` options ``opts`` (from
    :func:`_driver_write_plan`), carrying the row-schema and version
    metadata Spark's writer stamps; returns (relative path, bytes). No
    ``ARROW:schema`` is stored, so readers see only the parquet types,
    as with a Spark-written file. The bytes go through
    :func:`fsio.write_bytes`, which resolves the destination."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    name = f"part-00000-{uuid.uuid4()}-c000{_PA_CODECS[opts['compression']]}.parquet"
    buf = pa.BufferOutputStream()
    pq.write_table(
        t.replace_schema_metadata({
            "org.apache.spark.version": spark.version,
            "org.apache.spark.sql.parquet.row.metadata": schema.json(),
        }),
        buf, store_schema=False, **opts,
    )
    data = buf.getvalue()
    fsio.write_bytes(spark, f"{root}/{sub}/{name}", data)
    return f"{sub}/{name}", data.size


def _driver_batch(df: DataFrame):
    """The whole batch as ONE in-memory Arrow table plus its write
    options, when a driver-written file can match Spark's
    (:func:`_driver_write_plan`) and the batch fits
    :data:`_DRIVER_STATS_MAX_BYTES`; else None (the Spark write).

    The collect is ONE Spark job over a prefix bounded in bytes: ``k + 1``
    rows, ``k`` = the cap over a row's ceiling — its fixed Arrow bytes,
    plus :data:`_DRIVER_VAR_ROW_BYTES` when the schema has variable-
    length parts. Those parts are measured per row inside the job
    (:func:`_arrow_bytes`); a row over the ceiling ships with them
    nulled and a flag set, so no collected row exceeds it and the
    driver holds at most about the cap. A ``k + 1``-th row, a flagged
    row, or Arrow bytes over the cap mean the batch is too big, and the
    caller writes it through Spark after all."""
    from pyspark.sql import functions as F

    opts = _driver_write_plan(df.sparkSession, df.schema)
    if opts is None:
        return None
    fields = df.schema.fields
    cols = [F.col("`" + f.name.replace("`", "``") + "`") for f in fields]
    sizes = [_arrow_bytes(c, f.dataType) for c, f in zip(cols, fields)]
    var = [v for _, v in sizes if v is not None]
    row = sum(fixed for fixed, _ in sizes)
    probe, flag = df, None
    if var:
        row += _DRIVER_VAR_ROW_BYTES
        big = functools.reduce(operator.add, var) > _DRIVER_VAR_ROW_BYTES
        flag = "__oversize"
        while flag.lower() in {c.lower() for c in df.columns}:
            flag += "_"
        probe = df.select(
            *[
                c if v is None else F.when(~big, c).alias(f.name)
                for c, f, (_, v) in zip(cols, fields, sizes)
            ],
            big.alias(flag),
        )
    k = _DRIVER_STATS_MAX_BYTES // max(1, row)
    if k < 1:
        return None
    t = probe.limit(k + 1).toArrow()
    if t.num_rows > k or t.nbytes > _DRIVER_STATS_MAX_BYTES:
        return None
    if flag is not None:
        import pyarrow as pa
        import pyarrow.compute as pc

        if pc.any(t[flag]).as_py():
            return None
        t = t.drop_columns([flag])
        # the nulling projection made every variable column nullable
        t = t.cast(pa.schema([
            a.with_nullable(f.nullable) for a, f in zip(t.schema, fields)
        ]))
    return t, opts


def _norm_pcols(partition_by) -> list[str]:
    """Normalize a partition declaration (str | list[str] | None) to a
    column list — multi-column Hive layouts (``date=…/region=…``) are a
    list, the historical single-column form stays accepted everywhere."""
    if partition_by is None:
        return []
    if isinstance(partition_by, str):
        return [partition_by]
    return list(partition_by)


def _write_data_files(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    partition_by: str | list[str] | None = None,
    collect_stats: bool = True,
    single_file: bool = False,
    rebalance: bool = False,
    driver: bool = False,
) -> tuple[list[str], dict]:
    """Write ``df`` into an immutable uniquely-named data directory and
    return (part files as relative paths, per-file stats). Files are
    never rewritten or renamed after this — manifests may share them
    across versions. With ``partition_by`` (one column or a list) the
    directory is Hive-layout (nested ``col=val`` subdirs in declaration
    order); the partition values are recoverable from each file's
    relative path, so manifests need no extra field.

    Every per-file stats entry comes from one kernel,
    :func:`_table_stats` (``__rows``, min/max per stats column, exact
    sums and null counts for integer columns, ``__bytes`` added here).
    A driver-written file takes it from the in-memory table; a
    Spark-written write reads its listed files back on the driver when
    their bytes fit :data:`_DRIVER_STATS_MAX_BYTES`, else in one Spark
    job with a task per file.

    ``collect_stats=False`` skips the stats read-back entirely and
    returns ``(files, {})`` — for AUXILIARY files that never enter a
    manifest's ``stats`` map (MoR equality-delete key files, DV
    position files): their callers discarded the dict anyway, so the
    stats read was pure overhead (guide §1.2: don't compute things you
    throw away).

    ``single_file=True`` lands the batch as ONE right-sized output file
    — guide §6: a kilobyte-scale batch sprayed over 32 shuffle
    partitions is the small-files anti-pattern — which also makes the
    stats read-back a single-file read. repartition(1),
    NOT coalesce(1): coalesce collapses the whole upstream computation
    (scan, joins) into the single write task — measured 28% SLOWER on
    dv_delete, whose upstream is a pruned find scan; the exchange moves
    only the final (small) rows and the compute stays parallel (guide
    §2.4 — an exchange that buys the layout is the one exchange the
    write needs anyway). NOTE an ``observe()``-carried stats variant was
    measured here and REVERTED: on Spark 4.1.2 any completed Observation
    leaves session state that later breaks closure cleaning in unrelated
    queries ("Task not serializable" in pyspark.ml fits) — the
    generalization of the repo's ObservationManager-through-
    localCheckpoint lesson. Do not reintroduce observe() anywhere.

    ``rebalance=True`` is the SCALE-ADAPTIVE variant of ``single_file``
    (r14 verdict: a forced ``repartition(1)`` funnels an unbounded
    payload through one task): an AQE REBALANCE hint sizes the output
    partitions from the actual shuffle bytes, so a multi-GB batch splits
    into right-sized files with the write staying parallel (guide §2:
    derive partitioning from input size, not a constant). Used by the
    DV position writes, whose matched-row payload is unknown before the
    write by design (the one-pass find), and by the streaming sinks.
    The hint needs AQE: where AQE is off — it is in every foreachBatch
    frame of a STATEFUL streaming query, which Spark runs without AQE —
    the hint is a plain round-robin exchange into
    ``spark.sql.shuffle.partitions`` files.

    DRIVER WRITE (``driver=True``, unpartitioned only): ONE Spark job
    collects a byte-bounded prefix of the batch as Arrow
    (:func:`_driver_batch`); when the whole batch fits
    :data:`_DRIVER_STATS_MAX_BYTES` (and no row carries more than
    :data:`_DRIVER_VAR_ROW_BYTES` of variable-length data) it lands as
    ONE pyarrow-written file in the same ``data-<uuid>/part-….parquet``
    layout, with its stats taken from the in-memory table
    (:func:`_table_stats`) — no Spark write job (task, commit-protocol
    renames, ``_SUCCESS``, listing) and no stats read-back. The file is
    the one Spark would write: equal footer schema fingerprint (driver-
    and Spark-written groups still coalesce into one scan leg), same
    types read back, Spark's row metadata; ``timestamp`` columns go
    INT96 under Spark's default ``outputTimestampType``, and a schema
    holding both timestamp kinds takes the Spark write (see
    :func:`_driver_write_plan`). One file per small commit holds with
    AQE off too. A batch over the cap and a schema or conf the driver
    file cannot match take the Spark write below, unchanged, AFTER the
    prefix job — which re-runs the batch's upstream. So only callers
    whose batch is already materialized (a persisted frame) or whose
    parent paid an equal probe anyway (the streaming sink's emptiness
    check) pass ``driver=True``; a COW rewrite or a query-body append,
    whose over-cap upstream would run twice, does not."""
    pcols = _norm_pcols(partition_by)
    small = _driver_batch(df) if driver and not pcols else None
    return _write_batch(
        df, small, root, stats_cols, pcols, collect_stats, single_file, rebalance
    )


def _write_batch(
    df: DataFrame,
    small,
    root: str,
    stats_cols: list[str] | None,
    pcols: list[str],
    collect_stats: bool,
    single_file: bool,
    rebalance: bool,
) -> tuple[list[str], dict]:
    """:func:`_write_data_files` once the driver-write decision is made:
    ``small`` is :func:`_driver_batch`'s (table, options) to land as one
    driver-written file, or None for the Spark write."""
    spark = df.sparkSession
    sub = f"data-{uuid.uuid4().hex[:12]}"
    if small is not None:
        t, opts = small
        rel, nbytes = _write_table_file(spark, t, df.schema, root, sub, opts)
        if not collect_stats:
            return [rel], {}
        entry = _table_stats(t, stats_cols or [])
        entry["__bytes"] = nbytes
        return [rel], {rel: entry}
    if single_file and not pcols:
        df = df.repartition(1)
    elif rebalance and not pcols:
        df = df.hint("rebalance")
    writer = df.write
    if pcols:
        writer = writer.partitionBy(*pcols)
    writer.parquet(f"{root}/{sub}")
    # ONE recursive listing returns paths AND byte lengths (the AddFile
    # size every table format records) — per-file getFileStatus round
    # trips after the listing were profiled overhead
    listed = [
        (f"{sub}/{f}", n)
        for f, n in fsio.list_files_with_sizes(spark, f"{root}/{sub}")
        if f.endswith(".parquet")
    ]
    files = [f for f, _ in listed]
    if not collect_stats:
        return files, {}
    # Partition columns never reach leaf-file schemas (they live only
    # in the col=val path segments), so a stats read on them would raise;
    # pruning on them rides path values in read_snapshot_pruned anyway
    # (r9 ADVICE).
    if pcols and stats_cols:
        stats_cols = [c for c in stats_cols if c not in pcols]
    return files, _listed_stats(spark, root, listed, stats_cols or [])


def _listed_stats(
    spark: SparkSession, root: str, listed: list[tuple[str, int]], stats_cols: list[str]
) -> dict:
    """The stats step of a Spark write: one entry per listed
    ``(relpath, bytes)`` through the one kernel (:func:`_single_file_stats`),
    keyed by the listed on-disk path. Listed bytes that fit
    :data:`_DRIVER_STATS_MAX_BYTES` are read back on the driver from the
    page cache (no Spark job; the streaming sinks commit one write per
    micro-batch); larger writes are read in ONE Spark job, a task per
    file. A zero-row dynamic-partition write lists no file and commits
    the harmless empty version (r9 ADVICE; st27's sink relies on it).
    ``__bytes`` is the AddFile size every table format records, which
    lets compact_small bin-pack from the manifest."""
    files = [f for f, _ in listed]
    if sum(n for _, n in listed) <= _DRIVER_STATS_MAX_BYTES:
        stats = {f: _single_file_stats(root, f, stats_cols) for f in files}
    else:
        stats = dict(
            spark.sparkContext.parallelize(files, len(files))
            .map(lambda f: (f, _single_file_stats(root, f, stats_cols)))
            .collect()
        )
    for f, nbytes in listed:
        stats[f]["__bytes"] = nbytes
    return stats


def _check_partition_spec(
    parent_manifest: dict,
    partition_by: str | list[str] | None,
    allow_change: bool = False,
) -> list[str] | None:
    """A table's declared partition column is part of its contract: an
    append must match the parent's spec exactly (None on an unpartitioned
    table), else file layouts diverge and partition pruning turns
    unsound. Overwrites redefine the table and may change the spec.
    ``allow_change=True`` is partition-spec EVOLUTION (Iceberg): the
    append re-declares the manifest spec while old files keep their old
    layout — legal only when a layer above owns mixed-spec planning
    (operators/transforms.py prunes each file through the spec that
    wrote it; plain read_snapshot_pruned would be conservative, not
    wrong, since files without the new column's segment fall back to
    stats/keep)."""
    parent_spec = parent_manifest.get("partition_spec")
    new_spec = _norm_pcols(partition_by) or None
    if parent_manifest and parent_spec != new_spec and not allow_change:
        raise SchemaMismatchError(
            f"partition spec mismatch: table has {parent_spec}, append has {new_spec}"
        )
    return new_spec


# Manifest ops a blind append COMMUTES with: the published content is by
# definition (whatever the table holds) + (batch rows), so an intervening
# commit of these kinds just re-parents the append (Delta: blind appends
# don't read, so AddFile-only and data-change commits never conflict with
# them). Anything else — overwrite, compaction's layout replace,
# replace-partitions, rollback — REDEFINES the reference set in a way an
# "add to the table as it was" intent is ambiguous over, so the retry
# aborts and surfaces the conflict (Delta aborts these classes too).
_APPEND_COMMUTES_WITH = frozenset({"append", "merge", "mor-delete", "wap-publish"})


def append(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    evolve: bool = False,
    txn: str | None = None,
    partition_by: str | list[str] | None = None,
    max_retries: int = 3,
    hidden_partition: bool = False,
    allow_spec_change: bool = False,
    single_file: bool = False,
    rebalance: bool = False,
) -> int:
    """Commit a new version = parent's files + ``df``'s new files.

    ``single_file=True`` is optimize-write for small batches: the batch
    lands as ONE right-sized file (guide §6 — a kilobyte-scale batch
    sprayed over 32 shuffle partitions is the small-files anti-pattern
    twice over), which also turns the stats read-back into a
    single-task, single-footer job. Layout-sensitive callers (planted
    shard layouts, range clustering) simply don't pass it.
    ``rebalance=True`` is the SCALE-ADAPTIVE variant for unbounded
    payloads (streaming sinks whose batch size is workload-determined):
    an AQE REBALANCE hint sizes output files from the actual shuffle
    bytes — right-sized parallel files for a large batch; with AQE off
    (stateful streams) the hint spreads a batch over
    ``spark.sql.shuffle.partitions`` files. This is always the Spark
    write; the streaming sink commits small batches as driver-written
    files through the private :func:`_append` (see
    :func:`_write_data_files`).
    Parent files keep their recorded stats; new files add theirs. The
    batch's schema is enforced against the table's recorded schema:
    drift raises :class:`SchemaMismatchError` unless ``evolve=True``,
    which records the merged schema (added columns appended; reads
    reconcile heterogeneous files with NULLs — Delta mergeSchema
    semantics). Type changes are refused unconditionally.

    ``txn`` is an idempotence token recorded in the manifest (Delta's
    ``txn``/``setTransaction`` action): a writer that may retry the
    same logical batch checks :func:`txn_version` first and skips the
    commit if its token already landed — exactly-once for streaming
    foreachBatch sinks whose batch id is replayed on recovery.

    Optimistic concurrency (Delta's commit loop): the data files are
    written ONCE — they are conflict-free by construction (fresh uuid
    dir) — and only the manifest commit retries. On losing the race,
    the intervening commits are classified: append-family ops
    (:data:`_APPEND_COMMUTES_WITH`) commute with a blind append, so the
    writer re-reads the new latest, re-validates schema + partition
    spec and re-parents — both racing appends land, in either order.
    A non-commuting intervening op (overwrite/replace/rollback) aborts
    with :class:`ConcurrentCommitError` carrying the conflicting op.

    ``hidden_partition=True`` (used by operators/transforms.py —
    Iceberg hidden partitioning) records the table schema WITHOUT the
    partition column: the column is a derived transform value that
    lives only in the ``col=val`` path segments, and readers drop it by
    schema projection — user queries never see or mention it."""
    if txn is not None and txn_version(df.sparkSession, root, txn) is not None:
        raise ValueError(f"txn {txn!r} already committed; check txn_version first")
    return _append(
        df, root, stats_cols, evolve, txn, partition_by, max_retries,
        hidden_partition, allow_spec_change, single_file, rebalance,
    )


def _append(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    evolve: bool = False,
    txn: str | None = None,
    partition_by: str | list[str] | None = None,
    max_retries: int = 3,
    hidden_partition: bool = False,
    allow_spec_change: bool = False,
    single_file: bool = False,
    rebalance: bool = False,
    driver: bool = False,
    skip_empty: bool = False,
) -> int | None:
    """:func:`append` without its duplicate-``txn`` guard: write the
    data files, then run the commit loop. For a caller that already
    checked the token (the streaming sink scans the retained manifests
    once per batch, not twice). ``driver`` tries the driver write of
    :func:`_write_data_files`. ``skip_empty`` returns None and writes
    and commits nothing when the batch has no rows — told by the driver
    write's own collect, so it costs no probe job unless the batch takes
    the Spark write."""
    spark = df.sparkSession
    pcols = _norm_pcols(partition_by)
    small = _driver_batch(df) if driver and not pcols else None
    if skip_empty and (small[0].num_rows == 0 if small is not None else df.isEmpty()):
        return None
    schema_df = df.drop(*pcols) if hidden_partition and pcols else df

    def head(parent: int) -> tuple[dict, bool]:
        """Parent view for the schema/spec checks + whether the SHARD-
        LAZY commit applies (r13 verdict task 2): a delta-record parent
        with no pending MoR deletes means a blind append never needs the
        parent's file list at all — its head fields (one O(commit) raw
        read) are enough, and the commit is a direct delta write. A
        full-manifest parent costs the same read either way; pending
        deletes need the full seqs rebuild — both take the legacy path."""
        if not parent:
            return {}, False
        fields, is_delta = _parent_head(spark, root, parent)
        if is_delta and not fields.get("deletes"):
            return fields, True
        return _read_manifest(spark, root, parent), False

    parent = latest_version(spark, root)
    m, lazy = head(parent)
    spec = _check_partition_spec(m, partition_by, allow_spec_change)
    schema = _merged_schema(m.get("schema"), _schema_list(schema_df), evolve)
    _enforce_constraints(df, root)
    files, stats = _write_batch(
        df, small, root, stats_cols, pcols, True, single_file, rebalance
    )
    last_err: Exception | None = None
    for attempt in range(max(1, max_retries)):
        if attempt:  # lost a race: re-read, classify, re-parent
            new_parent = latest_version(spark, root)
            for v in range(parent + 1, new_parent + 1):
                op = _manifest_base_field(spark, root, v, "op") or ""
                if op not in _APPEND_COMMUTES_WITH:
                    raise ConcurrentCommitError(
                        f"append lost to a non-commuting {op!r} commit "
                        f"(version {v}); re-run against the new table state"
                    ) from last_err
            parent = new_parent
            m, lazy = head(parent)
            spec = _check_partition_spec(m, partition_by, allow_spec_change)
            schema = _merged_schema(m.get("schema"), _schema_list(schema_df), evolve)
        try:
            if lazy:
                return _commit_delta(
                    spark, root, parent, "append", files, stats,
                    schema=schema, txn=txn, partition_spec=spec,
                )
            return _commit(
                spark,
                root,
                m.get("files", []) + files,
                "append",
                parent,
                {**m.get("stats", {}), **stats},
                schema,
                txn=txn,
                partition_spec=spec,
                extra=_mor_extra(m, files, parent + 1),
            )
        except ConcurrentCommitError as ex:
            last_err = ex
    raise last_err  # type: ignore[misc]


def txn_version(spark: SparkSession, root: str, txn: str) -> int | None:
    """Version that recorded idempotence token ``txn``, or None.

    O(retained manifests) metadata reads — at 100 TB the scan is over
    small JSON files, and a long-lived writer caches the answer: a
    token is immutable once committed. Retention caveat (same as
    Delta's setTransaction): vacuum drops expired manifests and their
    tokens with them, so a replay arriving LATER than the vacuum
    horizon would re-commit — keep the vacuum window longer than any
    possible stream-recovery gap."""
    for v in reversed(_manifest_versions(spark, root)):
        if _manifest_base_field(spark, root, v, "txn") == txn:
            return v
    return None


def overwrite(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    txn: str | None = None,
    partition_by: str | list[str] | None = None,
    hidden_partition: bool = False,
    single_file: bool = False,
    rebalance: bool = False,
) -> int:
    """Commit a new version referencing ONLY ``df``'s files. The
    replaced files stay on disk, reachable through older manifests —
    that is what makes time travel free. An overwrite redefines the
    table, so it records ``df``'s schema wholesale (Delta's
    overwriteSchema path). ``txn`` is the same idempotence token as
    :func:`append`'s — a read-merge-overwrite maintainer records its
    batch id so a replayed batch is provably skippable. ``single_file``
    is :func:`append`'s optimize-write for contractually small tables
    (e.g. a groups-bounded MV maintained by read-merge-overwrite);
    ``rebalance`` its scale-adaptive variant for grain-sized tables
    whose grain is workload-determined."""
    spark = df.sparkSession
    if txn is not None and txn_version(spark, root, txn) is not None:
        raise ValueError(f"txn {txn!r} already committed; check txn_version first")
    parent = latest_version(spark, root)
    _enforce_constraints(df, root)
    files, stats = _write_data_files(
        df, root, stats_cols, partition_by,
        single_file=single_file, rebalance=rebalance,
    )
    pcols = _norm_pcols(partition_by)
    schema_df = df.drop(*pcols) if hidden_partition and pcols else df
    return _commit(
        spark,
        root,
        files,
        "overwrite",
        parent,
        stats,
        _schema_list(schema_df),
        txn=txn,
        partition_spec=_norm_pcols(partition_by) or None,
    )


def version_as_of(spark: SparkSession, root: str, ts: float) -> int:
    """Resolve a timestamp to the newest RETAINED version with
    ``committed_at <= ts`` — the ``TIMESTAMP AS OF`` half of the
    time-travel contract (``committed_at`` has been in every manifest
    since v1 of this layer). Refused when no retained version is old
    enough: either ``ts`` predates the table, or the versions that were
    current at ``ts`` have been vacuumed — both mean the requested state
    is not reconstructible, and a silent "nearest newer" answer would be
    wrong (Delta raises the same way)."""
    best = None
    for v in _manifest_versions(spark, root):
        if _manifest_base_field(spark, root, v, "committed_at") <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no retained version committed at or before ts={ts} "
            "(timestamp predates the table or the version was vacuumed)"
        )
    return best


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read the table as of ``version`` (VERSION AS OF), or as of epoch
    timestamp ``as_of_ts`` (TIMESTAMP AS OF; resolved via
    :func:`version_as_of`), default latest. Plans from the manifest's
    explicit file list — no directory listing."""
    if version is not None and as_of_ts is not None:
        raise ValueError("pass version or as_of_ts, not both")
    if as_of_ts is not None:
        version = version_as_of(spark, root, as_of_ts)
    v = latest_version(spark, root) if version is None else version
    m = _read_manifest(spark, root, v)
    if not m["files"]:
        raise ValueError(f"version {v} is empty")
    return _live_view(spark, root, m, m["files"])


def _project_to_schema(
    df: DataFrame, schema: list[list[str]], keep: tuple = ()
) -> DataFrame:
    """Column-mapping resolution per entry: current logical name first,
    then its alias chain (a file written before a rename stores the
    column under a former name — one write's files are name-uniform, so
    per-group resolution is exact); files lacking the column entirely
    materialize the declared default (Iceberg initial-default) or a
    typed NULL. Dropped entries are skipped: the physical bytes stay in
    old files, no reader sees them. ``keep`` appends extra physical
    columns verbatim (the change-feed reader's ``_change_type``)."""
    from pyspark.sql import functions as F

    cols = []
    for e in schema:
        meta = _entry_meta(e)
        if meta.get("dropped"):
            continue
        n, t = e[0], e[1]
        src = next(
            (c for c in (n, *meta.get("aliases", ())) if c in df.columns),
            None,
        )
        if src is not None:
            cols.append(F.col(src).cast(t).alias(n))
        elif "default" in meta:
            cols.append(F.lit(meta["default"]).cast(t).alias(n))
        else:
            cols.append(F.lit(None).cast(t).alias(n))
    cols.extend(F.col(c) for c in keep)
    return df.select(*cols)


def _dv_rel_expr(root: str):
    """Column expression recovering a row's MANIFEST-RELATIVE file path
    from the carried ``__dv_path`` (a url-decoded ``_metadata.file_path``
    URI): scheme-strip to a bare absolute path, then cut the table
    root's prefix. The manifest-relative spelling is the deletion-vector
    join key — absolute URIs must never be persisted (roots move; the
    input_file_name() escaping lesson). Local roots compare against
    ``os.path.abspath``; ``scheme://`` roots against ``/netloc/path``."""
    import os
    import posixpath
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    if "://" in root:
        u = urlparse(root)
        prefix = f"/{u.netloc}{posixpath.normpath(u.path)}"
    else:
        prefix = os.path.abspath(root)
    stripped = F.regexp_replace(
        F.col("__dv_path"), r"^[A-Za-z][A-Za-z0-9+.\-]*:/+", "/"
    )
    # 1-indexed substring: skip the prefix and its trailing slash
    return F.substring(stripped, len(prefix) + 2, 2147483647)


def _read_files(
    spark: SparkSession,
    root: str,
    files: list[str],
    schema: list[list[str]] | None,
    partition_spec: list[str] | None = None,
    keep_pos: bool = False,
) -> DataFrame:
    """Plan a read over manifest-listed files. With a recorded table
    schema the files may be heterogeneous (schema evolution):
    mergeSchema unions the footers, columns absent from EVERY planned
    file are materialized as typed NULLs, and the projection is pinned
    to the manifest's column order (and cast to its types — Hive-layout
    partition values are strings on disk and must come back as the
    declared type) — so every reader sees the table schema regardless
    of which files survived pruning.

    Files are grouped per data DIRECTORY (= per write) and each group
    is cast to the declared schema BEFORE the union: one write's files
    share a physical schema BY CONSTRUCTION (each group is the part
    files of exactly one ``_write_data_files`` call), while ACROSS
    groups the physical types may legitimately differ after a
    type-widening evolution (int files under a now-bigint column) —
    Spark's footer merge refuses int-vs-long, the per-group cast
    reconciles it. Because a group is schema-uniform, the read plans
    WITHOUT ``mergeSchema``: one footer describes the group, whereas
    ``mergeSchema=true`` launched a distributed footer-merge job per
    group per read — pure overhead measured at ~0.2-0.4 s per group on
    the bench (r14 optimization; the union/cast semantics are
    unchanged). Partitioned groups carry their own ``basePath`` (how
    Spark reconstitutes ``col=val`` path values as columns). The union
    is over O(retained commits) groups, bounded by compaction — and
    groups whose PHYSICAL footer schemas are identical (checked via one
    memoized footer per immutable dir) coalesce into one scan leg (r15),
    so an unevolved table reads as a single multi-path scan however
    many commits built it.

    ``keep_pos`` carries each row's physical identity — ``__dv_path``
    (url-decoded ``_metadata.file_path``) and ``__dv_pos``
    (``_metadata.row_index``) — through the projection: the deletion-
    vector read/write path (Delta DVs / Iceberg positional deletes).
    Generated per split by the parquet reader, zero shuffle."""
    from pyspark.sql import functions as F

    def with_pos(df: DataFrame) -> DataFrame:
        if not keep_pos:
            return df
        return df.withColumn(
            "__dv_path", F.url_decode(F.col("_metadata.file_path"))
        ).withColumn("__dv_pos", F.col("_metadata.row_index"))

    if schema is None:
        return with_pos(spark.read.parquet(*[f"{root}/{f}" for f in files]))

    def dkey(f: str) -> str:
        segs = f.split("/")
        for i, s in enumerate(segs):
            if s.startswith("data-"):
                return "/".join(segs[: i + 1])  # branch refs keep ../../ prefix
        return segs[0]

    groups: dict[str, list[str]] = {}
    for f in files:
        groups.setdefault(dkey(f), []).append(f)

    keep = ("__dv_path", "__dv_pos") if keep_pos else ()

    def cast_to_schema(df: DataFrame) -> DataFrame:
        return _project_to_schema(df, schema, keep=keep)

    # COALESCE SAME-SCHEMA GROUPS into one multi-path scan (r15): a
    # table built from K small commits otherwise plans K scan legs + a
    # K-way union per read — O(K) driver-side analysis and a K-leg
    # physical plan where one leg suffices (x141's 35-commit probes
    # measured ~2 s per read in pure plan assembly). Two groups may be
    # read as one EXACTLY when their physical footer schemas are equal
    # (within a group that holds BY CONSTRUCTION; across groups it is
    # checked against one memoized footer per immutable data dir) —
    # type-widened or renamed eras fingerprint differently and keep
    # their own leg, so the per-group cast still reconciles them.
    # Partitioned tables keep per-group reads: each group carries its
    # own basePath, and a merged read would need partition discovery
    # across unrelated data-* dirs.
    parts = []
    if partition_spec:
        for sub, fl in sorted(groups.items()):
            parts.append(
                cast_to_schema(with_pos(_group_read(spark, root, sub, fl, True)))
            )
    else:
        by_schema: dict[str, list[tuple[str, list[str]]]] = {}
        for sub, fl in sorted(groups.items()):
            fp = _group_schema_fingerprint(root, sub, sorted(fl)[0])
            by_schema.setdefault(fp, []).append((sub, fl))
        for gs in by_schema.values():
            sub_key = "|".join(sub for sub, _ in gs)
            files_all = [f for _, fl in gs for f in fl]
            parts.append(
                cast_to_schema(
                    with_pos(_group_read(spark, root, sub_key, files_all, False))
                )
            )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


# (root, data dir) -> physical footer schema fingerprint. Data dirs are
# immutable after _write_data_files (the _READ_MEMO argument), so one
# footer read per dir per process suffices; wipe-rebuilt roots get fresh
# uuid dir names, so a stale entry is unreachable.
_GROUP_SCHEMA_MEMO: dict[tuple, str] = {}
_GROUP_SCHEMA_MEMO_MAX = 4096


def _group_schema_fingerprint(root: str, sub: str, one_file: str) -> str:
    """Physical schema fingerprint of a write group, from ONE member
    footer (groups are schema-uniform by construction) via pyarrow on
    the driver — metadata stripped, so only names/types/nullability
    distinguish eras."""
    key = (root, sub)
    hit = _GROUP_SCHEMA_MEMO.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    fs, path = fsio._pa_fs(f"{root}/{one_file}")
    fp = str(pq.read_schema(path, filesystem=fs).remove_metadata())
    if len(_GROUP_SCHEMA_MEMO) >= _GROUP_SCHEMA_MEMO_MAX:
        for k in list(_GROUP_SCHEMA_MEMO)[: _GROUP_SCHEMA_MEMO_MAX // 2]:
            del _GROUP_SCHEMA_MEMO[k]
    _GROUP_SCHEMA_MEMO[key] = fp
    return fp


# Analyzed per-group DataFrame memo: data dirs are IMMUTABLE (files are
# never rewritten or renamed after _write_data_files), so the resolved
# relation for an exact (dir, file tuple) is safely reusable within its
# session — the same lesson as catalog._TABLE_MEMO: repeated
# spark.read.parquet of the same files re-lists and re-reads footers on
# EVERY call, and a snapshot query that plans the same version several
# times (live view, find pass, pre/post comparison) paid that driver-side
# analysis each time. Hidden _metadata columns stay selectable from the
# memoized relation (selected lazily by keep_pos readers). Entries for
# stopped sessions purge on access; vacuumed files can only be referenced
# through manifests that no longer exist, so a stale entry is unreachable.
_READ_MEMO: dict[tuple, tuple] = {}
_READ_MEMO_MAX = 512


def _group_read(
    spark: SparkSession, root: str, sub: str, fl: list[str], has_spec: bool
) -> DataFrame:
    key = (id(spark), root, sub, tuple(fl), has_spec)
    hit = _READ_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    rd = spark.read
    if has_spec:
        rd = rd.option("basePath", f"{root}/{sub}")
    df = rd.parquet(*[f"{root}/{f}" for f in fl])
    if len(_READ_MEMO) >= _READ_MEMO_MAX:
        for k in list(_READ_MEMO)[: _READ_MEMO_MAX // 2]:
            del _READ_MEMO[k]
    _READ_MEMO[key] = (spark, df)
    return df


def _all_data_refs(m: dict) -> set[str]:
    """Every data file a manifest keeps alive: the row files in
    ``files``, the equality-delete key files of pending MoR deletes,
    and the version's recorded change-feed files — all must survive
    vacuum/GC for the version (and its slice of the feed) to stay
    readable."""
    refs = set(m.get("files", []))
    for e in m.get("deletes", []) or []:
        refs.update(e["files"])
    refs.update(m.get("change_files", []) or [])
    return refs


def _carry_mor(
    extra: dict, m: dict, untouched: list[str], files: list[str], version: int
) -> None:
    """Carry pending deletes through a PARTIAL rewrite (merge /
    delete_where / update_where): untouched files keep their seqs, the
    rewritten files take this commit's seq (above every pending
    equality delete — the companion-insert rule). A DV-only parent
    carries just the entry list (see :func:`_mor_extra`)."""
    if not (m.get("deletes") and untouched):
        return
    extra["deletes"] = m["deletes"]
    if m.get("seqs") or any(not e.get("pos") for e in m["deletes"]):
        seqs = {f: int(m.get("seqs", {}).get(f, 0)) for f in untouched}
        seqs.update({f: version for f in files})
        extra["seqs"] = seqs


def _mor_extra(m: dict, new_files: list[str], version: int) -> dict | None:
    """Carry a parent's MoR state (``seqs`` + pending ``deletes``)
    through a commit that adds ``new_files`` at ``version``. None when
    the table has no pending deletes — plain tables keep their slim
    manifests. A DV-only parent (positional entries, no seqs map)
    carries just the entry list: positional deletes are file+position
    scoped, so no sequence bookkeeping is needed and the commit stays
    an O(touched) delta record at any table file count."""
    if not m.get("deletes"):
        return None
    if not m.get("seqs") and all(e.get("pos") for e in m["deletes"]):
        return {"deletes": m["deletes"]}
    seqs = {f: int(m.get("seqs", {}).get(f, 0)) for f in m.get("files", [])}
    seqs.update({f: version for f in new_files})
    return {"seqs": seqs, "deletes": m["deletes"]}


def _live_view(
    spark: SparkSession, root: str, m: dict, files: list[str],
    keep_pos: bool = False,
) -> DataFrame:
    """Plan ``files`` and apply the manifest's pending deletes — the
    merge-on-read (MoR) read path. Two entry kinds live in ``deletes``:

    EQUALITY entries (Iceberg v2 equality deletes): an entry committed
    at sequence ``dseq`` erases matching keys from every data file with
    a SMALLER sequence (files a mor_upsert added in the same commit
    carry the delete's own seq, so the delete never eats its companion
    inserts). Planned as one anti-join: row files group by their seq
    (O(commits since last compact) groups, bounded by compaction),
    delete files union into a keyed build side, and the join condition
    is key-equality AND ``dseq > seq`` — Spark extracts the equi keys
    for a hash join and applies the seq comparison as a residual, so
    the read stays one shuffle-free pass when the delete side
    broadcasts (it is the accumulated change keys, megabytes against a
    100 TB scan).

    POSITIONAL entries (``pos: true`` — Delta deletion vectors /
    Iceberg positional deletes, x154): the entry's files hold
    ``(_dv_file, _dv_pos)`` rows naming exact physical positions in
    exact immutable data files. Applied as a broadcast anti-join on
    (manifest-relative path, ``_metadata.row_index``) — no seq residual
    needed (a position names one row of one immutable file forever),
    and rows from untargeted files simply never match. The position
    sets are the accumulated deleted rows, bounded by compaction
    cadence like the equality side.

    ``keep_pos`` leaves ``__dv_path``/``__dv_pos`` on the output (the
    dv_delete writer needs row identity AFTER existing deletes apply).
    Tables with no pending deletes and no ``keep_pos`` skip all of
    this."""
    from pyspark.sql import functions as F

    schema, spec = m.get("schema"), m.get("partition_spec")
    dels = m.get("deletes") or []
    eq = [e for e in dels if not e.get("pos")]
    pos = [e for e in dels if e.get("pos")]
    with_pos = keep_pos or bool(pos)
    if not dels and not with_pos:
        return _read_files(spark, root, files, schema, spec)
    seqs = m.get("seqs", {})
    groups: dict[int, list[str]] = {}
    for f in files:
        groups.setdefault(int(seqs.get(f, 0)), []).append(f)
    df = None
    for s, fl in sorted(groups.items()):
        part = _read_files(spark, root, fl, schema, spec, keep_pos=with_pos)
        if eq:
            part = part.withColumn("_mor_seq", F.lit(s))
        df = part if df is None else df.unionByName(part)
    if pos:
        dv = None
        for e in pos:
            part = spark.read.parquet(
                *[f"{root}/{f}" for f in e["files"]]
            ).select("_dv_file", "_dv_pos")
            dv = part if dv is None else dv.unionByName(part)
        df = (
            df.withColumn("__dv_rel", _dv_rel_expr(root))
            .join(
                F.broadcast(dv),
                on=(F.col("__dv_rel") == F.col("_dv_file"))
                & (F.col("__dv_pos") == F.col("_dv_pos")),
                how="left_anti",
            )
            .drop("__dv_rel")
        )
    if eq:
        keys = eq[0]["keys"]
        dd = None
        for e in eq:
            part = (
                spark.read.parquet(*[f"{root}/{f}" for f in e["files"]])
                .select(*[F.col(k).alias(f"_mor_{k}") for k in keys])
                .withColumn("_mor_dseq", F.lit(int(e["seq"])))
            )
            dd = part if dd is None else dd.unionByName(part)
        cond = F.col("_mor_dseq") > F.col("_mor_seq")
        for k in keys:
            cond = cond & (F.col(k) == F.col(f"_mor_{k}"))
        df = df.join(dd, on=cond, how="left_anti").drop("_mor_seq")
    if with_pos and not keep_pos:
        df = df.drop("__dv_path", "__dv_pos")
    return df


def _check_mor_keys(m: dict, keys: list[str]) -> None:
    """A table's MoR key set is part of its contract: every pending
    delete entry must use the same keys, or the single-join read plan
    (and the delete semantics) would fork per entry."""
    dict_schema = _schema_types(m.get("schema") or [])
    missing = [k for k in keys if dict_schema and k not in dict_schema]
    if missing:
        raise ValueError(f"MoR keys {missing} are not table columns")
    for e in m.get("deletes", []) or []:
        if e.get("pos"):
            continue  # positional entries are key-agnostic: they name
            # exact (file, row) positions and coexist with any key set
        if list(e["keys"]) != list(keys):
            raise ValueError(
                f"MoR key mismatch: table has pending deletes on {e['keys']}, "
                f"this operation uses {keys}"
            )


def mor_delete(deletes: DataFrame, root: str, keys: list[str]) -> int:
    """DELETE WHERE key IN (...) as merge-on-read: commit a small
    equality-delete key file instead of rewriting any data file —
    Iceberg v2 equality deletes / Delta deletion vectors, the
    write-cheap complement to the copy-on-write :func:`merge_commit`.
    The deleted rows physically remain in their (immutable, shared)
    files; every read through :func:`read_snapshot` anti-joins them
    away, and the next :func:`compact` materializes the survivors and
    clears the delete list. At 100 TB this turns "delete 1k users from
    a million-file table" from a multi-hour rewrite into one key-file
    write + one manifest commit; the deferred cost is a broadcast
    anti-join per read, bounded by compaction cadence. Reference
    behavior: extract.py:115-132 rewrites the whole flat file to drop
    rows — this is that delete with O(changed keys) writes."""
    spark = deletes.sparkSession
    parent = latest_version(spark, root)
    if parent == 0:
        raise ValueError("mor_delete on an empty table")
    m = _read_manifest(spark, root, parent)
    _check_mor_keys(m, keys)
    keyset = deletes.select(*keys).dropDuplicates(keys)
    # rebalance: the key payload is O(deleted keys), unknown up front —
    # lands as one right-sized file at small scale instead of spraying
    # the upstream partitioning into N tiny key files (each of which
    # every later read's anti-join must open), splits when huge
    dfiles, _ = _write_data_files(keyset, root, collect_stats=False, rebalance=True)
    if not _footer_rows(root, dfiles):  # no keys: nothing to commit (no-op)
        if dfiles:  # drop the empty key dir eagerly
            fsio.delete(spark, f"{root}/{dfiles[0].split('/', 1)[0]}")
        return parent
    extra: dict = {}
    if change_feed_enabled(spark, root):
        # the feed's `delete` rows carry the OLD row values (Delta CDF),
        # which a pure key-file write never reads — with the feed on,
        # mor_delete pays a pre-image read of the live rows matching the
        # keys, file-pruned through the recorded [min, max] of keys[0]
        # where stats exist (conservative keep otherwise): the same
        # trade Delta makes deriving CDF from deletion vectors. Keys
        # absent from the table emit nothing; NULL keys never match.
        from pyspark.sql import functions as F

        lo, hi = deletes.agg(F.min(keys[0]), F.max(keys[0])).first()
        if lo is None:
            pre = _live_view(spark, root, m, m["files"]).limit(0)
        else:
            pruned, _, _ = read_snapshot_pruned(
                spark, root, keys[0], lo, hi, version=parent
            )
            pre = pruned.join(keyset, keys, "left_semi")
        # always recorded when the feed is on — an empty list is a
        # recorded "no transitions" (all-miss delete), distinct from
        # an unrecorded commit which the reader refuses
        extra["change_files"] = _write_change_files(
            pre.withColumn("_change_type", F.lit("delete")), root
        )
    version = parent + 1
    seqs = {f: int(m.get("seqs", {}).get(f, 0)) for f in m["files"]}
    entry = {"files": sorted(dfiles), "keys": list(keys), "seq": version}
    extra.update({"seqs": seqs, "deletes": (m.get("deletes") or []) + [entry]})
    return _commit(
        spark,
        root,
        m["files"],
        "mor-delete",
        parent,
        m.get("stats"),
        m.get("schema"),
        partition_spec=m.get("partition_spec"),
        extra=extra,
    )


def _footer_rows(root: str, dfiles: list[str]) -> int:
    """Row count of just-written files from their parquet footers, read
    on the driver (zero Spark jobs); 0 also when the write emitted no
    part file at all."""
    import pyarrow.parquet as pq

    n = 0
    for f in dfiles:
        fs, path = fsio._pa_fs(f"{root}/{f}")
        n += pq.read_metadata(path, filesystem=fs).num_rows
    return n


def _dv_summary(root: str, dfiles: list[str]) -> tuple[int, list[str]]:
    """(row count, sorted distinct ``_dv_file`` targets) of just-written
    position files, read back through ``pyarrow.fs`` on the DRIVER —
    zero Spark jobs (the count job + distinct job they replace were
    ~2 jobs per predicate-DML commit). DRIVER MEMORY IS BOUNDED at
    O(distinct target files + one record batch), never O(matched rows)
    (r14 verdict): the row count comes from the parquet FOOTER
    (``metadata.num_rows`` — zero row reads), and targets accumulate
    via ``pc.unique`` per streamed record batch, so a predicate delete
    matching billions of rows never materializes a per-position Python
    object on the driver — only the distinct-file list the manifest is
    about to hold anyway. Scheme-portable via the same pyarrow.fs
    resolution the distributed checkpoint shard writes use (x156)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = 0
    targets: set[str] = set()
    for f in dfiles:
        fs, path = fsio._pa_fs(f"{root}/{f}")
        with pq.ParquetFile(path, filesystem=fs) as pf:
            n += pf.metadata.num_rows
            if pf.metadata.num_rows == 0:
                continue
            for batch in pf.iter_batches(columns=["_dv_file"]):
                targets.update(pc.unique(batch.column(0)).to_pylist())
    return n, sorted(targets)


def dv_delete(spark: SparkSession, root: str, pred: str) -> int:
    """DELETE WHERE <any predicate> as POSITIONAL deletion vectors —
    Delta DVs / Iceberg v2 positional deletes (x154), the predicate-
    shaped complement to the key-shaped :func:`mor_delete`: no data
    file is rewritten (copy-on-write :func:`delete_where` pays a full
    rewrite of every touched file) and no key columns are needed — the
    commit adds one small parquet of ``(_dv_file, _dv_pos)`` rows
    naming the exact physical positions of the matched rows, plus a
    ``pos: true`` entry in the manifest's ``deletes`` list.

    Positions are computed on the LIVE view (existing equality and
    positional deletes applied first), so a position can never be
    deleted twice — entry ``count``s are additive by construction,
    which is what keeps :func:`metadata_count` EXACT on DV-pending
    tables (recorded rows minus recorded positions; min/max/sum still
    refuse — a deleted extremum can't be subtracted). The predicate
    pushes into the live view's parquet scan (row-group stats
    skipping), and the position write is O(matched rows): at 100 TB,
    "delete 0.1% of rows scattered across a million files" costs one
    pruned scan + megabytes of positions, not a million file rewrites. Reads pay a broadcast anti-join on
    (file, position) — cheaper than the equality side (no seq
    residual) and skipped entirely for files no entry targets — until
    :func:`compact` materializes the survivors.

    r14 optimization: the find and the position compute are ONE pass —
    the predicate pushes into the parquet scan of the live view (the
    same row-group-stats skipping the old separate
    :func:`_locate_files` pre-pass got, without its full extra scan);
    the matched rows persist once and feed the count, the position
    write and the targets aggregate. ``targets`` is now EXACTLY the
    distinct files of the recorded positions (the old pre-pass
    conservatively included files whose only matches were already-dead
    rows; every consumer — metadata_count's rewrite guard,
    compact_small's entry rewrite — is sound under the tighter set,
    since positions can only reference live rows of these files).

    With the change feed on, the matched rows' pre-images are recorded
    atomically with the commit (Delta derives CDF from DVs the same
    way). A no-match predicate is a NO-OP: nothing commits, the
    version stays (the x149 delete_where convention). Branch roots
    refuse (position files store root-relative target paths, which a
    ``../..`` re-root would garble); :func:`create_branch` refuses
    DV-pending sources for the same reason."""
    from pyspark.sql import functions as F

    parent = latest_version(spark, root)
    if parent == 0:
        raise ValueError("dv_delete on an empty table")
    m = _read_manifest(spark, root, parent)
    if any(f.startswith("../") for f in m["files"]):
        raise ValueError(
            "dv_delete on a branch root: position files store root-"
            "relative target paths, which parent refs would garble — "
            "compact() the branch to detach first"
        )
    # ONE pass (r14): the predicate pushes into the live view's parquet
    # scan (the same row-group-stats skipping the old separate
    # _locate_files pre-pass got, without its full extra scan); the
    # position WRITE is the find scan's only action, and the matched
    # count + exact targets come back from the written file's footer and
    # one tiny column via pyarrow (_dv_summary) — no count job, no
    # distinct job. With the feed on, matched persists so the
    # change-file write reuses the scan the position write materialized.
    live = _live_view(spark, root, m, m["files"], keep_pos=True)
    extra: dict = {}
    feed_on = change_feed_enabled(spark, root)
    matched = live.filter(pred)
    if feed_on:
        matched = matched.persist()
    try:
        dvdf = matched.select(
            _dv_rel_expr(root).alias("_dv_file"),
            F.col("__dv_pos").cast("long").alias("_dv_pos"),
        )
        # rebalance, not single_file (r14 verdict): the matched-row count
        # is unknown before the write (the one-pass find), so the
        # position payload must not funnel through one task — AQE sizes
        # the position files from the actual bytes (1 file at small
        # scale, parallel right-sized files for a wide match)
        # driver write only over the persisted matched frame: an
        # over-cap prefix job would otherwise re-run the find scan
        dfiles, _ = _write_data_files(
            dvdf, root, collect_stats=False, rebalance=True, driver=feed_on
        )
        n, targets = _dv_summary(root, dfiles)
        if n == 0:  # no live row matches: nothing to commit (no-op)
            if dfiles:  # drop the empty position dir eagerly
                fsio.delete(spark, f"{root}/{dfiles[0].split('/', 1)[0]}")
            return parent
        if feed_on:
            pre = matched.drop("__dv_path", "__dv_pos")
            extra["change_files"] = _write_change_files(
                pre.withColumn("_change_type", F.lit("delete")), root
            )
        version = parent + 1
        entry = {
            "pos": True,
            "files": sorted(dfiles),
            "seq": version,
            "targets": targets,
            "count": int(n),
        }
        extra["deletes"] = (m.get("deletes") or []) + [entry]
        # seqs only matter to the EQUALITY anti-join (dseq > seq
        # residual) — positional entries are file+position scoped. On a
        # DV-only table, omitting the map keeps this commit an
        # O(positions) delta record at ANY table file count (a full
        # seqs map would re-serialize O(files) and force a full
        # manifest); a later mor_delete mints its own map and the
        # default seq 0 < its dseq is exactly right for these files.
        if m.get("seqs") or any(
            not e.get("pos") for e in m.get("deletes") or []
        ):
            extra["seqs"] = {
                f: int(m.get("seqs", {}).get(f, 0)) for f in m["files"]
            }
        return _commit(
            spark,
            root,
            m["files"],
            "dv-delete",
            parent,
            m.get("stats"),
            m.get("schema"),
            partition_spec=m.get("partition_spec"),
            extra=extra,
        )
    finally:
        matched.unpersist()


def dv_update(
    spark: SparkSession,
    root: str,
    pred: str,
    set_exprs: dict,
    stats_cols: list[str] | None = None,
) -> int:
    """UPDATE ... SET ... WHERE <predicate> as deletion vectors — the
    DV-shaped twin of the copy-on-write :func:`update_where` (Delta's
    DV-enabled UPDATE): ONE commit records the matched rows' positions
    as a ``pos: true`` entry (killing the old images in place, zero
    data files rewritten) and appends ONLY the updated rows as new
    files. A touched file holding 10^6 rows of which 10 match costs 10
    positions + 10 new rows, not a 10^6-row rewrite — at 100 TB the
    write amplification drops from O(touched file bytes) to O(matched
    rows). ``set_exprs`` maps column → Column or SQL string; untouched
    columns carry verbatim; updating the partition column legally moves
    rows across partitions (the new files land under their new
    ``col=val`` dirs). Positions are live-view-computed, so
    :func:`metadata_count` stays EXACT (old rows − positions + new
    rows). With the change feed on, ``update_preimage``/
    ``update_postimage`` pairs are recorded atomically with the commit.
    New files carry the commit's sequence, so pending EQUALITY deletes
    (committed earlier, lower seq) never eat the rewritten rows —
    the mor_upsert companion-insert rule. No-match predicates are
    NO-OPs; branch roots refuse (see :func:`dv_delete`)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    parent = latest_version(spark, root)
    if parent == 0:
        raise ValueError("dv_update on an empty table")
    m = _read_manifest(spark, root, parent)
    if any(f.startswith("../") for f in m["files"]):
        raise ValueError(
            "dv_update on a branch root: position files store root-"
            "relative target paths, which parent refs would garble — "
            "compact() the branch to detach first"
        )
    schema = m.get("schema")
    if schema:
        visible = set(_visible_names(schema))
        bad = [c for c in set_exprs if c not in visible]
        if bad:
            raise ValueError(f"SET columns {bad} are not table columns")
    # one pass (r14, see dv_delete): the predicate pushes into the live
    # view's parquet scan; matched is cached once and feeds the position
    # write, the targets aggregate, the post-image build and the feed
    live = _live_view(spark, root, m, m["files"], keep_pos=True)
    matched = live.filter(pred).persist()  # lazy: the position write below
    # materializes the cache; post-image and feed writes then read it
    try:
        dvdf = matched.select(
            _dv_rel_expr(root).alias("_dv_file"),
            F.col("__dv_pos").cast("long").alias("_dv_pos"),
        )
        # rebalance, not single_file (r14 verdict): the matched-row count
        # is unknown before the write (the one-pass find), so the
        # position payload must not funnel through one task — AQE sizes
        # the position files from the actual bytes (1 file at small
        # scale, parallel right-sized files for a wide match)
        dfiles, _ = _write_data_files(
            dvdf, root, collect_stats=False, rebalance=True, driver=True
        )
        n, targets = _dv_summary(root, dfiles)
        if n == 0:
            if dfiles:  # drop the empty position dir eagerly
                fsio.delete(spark, f"{root}/{dfiles[0].split('/', 1)[0]}")
            return parent
        pre = matched.drop("__dv_path", "__dv_pos")
        cols = _visible_names(schema) if schema else pre.columns
        sets = {
            c: (e if isinstance(e, Column) else F.expr(str(e)))
            for c, e in set_exprs.items()
        }
        post = pre.select(
            *[sets.get(c, F.col(c)).alias(c) for c in cols]
        )
        _enforce_constraints(post, root)
        spec = m.get("partition_spec")
        # rebalance: the updated-row payload is matched-set-sized,
        # unknown up front — right-size instead of inheriting the
        # find-scan's partitioning (guide §2/§6)
        nfiles, wstats = _write_data_files(
            post, root, stats_cols, spec, rebalance=True
        )
        extra: dict = {}
        if change_feed_enabled(spark, root):
            extra["change_files"] = _write_change_files(
                pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                ),
                root,
            )
        version = parent + 1
        entry = {
            "pos": True,
            "files": sorted(dfiles),
            "seq": version,
            "targets": targets,
            "count": int(n),
        }
        extra["deletes"] = (m.get("deletes") or []) + [entry]
        # seqs carried/minted only when the equality machinery needs
        # them (see dv_delete): keeps a DV-only update an O(matched)
        # delta record; new files at the commit's seq so pending
        # equality deletes (lower dseq) never eat the rewritten rows
        if m.get("seqs") or any(
            not e.get("pos") for e in m.get("deletes") or []
        ):
            seqs = {f: int(m.get("seqs", {}).get(f, 0)) for f in m["files"]}
            seqs.update({f: version for f in nfiles})
            extra["seqs"] = seqs
        return _commit(
            spark,
            root,
            m["files"] + nfiles,
            "dv-update",
            parent,
            {**(m.get("stats") or {}), **wstats},
            schema,
            partition_spec=spec,
            extra=extra,
        )
    finally:
        matched.unpersist()


def mor_upsert(
    source: DataFrame,
    root: str,
    keys: list[str],
    stats_cols: list[str] | None = None,
) -> int:
    """Keyed UPSERT as merge-on-read: ONE commit adds the source rows
    as new data files AND an equality-delete entry on the source's keys
    — delete-before-insert, Iceberg's streaming-CDC upsert shape. The
    delete entry's sequence equals the commit version and applies only
    to files with a smaller sequence, so it erases the OLD versions of
    the upserted keys everywhere while leaving its own companion
    inserts untouched. Write cost is O(batch): no existing file is
    read, merged, or rewritten — the fit for high-frequency keyed
    streams where :func:`merge_commit`'s copy-on-write (read+rewrite
    the files holding the keys) would dominate; reads pay the deferred
    anti-join until :func:`compact` folds the deletes in. ``source``
    must be key-unique (duplicate keys would all insert) and match the
    table schema exactly — MoR never evolves schema mid-flight."""
    spark = source.sparkSession
    parent = latest_version(spark, root)
    if parent == 0:
        return append(source, root, stats_cols=stats_cols)
    m = _read_manifest(spark, root, parent)
    _check_mor_keys(m, keys)
    if m.get("schema"):
        _merged_schema(m["schema"], _schema_list(source), evolve=False)
        source = source.select(*_visible_names(m["schema"]))
    spec = m.get("partition_spec")
    _enforce_constraints(source, root)
    # rebalance: the upsert batch inherits the caller's partitioning
    # (often a wide shuffle) — right-size the landed files (guide §6)
    nfiles, nstats = _write_data_files(
        source, root, stats_cols, spec, rebalance=True
    )
    dfiles, _ = _write_data_files(
        source.select(*keys).dropDuplicates(keys),
        root,
        collect_stats=False,
        rebalance=True,  # see mor_delete: right-size the key files
    )
    extra: dict = {}
    if change_feed_enabled(spark, root):
        from pyspark.sql import functions as F

        # delete-before-insert's feed: source rows over a LIVE key emit
        # an update pre/post pair (source wins — MoR upsert semantics),
        # fresh keys insert. Pre-images come from a file-pruned read of
        # the parent's live view (same trade as mor_delete's).
        lo, hi = source.agg(F.min(keys[0]), F.max(keys[0])).first()
        if lo is None:
            pre = _live_view(spark, root, m, m["files"]).limit(0)
        else:
            pruned, _, _ = read_snapshot_pruned(
                spark, root, keys[0], lo, hi, version=parent
            )
            pre = pruned.join(source.select(*keys), keys, "left_semi")
        cols = source.columns
        pre_keys = pre.select(*keys).dropDuplicates(keys)
        posts = source.join(pre_keys, keys, "left_semi").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        ins = source.join(pre_keys, keys, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        # r12 ADVICE (low): a target holding DUPLICATE rows for a key
        # (plain appends before the upsert) has N live pre-rows but the
        # upsert writes ONE post-row — emitting N update_preimages
        # against 1 update_postimage breaks multiset replay. Emit
        # exactly one update_preimage per key (the lexicographically
        # smallest row — deterministic) and the other N-1 removals as
        # plain `delete` rows: replayed transitions (minus pres/deletes,
        # plus posts/inserts) then equal the snapshot diff exactly. The
        # window runs over the key-pruned matching rows only — O(batch-
        # touched rows), never the table.
        from pyspark.sql import Window
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _orderable(dt) -> bool:
            # Spark refuses ORDER BY on maps (and anything containing
            # one) at analysis time; arrays/structs order recursively
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        # r13 ADVICE: order by keys + the orderable columns only, with
        # a to_json tiebreak over any non-orderable ones — a table
        # carrying a map column must not fail at analysis time exactly
        # when the feed is on and a duplicate-key upsert arrives, and
        # the canonical-preimage pick stays deterministic.
        types = {f.name: f.dataType for f in pre.schema.fields}
        ord_cols = [F.col(c) for c in cols if _orderable(types[c])]
        bad = [c for c in cols if not _orderable(types[c])]
        if bad:
            ord_cols.append(F.to_json(F.struct(*[F.col(c) for c in bad])))
        w = Window.partitionBy(*keys).orderBy(*ord_cols)
        ranked = pre.select(*cols).withColumn("_rn", F.row_number().over(w))
        pres = (
            ranked.filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_change_type", F.lit("update_preimage"))
        )
        dup_dels = (
            ranked.filter(F.col("_rn") > 1)
            .drop("_rn")
            .withColumn("_change_type", F.lit("delete"))
        )
        extra["change_files"] = _write_change_files(
            posts.unionByName(ins).unionByName(pres).unionByName(dup_dels), root
        )
    version = parent + 1
    seqs = {f: int(m.get("seqs", {}).get(f, 0)) for f in m["files"]}
    seqs.update({f: version for f in nfiles})
    entry = {"files": sorted(dfiles), "keys": list(keys), "seq": version}
    extra.update({"seqs": seqs, "deletes": (m.get("deletes") or []) + [entry]})
    return _commit(
        spark,
        root,
        m["files"] + nfiles,
        "mor-upsert",
        parent,
        {**(m.get("stats") or {}), **nstats} or None,
        m.get("schema") or _schema_list(source),
        partition_spec=spec,
        extra=extra,
    )


def read_snapshot_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Read a snapshot planning ONLY the files whose recorded
    [min, max] for ``col`` intersects [lo, hi] — the Delta/Iceberg
    data-skipping read, resolved at manifest-planning time with zero
    file opens. Files without recorded stats are conservatively kept.
    Returns (DataFrame, files_planned, files_total); the caller applies
    the residual predicate (pruning is a superset guarantee, not a
    filter). On a partitioned table (declared ``partition_spec``) a
    predicate on the partition column additionally prunes via the
    ``col=val`` path values — no stats consultation, no file opens:
    whole partitions drop at manifest-planning time. At 100 TB this is
    the difference between scheduling the hundreds of files a day-range
    predicate touches and opening every footer in a million-object
    table. The one-predicate call of :func:`read_snapshot_pruned_multi`."""
    return read_snapshot_pruned_multi(spark, root, [(col, lo, hi)], version)


def read_snapshot_pruned_multi(
    spark: SparkSession,
    root: str,
    preds: list[tuple],
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Data-skipping read under a CONJUNCTION of range predicates —
    ``preds`` is [(col, lo, hi), ...] and a file is planned only when
    its recorded [min, max] intersects EVERY range (one non-overlap
    kills it: AND semantics). This is where Z-order clustering (x94)
    pays off: after a Morton rewrite each file covers a small rectangle
    of the clustered space, so a multi-column predicate prunes
    multiplicatively where any single-column sort helps only its lead
    column. Files missing stats for a predicate column are kept
    (superset guarantee); a predicate on a partition column also prunes
    by the file's ``col=val`` path value, one level per predicate
    (``table_log.stats_check`` and ``path_check``). Returns (DataFrame,
    files_planned, files_total); the caller applies the residual
    predicate."""
    if not preds:
        raise ValueError("no predicates: use read_snapshot for a full scan")
    v = latest_version(spark, root) if version is None else version
    m = _plan_pruned_state(spark, root, v, list(preds))
    stats = m.get("stats", {})
    spec = m.get("partition_spec") or []
    types = _schema_types(m.get("schema") or [])
    planned = [
        f
        for f in m["files"]
        if table_log.stats_check(stats.get(f), preds)
        and table_log.path_check(f, preds, spec, types)
    ]
    total = m.get("_files_total", len(m["files"]))
    if not planned:
        return read_snapshot(spark, root, v).limit(0), 0, total
    return _live_view(spark, root, m, planned), len(planned), total


def metadata_count(
    spark: SparkSession, root: str, version: int | None = None
) -> int:
    """``COUNT(*)`` answered from the MANIFEST alone — zero data-file
    opens, zero Spark jobs (Delta/Iceberg's metadata-only count): every
    writer records a per-file ``__rows`` stat, and a snapshot's count is
    their sum. Refused when the manifest carries pending EQUALITY MoR
    deletes (dead rows are still physically present in the files — a
    metadata count would overstate; compact first or scan) or when any
    planned file predates row-count recording (no silent wrong
    answers). Pending POSITIONAL deletes (x154) stay EXACT: each entry
    records its position cardinality, computed on the live view so
    entries never overlap — count = recorded rows − recorded
    positions."""
    v = latest_version(spark, root) if version is None else version
    # r13 manifest-list fast path: a checkpointed version's count sums
    # the per-shard `rows` recorded in the INDEX — one small JSON read,
    # zero shard loads, at any table file count. Any shard predating
    # row stats (rows: null) falls through to the full path, which
    # raises the precise missing-file error.
    obj = _ckpt_index(spark, root, v)
    if obj is not None:
        dels = obj["base"].get("deletes") or []
        if any(not e.get("pos") for e in dels):
            raise ValueError(
                "pending MoR deletes: metadata count would include "
                "dead rows — compact() first or count through "
                "read_snapshot"
            )
        if not dels:
            rows = [sm.get("rows") for sm in obj["shards"]]
            if all(r is not None for r in rows):
                return sum(int(r) for r in rows)
        # positional entries: fall through — the full path validates
        # every target is still live and subtracts exactly
    m = _read_manifest(spark, root, v)
    eq_dels = [e for e in m.get("deletes") or [] if not e.get("pos")]
    pos_dels = [e for e in m.get("deletes") or [] if e.get("pos")]
    if eq_dels:
        raise ValueError(
            "pending MoR deletes: metadata count would include dead rows — "
            "compact() first or count through read_snapshot"
        )
    dv_dead = 0
    if pos_dels:
        # positional entries record their exact cardinality (positions
        # are computed on the live view, so entries never overlap — the
        # counts are additive): count = recorded rows − recorded
        # positions, still zero data-file opens. Refused only when a
        # later rewrite removed a targeted file (its positions may
        # already be materialized away — the subtraction would double).
        fset = set(m["files"])
        for e in pos_dels:
            if not set(e.get("targets", ())) <= fset:
                raise ValueError(
                    "a positional-delete target was rewritten since the "
                    "entry committed: the recorded position count no "
                    "longer matches live rows — compact() first"
                )
            dv_dead += int(e.get("count", 0))
    stats = m.get("stats", {})
    missing = [f for f in m["files"] if "__rows" not in stats.get(f, {})]
    if missing:
        raise ValueError(
            f"{len(missing)} files predate row-count stats (e.g. "
            f"{missing[0]!r}); re-commit (compact) to record them"
        )
    return sum(int(stats[f]["__rows"]) for f in m["files"]) - dv_dead


def metadata_minmax(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> tuple:
    """(min, max) of ``col`` from recorded per-file stats — the
    manifest-only twin of ``SELECT MIN(c), MAX(c)`` for append/COW
    tables. Same refusals as :func:`metadata_count` (MoR pending, or a
    file without stats for the column), plus None-bound files refuse
    (an all-NULL file records [None, None] and contributes no bound —
    min/max over rows ignores NULLs, so those files are skippable, but
    a file with no recorded entry at all is not)."""
    v = latest_version(spark, root) if version is None else version
    # r13 manifest-list fast path: when EVERY shard recorded a [min,max]
    # envelope for the column (an envelope exists only when all member
    # files carry non-null bounds), the answer is the envelope of
    # envelopes — one index read, zero shard loads. Any shard without
    # the envelope (pre-stats files, all-NULL files, zero-row files)
    # falls through to the full path, which keeps the per-file skip/
    # refuse semantics exactly.
    obj = _ckpt_index(spark, root, v)
    if obj is not None and not obj["base"].get("deletes"):
        envs = [(sm.get("ranges") or {}).get(col) for sm in obj["shards"]]
        if envs and all(e is not None for e in envs):
            return (min(e[0] for e in envs), max(e[1] for e in envs))
    m = _read_manifest(spark, root, v)
    if m.get("deletes"):
        raise ValueError(
            "pending MoR deletes: a deleted extremum would linger in "
            "file stats — compact() first or aggregate through "
            "read_snapshot"
        )
    stats = m.get("stats", {})
    los, his = [], []
    for f in m["files"]:
        entry = stats.get(f, {})
        if entry.get("__rows") == 0:
            continue  # zero-row part file: contributes no bounds
        s = entry.get(col)
        if s is None:
            raise ValueError(f"file {f!r} has no recorded stats for {col!r}")
        if s[0] is not None:
            los.append(s[0])
        if s[1] is not None:
            his.append(s[1])
    return (min(los) if los else None, max(his) if his else None)


def _metadata_sum_parts(
    spark: SparkSession, root: str, col: str, version: int | None
) -> tuple[int, int]:
    """(exact sum, non-null count) of an INTEGER column from per-file
    ``__sum_<col>`` / ``__nulls_<col>`` manifest stats. Shared guard
    path of :func:`metadata_sum` / :func:`metadata_avg`: refuses
    pending MoR deletes (dead rows still counted in file stats) and any
    file without recorded sum stats (pre-recording files, or a
    non-integer column — float sums are never recorded, see
    :func:`_table_stats`)."""
    v = latest_version(spark, root) if version is None else version
    # r13 manifest-list fast path: per-shard [total, nonnull] recorded
    # in the index — one small JSON read, zero shard loads, when every
    # shard carries the column (else fall through to the full path and
    # its precise refusals)
    obj = _ckpt_index(spark, root, v)
    if obj is not None:
        if obj["base"].get("deletes"):
            raise ValueError(
                "pending MoR deletes: deleted rows still sit in file "
                "stats — compact() first or aggregate through "
                "read_snapshot"
            )
        parts = [(sm.get("sums") or {}).get(col) for sm in obj["shards"]]
        if parts and all(p is not None for p in parts):
            return (
                sum(int(p[0]) for p in parts),
                sum(int(p[1]) for p in parts),
            )
    m = _read_manifest(spark, root, v)
    if m.get("deletes"):
        raise ValueError(
            "pending MoR deletes: deleted rows still sit in file stats — "
            "compact() first or aggregate through read_snapshot"
        )
    stats = m.get("stats", {})
    total, nonnull = 0, 0
    for f in m["files"]:
        s = stats.get(f, {})
        if s.get("__rows") == 0:
            continue  # zero-row part file: no rows, no sum, by definition
        if f"__sum_{col}" not in s or f"__nulls_{col}" not in s or "__rows" not in s:
            raise ValueError(
                f"file {f!r} has no recorded sum stats for {col!r} (integer "
                "stats_cols record them at write; re-commit via compact)"
            )
        if s[f"__sum_{col}"] is not None:
            total += int(s[f"__sum_{col}"])
        nonnull += int(s["__rows"]) - int(s[f"__nulls_{col}"])
    return total, nonnull


def metadata_sum(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> int | None:
    """``SUM(col)`` answered from the MANIFEST alone for an integer
    column — the SUM twin of :func:`metadata_count` (x117's family):
    per-file exact sums recorded at write time are themselves summed as
    Python ints (arbitrary precision — no overflow, no float drift), so
    the answer equals a full recompute bit-for-bit. Same refusals:
    pending MoR deletes, or any planned file without recorded sum
    stats. Returns None when every row is NULL (SQL SUM semantics)."""
    total, nonnull = _metadata_sum_parts(spark, root, col, version)
    return total if nonnull else None


def metadata_avg(
    spark: SparkSession, root: str, col: str, version: int | None = None
) -> float | None:
    """Exact ``AVG(col)`` from the manifest: the integer sum is exact,
    the non-null count is exact, and the single float division at the
    end is the same IEEE operation a SQL engine performs on its own
    exact accumulator (DuckDB: ``CAST(SUM(c) AS DOUBLE) / COUNT(c)``) —
    so the metadata answer is bit-identical to the recompute, not
    approximately equal. NULL rows are excluded from the denominator
    (SQL AVG); all-NULL returns None."""
    total, nonnull = _metadata_sum_parts(spark, root, col, version)
    return float(total) / nonnull if nonnull else None


def rollback(spark: SparkSession, root: str, to_version: int) -> int:
    """Publish an old version's file list as a NEW version (history is
    append-only; a rollback is itself a commit, never an erasure)."""
    m = _read_manifest(spark, root, to_version)
    return _commit(
        spark,
        root,
        m["files"],
        f"rollback-to-{to_version}",
        latest_version(spark, root),
        m.get("stats", {}),
        m.get("schema"),
        partition_spec=m.get("partition_spec"),
        extra=_mor_extra(m, [], 0),
    )


def _merge_commit_lazy(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    when_matched_update,
    prune_on: str,
    stats_cols: list[str] | None,
    txn: str | None,
    change_rows: DataFrame | None,
    cdf: bool,
    parent: int,
) -> int | None:
    """SHARD-LAZY file-pruned MERGE (r13 verdict tasks 1-2 extended to
    the merge writer): when the parent is a delta record with no pending
    MoR deletes, the merge plans its candidate files through
    :func:`_plan_pruned_state` — parsing only the checkpoint shards
    whose envelopes intersect the source's key range — and commits a
    DELTA RECORD directly (touched files removed, rewritten files
    added, stats delta'd), so neither planning nor commit ever
    materializes the table's full file list: driver memory and metadata
    IO are O(candidate files in intersecting shards), not O(table
    files). Sound for the same reason the pruned READ is: a shard whose
    envelope misses [lo, hi] provably holds no matching key, so its
    members are untouched by definition and the delta leaves them in
    place. Returns None when the preconditions fail (full-manifest
    parent, pending deletes, schema-less table) — the caller falls back
    to the legacy full-state path."""
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators.merge import merge_upsert

    hfields, is_delta = _parent_head(spark, root, parent)
    if not is_delta or hfields.get("deletes") or not hfields.get("schema"):
        return None
    schema = hfields["schema"]
    spec = hfields.get("partition_spec")
    lo, hi = source.agg(F.min(prune_on), F.max(prune_on)).first()
    m: dict = {"files": [], "stats": {}}
    touched: list[str] = []
    if lo is not None:
        m = _plan_pruned_state(spark, root, parent, [(prune_on, lo, hi)])
        fstats = m.get("stats", {})
        touched = [
            f
            for f in m["files"]
            if table_log.stats_check(fstats.get(f), [(prune_on, lo, hi)])
        ]
    mview = {"schema": schema, "partition_spec": spec}
    target = None
    if touched:
        target = _live_view(spark, root, mview, touched)
        merged = merge_upsert(
            target, source, keys=keys, when_matched_update=when_matched_update
        )
    else:  # no candidate file can hold a match: the whole batch inserts
        merged = source
    merged = merged.select(*_visible_names(schema))
    _enforce_constraints(merged, root)
    # rebalance: the rewrite payload (touched rows + source) leaves a
    # join shuffle as one sliver per shuffle partition — right-size it
    files, wstats = _write_data_files(
        merged, root, stats_cols, spec, rebalance=True
    )
    change_files = None
    if change_rows is not None:
        change_files = _write_change_files(change_rows, root)
    elif cdf and touched:
        change_files = _write_change_files(
            _merge_transitions(
                target, source, keys, when_matched_update, _visible_names(schema)
            ),
            root,
        )
    return _commit_delta(
        spark,
        root,
        parent,
        "merge",
        files,
        wstats,
        schema=schema,
        txn=txn,
        partition_spec=spec,
        files_removed=touched,
        stats_del=[f for f in touched if f in m.get("stats", {})],
        extra_base=(
            {"change_files": change_files} if change_files is not None else None
        ),
    )


def merge_commit(
    root: str,
    source: DataFrame,
    keys: list[str],
    when_matched_update=None,
    max_retries: int = 3,
    prune_on: str | None = None,
    stats_cols: list[str] | None = None,
    txn: str | None = None,
    evolve: bool = False,
    change_rows: DataFrame | None = None,
) -> int:
    """MERGE a change batch into the table's LATEST snapshot and publish
    the result as a new version — the snapshot-isolated form of the
    mutation family (operators/merge.py): writers never rewrite files a
    reader could be planning from; a version-pinned reader re-reading
    mid-upsert sees its snapshot byte-identical, and the new state only
    becomes visible at the atomic manifest commit.

    ``prune_on`` (a column in ``keys``) makes the merge COPY-ON-WRITE at
    file granularity, the Delta/Iceberg shape: only files whose recorded
    [min, max] for that column (the x76 manifest stats) can intersect the
    source's key range are read, merged, and rewritten; every other
    file's reference — and its stats — is carried into the child manifest
    unchanged. Sound because a matched key k lies within the source range
    and within its file's recorded range, so any file holding a match
    must intersect; non-intersecting files can hold only unmatched rows,
    which MERGE keeps verbatim. Source rows with NULL key never match
    (SQL MERGE semantics) and land as inserts in the new files. At
    100 TB this is the flagged-scale fix: a 1 GB keyed batch rewrites the
    handful of files containing its keys plus one manifest, not the
    table. ``stats_cols`` (default ``[prune_on]``) records stats on the
    newly written files so subsequent merges keep pruning.

    Optimistic concurrency: data files are written FIRST (expensive,
    conflict-free), then the manifest commit arbitrates; on
    ConcurrentCommitError the merge re-runs against the new latest (the
    just-written files are orphaned — unreachable from any manifest, so
    harmless to readers; a Delta-style orphan-file GC reclaims them).
    First commit on an empty table inserts the batch as version 1.
    ``txn`` is the same idempotence token as :func:`append`'s —
    streaming foreachBatch merges (the CDC apply sink) record their
    batch id so a replayed batch is provably skippable.

    ``change_rows`` (r12 verdict task 5) OVERRIDES the feed rows this
    commit records when the table's change feed is on: callers whose
    transition semantics differ from the physical merge — APPLY
    CHANGES targets whose feed describes the CURRENT VIEW (tombstones
    feed `delete`, stale rows feed nothing), SCD2 rebuilds whose feed
    is interval transitions — pass their own precomputed rows (table
    columns + ``_change_type`` [+ extras like ``_batch_id``]) and get
    them committed ATOMICALLY in the same manifest as the merge: one
    txn token covers table and feed, no feed-before-merge ordering, no
    st33-style visibility gate. Refused when the feed is not enabled
    (a silently dropped feed is worse than an error).
    Reference behavior: extract.py:115-132 — the flat-file in-place
    rewrite this replaces with transactional, file-pruned semantics.
    """
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators.merge import merge_upsert

    spark = source.sparkSession
    if txn is not None and txn_version(spark, root, txn) is not None:
        raise ValueError(f"txn {txn!r} already committed; check txn_version first")
    if prune_on is not None and prune_on not in keys:
        raise ValueError(f"prune_on {prune_on!r} must be one of keys {keys}")
    if stats_cols is None and prune_on is not None:
        stats_cols = [prune_on]
    cdf = change_feed_enabled(spark, root)
    if change_rows is not None and not cdf:
        raise ValueError(
            "change_rows passed but the change feed is not enabled on "
            f"{root!r}: set_change_feed first (a silently dropped feed "
            "is worse than an error)"
        )
    # Ambiguous-match guard (Delta's "multiple source rows matched"
    # refusal): a source holding two rows with the same non-NULL key
    # would match one target row TWICE — the join would duplicate the
    # target row and the change feed would record two preimages for a
    # row that existed once, double-removing on multiset replay (the
    # st37 k=0 incident: an update branch and a negated-key insert
    # branch colliding at 0). NULL-keyed rows never match (SQL MERGE
    # semantics) — duplicate NULL-key inserts are well-defined multiset
    # inserts and pass. One limit-1 aggregate over the (batch-sized)
    # source, refused BEFORE any data file is written.
    nn = source
    for k in keys:
        nn = nn.filter(F.col(k).isNotNull())
    amb = (
        nn.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if amb:
        kv = {k: amb[0][k] for k in keys}
        raise ValueError(
            f"ambiguous MERGE into {root!r}: source has multiple rows "
            f"for key {kv} — a target row matching twice has no "
            "deterministic result and its change feed would double-"
            "remove on replay; dedup the source first (the CDC apply "
            "sink's keep-max-seq reduction is the standard shape)"
        )
    last_err: Exception | None = None
    for _ in range(max_retries):
        parent = latest_version(spark, root)
        # shard-lazy fast path (r13 verdict tasks 1-2 on the merge
        # writer): plan through intersecting shards + commit a delta —
        # never materializing the full file list. Falls through to the
        # legacy full-state path when its preconditions don't hold
        # (full-manifest parent, pending MoR deletes, schema-less
        # table, evolve=True).
        if parent and prune_on is not None and not evolve:
            try:
                lazy_v = _merge_commit_lazy(
                    spark, root, source, keys, when_matched_update,
                    prune_on, stats_cols, txn, change_rows, cdf, parent,
                )
            except ConcurrentCommitError as ex:
                last_err = ex
                continue
            if lazy_v is not None:
                return lazy_v
        m = _read_manifest(spark, root, parent) if parent else {}
        untouched: list[str] = []
        # MERGE schema evolution (Delta's autoMerge): with evolve=True a
        # source batch may ADD columns (the table schema grows; matched
        # rows take whatever when_matched_update says, untouched files
        # NULL-backfill at read), OMIT columns (inserted rows take typed
        # NULLs), or WIDEN along the integer lattice. Both sides are
        # aligned to the merged schema before the join so every update/
        # insert expression sees every column. Without evolve the
        # historical contract holds exactly: output pinned to the
        # table's columns, drift surfacing as an analysis error.
        schema = m.get("schema")
        if evolve and parent and schema:
            schema = _merged_schema(schema, _schema_list(source), True)

            def align(df: DataFrame) -> DataFrame:
                # a missing column materializes its declared DEFAULT (so
                # an omitting source's inserts read back exactly like an
                # omitting append's rows would), else a typed NULL
                cols = []
                for e in schema:
                    meta_e = _entry_meta(e)
                    if meta_e.get("dropped"):
                        continue
                    n, t = e[0], e[1]
                    if n in df.columns:
                        cols.append(F.col(n).cast(t).alias(n))
                    else:
                        cols.append(
                            F.lit(meta_e.get("default")).cast(t).alias(n)
                        )
                return df.select(*cols)

        else:
            align = None  # type: ignore[assignment]
        if parent == 0:
            merged = source
        else:
            touched = m["files"]
            if prune_on is not None:
                fstats = m.get("stats", {})
                lo, hi = source.agg(F.min(prune_on), F.max(prune_on)).first()
                # an all-NULL (or empty) source matches no file
                touched = [
                    f
                    for f in m["files"]
                    if lo is not None
                    and table_log.stats_check(
                        fstats.get(f), [(prune_on, lo, hi)]
                    )
                ]
                untouched = [f for f in m["files"] if f not in set(touched)]
            src = align(source) if align is not None else source
            if touched:
                target = _live_view(spark, root, m, touched)
                if align is not None:
                    target = align(target)
                merged = merge_upsert(
                    target, src, keys=keys, when_matched_update=when_matched_update
                )
            else:  # no file can contain a match: the whole batch inserts
                merged = src
            if schema:  # pin insert-only batches to table column order
                merged = merged.select(*_visible_names(schema))
        spec = m.get("partition_spec")
        _enforce_constraints(merged, root)
        files, stats = _write_data_files(
            merged, root, stats_cols, spec, rebalance=True
        )
        change_files = None
        if change_rows is not None:
            # caller-authored transitions (APPLY CHANGES / SCD2 feeds):
            # recorded verbatim — and even when EMPTY (recorded-empty is
            # a statement, unrecorded refuses at read)
            change_files = _write_change_files(change_rows, root)
        elif cdf and parent > 0 and touched:
            # transitions recorded atomically with the commit (Delta's
            # AddCDCFile): built from the same pruned target and the
            # same routing expressions, so the feed equals the table
            # delta by construction. Insert-only merges (no matched
            # files) record nothing — their feed derives from the added
            # files at read time, zero write amplification.
            out_cols = (
                _visible_names(schema) if schema else list(merged.columns)
            )
            change_files = _write_change_files(
                _merge_transitions(target, src, keys, when_matched_update, out_cols),
                root,
            )
        carried_stats = {
            f: s for f, s in m.get("stats", {}).items() if f in set(untouched)
        }
        extra: dict = {"change_files": change_files} if change_files is not None else {}
        # pending MoR deletes still govern the untouched files (their
        # dead rows were NOT materialized away); the rewritten files
        # carry this commit's seq, above every pending delete. A full
        # rewrite (no untouched files) materialized every delete and
        # drops the list instead.
        _carry_mor(extra, m, untouched, files, parent + 1)
        extra = extra or None
        try:
            return _commit(
                spark,
                root,
                untouched + files,
                "merge",
                parent,
                {**carried_stats, **stats} if (carried_stats or stats) else None,
                schema or _schema_list(merged),
                txn=txn,
                partition_spec=spec,
                extra=extra,
            )
        except ConcurrentCommitError as ex:  # lost the race: retry on new latest
            last_err = ex
    raise last_err  # type: ignore[misc]


def _locate_files(spark: SparkSession, root: str, m: dict, pred: str) -> list[str]:
    """Manifest-relative paths of the files holding ANY row matching SQL
    predicate ``pred`` — the find phase of predicate DML (Delta's
    DELETE/UPDATE do the same scan-to-find): per write-group reads carry
    ``input_file_name`` through the schema projection, the predicate is
    pushed into the parquet scan (row-group stats skip the IO Spark
    can), and only the DISTINCT matching file names come back to the
    driver (bounded by the touched-file count, never rows). Dead MoR
    rows may flag a file conservatively — the rewrite reads through
    :func:`_live_view`, so the result is still exact. Unlocatable file
    URIs fail loudly (the record_ndv lesson: silent misattribution is
    worse than an error)."""
    import os
    import posixpath
    from urllib.parse import unquote, urlparse

    from pyspark.sql import functions as F

    schema, spec = m.get("schema"), m.get("partition_spec")
    rindex: dict[str, str] = {}
    for f in m["files"]:
        if "://" in root:
            ap = posixpath.normpath(urlparse(f"{root}/{f}").path)
        else:
            ap = posixpath.normpath(os.path.join(os.path.abspath(root), f))
        rindex[ap] = f

    def dkey(f: str) -> str:
        segs = f.split("/")
        for i, s in enumerate(segs):
            if s.startswith("data-"):
                return "/".join(segs[: i + 1])
        return segs[0]

    groups: dict[str, list[str]] = {}
    for f in m["files"]:
        groups.setdefault(dkey(f), []).append(f)
    parts = []
    for sub, fl in sorted(groups.items()):
        # one write's files are schema-uniform — no footer-merge job
        rd = spark.read
        if spec:
            rd = rd.option("basePath", f"{root}/{sub}")
        df = rd.parquet(*[f"{root}/{f}" for f in fl]).withColumn(
            "__f", F.input_file_name()
        )
        if schema:
            df = _project_to_schema(df, schema, keep=("__f",))
        parts.append(df)
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    hits = (
        allrows.filter(F.coalesce(F.expr(pred), F.lit(False)))
        .select("__f")
        .distinct()
        .collect()  # bounded: one row per touched file (metadata scale)
    )
    out = []
    for r in hits:
        p = posixpath.normpath(unquote(urlparse(r["__f"]).path))
        rel = rindex.get(p)
        if rel is None:
            raise ValueError(f"matched file {r['__f']!r} not in the manifest")
        out.append(rel)
    return sorted(out)


def delete_where(
    spark: SparkSession,
    root: str,
    pred: str,
    stats_cols: list[str] | None = None,
    txn: str | None = None,
) -> int:
    """``DELETE FROM <table> WHERE <pred>`` as file-pruned COPY-ON-WRITE
    (Delta's DELETE): one find scan locates the files holding any
    matching row (predicate pushed to parquet — row-group stats bound
    the IO), ONLY those files are read through the MoR-aware live view
    and rewritten without the matching rows, every other file reference
    and its stats carry into the child manifest unchanged. SQL
    semantics: rows where the predicate is TRUE are deleted; FALSE and
    NULL survive. With the change feed on, the deleted rows' pre-images
    are recorded atomically in the same commit (``delete`` rows;
    recorded-empty when every candidate file held only non-matching
    rows). A predicate matching NO file commits nothing and returns the
    current version (Delta's no-op DELETE). Pending MoR deletes on
    untouched files are carried; rewritten files take this commit's
    sequence, above every pending delete — the merge_commit convention.
    At 100 TB: O(table IO) find scan (bounded by parquet pushdown),
    O(touched files) rewrite + one manifest commit. Prefer
    :func:`mor_delete` for keyed high-frequency deletes."""
    from pyspark.sql import functions as F

    if txn is not None and txn_version(spark, root, txn) is not None:
        raise ValueError(f"txn {txn!r} already committed; check txn_version first")
    parent = latest_version(spark, root)
    if parent == 0:
        raise ValueError("delete_where on an empty table")
    m = _read_manifest(spark, root, parent)
    F.expr(pred)  # parse before any work
    touched = _locate_files(spark, root, m, pred)
    if not touched:
        return parent  # nothing matches anywhere: no-op, no commit
    untouched = [f for f in m["files"] if f not in set(touched)]
    live_touched = _live_view(spark, root, m, touched)
    cond = F.coalesce(F.expr(pred), F.lit(False))
    survivors = live_touched.filter(~cond)
    schema = m.get("schema")
    if schema:
        survivors = survivors.select(*_visible_names(schema))
    extra: dict = {}
    if change_feed_enabled(spark, root):
        extra["change_files"] = _write_change_files(
            live_touched.filter(cond).withColumn("_change_type", F.lit("delete")),
            root,
        )
    spec = m.get("partition_spec")
    files, stats = _write_data_files(
        survivors, root, stats_cols, spec, rebalance=True
    )
    carried = {f: s for f, s in m.get("stats", {}).items() if f in set(untouched)}
    _carry_mor(extra, m, untouched, files, parent + 1)
    return _commit(
        spark,
        root,
        untouched + files,
        "delete-where",
        parent,
        {**carried, **stats} if (carried or stats) else None,
        schema,
        txn=txn,
        partition_spec=spec,
        extra=extra or None,
    )


def update_where(
    spark: SparkSession,
    root: str,
    assignments: dict[str, str],
    pred: str,
    stats_cols: list[str] | None = None,
    txn: str | None = None,
) -> int:
    """``UPDATE <table> SET col = <expr>, ... WHERE <pred>`` as
    file-pruned COPY-ON-WRITE — the same find-then-rewrite shape as
    :func:`delete_where`: only files holding a matching row are read
    (MoR-aware) and rewritten with the assignments applied to the
    matching rows (non-matching rows in those files carry verbatim);
    assignment expressions may reference any table column and are CAST
    back to the column's declared type (the table schema never drifts
    through an UPDATE). CHECK constraints are enforced on the rewritten
    rows before any data lands. With the change feed on, matching rows
    record atomically as ``update_preimage``/``update_postimage`` pairs.
    A predicate matching no file is a no-op returning the current
    version."""
    from pyspark.sql import functions as F

    if txn is not None and txn_version(spark, root, txn) is not None:
        raise ValueError(f"txn {txn!r} already committed; check txn_version first")
    parent = latest_version(spark, root)
    if parent == 0:
        raise ValueError("update_where on an empty table")
    m = _read_manifest(spark, root, parent)
    F.expr(pred)
    for c, e in assignments.items():
        F.expr(e)
    schema = m.get("schema")
    cols = _visible_names(schema) if schema else None
    touched = _locate_files(spark, root, m, pred)
    if not touched:
        return parent
    untouched = [f for f in m["files"] if f not in set(touched)]
    live_touched = _live_view(spark, root, m, touched)
    if cols is None:
        cols = live_touched.columns
    bad = sorted(set(assignments) - set(cols))
    if bad:
        raise ValueError(f"UPDATE assigns to unknown column(s) {bad}")
    types = _schema_types(schema) if schema else {}
    cond = F.coalesce(F.expr(pred), F.lit(False))

    def assigned(c: str):
        e = F.expr(assignments[c])
        if c in types:
            e = e.cast(types[c])
        return F.when(cond, e).otherwise(F.col(c)).alias(c)

    new_rows = live_touched.select(
        *[assigned(c) if c in assignments else F.col(c) for c in cols]
    )
    extra: dict = {}
    if change_feed_enabled(spark, root):
        pre = live_touched.filter(cond).select(*cols).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = (
            live_touched.filter(cond)
            .select(*[assigned(c) if c in assignments else F.col(c) for c in cols])
            .withColumn("_change_type", F.lit("update_postimage"))
        )
        extra["change_files"] = _write_change_files(pre.unionByName(post), root)
    _enforce_constraints(new_rows, root)
    spec = m.get("partition_spec")
    files, stats = _write_data_files(
        new_rows, root, stats_cols, spec, rebalance=True
    )
    carried = {f: s for f, s in m.get("stats", {}).items() if f in set(untouched)}
    _carry_mor(extra, m, untouched, files, parent + 1)
    return _commit(
        spark,
        root,
        untouched + files,
        "update-where",
        parent,
        {**carried, **stats} if (carried or stats) else None,
        schema,
        txn=txn,
        partition_spec=spec,
        extra=extra or None,
    )


def vacuum(spark: SparkSession, root: str, keep_last: int = 2) -> list[str]:
    """Delete data files unreachable from every retained manifest (the
    newest ``keep_last`` EXISTING versions, plus every TAGGED version —
    a tag is a retention promise, Iceberg's tag semantics: expiring
    snapshots never drops a tagged one) and drop the expired manifests.
    Returns the deleted files. Time travel older than the retention
    window is gone after this — exactly Delta VACUUM's contract.
    Idempotent: re-running after earlier vacuums skips already-dropped
    manifests instead of crashing on them."""
    versions = _manifest_versions(spark, root)
    keep_versions = set(versions[-keep_last:]) if keep_last > 0 else set()
    keep_versions.update(v for _n, v in list_tags(spark, root) if v in set(versions))
    # Delta-log invariant: a retained version must stay reconstructible
    # after its ancestors' version files expire — materialize a full
    # checkpoint at EVERY retained version before deleting anything
    # (kept sets are non-contiguous: tags pin arbitrary old versions).
    if any(v not in keep_versions for v in versions):
        for v in sorted(keep_versions):
            _ensure_checkpoint(spark, root, v)
    reachable: set[str] = set()
    for v in keep_versions:
        # _state, not _read_manifest: _all_data_refs is read-only, so the
        # O(files) deep copy per retained version was pure overhead (r15)
        reachable.update(_all_data_refs(_state(spark, root, v)))
    # TWO-PASS (r12 ADVICE): collect every expired version's refs
    # ASCENDING and BEFORE deleting any manifest — delta versions
    # reconstruct through their ancestors, so a delete-as-you-go walk
    # with a cold _STATE_CACHE crashes reading an expired delta whose
    # expired parent was just removed (and, after the crash, every later
    # vacuum too). A version left unreconstructible by a PREVIOUS
    # crashed vacuum is tolerated: its refs are unknowable, so its data
    # files may leak (reclaimable by orphan GC), but it is expired — its
    # manifest still drops, restoring idempotence. Skipping refs never
    # deletes a live file (deletion is ref-driven, not reachability-
    # driven), so the tolerance is safe by construction.
    expired = [v for v in versions if v not in keep_versions]
    expired_refs: dict[int, set[str]] = {}
    for v in expired:
        try:
            expired_refs[v] = _all_data_refs(_state(spark, root, v))
        except Exception:
            expired_refs[v] = set()
    # expired sharded checkpoints: their ckptshard-* files go with the
    # index (one listing, grouped by version) — EXCEPT shards a retained
    # checkpoint still references: incremental checkpoints (r13 verdict
    # task 1) share untouched shard files forward by name, so liveness
    # is BY REFERENCE, not by the version embedded in the name. Every
    # retained version has its own checkpoint by this point (ensured
    # above), so collecting their indexes' shard refs is complete.
    kept_shards: set[str] = set()
    for v in keep_versions:
        cp = _ckpt_path(root, v)
        if fsio.exists(spark, cp):
            obj = json.loads(fsio.read_text(spark, cp))
            if obj.get("format") == table_log.CKPT_LIST_FORMAT:
                kept_shards.update(sm["path"] for sm in obj["shards"])
    # sweep: a shard is reclaimable when (a) no retained checkpoint
    # references it AND (b) its name-version is not retained (a
    # retained version's own shards stay with it — conservative toward
    # a concurrent checkpointer of that version). Covers shards whose
    # name-version's manifest expired in an EARLIER vacuum (a later
    # incremental checkpoint kept them alive by reference until a full
    # rewrite dropped the reference).
    stale_shards = [
        name
        for name in fsio.list_names(spark, _snap_dir(root))
        if name.startswith("ckptshard-")
        and name not in kept_shards
        and int(name[10:18]) not in keep_versions
    ]
    deleted = []
    for v in expired:
        for f in expired_refs[v]:
            if f.startswith("..") or f.startswith("_branches/"):
                # not this table's bytes: parent-owned (a branch's view of
                # the source) or branch-owned (a fast-forwarded branch's
                # local files — the branch's own log still references
                # them, so only the branch lifecycle may reclaim them)
                continue
            if f not in reachable and fsio.delete(spark, f"{root}/{f}", recursive=False):
                deleted.append(f)
        fsio.delete(spark, _manifest_path(root, v), recursive=False)
        # expired versions' checkpoint indexes go with them (every kept
        # version now carries its own)
        fsio.delete(spark, _ckpt_path(root, v), recursive=False)
    for name in stale_shards:
        fsio.delete(spark, f"{_snap_dir(root)}/{name}", recursive=False)
    return sorted(set(deleted))


def _constraint_path(root: str, name: str) -> str:
    return f"{_snap_dir(root)}/constraint-{name}.json"


def list_check_constraints(spark: SparkSession, root: str) -> dict[str, str]:
    """name -> SQL predicate for every declared CHECK constraint."""
    out = {}
    if not fsio.exists(spark, _snap_dir(root)):
        return out
    for f in fsio.list_names(spark, _snap_dir(root)):
        if f.startswith("constraint-") and f.endswith(".json"):
            d = json.loads(fsio.read_text(spark, f"{_snap_dir(root)}/{f}"))
            out[d["name"]] = d["expr"]
    return out


def add_check_constraint(spark: SparkSession, root: str, name: str, expr: str) -> None:
    """Declare a CHECK constraint (Delta ``ADD CONSTRAINT``): ``expr``
    is a SQL predicate every row must satisfy, enforced by EVERY writer
    from now on (append/overwrite/merge/replace-partitions/mor-upsert
    refuse a batch with a violating row — eagerly, before any data file
    lands). Adding is refused while any EXISTING row violates (Delta's
    contract: a constraint is a table-wide invariant, not a
    forward-only filter) — that check is one scan, paid once at
    declaration. NULL predicate results count as violations (the x121
    expectations rule: an unevaluable check is not a passing one).
    Atomic create-if-absent; re-declaring needs an explicit
    :func:`drop_check_constraint` first."""
    if not name or any(ch in name for ch in "/\\ "):
        raise ValueError(f"invalid constraint name {name!r}")
    from pyspark.sql import functions as F

    F.expr(expr)  # parse before touching anything
    if latest_version(spark, root) > 0:
        bad = (
            read_snapshot(spark, root)
            .filter(~F.coalesce(F.expr(expr), F.lit(False)))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"cannot add constraint {name!r}: existing rows violate {expr!r}"
            )
    fsio.mkdirs(spark, _snap_dir(root))
    try:
        fsio.create_text_atomic(
            spark, _constraint_path(root, name), json.dumps({"name": name, "expr": expr})
        )
    except FileExistsError as ex:
        raise ValueError(f"constraint {name!r} already exists") from ex


def drop_check_constraint(spark: SparkSession, root: str, name: str) -> bool:
    """Remove a CHECK constraint (False if absent). Rows already in the
    table are untouched — the invariant simply stops being enforced."""
    return fsio.delete(spark, _constraint_path(root, name), recursive=False)


def _enforce_constraints(df: DataFrame, root: str) -> None:
    """Refuse the rows a writer is about to land if any declared CHECK
    constraint is violated — rides the x121 expectations machinery
    (one codegen'd tagging pass, per-constraint violation counts in the
    error). Zero cost when no constraints are declared beyond one
    sidecar listing. Soundness of enforcing only the NEW rows: every
    already-referenced file passed this same gate at ITS write (or the
    add-time full scan), so the invariant holds table-wide by
    induction."""
    spark = df.sparkSession
    cons = list_check_constraints(spark, root)
    if not cons:
        return
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators.quality import expectations_apply

    expectations_apply(
        df, [(n, F.expr(e), "fail") for n, e in sorted(cons.items())]
    )


def _tag_path(root: str, name: str) -> str:
    return f"{_snap_dir(root)}/tag-{name}.json"


def create_tag(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> int:
    """Name a version (Iceberg TAG): an immutable label — audit points,
    'the snapshot we trained run X on' — that both time travel and
    retention understand: :func:`read_snapshot_tag` resolves it, and
    :func:`vacuum` NEVER expires a tagged version however small its
    keep window. Created atomically (create-if-absent), so a name maps
    to exactly one version forever; re-tagging needs an explicit
    :func:`delete_tag` first (Iceberg's replace-tag is delete+create).
    Returns the tagged version.

    Concurrency caveat (documented residual risk, r10 ADVICE): the
    post-create re-check below NARROWS but does not CLOSE the race
    with a concurrent vacuum — a vacuum that listed tags before the
    tag file landed may delete the target manifest AFTER the re-check
    passed, leaving a dangling tag it never saw. The retention promise
    is therefore BEST-EFFORT under a vacuum racing the tag's creation
    (tags created before the vacuum starts are always honored). Closing
    it fully needs claim-file arbitration between create_tag and vacuum
    (the WAP publish/abort protocol); callers who need a hard guarantee
    today should serialize tagging with their maintenance window —
    standard practice, since vacuum is an operator-scheduled job."""
    if not name or any(ch in name for ch in "/\\ "):
        raise ValueError(f"invalid tag name {name!r}")
    v = latest_version(spark, root) if version is None else version
    if v not in set(_manifest_versions(spark, root)):
        raise ValueError(f"version {v} does not exist at {root}")
    try:
        fsio.create_text_atomic(
            spark, _tag_path(root, name), json.dumps({"name": name, "version": v})
        )
    except FileExistsError as ex:
        raise ValueError(f"tag {name!r} already exists") from ex
    # TOCTOU guard (r9 ADVICE): a concurrent vacuum that listed tags
    # BEFORE this create can expire the target version before the tag
    # file lands, leaving a tag pointing at a missing manifest. Re-check
    # after the atomic create; if the manifest vanished, the retention
    # promise cannot be honored — undo the tag and surface the race.
    if not fsio.exists(spark, _manifest_path(root, v)):
        fsio.delete(spark, _tag_path(root, name), recursive=False)
        raise ConcurrentCommitError(
            f"version {v} was vacuumed while tag {name!r} was being created"
        )
    return v


def delete_tag(spark: SparkSession, root: str, name: str) -> bool:
    """Drop a tag (the version becomes expirable by the next vacuum
    like any other). Returns False if the tag was absent."""
    return fsio.delete(spark, _tag_path(root, name), recursive=False)


def list_tags(spark: SparkSession, root: str) -> list[tuple[str, int]]:
    """(name, version) for every tag, sorted by name."""
    out = []
    for f in fsio.list_names(spark, _snap_dir(root)):
        if f.startswith("tag-") and f.endswith(".json"):
            d = json.loads(fsio.read_text(spark, f"{_snap_dir(root)}/{f}"))
            out.append((d["name"], int(d["version"])))
    return sorted(out)


def read_snapshot_tag(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Time travel by tag name — ``read_snapshot`` at the tagged
    version (which vacuum is contractually keeping alive)."""
    p = _tag_path(root, name)
    if not fsio.exists(spark, p):
        raise ValueError(f"no tag {name!r} at {root}")
    return read_snapshot(spark, root, json.loads(fsio.read_text(spark, p))["version"])


def gc_orphans(
    spark: SparkSession, root: str, min_age_sec: float = 6 * 3600.0
) -> list[str]:
    """Delete data files referenced by NO manifest — the obverse of
    :func:`vacuum` (which expires OLD versions): orphans are files a
    writer produced before LOSING a commit race (merge_commit writes
    data first, then arbitrates) or before crashing mid-commit.

    An unreferenced file CAN still become referenced: every writer
    (append, overwrite, merge_commit) writes its data files BEFORE the
    manifest commit, so a concurrent GC could delete an in-flight
    writer's files and let its subsequent commit publish dangling
    references. The ``min_age_sec`` retention guard closes that window
    — exactly Delta VACUUM's retention check: only files whose mtime is
    older than the threshold are deleted, and the threshold need only
    exceed the longest possible write-files→commit gap. Pass ``0`` only
    when no writer can be in flight (single-writer maintenance window).
    Files already past retention are safe by the commit protocol: a
    commit only references files its own writer JUST wrote under a
    fresh uuid directory, never hours-old strays.

    Returns the deleted relative paths (data files, plus any aged-out
    ``_snapshots/_tmp_*`` left by writers that crashed between the
    manifest temp-write and its atomic rename). The walk recurses into
    Hive-layout ``col=val`` subdirs of partitioned tables. This is the
    maintenance job Delta spells ``VACUUM`` for un-committed files; it
    must LIST the data directories (the one place listing is
    unavoidable — orphans are by definition outside all metadata),
    which is why it runs as a scheduled job, never on the read path.
    Directories left with no live files are removed with them."""
    cutoff_ms = (time.time() - min_age_sec) * 1000.0
    reachable: set[str] = set()
    for v in _manifest_versions(spark, root):
        # read-only consumer: skip _read_manifest's deep copy (r15)
        reachable.update(_all_data_refs(_state(spark, root, v)))
    # Staged-but-unpublished WAP batches are referenced by their staged
    # manifest, not by any version — they are pending work, not orphans
    # (abort_staged is their reclaim path, at any age). Claimed batches
    # (an in-flight or crashed publish/abort) are equally pending:
    # re-running the claiming operation is THEIR reclaim path.
    for sid in _staged_ids(spark, root):
        reachable.update(_read_staged(spark, root, sid)["files"])
    for f in fsio.list_names(spark, _snap_dir(root)):
        if f.startswith("claim-") and f.endswith(".json"):
            reachable.update(
                json.loads(fsio.read_text(spark, f"{_snap_dir(root)}/{f}"))["files"]
            )
    deleted = []
    for d in fsio.list_names(spark, root):
        if not (d.startswith("data-") or d.startswith("cdc-")):
            continue  # cdc- dirs: change-feed files orphaned by a lost race
        # Captured BEFORE the file sweep (deleting a child bumps the
        # dir's mtime): a young dir may belong to an in-flight writer
        # that created it but has not flushed parquet yet, or hold only
        # _SUCCESS/_temporary job artifacts — same race the file-level
        # retention check closes, same age guard (r8 ADVICE).
        dir_young = fsio.mtime_ms(spark, f"{root}/{d}") > cutoff_ms
        live = False
        for f in fsio.list_files_recursive(spark, f"{root}/{d}"):
            if not f.endswith(".parquet"):
                continue
            rel = f"{d}/{f}"
            if rel in reachable:
                live = True
            elif fsio.mtime_ms(spark, f"{root}/{rel}") > cutoff_ms:
                live = True  # young: may belong to an in-flight commit
            elif fsio.delete(spark, f"{root}/{rel}", recursive=False):
                deleted.append(rel)
        if not live and not dir_young:
            fsio.delete(spark, f"{root}/{d}", recursive=True)
    for f in fsio.list_names(spark, _snap_dir(root)):
        rel = f"_snapshots/{f}"
        if f.startswith("_tmp_") and fsio.mtime_ms(spark, f"{root}/{rel}") <= cutoff_ms:
            if fsio.delete(spark, f"{root}/{rel}", recursive=False):
                deleted.append(rel)
    return sorted(deleted)


def compact(
    spark: SparkSession,
    root: str,
    target_file_count: int = 1,
    min_files: int = 2,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 8,
    purge_mapping: bool = False,
) -> int | None:
    """Rewrite the LATEST snapshot's sliver files into
    ``target_file_count`` files and publish the result as a layout-only
    ``replace`` version — Delta/Iceberg ``OPTIMIZE`` through the
    manifest: same rows, same schema, same stats semantics (per-file
    min/max recomputed for every column the manifest tracked), old
    versions still readable, and the slivers reclaimable by a later
    :func:`vacuum`. Streaming snapshot sinks (st22/st23) produce one
    small-file version per micro-batch; without this job a tailed table
    decays into millions of kilobyte files whose per-file scheduling
    overhead dominates 100 TB scans. Returns the new version, or None
    when the table already has <= ``min_files`` files (idempotence: a
    second compact is a no-op, not an empty churn commit).

    The ``replace`` op is deliberately NOT ``append``: incremental
    readers (x84 / snapshot_tail) refuse ranges crossing it, because a
    layout rewrite re-adds existing ROWS under new FILES and a file-diff
    consumer would double-count them. Consumers resume from the
    compacted version. Partitioned tables keep their layout (rewrites
    coalesce within the declared partitioning).

    On a merge-on-read table, compaction is also the delete
    materializer: the rewrite plans through the deletes-applied view,
    so the survivors land in the new files and the published manifest
    carries NO pending deletes — reads go back to plain scans and the
    delete-key files age out through vacuum. This runs even when the
    file count is already small (pending deletes alone justify the
    rewrite). A delete-materializing compaction DROPS rows, so it is
    stamped ``data_change: true`` + ``deletes_materialized`` (Delta:
    dataChange=false is legal only for OPTIMIZE) — incremental readers
    refuse to skip it; only pure layout rewrites carry the
    skip-compactions marker. With the change feed enabled it also
    records an EMPTY change-file list so :func:`read_changes` crosses
    it without refusal (the materialized rows already fed their
    pre-images at their mor_delete/mor_upsert commit — compaction is
    logically row-preserving).

    ``cluster_by`` is OPTIMIZE ZORDER BY: before writing, rows are
    range-partitioned and sorted on a Morton interleave of the named
    numeric columns (each equal-width-bucketized into ``2**zorder_bits``
    buckets between its observed min/max — one bounded 2-value-per-
    column aggregate), so each output file covers a small rectangle of
    the clustered space and the manifest's per-file min/max stats (which
    this recomputes, now also over ``cluster_by``) prune multi-column
    predicates to a few files. Pure static bit expressions
    (operators/maintenance.py::zorder_key) — codegen'd, no UDF; the
    range partitioning is the same one exchange the rewrite needs
    anyway to produce ``target_file_count`` files.

    ``purge_mapping=True`` is Delta's ``REORG TABLE ... PURGE``: the
    rewrite runs even on an already-compact table, and the published
    schema drops column-mapping state — alias chains (every file now
    carries the current logical names) and dropped-column tombstones
    (their bytes are gone from the new files, their names released for
    reuse; :func:`undrop_column` is impossible afterwards, which is why
    purging is opt-in). Declared defaults survive (they govern future
    omitting writers). Old versions keep their own schema, so pre-purge
    reads and time travel are untouched."""
    from pyspark.sql import functions as F

    parent = latest_version(spark, root)
    if parent == 0:
        return None
    m = _read_manifest(spark, root, parent)
    if len(m["files"]) <= max(min_files, target_file_count) and not (
        m.get("deletes") or cluster_by or purge_mapping
    ):
        return None
    df = _live_view(spark, root, m, m["files"])
    stats_cols = (
        sorted(
            {c for s in m.get("stats", {}).values() for c in s if not c.startswith("__")}
            | set(cluster_by or [])
        )
        or None
    )
    spec = m.get("partition_spec")
    # target 1 + no clustering + unpartitioned: the single_file write
    # path — repartition(1) inside _write_data_files plus driver-side
    # pyarrow stats for the one output file (_single_file_stats), so the
    # stats read-back Spark job drops (guide §1.2). NOT observe(), which
    # is banned repo-wide (see _write_data_files' docstring).
    use_single_file = target_file_count == 1 and not cluster_by and not spec
    if cluster_by:
        shaped = _zorder_shape(df, cluster_by, target_file_count, zorder_bits)
    elif use_single_file:
        shaped = df
    else:
        shaped = df.coalesce(target_file_count)
    files, stats = _write_data_files(
        shaped, root, stats_cols, spec, single_file=use_single_file
    )
    # Delta's dataChange=false is legal ONLY for row-preserving rewrites
    # (OPTIMIZE): when this compaction also MATERIALIZES pending MoR
    # deletes, rows are dropped, so the marker is withheld — incremental
    # readers then refuse to cross it (correct: a file-diff consumer
    # cannot see row-level deletions) and must resume via snapshot CDC.
    # Pure layout rewrites keep the marker and stay skippable (r9 ADVICE).
    extra: dict = {"data_change": False} if not m.get("deletes") else {
        "data_change": True,
        "deletes_materialized": True,
    }
    if m.get("deletes") and change_feed_enabled(spark, root):
        # r12 verdict task 3 (CDF continuity): with the feed on, a
        # delete-materializing compaction records an EMPTY change-file
        # list — recorded-empty, not unrecorded, so read_changes crosses
        # it without refusal and a long-lag feed consumer never needs a
        # full resync. Empty is CORRECT, not a shortcut: the rows this
        # rewrite physically drops already left the LOGICAL table at
        # their mor_delete/mor_upsert commit (which recorded their
        # pre-image `delete` rows in its own feed slice; read_snapshot
        # applies pending deletes at every version, so the dead rows
        # were never visible after that commit) — re-emitting them here
        # would double-remove on multiset replay. Compaction is always
        # logically row-preserving; data_change:true stays for FILE-diff
        # consumers (read_incremental), which correctly still refuse.
        extra["change_files"] = []
    return _commit(
        spark,
        root,
        files,
        "replace",
        parent,
        stats or None,
        _purged_schema(m.get("schema")) if purge_mapping else m.get("schema"),
        partition_spec=spec,
        extra=extra,
    )


def read_incremental(
    spark: SparkSession,
    root: str,
    since_version: int | None = None,
    to_version: int | None = None,
    since_ts: float | None = None,
    to_ts: float | None = None,
    skip_compactions: bool = False,
) -> DataFrame:
    """Read ONLY the rows added after ``since_version`` (exclusive) up
    to ``to_version`` (inclusive, default latest) — the Iceberg
    incremental-append scan / Delta change-feed read for append-only
    histories. Because data files are immutable and appends only ever
    ADD files, the row delta between two versions is exactly the
    file-set difference of their manifests: the scan plans and reads
    O(new files), touches zero old data, and needs no row-level diffing
    at all. This is how a downstream consumer (an incremental MV
    refresh, x71; a streaming backfill) keeps up with a 100 TB table by
    reading megabytes per cycle.

    Soundness requires every commit in the range to be an append —
    an overwrite or rollback breaks "newer files == newer rows" — so
    the chain is checked and non-append histories are refused (consume
    a mutating table through x41's snapshot CDC instead). A vacuumed
    (missing) manifest inside the range is likewise refused: the
    append-only proof cannot be reconstructed.

    ``skip_compactions=True`` is Delta's ``skipChangeCommits`` for the
    auto-compacted medallion loop: ``replace`` versions that carry the
    compactor's ``data_change: false`` marker are stepped OVER instead
    of refused. Sound because the walk then accumulates per-version
    file diffs — an append's new files are captured at ITS version
    (those files stay on disk even after a later compaction
    re-references their rows elsewhere), and the compaction version
    itself contributes nothing (it adds no rows by contract of the
    marker). The consumer-lag contract this implies: vacuum retention
    must exceed consumer lag, or the skipped-over originals may be
    reclaimed before they are read — exactly Delta's documented
    constraint. A ``replace`` WITHOUT the marker still refuses (an
    arbitrary overwrite is not provably row-preserving).

    Bounds may be given as versions or as epoch timestamps
    (``since_ts`` / ``to_ts``, resolved through :func:`version_as_of` —
    "changes since 2 a.m." without knowing version numbers). The delta
    is planned through the same schema-reconciling reader as full
    snapshots: when the range spans an ``evolve=True`` append the new
    files are heterogeneous, and every row comes back in the
    ``to_version`` table schema with typed-NULL backfill — a plain
    parquet read would let whichever footer wins inference drop or
    surface the evolved columns at random."""
    if since_version is not None and since_ts is not None:
        raise ValueError("pass since_version or since_ts, not both")
    if to_version is not None and to_ts is not None:
        raise ValueError("pass to_version or to_ts, not both")
    if since_ts is not None:
        since_version = version_as_of(spark, root, since_ts)
    if since_version is None:
        raise ValueError("one of since_version / since_ts is required")
    if to_ts is not None:
        to_version = version_as_of(spark, root, to_ts)
    v_to = latest_version(spark, root) if to_version is None else to_version
    if v_to < since_version:
        raise ValueError(f"to_version {v_to} precedes since_version {since_version}")
    # the range rule (table_log.appended_files) is the snapshot_tail
    # stream's too. wap-publish is append-family: its file set is by
    # construction parent's files + the staged batch's files, strictly
    # additive, so a WAP-gated pipeline stays change-feed-able. A
    # schema-only commit contributes no rows; the delta below is planned
    # through m_to's schema, so the consumer sees the post-evolution
    # names — the same contract as a range spanning an evolve=True append
    prev = set(_state(spark, root, since_version)["files"]) if since_version else set()
    new = [
        f
        for f, _, _ in table_log.appended_files(
            _FsioLog(spark, root),
            set(_manifest_versions(spark, root)),
            since_version,
            v_to,
            prev,
            skip_compactions,
        )
    ]
    m_to = _state(spark, root, v_to)
    if not new:
        return read_snapshot(spark, root, v_to).limit(0)
    return _read_files(spark, root, new, m_to.get("schema"), m_to.get("partition_spec"))


def snapshot_diff(
    spark: SparkSession,
    root: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level diff between two versions — Delta's ``table_changes``
    for tables WITHOUT a change feed: every row that is in
    ``to_version`` but not ``from_version`` comes back tagged
    ``_change_type='insert'``, the reverse tagged ``'delete'``
    (multiset semantics — a row present twice then once diffs as one
    delete, EXCEPT ALL's contract, so the diff applied to the old
    version reproduces the new one exactly).

    Two plans, picked by what the history can prove:

    * **append-only fast path**: when every commit in the range is
      append-family, the delta is the file-set difference
      (:func:`read_incremental`'s proof) — O(new files) read, zero old
      data scanned, no deletes by construction;
    * **content-diff fallback**: for arbitrary histories (overwrite,
      merge, compaction) both versions are read and diffed with
      ``exceptAll`` both ways — two scans and a shuffle, the honest
      cost of asking for row changes a log cannot replay (the
      change-feed sinks, st21/st31, exist so hot paths never need
      this). Audit/backfill tooling shape, not a per-trigger one."""
    from pyspark.sql import functions as F

    v_to = latest_version(spark, root) if to_version is None else to_version
    try:
        ins = read_incremental(
            spark, root, since_version=from_version, to_version=v_to
        )
        return ins.withColumn("_change_type", F.lit("insert"))
    except ValueError:
        pass  # range is not provably append-only: content diff
    old = (
        read_snapshot(spark, root, from_version)
        if from_version
        else read_snapshot(spark, root, v_to).limit(0)
    )
    new = read_snapshot(spark, root, v_to)
    return new.exceptAll(old).withColumn(
        "_change_type", F.lit("insert")
    ).unionByName(
        old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    )


# ---------------------------------------------------------------------------
# Write-audit-publish (WAP): stage a batch OUTSIDE the version chain, audit
# the would-be table, then publish atomically (or abort). Iceberg's
# stage-only commit + cherry-pick workflow, over the same manifests.
# ---------------------------------------------------------------------------


def _staged_path(root: str, stage_id: str) -> str:
    return f"{_snap_dir(root)}/staged-{stage_id}.json"


def _staged_ids(spark: SparkSession, root: str) -> list[str]:
    return sorted(
        f[len("staged-") : -len(".json")]
        for f in fsio.list_names(spark, _snap_dir(root))
        if f.startswith("staged-") and f.endswith(".json")
    )


def _read_staged(spark: SparkSession, root: str, stage_id: str) -> dict:
    p = _staged_path(root, stage_id)
    if not fsio.exists(spark, p):
        raise ValueError(f"no staged batch {stage_id!r} at {root}")
    return json.loads(fsio.read_text(spark, p))


def _claim_path(root: str, stage_id: str, kind: str) -> str:
    return f"{_snap_dir(root)}/claim-{kind}-{stage_id}.json"


def _claim_staged(spark: SparkSession, root: str, stage_id: str, kind: str) -> dict:
    """Atomically move the staged manifest to a ``claim-<kind>-`` name,
    making it the ARBITRATION point between publish and abort: the
    no-overwrite rename means exactly one of the two racing paths owns
    the batch from here on (r8 ADVICE — previously a concurrent abort
    could delete the manifest and data files between publish's read and
    its commit, publishing dangling file refs). A claim file also makes
    each path crash-RESUMABLE: a retry finds its own claim and picks up
    where it left off, while the opposite path sees who won and fails
    with a clear error. Claimed batches stay protected from
    :func:`gc_orphans` (the GC reads claim manifests too)."""
    claim = _claim_path(root, stage_id, kind)
    other = _claim_path(root, stage_id, "abort" if kind == "publish" else "publish")
    if fsio.exists(spark, claim):  # crash-resume of our own claim
        return json.loads(fsio.read_text(spark, claim))
    try:
        fsio.rename_nooverwrite(spark, _staged_path(root, stage_id), claim)
    except FileExistsError:  # a same-kind twin claimed first
        return json.loads(fsio.read_text(spark, claim))
    except FileNotFoundError:
        if fsio.exists(spark, claim):  # lost the ms-level race to a twin
            return json.loads(fsio.read_text(spark, claim))
        if fsio.exists(spark, other):
            raise ValueError(
                f"staged batch {stage_id!r} already claimed by "
                f"{'abort' if kind == 'publish' else 'publish'}"
            ) from None
        raise ValueError(f"no staged batch {stage_id!r} at {root}") from None
    return json.loads(fsio.read_text(spark, claim))


def stage_append(
    df: DataFrame,
    root: str,
    stage_id: str,
    stats_cols: list[str] | None = None,
    evolve: bool = False,
) -> str:
    """Write ``df``'s data files and a STAGED manifest that no version
    references — the write half of write-audit-publish. The batch is
    invisible to every reader (``read_snapshot``, time travel, change
    feed, tailing streams) until :func:`publish_staged` commits it;
    a failed audit calls :func:`abort_staged` and the table's history
    never shows the batch existed. Schema and partition-spec contracts
    are enforced at stage time (fail fast, before the audit spends
    anything) and re-checked at publish (the table may have moved).

    The staged manifest itself is created atomically (create-if-absent),
    so a stage_id names exactly one batch: a retried staging job gets
    ``FileExistsError`` semantics as a ValueError instead of silently
    writing a second copy. Staged data files are protected from
    :func:`gc_orphans` by being listed in the staged manifest (the GC
    reads those too); an abandoned stage is reclaimed by
    :func:`abort_staged`, not by ad-hoc file deletion."""
    spark = df.sparkSession
    if not stage_id or any(ch in stage_id for ch in "/\\ "):
        raise ValueError(f"invalid stage_id {stage_id!r}")
    parent = latest_version(spark, root)
    m = _read_manifest(spark, root, parent) if parent else {}
    spec = m.get("partition_spec")
    schema = _merged_schema(m.get("schema"), _schema_list(df), evolve)
    # rebalance: a staged batch is workload-sized (WAP sinks stage one
    # micro-batch per call) — right-size the staged files (guide §6)
    files, stats = _write_data_files(
        df, root, stats_cols, spec, rebalance=True
    )
    staged = {
        "stage_id": stage_id,
        "op": "staged-append",
        "parent": parent,
        "files": sorted(files),
        "stats": stats,
        "schema": schema,
        "staged_at": time.time(),
    }
    if spec:
        staged["partition_spec"] = spec
    try:
        fsio.create_text_atomic(spark, _staged_path(root, stage_id), json.dumps(staged))
    except FileExistsError as ex:
        raise ValueError(f"stage_id {stage_id!r} already staged") from ex
    return stage_id


def read_staged(spark: SparkSession, root: str, stage_id: str) -> DataFrame:
    """The table AS IT WOULD BE after publishing ``stage_id`` — the
    audit surface: current latest content plus the staged files, through
    the same schema-reconciling, MoR-applying reader as
    :func:`read_snapshot`. Pending equality deletes do NOT eat staged
    rows (they are sequenced as newer than any committed delete),
    matching what publish will produce."""
    s = _read_staged(spark, root, stage_id)
    parent = latest_version(spark, root)
    m = _read_manifest(spark, root, parent) if parent else {}
    files = m.get("files", []) + s["files"]
    pseudo = dict(m)
    pseudo["schema"] = _merged_schema(m.get("schema"), s["schema"], evolve=True)
    extra = _mor_extra(m, s["files"], parent + 1)
    if extra:
        pseudo.update(extra)
    return _live_view(spark, root, pseudo, files)


def publish_staged(spark: SparkSession, root: str, stage_id: str) -> int:
    """Commit staged batch ``stage_id`` as the next version (the
    cherry-pick half of WAP). The batch is re-parented onto the CURRENT
    latest — an append commutes with any intervening history, because
    the published content is by definition (current content) + (batch
    rows); schema and partition-spec compatibility are re-verified
    against the current manifest, and pending MoR deletes are carried
    so they keep applying only to strictly-older files. Whether an
    audit that ran BEFORE an intervening commit is still meaningful is
    the caller's policy (Iceberg's cherry-pick has the same contract);
    the staged parent version is recorded in the published manifest for
    exactly that provenance check.

    Publishing is idempotent per stage_id: the committed manifest
    records ``{"stage_id": ...}``, and a retry (crash between commit
    and claim cleanup) finds it and returns the already-committed
    version instead of double-appending. Publish and a concurrent
    :func:`abort_staged` are arbitrated by an atomic claim rename of
    the staged manifest — exactly one wins; the loser gets a ValueError
    naming the winner. A lost commit race retries in-process against
    the new latest (same optimistic loop and commute classification as
    :func:`append` — a publish IS an append); a non-commuting
    intervening op aborts with the conflicting op named, leaving the
    claim in place so publish can be re-run after inspection."""
    for v in reversed(_manifest_versions(spark, root)):
        if _read_manifest(spark, root, v).get("stage_id") == stage_id:
            fsio.delete(spark, _staged_path(root, stage_id), recursive=False)
            fsio.delete(spark, _claim_path(root, stage_id, "publish"), recursive=False)
            return v
    s = _claim_staged(spark, root, stage_id, "publish")
    last_err: Exception | None = None
    parent = latest_version(spark, root)
    for attempt in range(3):
        if attempt:
            new_parent = latest_version(spark, root)
            for v in range(parent + 1, new_parent + 1):
                op = _manifest_base_field(spark, root, v, "op") or ""
                if op not in _APPEND_COMMUTES_WITH:
                    raise ConcurrentCommitError(
                        f"publish lost to a non-commuting {op!r} commit "
                        f"(version {v}); claim kept — re-run publish_staged "
                        f"after inspecting the new table state"
                    ) from last_err
            parent = new_parent
        m = _read_manifest(spark, root, parent) if parent else {}
        if m.get("partition_spec") != s.get("partition_spec"):
            raise SchemaMismatchError(
                f"partition spec changed since stage: table has "
                f"{m.get('partition_spec')}, staged batch has {s.get('partition_spec')}"
            )
        schema = _merged_schema(m.get("schema"), s["schema"], evolve=True)
        try:
            version = _commit(
                spark,
                root,
                m.get("files", []) + s["files"],
                "wap-publish",
                parent,
                {**m.get("stats", {}), **s.get("stats", {})},
                schema,
                partition_spec=s.get("partition_spec"),
                extra={
                    **(_mor_extra(m, s["files"], parent + 1) or {}),
                    "stage_id": stage_id,
                    "staged_parent": s["parent"],
                },
            )
        except ConcurrentCommitError as ex:
            last_err = ex
            continue
        fsio.delete(spark, _claim_path(root, stage_id, "publish"), recursive=False)
        return version
    raise last_err  # type: ignore[misc]


def abort_staged(spark: SparkSession, root: str, stage_id: str) -> list[str]:
    """Drop staged batch ``stage_id``: atomically CLAIM its manifest
    first (the stage stops being publishable, and a racing
    :func:`publish_staged` is arbitrated away — exactly one path wins),
    then delete its data files — which no version references, so the
    table's history is untouched. Crash-resumable: a retry finds the
    abort claim and finishes the file deletes. Returns the deleted
    data-file paths."""
    s = _claim_staged(spark, root, stage_id, "abort")
    deleted = []
    dirs = set()
    for rel in s["files"]:
        if fsio.delete(spark, f"{root}/{rel}", recursive=False):
            deleted.append(rel)
        dirs.add(rel.split("/", 1)[0])
    for d in sorted(dirs):
        if not any(
            f.endswith(".parquet")
            for f in fsio.list_files_recursive(spark, f"{root}/{d}")
        ):
            fsio.delete(spark, f"{root}/{d}", recursive=True)
    fsio.delete(spark, _claim_path(root, stage_id, "abort"), recursive=False)
    return sorted(deleted)


# ---------------------------------------------------------------------------
# Branches: a divergent version chain over the SAME data files (Iceberg
# branches / Delta shallow clone). Zero-copy at creation; the branch then
# evolves independently with every operator above (append, merge, MoR,
# compact, time travel) against its own manifest log.
# ---------------------------------------------------------------------------

_BRANCH_UP = "../.."  # a branch root sits at <root>/_branches/<name>


def create_branch(
    spark: SparkSession,
    root: str,
    name: str,
    version: int | None = None,
    as_of_ts: float | None = None,
) -> str:
    """Create branch ``name`` at the given source version (default
    latest) and return its table root — usable with EVERY operator in
    this module: the branch is a full snapshot table whose v1 manifest
    references the source's data files by RELATIVE parent paths
    (``../../data-*``), so creation writes one manifest and zero data
    bytes however large the table. Writes after the branch point land
    under the branch root; reads resolve the mixed file list through
    the same planner. Pending MoR delete state is carried, so the
    branch sees exactly the source version's live rows.

    Ownership contract (Delta shallow-clone semantics): the branch
    never owns parent-referenced files — its :func:`vacuum` skips
    ``../`` refs (drop the manifest, never the shared file) and its
    :func:`gc_orphans` walk never ascends; :func:`compact` rewrites the
    live rows into branch-local files, detaching it entirely. The
    source is UNAWARE of branches: vacuuming the source past the branch
    point can break an undetached branch, exactly Delta's documented
    shallow-clone caveat — keep source retention longer than branch
    lifetime, or detach via compact. Partitioned sources are refused
    (partition values are rebuilt from ``basePath``-relative dirs,
    which parent refs would garble)."""
    if not name or any(ch in name for ch in "/\\ "):
        raise ValueError(f"invalid branch name {name!r}")
    if version is not None and as_of_ts is not None:
        raise ValueError("pass version or as_of_ts, not both")
    if as_of_ts is not None:
        version = version_as_of(spark, root, as_of_ts)
    v = latest_version(spark, root) if version is None else version
    m = _read_manifest(spark, root, v)
    if m.get("partition_spec"):
        raise ValueError("branches of partitioned tables are not supported")
    broot = f"{root}/_branches/{name}"
    if _manifest_versions(spark, broot):
        raise ValueError(f"branch {name!r} already exists")
    if any(e.get("pos") for e in m.get("deletes") or []):
        raise ValueError(
            "source has pending positional delete vectors: their stored "
            "target paths are root-relative and cannot ride a branch "
            "re-root — compact() the source first"
        )
    up = lambda f: f"{_BRANCH_UP}/{f}"  # noqa: E731
    extra: dict = {"branched_from_version": v}
    if m.get("deletes"):
        extra["seqs"] = {up(f): s for f, s in m.get("seqs", {}).items()}
        extra["deletes"] = [
            {**e, "files": [up(f) for f in e["files"]]} for e in m["deletes"]
        ]
    _commit(
        spark,
        broot,
        [up(f) for f in m["files"]],
        "branch",
        0,
        {up(f): s for f, s in m.get("stats", {}).items()},
        m.get("schema"),
        extra=extra,
    )
    return broot


def fastforward_branch(spark: SparkSession, root: str, name: str) -> int:
    """Publish branch ``name``'s latest state as the source table's next
    version — Iceberg's ``fastForwardBranch`` / the merge-back half of
    the shallow-clone workflow (x103 creates branches; this closes the
    loop). ZERO-COPY: the commit re-roots the branch manifest's file
    references — shared files (``../../data-*``) come back to their
    source-relative names, branch-LOCAL files (writes after the branch
    point, or a detaching compact) are referenced in place under
    ``_branches/<name>/`` — one manifest write, no data bytes moved,
    however much the branch diverged.

    Fast-forward ONLY: refused (:class:`ConcurrentCommitError`) when
    the source advanced past the branch point — the branch's history is
    then not a linear extension of main's and publishing it would
    silently drop main's commits; rebase (re-branch + replay) or an
    explicit merge is the caller's decision, never this function's.
    Also refused when the branch carries pending MoR deletes (compact
    the branch first — main must not inherit a delete set whose seqs
    were minted in another log) or when the branch's origin manifest
    was vacuumed (the branch point is then unprovable).

    Ownership after the merge: the source's :func:`vacuum` never
    deletes ``_branches/`` refs (the branch log still references those
    bytes; only the branch lifecycle reclaims them) — symmetric to a
    branch's vacuum never touching ``../`` parent refs. Keep the branch
    directory alive as long as any retained source version references
    it, or detach first via branch-side :func:`compact`."""
    broot = f"{root}/_branches/{name}"
    bvs = _manifest_versions(spark, broot)
    if not bvs:
        raise ValueError(f"no branch {name!r} at {root}")
    bm = _read_manifest(spark, broot, bvs[-1])
    if bm.get("deletes"):
        raise ValueError(
            "branch has pending MoR deletes: compact() the branch first "
            "(their seqs were minted in the branch log, not the source's)"
        )
    origin = _read_manifest(spark, broot, bvs[0])
    base = origin.get("branched_from_version")
    if base is None:
        raise ValueError(
            f"branch {name!r} origin manifest was vacuumed: the branch "
            "point is unprovable, fast-forward refused"
        )
    parent = latest_version(spark, root)
    if parent != base:
        raise ConcurrentCommitError(
            f"source advanced past the branch point (latest {parent}, "
            f"branched from {base}): not a fast-forward — rebase or merge"
        )

    def reroot(f: str) -> str:
        return f[len("../../"):] if f.startswith("../../") else f"_branches/{name}/{f}"

    return _commit(
        spark,
        root,
        [reroot(f) for f in bm["files"]],
        "fast-forward",
        parent,
        {reroot(f): s for f, s in bm.get("stats", {}).items()} or None,
        bm.get("schema"),
        # a branch may legally have (re)declared a partition spec via
        # overwrite(); without carrying it, _read_files would plan the
        # promoted col=val files with no basePath and cast_to_schema
        # would silently NULL-fill the partition column. _read_files'
        # per-group basePath (dkey keeps the _branches/<name>/data-*
        # prefix) reconstitutes the path values correctly.
        partition_spec=bm.get("partition_spec"),
        extra={"fast_forwarded_from_branch": name},
    )


def list_branches(spark: SparkSession, root: str) -> list[str]:
    """Branch names under ``root`` (tables with at least one manifest)."""
    bdir = f"{root}/_branches"
    if not fsio.exists(spark, bdir):
        return []
    return sorted(
        n
        for n in fsio.list_names(spark, bdir)
        if _manifest_versions(spark, f"{bdir}/{n}")
    )


def replace_partitions(
    df: DataFrame,
    root: str,
    stats_cols: list[str] | None = None,
    txn: str | None = None,
) -> int:
    """Transactional DYNAMIC PARTITION OVERWRITE (Delta ``replaceWhere``
    / Spark's dynamic mode, through the manifest): atomically replace
    exactly the partitions PRESENT in ``df`` — parent files under other
    partition values carry into the child manifest untouched (names,
    stats and all), files under the replaced values drop from the
    reference set but stay on disk for time travel. The daily-restate
    shape: recompute one day of a 100 TB date-partitioned table and
    publish it as one O(files-touched) commit, with none of the
    read-your-own-output hazards of Spark's in-place dynamic overwrite
    (old files are never deleted, the manifest flip is the only
    mutation).

    Requires a declared partition spec (unpartitioned tables have no
    partition to replace — use :func:`overwrite`); the replaced value
    set is ``df``'s distinct partition values (bounded metadata, like
    Spark's own dynamic mode). Refused while MoR deletes are pending:
    a global key-delete's scope over a partially-replaced table is
    ambiguous — compact first. ``txn`` is the usual idempotence token."""
    spark = df.sparkSession
    if txn is not None and txn_version(spark, root, txn) is not None:
        raise ValueError(f"txn {txn!r} already committed; check txn_version first")
    parent = latest_version(spark, root)
    m = _read_manifest(spark, root, parent) if parent else {}
    spec = m.get("partition_spec")
    if not spec:
        raise ValueError("replace_partitions needs a partitioned table")
    if m.get("deletes"):
        raise ValueError(
            "pending MoR deletes: their scope over a partial replace is "
            "ambiguous — compact() to materialize them first"
        )
    _merged_schema(m.get("schema"), _schema_list(df), evolve=False)
    raw_values = df.select(*spec).distinct().collect()  # bounded metadata
    if any(v is None for r in raw_values for v in r):
        raise ValueError(
            "NULL partition values cannot be replaced (Hive default-"
            "partition escaping is not round-trippable here)"
        )
    if not raw_values:
        raise ValueError("empty batch: nothing to replace")
    _enforce_constraints(df, root)
    files, stats = _write_data_files(df, root, stats_cols, spec)
    # The replaced-value set is read back from the NEW files' own path
    # segments, not str(value): Spark Hive-escapes partition values on
    # disk (':' -> '%3A' etc.), so a str() comparison never matches an
    # escaped segment and would silently CARRY the old partition files
    # alongside the new ones — duplication instead of a replace (r8
    # ADVICE). Both old and new segments came from the same writer
    # encoding, so segment equality is exact by construction. The unit
    # of replacement is the COMPOSITE value: all spec levels' segments
    # as one tuple (data-<uuid>/<c1>=<v1>/.../<cN>=<vN>/part-...).
    nseg = len(spec)

    def pkey(f: str) -> tuple:
        return tuple(f.split("/")[1 : 1 + nseg])

    new_segs = {pkey(f) for f in files}

    def replaced(f: str) -> bool:
        return pkey(f) in new_segs

    kept = [f for f in m.get("files", []) if not replaced(f)]
    kept_stats = {f: s for f, s in m.get("stats", {}).items() if f in set(kept)}
    return _commit(
        spark,
        root,
        kept + files,
        "replace-partitions",
        parent,
        {**kept_stats, **stats},
        m.get("schema") or _schema_list(df),
        txn=txn,
        partition_spec=spec,
    )


# ---------------------------------------------------------------------------
# Table-level CHANGE DATA FEED (r11 verdict task 4 — Delta's
# enableChangeDataFeed): a table property that makes EVERY row-mutating
# writer record its row-level transitions. Unlike the streaming sinks'
# separate feed tables (st31/st33), the change files here are committed
# ATOMICALLY in the same manifest that publishes the data change
# (Delta's AddCDCFile actions) — there is no feed-before-merge window
# at all, so no visibility gate is needed: a transition is readable
# exactly iff its commit is. Add-only commits (append/wap-publish) and
# file-replacing commits (overwrite/replace-partitions/rollback) need
# NO change files — their feed derives from the manifest file diff at
# read time (Delta derives add-only CDF the same way), so the common
# write path pays nothing.
# ---------------------------------------------------------------------------


def _cdf_path(root: str) -> str:
    return f"{_snap_dir(root)}/cdf.json"


def set_change_feed(spark: SparkSession, root: str, enabled: bool = True) -> None:
    """Enable/disable the table-level change data feed. Enabling is a
    forward-only property (Delta's contract): commits BEFORE enablement
    recorded no change files, and :func:`read_changes` refuses ranges
    that cross an unrecorded row-mutating commit rather than guessing."""
    if enabled:
        fsio.mkdirs(spark, _snap_dir(root))
        try:
            fsio.create_text_atomic(
                spark, _cdf_path(root), json.dumps({"enabled": True})
            )
        except FileExistsError:
            pass
    else:
        fsio.delete(spark, _cdf_path(root), recursive=False)


def change_feed_enabled(spark: SparkSession, root: str) -> bool:
    return fsio.exists(spark, _cdf_path(root))


def _write_change_files(df: DataFrame, root: str) -> list[str]:
    """Write change rows (table columns + ``_change_type``) into an
    immutable ``cdc-<uuid>/`` dir — referenced from the committing
    manifest's ``change_files``, kept alive by vacuum exactly as long
    as the version is retained, swept by orphan GC if the commit loses
    its race.

    REBALANCE-sized (r15, guide §6): the change payload is O(touched
    rows) and unknown up front, and the df's natural partitioning here
    is the upstream scan/join layout — at fixture scale that sprayed a
    kilobyte feed over 32 one-kilobyte files, multiplying every
    downstream cost (write tasks, listing, read_changes scan legs,
    streaming-source partitions) by 32. The AQE rebalance lands a small
    feed as ONE file and splits a huge one into right-sized files with
    the write staying parallel."""
    spark = df.sparkSession
    sub = f"cdc-{uuid.uuid4().hex[:12]}"
    df.hint("rebalance").write.parquet(f"{root}/{sub}")
    return [
        f"{sub}/{f}"
        for f in fsio.list_files_recursive(spark, f"{root}/{sub}")
        if f.endswith(".parquet")
    ]


def _merge_transitions(
    target: DataFrame,
    src: DataFrame,
    keys: list[str],
    when_matched_update,
    out_cols: list[str],
) -> DataFrame:
    """Row-level transitions of a MERGE, built from the same join shape
    and the same routing expressions the merge itself uses (so the post
    images equal what the merge wrote by construction): every source
    row either matched a live target row (update_preimage from the
    target side + update_postimage from the update expressions) or
    inserts (NULL join keys never match, SQL MERGE semantics)."""
    from pyspark.sql import functions as F

    wm = when_matched_update or {}
    t = target.select(*out_cols).withColumn("_t_present", F.lit(True)).alias("t")
    s = src.select(*out_cols).alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    j = t.join(s, cond, "right_outer")
    matched = F.col("t._t_present").isNotNull()
    posts = j.select(
        *[
            F.when(matched, wm.get(c, F.col(f"t.{c}")))
            .otherwise(F.col(f"s.{c}"))
            .alias(c)
            for c in out_cols
        ],
        F.when(matched, F.lit("update_postimage"))
        .otherwise(F.lit("insert"))
        .alias("_change_type"),
    )
    pres = j.filter(matched).select(
        *[F.col(f"t.{c}").alias(c) for c in out_cols],
        F.lit("update_preimage").alias("_change_type"),
    )
    return posts.unionByName(pres)



def read_changes(
    spark: SparkSession,
    root: str,
    since_version: int = 0,
    end_version: int | None = None,
) -> DataFrame:
    """The table's CHANGE DATA FEED over ``(since_version,
    end_version]`` — current visible columns plus ``_change_type``
    (Delta's four row types) and ``_commit_version``. Per version:
    recorded change files are read as-is (merge/MoR commits wrote them
    atomically with the commit); add-only commits derive inserts from
    their added files; file-replacing commits derive deletes+inserts
    from the file diff; metadata-only and row-preserving (data_change
    false) commits contribute nothing. Ranges crossing a row-mutating
    commit with NO recorded change files (written before enablement, or
    a compaction that materialized MoR deletes) REFUSE — no silently
    wrong feeds. Every leg resolves to the END version's schema through
    the alias chains, so renames mid-range are transparent."""
    from pyspark.sql import functions as F

    v_end = latest_version(spark, root) if end_version is None else end_version
    if v_end <= since_version:
        base = read_snapshot(spark, root, v_end) if v_end else None
        if base is None:
            raise ValueError("empty table: no versions to read changes from")
        return (
            base.limit(0)
            .withColumn("_change_type", F.lit(None).cast("string"))
            .withColumn("_commit_version", F.lit(None).cast("long"))
        )
    # the range rule (table_log.changed_files) is the snapshot_changes
    # stream's too: both refuse on exactly the same versions
    entries, specs = table_log.changed_files(
        _FsioLog(spark, root),
        set(_manifest_versions(spark, root)),
        since_version,
        v_end,
        lambda v: _state(spark, root, v),
    )
    schema_now = _state(spark, root, v_end).get("schema") or []
    legs: list[DataFrame] = []
    for (v, ctype), grp in itertools.groupby(entries, key=lambda e: (e[1], e[2])):
        files = [f for f, _, _ in grp]
        if ctype is None:
            # recorded change files: one commit's are one write, so
            # schema-uniform, and they carry their own _change_type
            leg = spark.read.parquet(*[f"{root}/{f}" for f in files])
            if schema_now:
                leg = _project_to_schema(leg, schema_now, keep=("_change_type",))
        else:
            # derived legs read with the spec of the version holding the
            # files: a delete's files belong to the version before
            spec = specs[v - 1] if ctype == "delete" else specs[v]
            leg = _read_files(
                spark, root, sorted(files), schema_now or None, spec
            ).withColumn("_change_type", F.lit(ctype))
        legs.append(
            leg.withColumn("_commit_version", F.lit(int(v)).cast("long"))
        )
    if not legs:
        return (
            read_snapshot(spark, root, v_end)
            .limit(0)
            .withColumn("_change_type", F.lit(None).cast("string"))
            .withColumn("_commit_version", F.lit(None).cast("long"))
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# ---------------------------------------------------------------------------
# Column mapping: rename / drop / undrop / add-with-default as METADATA-ONLY
# commits (Delta column mapping / Iceberg schema evolution). The schema
# entry's alias chain is the field identity Delta carries as a field id: old
# data files keep the column under a former physical name and every reader
# resolves name-first-then-aliases (see _read_files); a dropped column's
# entry stays in the schema as a hidden tombstone so its names can never be
# reused against the old files. compact(purge_mapping=True) is the physical
# purge point: after a full rewrite every file carries the current logical
# names, so chains and tombstones drop from the published schema.
# ---------------------------------------------------------------------------


def _rekey_stats(stats: dict | None, old: str, new: str) -> dict:
    """Per-file stats after a column rename: the manifest is the one
    place stats live, and the renaming commit republishes it — so the
    keys (min/max under the column name, plus the metadata-aggregate
    ``__sum_`` / ``__nulls_`` companions) move to the new logical name
    and every pruning/metadata reader keeps working untranslated."""
    out = {}
    for f, s in (stats or {}).items():
        e = dict(s)
        for k in list(e):
            pre = None
            if k == old:
                pre = ""
            elif k in (f"__sum_{old}", f"__nulls_{old}"):
                pre = k[: -len(old)]
            elif re.fullmatch(rf"__hll\d+_{re.escape(old)}", k):
                pre = k[: -len(old)]
            if pre is not None:
                e[f"{pre}{new}"] = e.pop(k)
        out[f] = e
    return out


def _refuse_mapping_conflicts(spark, root: str, m: dict, col: str) -> None:
    """Shared guards for rename/drop: the column must not be load-bearing
    for structures that bind it by NAME outside the schema — the
    partition spec (values live in ``col=val`` path segments), a pending
    MoR delete entry's key list (its key files store the physical name),
    or a declared CHECK constraint's SQL text."""
    spec = m.get("partition_spec")
    if spec and col in spec:
        raise ValueError(
            f"{col!r} is the partition column: its values live in col=val "
            "path segments, which a metadata rename cannot re-map"
        )
    for e in m.get("deletes") or []:
        if col in e.get("keys", ()):  # positional entries have no keys
            raise ValueError(
                f"{col!r} is a pending MoR delete key; compact() to "
                "materialize the deletes first"
            )
    pat = re.compile(rf"\b{re.escape(col)}\b")
    refs = sorted(
        n for n, ex in list_check_constraints(spark, root).items() if pat.search(ex)
    )
    if refs:
        raise ValueError(
            f"CHECK constraint(s) {refs} reference {col!r}; drop them first"
        )


def _mapping_parent(spark, root: str) -> tuple[int, dict, list]:
    parent = latest_version(spark, root)
    if parent == 0:
        raise ValueError(f"no committed version at {root}")
    m = _read_manifest(spark, root, parent)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            "table has no recorded schema: column mapping needs one "
            "(every writer in this module records it)"
        )
    return parent, m, schema


def rename_column(spark: SparkSession, root: str, old: str, new: str) -> int:
    """``ALTER TABLE RENAME COLUMN`` as ONE metadata commit — Delta
    column mapping semantics: no data file is read or rewritten, however
    many petabytes sit under the table. Old files keep the column under
    its former physical name; the schema entry's alias chain records
    that name and reads resolve through it, so files written before AND
    after the rename come back under the new logical name. Per-file
    stats re-key with the column, so data skipping and metadata-only
    aggregates keep answering on the new name with zero recompute.
    The former name stays RESERVED (alias guard in ``_merged_schema``):
    re-adding it would resurrect stale physical values from old files —
    compact(purge_mapping=True) rewrites and releases it. Composes with
    type widening (the entry's type and meta evolve independently)."""
    if not new or any(ch in new for ch in "/\\ ") or new.startswith("__"):
        raise ValueError(f"invalid column name {new!r}")
    parent, m, schema = _mapping_parent(spark, root)
    types = _schema_types(schema)
    if old not in types:
        raise ValueError(f"no column {old!r} (visible: {sorted(types)})")
    if new in types:
        raise ValueError(f"column {new!r} already exists")
    if new in _alias_names(schema):
        raise SchemaMismatchError(
            f"{new!r} is a former name of a renamed/dropped column still "
            "bound to old data files; compact() to purge the mapping first"
        )
    _refuse_mapping_conflicts(spark, root, m, old)
    out = []
    for e in schema:
        meta = dict(_entry_meta(e))
        if e[0] == old and not meta.get("dropped"):
            meta["aliases"] = [old, *meta.get("aliases", [])]
            out.append([new, e[1], meta])
        else:
            out.append(list(e))
    return _commit(
        spark,
        root,
        m["files"],
        "rename-column",
        parent,
        _rekey_stats(m.get("stats"), old, new),
        out,
        partition_spec=m.get("partition_spec"),
        extra=_mor_extra(m, [], 0),
    )


def drop_column(spark: SparkSession, root: str, name: str) -> int:
    """``ALTER TABLE DROP COLUMN`` as ONE metadata commit (Delta column
    mapping drop): the column disappears from every reader — current
    reads, time travel AT OR AFTER this version, pruning, metadata
    aggregates — while the physical bytes stay in the (immutable,
    shared) old files, still readable through pre-drop manifests. The
    schema keeps a hidden tombstone entry whose alias chain reserves the
    dropped name (and any former names) against reuse; writers simply
    omit the column from new files. :func:`undrop_column` restores it
    losslessly; ``compact(purge_mapping=True)`` is the physical purge
    that releases the names (Delta's REORG ... PURGE)."""
    parent, m, schema = _mapping_parent(spark, root)
    types = _schema_types(schema)
    if name not in types:
        raise ValueError(f"no column {name!r} (visible: {sorted(types)})")
    if len(types) == 1:
        raise ValueError("cannot drop the last visible column")
    _refuse_mapping_conflicts(spark, root, m, name)
    internal = f"{_DROPPED_PREFIX}{name}_{uuid.uuid4().hex[:8]}"
    out = []
    for e in schema:
        meta = dict(_entry_meta(e))
        if e[0] == name and not meta.get("dropped"):
            meta["dropped"] = True
            meta["aliases"] = [name, *meta.get("aliases", [])]
            out.append([internal, e[1], meta])
        else:
            out.append(list(e))
    return _commit(
        spark,
        root,
        m["files"],
        "drop-column",
        parent,
        _rekey_stats(m.get("stats"), name, internal),
        out,
        partition_spec=m.get("partition_spec"),
        extra=_mor_extra(m, [], 0),
    )


def undrop_column(spark: SparkSession, root: str, name: str) -> int:
    """Restore a logically-dropped column (Delta ``UNDROP`` shape):
    lossless because the drop never touched data — the tombstone entry
    flips back to visible under its drop-time name, stats re-key back,
    and files written DURING the dropped window simply lack the column
    (typed-NULL backfill, exactly an evolve-append's contract).
    Refused once a purging compact has rewritten the files (nothing
    left to restore) or when the name has been taken since."""
    parent, m, schema = _mapping_parent(spark, root)
    types = _schema_types(schema)
    if name in types:
        raise ValueError(f"column {name!r} is back in use; undrop impossible")
    hits = [
        e
        for e in schema
        if _entry_meta(e).get("dropped")
        and (_entry_meta(e).get("aliases") or [None])[0] == name
    ]
    if not hits:
        raise ValueError(
            f"no dropped column {name!r} (purged by compact, or never dropped)"
        )
    internal = hits[0][0]
    out = []
    for e in schema:
        if e[0] != internal:
            out.append(list(e))
            continue
        meta = dict(_entry_meta(e))
        meta.pop("dropped", None)
        aliases = [a for a in meta.get("aliases", []) if a != name]
        if aliases:
            meta["aliases"] = aliases
        else:
            meta.pop("aliases", None)
        out.append([name, e[1], meta] if meta else [name, e[1]])
    return _commit(
        spark,
        root,
        m["files"],
        "undrop-column",
        parent,
        _rekey_stats(m.get("stats"), internal, name),
        out,
        partition_spec=m.get("partition_spec"),
        extra=_mor_extra(m, [], 0),
    )


def add_column(
    spark: SparkSession, root: str, name: str, simple_type: str, default=None
) -> int:
    """``ALTER TABLE ADD COLUMN`` as ONE metadata commit, optionally
    with a DEFAULT (Iceberg initial-default): reads materialize
    ``default`` for every file that lacks the column — all pre-existing
    files, and any future batch that omits it (omission needs no
    ``evolve=True`` once a default is declared); a batch that supplies
    the column wins. The default lives in the manifest as a JSON
    literal, so it must be a scalar; it survives compaction (the rewrite
    materializes it physically AND keeps the declaration for future
    omitting writers). Without a default this is schema evolution
    without a write: the same entry an ``evolve=True`` append would
    add, minus the batch."""
    if not name or any(ch in name for ch in "/\\ ") or name.startswith("__"):
        raise ValueError(f"invalid column name {name!r}")
    if default is not None and not isinstance(default, (int, float, str, bool)):
        raise ValueError(
            f"default must be a JSON scalar (manifest-storable), got "
            f"{type(default).__name__}"
        )
    from pyspark.sql import functions as F

    F.lit(default).cast(simple_type)  # parse the type before touching anything
    parent, m, schema = _mapping_parent(spark, root)
    if name in _schema_types(schema):
        raise ValueError(f"column {name!r} already exists")
    if name in _alias_names(schema):
        raise SchemaMismatchError(
            f"{name!r} is a former name of a renamed/dropped column still "
            "bound to old data files; pick another name or compact() first"
        )
    entry = [name, simple_type, {"default": default}] if default is not None else [
        name,
        simple_type,
    ]
    return _commit(
        spark,
        root,
        m["files"],
        "add-column",
        parent,
        m.get("stats"),
        [list(e) for e in schema] + [entry],
        partition_spec=m.get("partition_spec"),
        extra=_mor_extra(m, [], 0),
    )


def _purged_schema(schema) -> list | None:
    """Schema after a purging full rewrite: every file now physically
    carries the current logical names and dropped columns are gone from
    the bytes, so alias chains and tombstone entries drop from the
    published schema and their names are released. Declared defaults
    are KEPT — they still apply to future writers that omit the
    column."""
    out = []
    for e in schema or []:
        meta = {
            k: v
            for k, v in _entry_meta(e).items()
            if k not in ("aliases", "dropped")
        }
        if _entry_meta(e).get("dropped"):
            continue
        out.append([e[0], e[1], meta] if meta else [e[0], e[1]])
    return out or None


def _zorder_shape(
    df: DataFrame, cluster_by: list[str], n_out: int, zorder_bits: int
) -> DataFrame:
    """Shape a rewrite into ``n_out`` Z-order-clustered files: bucketize
    each cluster column over the REWRITTEN rows' observed [min, max]
    (one bounded agg), Morton-interleave, range-partition on the key and
    sort within — each output file then covers a small hyper-rectangle
    of the clustered space, so multi-column data skipping (x123) prunes
    multiplicatively. Shared by :func:`compact` (full rewrite) and
    :func:`compact_small` (incremental OPTIMIZE ZORDER)."""
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.operators.maintenance import zorder_key

    n = 1 << zorder_bits
    bounds = df.agg(
        *[f(c).alias(f"{p}_{c}") for c in cluster_by for p, f in (("lo", F.min), ("hi", F.max))]
    ).first()
    buckets = []
    for c in cluster_by:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo is None or hi == lo:
            buckets.append(F.lit(0))
        else:
            b = F.width_bucket(F.col(c).cast("double"), F.lit(float(lo)), F.lit(float(hi)), F.lit(n)) - 1
            buckets.append(F.least(F.greatest(b, F.lit(0)), F.lit(n - 1)))
    return (
        df.withColumn("_zk", zorder_key(buckets, bits=zorder_bits))
        .repartitionByRange(n_out, "_zk")
        .sortWithinPartitions("_zk")
        .drop("_zk")
    )


def compact_small(
    spark: SparkSession,
    root: str,
    small_bytes: int = 128 * 1024 * 1024,
    min_merge: int = 2,
    cluster_by: list[str] | None = None,
    zorder_bits: int = 8,
) -> int | None:
    """INCREMENTAL compaction — Delta OPTIMIZE's actual behavior: bin-pack
    ONLY the files smaller than ``small_bytes`` into ~target-sized
    outputs and CARRY every already-right-sized file (reference and
    stats) into the child manifest untouched. :func:`compact` rewrites
    the whole table — correct as a clustering/purge/materialization job,
    but a steady-state maintenance loop on a 100 TB table must pay
    O(sliver bytes), not O(table): a day's streaming micro-batches leave
    thousands of kilobyte files next to yesterday's compacted gigabyte
    files, and only the slivers need touching.

    Sizes come from the manifest's per-file ``__bytes`` stat (recorded at
    every write since it landed — the AddFile ``size`` field); files
    predating it are stat'ed individually as a fallback (fine for a
    migration pass, not the steady-state path). The output file count is
    ``ceil(sliver bytes / small_bytes)`` — merged outputs land at about
    the threshold size, so the next run finds them right-sized and does
    nothing (convergent; returns None when fewer than ``min_merge``
    slivers exist). Row-preserving by construction, so the commit is a
    ``replace`` stamped ``data_change: false`` — incremental readers with
    ``skip_compactions`` step over it. Pending MoR deletes REFUSE: a
    partial rewrite would materialize them for some files and not
    others; run :func:`compact` to fold them first. Partitioned tables
    keep their layout (bin-packing within the declared partitioning).

    ``cluster_by`` (r11 verdict task 5 — incremental OPTIMIZE ZORDER
    BY): the merged sliver output is Z-order-clustered instead of
    coalesced, so the steady-state maintenance loop KEEPS the table's
    clustering as it grows — right-sized (already-clustered) files are
    still left byte-untouched, and only the sliver bytes are read and
    re-shaped. This is the composition of x129 (bin-pack) and x94
    (Z-order) that keeps x123's multi-column skipping paying on a
    growing table without ever re-paying the full-table rewrite.
    Cluster columns are added to the recorded stats so the new files
    prune immediately.

    POSITIONAL deletes (x154/x157) do NOT refuse: a ``pos`` entry is
    file-scoped, so a partial rewrite is sound — the merge reads the
    small files through the live view (their positions materialize into
    the merged output) and each entry is REWRITTEN to cover only its
    surviving targets (position files filtered, counts recounted;
    entries left with no live target drop). Untouched big files keep
    their positions applied at read exactly as before, and
    ``metadata_count`` stays exact through the pass — the maintenance
    loop keeps running on a table under constant predicate DML, which
    is precisely when slivers accumulate. A position-materializing pass
    stamps ``data_change: true`` + ``deletes_materialized`` (the
    compact convention — incremental readers must not skip it) and
    records an EMPTY feed contribution when the feed is on (logically
    row-preserving, the x142 rule). EQUALITY deletes still refuse —
    they apply by seq across every file, so a partial rewrite would
    materialize them unevenly."""
    from pyspark.sql import functions as F

    parent = latest_version(spark, root)
    if parent == 0:
        return None
    m = _read_manifest(spark, root, parent)
    dels = m.get("deletes") or []
    if any(not e.get("pos") for e in dels):
        raise ValueError(
            "pending equality MoR deletes: a partial rewrite would "
            "materialize them unevenly — compact() folds them first"
        )
    stats = m.get("stats", {})

    def size(f: str) -> int:
        s = stats.get(f, {}).get("__bytes")
        return int(s) if s is not None else fsio.file_size(spark, f"{root}/{f}")

    sizes = {f: size(f) for f in m["files"]}
    small = [f for f in m["files"] if sizes[f] < small_bytes]
    if len(small) < max(2, min_merge):
        return None
    big = [f for f in m["files"] if f not in set(small)]
    n_out = max(1, -(-sum(sizes[f] for f in small) // small_bytes))
    if len(small) <= n_out:
        # progress guard: merging must strictly REDUCE the file count,
        # or outputs landing marginally under the threshold (compression
        # variance) would be re-merged into the same count forever —
        # churn commits, not convergence
        return None
    schema, spec = m.get("schema"), m.get("partition_spec")
    # positions of the merged files materialize into the output; big
    # files' positions stay pending (entries rewritten below)
    view = _live_view(spark, root, m, small)
    stats_cols = (
        sorted(
            {c for s in stats.values() for c in s if not c.startswith("__")}
            | set(cluster_by or [])
        )
        or None
    )
    shaped = (
        _zorder_shape(view, cluster_by, int(n_out), zorder_bits)
        if cluster_by
        else view.coalesce(int(n_out))
    )
    files, new_stats = _write_data_files(shaped, root, stats_cols, spec)
    carried = {f: s for f, s in stats.items() if f in set(big)}
    extra: dict = {"small_file_compaction": True}
    big_set = set(big)
    new_dels: list[dict] = []
    materialized = False
    for e in dels:
        kept = [t for t in e.get("targets", ()) if t in big_set]
        if set(kept) == set(e.get("targets", ())):
            new_dels.append(e)  # untouched: position files shared as-is
            continue
        materialized = True
        if not kept:
            continue  # every target merged away: entry drops
        dv = (
            spark.read.parquet(*[f"{root}/{f}" for f in e["files"]])
            .filter(F.col("_dv_file").isin(kept))
            .persist()
        )
        try:
            n2 = dv.count()
            if n2 == 0:
                continue
            # rebalance (not coalesce(1)): the surviving-position payload
            # of a rewritten entry is unbounded at scale; the rows are
            # already cached so the sizing shuffle is cheap
            dfiles, _ = _write_data_files(
                dv, root, collect_stats=False, rebalance=True, driver=True
            )
            new_dels.append(
                {
                    **e,
                    "files": sorted(dfiles),
                    "targets": sorted(kept),
                    "count": int(n2),
                }
            )
        finally:
            dv.unpersist()
    if new_dels:
        extra["deletes"] = new_dels  # pos-only: no seqs map needed
    if materialized:
        # the compact convention: materializing deletes is data_change
        # (readers must not skip it) but logically row-preserving, so
        # the feed contribution is recorded-EMPTY (x142)
        extra["data_change"] = True
        extra["deletes_materialized"] = True
        if change_feed_enabled(spark, root):
            extra["change_files"] = []
    else:
        extra["data_change"] = False
    return _commit(
        spark,
        root,
        big + files,
        "replace",
        parent,
        {**carried, **new_stats},
        schema,
        partition_spec=spec,
        extra=extra,
    )


def record_ndv_stats(
    spark: SparkSession, root: str, col: str, p: int = 8
) -> list[str]:
    """``ANALYZE TABLE ... COMPUTE STATISTICS`` for distinct counts,
    INCREMENTALLY: record a per-file portable HLL register map
    (``__hll<p>_<col>`` — the md5 sketch of operators/sketches.py, ≤2**p
    entries per file) into the manifest stats for exactly the files
    that do not have one yet. Already-analyzed files are never re-read,
    so the steady-state cost of keeping a 100 TB table's NDV stats
    current is O(new files since the last analyze) — one scan of only
    those files' ``col`` values, one metadata commit ('record-ndv',
    file set unchanged, steppable by incremental readers). The register
    map re-keys with :func:`rename_column` like every other per-column
    stat. Returns the newly analyzed files ([] when everything was
    already recorded — re-running is free). Compaction rewrites files
    under new names without registers; the next analyze re-records
    exactly those. Sound under pending MoR deletes (a file's registers
    describe the FILE, immutably) — it is :func:`metadata_distinct`
    that refuses to answer while deletes are pending."""
    from nagios_custom_etl_spark.operators.sketches import hll_register_rows

    parent = latest_version(spark, root)
    if parent == 0:
        return []
    m = _read_manifest(spark, root, parent)
    stats = m.get("stats", {})
    key = f"__hll{p}_{col}"
    missing = [
        f
        for f in m["files"]
        if key not in stats.get(f, {}) and stats.get(f, {}).get("__rows") != 0
    ]
    if not missing:
        return []
    df = _read_files(spark, root, missing, m.get("schema"), m.get("partition_spec"))
    from pyspark.sql import functions as F

    d = df.select(F.input_file_name().alias("_f"), F.col(col))
    # bounded collect: |missing files| x 2**p register rows, manifest
    # metadata like the per-file stats
    regs = hll_register_rows(d, ["_f"], col, p=p).collect()

    def rel(full: str) -> str:
        # manifest-relative path, NOT the basename: a dynamic-partition
        # write reuses the same part-NNNNN-<uuid> basename across its
        # col=val dirs, so basename keying would misattribute registers.
        # input_file_name() is URI-encoded — unquote once, or a
        # Hive-escaped partition segment comes back double-encoded.
        from urllib.parse import unquote

        segs = unquote(full).split("/")
        idx = max(i for i, s in enumerate(segs) if s.startswith("data-"))
        return "/".join(segs[idx:])

    add: dict[str, dict] = {}
    for r in regs:
        add.setdefault(rel(r["_f"]), {})[str(int(r["reg"]))] = int(r["rho"])
    unknown = sorted(set(add) - set(missing))
    if unknown:  # misattribution must fail loudly, never skew an estimate
        raise RuntimeError(f"register rows for unlisted files: {unknown[:3]}")
    new_stats = {f: dict(s) for f, s in stats.items()}
    for f in missing:
        # an all-NULL file records an EMPTY map: analyzed, zero registers
        new_stats.setdefault(f, {})[key] = add.get(f, {})
    _commit(
        spark,
        root,
        m["files"],
        "record-ndv",
        parent,
        new_stats,
        m.get("schema"),
        partition_spec=m.get("partition_spec"),
        extra=_mor_extra(m, [], 0),
    )
    return sorted(missing)


def metadata_distinct(
    spark: SparkSession, root: str, col: str, p: int = 8, version: int | None = None
) -> tuple[float, int]:
    """``APPROX COUNT_DISTINCT(col)`` answered from the MANIFEST alone —
    the NDV sibling of :func:`metadata_count`/:func:`metadata_sum`:
    per-file register maps (:func:`record_ndv_stats`) max-merge in the
    driver (HLL's merge algebra — per-file maxima then cross-file maxima
    equals the one-pass global sketch, register for register), and the
    estimate replays the x100 estimator's exact IEEE sequence (the
    register sum accumulates as exact Python ints, one double division
    on the raw branch, one ln on the linear-counting branch), so the
    answer is BIT-IDENTICAL to sketching the base rows in Spark or
    DuckDB — not approximately equal to the sketch, equal to it.
    Returns (estimate, v_zero). Refusals: pending MoR deletes (dead
    rows are baked into file registers — compact first), any
    non-zero-row file without recorded registers at this ``p`` (run
    :func:`record_ndv_stats`; no silent undercounts)."""
    import math

    v = latest_version(spark, root) if version is None else version
    m = _read_manifest(spark, root, v)
    if m.get("deletes"):
        raise ValueError(
            "pending MoR deletes: deleted rows are baked into file "
            "registers — compact() first or sketch through read_snapshot"
        )
    stats = m.get("stats", {})
    key = f"__hll{p}_{col}"
    merged: dict[int, int] = {}
    for f in m["files"]:
        s = stats.get(f, {})
        if s.get("__rows") == 0:
            continue
        if key not in s:
            raise ValueError(
                f"file {f!r} has no recorded NDV registers for {col!r} at "
                f"p={p}; run record_ndv_stats first"
            )
        for reg, rho in s[key].items():
            r = int(reg)
            if int(rho) > merged.get(r, 0):
                merged[r] = int(rho)
    m_regs = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m_regs, 0.7213 / (1 + 1.079 / m_regs)
    )
    v_zero = m_regs - len(merged)
    total = float(
        sum(2 ** (70 - rho) for rho in merged.values()) + v_zero * 2**70
    )
    raw = (alpha * m_regs * m_regs) * (2.0**70) / total
    if raw <= 2.5 * m_regs and v_zero > 0:
        est = float(m_regs) * math.log(float(m_regs) / v_zero)
    else:
        est = raw
    return est, v_zero


# ---------------------------------------------------------------------------
# Cross-table transactions: stage-everywhere, then ONE atomic coordinator
# record as the commit decision, then publish-everywhere — two-phase commit
# with presumed abort over the WAP machinery (stage_append is the prepare,
# publish_staged the idempotent commit action, the coordinator file the
# decision log record). Iceberg gets this from an external catalog; Delta
# documents multi-table atomicity as out of scope — here it rides the same
# manifests.
# ---------------------------------------------------------------------------


def _mtxn_path(coord_root: str, txn_id: str) -> str:
    return f"{_snap_dir(coord_root)}/mtxn-{txn_id}.json"


def _norm_root(root: str) -> str:
    """Canonical spelling of a table root for cross-record comparison
    (r12 ADVICE): a coordinator record's ``roots`` must match
    caller-passed roots however they were spelled — trailing slashes,
    ``//`` and ``.`` segments collapse; a URI scheme is preserved."""
    import posixpath

    scheme, body = "", root
    if "://" in root:
        scheme, body = root.split("://", 1)
        scheme += "://"
    return scheme + posixpath.normpath(body)


def multi_stage(
    batches: list[tuple[DataFrame, str]], txn_id: str,
    stats_cols: list[str] | None = None,
) -> list[str]:
    """PREPARE phase of a cross-table transaction: stage every batch on
    its table (stage ids ``mtxn-<txn_id>``, invisible to all readers —
    the WAP contract). Nothing is decided yet: a crash here leaves only
    staged batches, reclaimable with :func:`multi_abort`. Returns the
    staged roots in order."""
    if not txn_id or any(ch in txn_id for ch in "/\\ "):
        raise ValueError(f"invalid txn_id {txn_id!r}")
    roots = []
    for df, root in batches:
        stage_append(df, root, f"mtxn-{txn_id}", stats_cols=stats_cols)
        roots.append(root)
    return roots


def multi_commit(spark: SparkSession, roots: list[str], txn_id: str) -> dict[str, int]:
    """DECIDE + COMMIT: atomically create the coordinator record (the
    transaction's single decision point — it lists every participant
    root) under the FIRST root's metadata dir, then publish each staged
    batch and finally retire the record. All-or-nothing EVENTUALLY:
    publish_staged is idempotent per stage id, so a crash between
    publishes is completed by re-running this function or
    :func:`multi_txn_recover` against the coordinator root — a reader
    can observe table A's half before table B's during the window (the
    per-table commits stay independently atomic; cross-table snapshot
    isolation needs a shared catalog by definition), but no committed
    transaction can half-vanish and no unrecorded one can half-appear.
    Returns {root: published version}.

    The decision record is MIRRORED under every participant root
    before any publish (r12 verdict task 1): the atomic decision point
    stays the roots[0] create, the mirrors are advisory copies retired
    together after the publishes — but because every mirror lands
    BEFORE the first publish, any reader whose read set can see a
    published half of this transaction is guaranteed to find a record
    under one of ITS OWN roots, even when the coordinator root is
    outside the read set (the torn-cut hole multi_read_versions'
    scan-own-roots design otherwise had). A crash between the decision
    and the mirrors leaves zero halves published — uniformly excluded,
    no tear."""
    coord = _mtxn_path(roots[0], txn_id)
    record = {"txn_id": txn_id, "roots": list(roots), "decided_at": time.time()}
    fsio.mkdirs(spark, _snap_dir(roots[0]))
    try:
        fsio.create_text_atomic(spark, coord, json.dumps(record))
    except FileExistsError:
        pass  # crash-resume: the decision already landed — finish it
    for root in roots[1:]:
        fsio.mkdirs(spark, _snap_dir(root))
        try:
            fsio.create_text_atomic(
                spark, _mtxn_path(root, txn_id), json.dumps(record)
            )
        except FileExistsError:
            pass  # crash-resume: mirror already landed
    out = {}
    for root in roots:
        out[root] = publish_staged(spark, root, f"mtxn-{txn_id}")
    # retire mirrors first, the decision record last: a crash mid-
    # retirement leaves records whose transaction is fully published —
    # a reader's uniform-inclusion check then pins nothing (no tear)
    for root in roots[1:]:
        fsio.delete(spark, _mtxn_path(root, txn_id), recursive=False)
    fsio.delete(spark, coord, recursive=False)
    return out


def multi_abort(spark: SparkSession, roots: list[str], txn_id: str) -> None:
    """PRESUMED ABORT: reclaim an undecided transaction's staged batches.
    Refused once the coordinator record exists — the decision to commit
    is final and recovery (not abort) owns the transaction from there.
    The record is checked under EVERY root, not just the first (r11
    ADVICE): a caller passing roots in a different order than the
    committer must not bypass the decided-txn guard — reclaiming a
    decided transaction's stages would leave it half-committed and
    unrecoverable. One exists() per root, O(len(roots))."""
    decided = [r for r in roots if fsio.exists(spark, _mtxn_path(r, txn_id))]
    if decided:
        raise ValueError(
            f"txn {txn_id!r} is decided (coordinator record exists under "
            f"{decided[0]!r}): run multi_commit / multi_txn_recover, not abort"
        )
    for root in roots:
        try:
            abort_staged(spark, root, f"mtxn-{txn_id}")
        except ValueError:
            pass  # this participant never staged (or already reclaimed)


def _publish_version_of(spark: SparkSession, root: str, stage_id: str) -> int | None:
    """Version whose commit published WAP stage ``stage_id`` on
    ``root``, or None — publish_staged stamps the stage id into the
    manifest, so this is an O(retained manifests) base-field scan."""
    for v in reversed(_manifest_versions(spark, root)):
        if _manifest_base_field(spark, root, v, "stage_id") == stage_id:
            return v
    return None


def multi_read_versions(spark: SparkSession, roots: list[str]) -> dict[str, int]:
    """Cross-table CONSISTENT CUT (r11 verdict task 6 — the reader-side
    close of x132's A-before-B window, st33's protocol generalized):
    pin each table in the read set to the highest version such that
    every decided cross-table transaction is UNIFORMLY included or
    uniformly excluded across the read set — a reader never sees table
    A's half of a decided transaction without B's.

    Decided-but-unretired transactions are the only torn-window source
    (multi_commit retires the coordinator record after all publishes),
    so the scan is over the coordinator records visible under the read
    set's roots — normally zero, making the common case one metadata
    listing per root on top of plain latest-version reads. The scan is
    COMPLETE because multi_commit mirrors the decision record under
    every participant root before publishing anything: a published half
    inside the read set implies a record under that same root, even
    when the coordinator root is not being read (r12 verdict task 1).
    Record roots compare through :func:`_norm_root`, so spelling
    variants (trailing slash, ``//``) cannot hide a participant. For each
    in-flight record, any participant whose half is inside the cut
    while a sibling's (within the read set) is not gets pinned below
    its half; lowering can expose a new tear of an interleaved
    transaction, so the rule iterates to a fixpoint (pins only
    decrease — terminates). Cross-table consistency is a property of
    the read SET: a single-table read is never held back by a sibling
    table it is not reading (single-table atomicity already holds)."""
    rset = list(dict.fromkeys(roots))
    pins = {r: latest_version(spark, r) for r in rset}
    # r13 ADVICE: two read-set spellings normalizing to the SAME root
    # ('a/b' and 'a/b/') are aliases of one table — map each normalized
    # root to ALL of its spellings and lower every alias's pin together
    # (a last-spelling-wins dict left the duplicate alias reading a
    # torn half). Aliases also start from one shared pin: same dir,
    # but a racing commit between the two latest_version calls could
    # otherwise split them.
    nmap: dict[str, list[str]] = {}
    for r in rset:
        nmap.setdefault(_norm_root(r), []).append(r)
    for aliases in nmap.values():
        if len(aliases) > 1:
            low = min(pins[a] for a in aliases)
            for a in aliases:
                pins[a] = low
    records = []
    seen = set()
    for r in rset:
        if not fsio.exists(spark, _snap_dir(r)):
            continue
        for f in fsio.list_names(spark, _snap_dir(r)):
            if f.startswith("mtxn-") and f.endswith(".json"):
                rec = json.loads(fsio.read_text(spark, f"{_snap_dir(r)}/{f}"))
                if rec["txn_id"] not in seen:
                    seen.add(rec["txn_id"])
                    records.append(rec)
    if not records:
        return pins
    pubs_cache: dict[tuple[str, str], int | None] = {}

    def pub(p: str, txn_id: str):
        key = (p, txn_id)
        if key not in pubs_cache:
            pubs_cache[key] = _publish_version_of(spark, p, f"mtxn-{txn_id}")
        return pubs_cache[key]

    changed = True
    while changed:
        changed = False
        for rec in records:
            # participants counted by NORMALIZED identity: an aliased
            # spelling is the same table, not a second participant
            subn = sorted(
                {_norm_root(p) for p in rec["roots"]} & set(nmap)
            )
            if len(subn) < 2:
                continue  # reading at most one participant: nothing to tear
            incl = {}
            for n in subn:
                pv = pub(nmap[n][0], rec["txn_id"])
                incl[n] = pv is not None and pv <= pins[nmap[n][0]]
            if any(incl.values()) and not all(incl.values()):
                for n in subn:
                    if incl[n]:
                        below = pub(nmap[n][0], rec["txn_id"]) - 1
                        for a in nmap[n]:  # every alias lowers together
                            pins[a] = below
                        changed = True
    bad = [r for r, v in pins.items() if v <= 0]
    if bad:
        raise ValueError(
            f"no consistent cut: every version of {bad[0]!r} carries a "
            "half-published transaction — run multi_txn_recover first"
        )
    return pins


def multi_read(spark: SparkSession, roots: list[str]) -> dict[str, DataFrame]:
    """Snapshot-read every table in ``roots`` at the consistent cut
    :func:`multi_read_versions` computes — the cross-table analog of a
    single table's snapshot isolation. Conservative by design: a table
    with a half-published transaction is read BELOW that half (later
    unrelated commits on it are deferred too — a consistent cut is a
    frontier, not a per-row filter); recovery advancing the transaction
    advances the cut."""
    pins = multi_read_versions(spark, roots)
    return {r: read_snapshot(spark, r, pins[r]) for r in pins}


def multi_txn_recover(spark: SparkSession, coord_root: str) -> list[str]:
    """Finish every DECIDED-but-unretired transaction whose coordinator
    record lives under ``coord_root`` — the recovery job a scheduler
    runs alongside vacuum. Idempotent (publishes are; retirement is a
    delete). Returns the completed txn ids."""
    done = []
    if not fsio.exists(spark, _snap_dir(coord_root)):
        return done
    for f in fsio.list_names(spark, _snap_dir(coord_root)):
        if not (f.startswith("mtxn-") and f.endswith(".json")):
            continue
        rec = json.loads(fsio.read_text(spark, f"{_snap_dir(coord_root)}/{f}"))
        multi_commit(spark, rec["roots"], rec["txn_id"])
        done.append(rec["txn_id"])
    return sorted(done)


def table_history(spark: SparkSession, root: str) -> list[dict]:
    """``DESCRIBE HISTORY`` from the manifests alone — one row per
    retained version: op, parent, file/row counts (row count only when
    every referenced file has a recorded ``__rows`` stat — no silent
    wrong answers), idempotence token, data-change marker, commit
    timestamp. O(retained manifests) metadata reads, zero data IO, zero
    Spark jobs — the audit surface Delta exposes as a table function.
    Row counts on MoR-pending versions report the PHYSICAL rows (dead
    rows included), like the file stats they come from."""
    out = []
    for v in _manifest_versions(spark, root):
        m = _read_manifest(spark, root, v)
        stats = m.get("stats", {})
        rows = None
        if not m["files"]:
            rows = 0
        elif all("__rows" in stats.get(f, {}) for f in m["files"]):
            rows = sum(int(stats[f]["__rows"]) for f in m["files"])
        out.append(
            {
                "version": v,
                "op": m["op"],
                "parent": m.get("parent"),
                "n_files": len(m["files"]),
                "n_rows": rows,
                "txn": m.get("txn"),
                "data_change": m.get("data_change"),
                "committed_at": m.get("committed_at"),
            }
        )
    return out


def partitions_report(
    spark: SparkSession, root: str, version: int | None = None
) -> list[dict]:
    """``SHOW PARTITIONS`` + per-partition row counts from the MANIFEST
    alone: partition values parse from the files' ``col=val`` path
    segments (typed through the recorded schema, Hive-escaped values
    handled by the same parser pruning uses) and row counts sum the
    per-file ``__rows`` stats. Zero file opens — at a million files this
    is the partition dashboard without the listing.

    PER-ERA under spec evolution (r12 verdict task 4, replacing the
    r11 refusal): a file written under an EARLIER partition spec keeps
    its own era's ``col=val`` segments forever (files are immutable —
    their paths self-describe the spec that wrote them, the same basis
    the mixed-spec planner in transforms.py uses), so each report row
    carries its era's column list in ``spec`` and rows group by
    (spec, value) — a days→hours-evolved table reports BOTH eras'
    values rather than refusing or mis-lumping old files into the NULL
    partition. Files predating any partitioning report as the
    ``spec: []`` row. Refused on unpartitioned tables (no current
    spec) and under pending MoR deletes (counts would include dead
    rows); files missing row stats refuse rather than undercount."""
    from urllib.parse import unquote

    v = latest_version(spark, root) if version is None else version
    m = _read_manifest(spark, root, v)
    spec = m.get("partition_spec")
    if not spec:
        raise ValueError("unpartitioned table: no partitions to report")
    if m.get("deletes"):
        raise ValueError(
            "pending MoR deletes: partition counts would include dead "
            "rows — compact() first"
        )
    types = _schema_types(m.get("schema") or [])
    stats = m.get("stats", {})

    def typed(col: str, raw: str):
        # Spark Hive-escapes special chars (':' -> '%3A') on disk; the
        # REPORT must surface the logical value (the r8/r9 escaping
        # lesson — segment-vs-segment comparisons may stay escaped,
        # user-facing values must not)
        raw = unquote(raw)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        simple = types.get(col)
        try:
            if simple in ("tinyint", "smallint", "int", "bigint"):
                return int(raw)
            if simple in ("float", "double"):
                return float(raw)
        except ValueError:
            return raw
        return raw

    agg: dict = {}
    for f in m["files"]:
        s = stats.get(f, {})
        if "__rows" not in s:
            raise ValueError(
                f"file {f!r} has no recorded row count; re-commit (compact) "
                "to record it"
            )
        # the file's OWN era: every `name=value` segment in path order
        # ('=' inside values is Hive-escaped to %3D, so the first '='
        # always splits name from value)
        segs = [
            tuple(seg.split("=", 1))
            for seg in f.split("/")[1:-1]
            if "=" in seg
        ]
        cols = tuple(n for n, _ in segs)
        vals = tuple(typed(n, raw) for n, raw in segs)
        e = agg.setdefault((cols, vals), {"n_files": 0, "n_rows": 0})
        e["n_files"] += 1
        e["n_rows"] += int(s["__rows"])

    def sort_key(kv):
        cols, vals = kv[0]
        return (cols, tuple((x is None, x) for x in vals))

    # single-level rows report the scalar value (the pre-x135 shape);
    # multi-level specs report the composite value as a per-level list
    return [
        {
            "spec": list(cols),
            "value": (
                None if not vals else vals[0] if len(vals) == 1 else list(vals)
            ),
            **counts,
        }
        for (cols, vals), counts in sorted(agg.items(), key=sort_key)
    ]
