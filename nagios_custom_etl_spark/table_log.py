"""The snapshot table log's format rules, in one session-free module.

A table (operators/snapshots.py) keeps one ``_snapshots/v<version>.json``
per commit — a full manifest, or a ``delta-v1`` record against the
previous version whose ``base`` carries the non-file fields verbatim —
plus periodic ``ckpt-<version>.json`` checkpoints, inline or as a
``ckpt-list-v1`` manifest list of enveloped shard files: the Delta Lake
log-plus-checkpoint model. The batch planners (operators/snapshots.py),
the streaming sources and the distributed planner (sources/) all read it
through this module: the replay walk and fold, the version-range rules,
the per-file pruning check and the column-mapping resolution.

It opens nothing itself: a caller passes a LOG HANDLE bound to one
table's ``_snapshots`` dir (``exists(name)`` + ``read_json(name)``) —
``snapshots._FsioLog`` through fsio, or :class:`ArrowLog` through
pyarrow.fs for callers with no SparkSession.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from urllib.parse import unquote

SNAP_DIR = "_snapshots"
DELTA_FORMAT = "delta-v1"
CKPT_LIST_FORMAT = "ckpt-list-v1"
#: manifest keys a delta record diffs; every other key rides in ``base``
DIFFED_KEYS = ("files", "stats", "seqs")

#: strictly additive commits: their new files are their new rows
APPEND_OPS = ("append", "wap-publish")
#: schema-only commits (column mapping DDL): identical file set, zero rows
#: added or removed — incremental readers step over them like a
#: data_change:false replace (the file-set equality is re-verified at the
#: step, never assumed)
METADATA_ONLY_OPS = frozenset(
    {"rename-column", "drop-column", "undrop-column", "add-column", "record-ndv"}
)
#: ops whose change feed derives from the manifest file diff — removed
#: files' rows are deletes, added files' rows are inserts (requires the
#: removed files to still be on disk: retention >= feed-consumer lag,
#: Delta's own CDF caveat); rollback-to-<n> matches by prefix
FILE_DIFF_OPS = ("overwrite", "replace-partitions", "fast-forward")


def snap_dir(root: str) -> str:
    return f"{root}/{SNAP_DIR}"


def manifest_name(version: int) -> str:
    return f"v{version:08d}.json"


def ckpt_name(version: int) -> str:
    return f"ckpt-{version:08d}.json"


def parse_versions(names: Iterable[str]) -> list[int]:
    """Sorted versions of the ``v*.json`` names in a log listing."""
    return sorted(
        int(n[1:9]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def head_fields(raw: dict) -> dict:
    """The non-file fields (op/schema/partition_spec/deletes/txn/...) of
    a raw version record: a delta's ``base``, or a full manifest minus
    its diffed keys — one read, no reconstruction."""
    if raw.get("format") == DELTA_FORMAT:
        return dict(raw["base"])
    return {k: v for k, v in raw.items() if k not in DIFFED_KEYS}


class ArrowLog:
    """Log handle through ``pyarrow.fs``, for callers with no
    SparkSession (the streaming sources' readers, executor tasks)."""

    def __init__(self, root: str):
        from nagios_custom_etl_spark import fsio

        self.fs, self.dir = fsio._pa_fs(snap_dir(root))

    def exists(self, name: str) -> bool:
        from pyarrow import fs as pafs

        info = self.fs.get_file_info(f"{self.dir}/{name}")
        return info.type != pafs.FileType.NotFound

    def read_json(self, name: str) -> dict:
        with self.fs.open_input_stream(f"{self.dir}/{name}") as f:
            return json.loads(f.read().decode("utf-8"))

    def versions(self) -> list[int]:
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(self.dir, allow_not_found=True)
        return parse_versions(i.base_name for i in self.fs.get_file_info(sel))


# ---------------------------------------------------------------- replay


def apply_delta(prev: dict, d: dict) -> dict:
    """The state after delta record ``d`` on top of state ``prev`` (a
    new dict; ``prev`` is not modified)."""
    state = dict(d["base"])
    removed = set(d.get("files_removed", ()))
    state["files"] = sorted(
        (set(prev["files"]) - removed) | set(d.get("files_added", ()))
    )
    stats = dict(prev.get("stats") or {})
    for f in d.get("stats_del", ()):
        stats.pop(f, None)
    stats.update(d.get("stats_set") or {})
    state["stats"] = stats
    if "seqs" in d:
        sq = dict(prev.get("seqs") or {})
        for f in d["seqs"]["del"]:
            sq.pop(f, None)
        sq.update(d["seqs"]["set"])
        state["seqs"] = sq
    return state


def walk(
    log, version: int, memo: Callable[[int], dict | None] | None = None
) -> tuple[int, dict, list[dict], bool]:
    """Walk down from ``version`` to its base: the first version whose
    state ``memo`` returns, or that has a checkpoint, or whose version
    file is a full manifest. Returns ``(base version, base, delta
    records above it oldest first, base came from memo)``. ``base`` is a
    state, or a ``ckpt-list-v1`` index whose shards are not read yet
    (:func:`load_base` merges them). Per version the walk costs one
    ``memo`` probe, one checkpoint ``exists`` and one version-file read;
    a missing version file raises like the read does."""
    chain: list[dict] = []
    v = version
    while True:
        if memo is not None:
            hit = memo(v)
            if hit is not None:
                chain.reverse()
                return v, hit, chain, True
        if log.exists(ckpt_name(v)):
            base = log.read_json(ckpt_name(v))
            break
        raw = log.read_json(manifest_name(v))
        if raw.get("format") != DELTA_FORMAT:
            base = raw
            break
        chain.append(raw)
        v -= 1
    chain.reverse()
    return v, base, chain, False


def load_base(log, base: dict) -> dict:
    """A walk's base as a full state: a manifest-list index merges every
    shard (files, stats and, when recorded, seqs); any other base is
    already one."""
    if base.get("format") != CKPT_LIST_FORMAT:
        return base
    state = dict(base["base"])
    files: list[str] = []
    stats: dict = {}
    seqs: dict = {}
    for sm in base["shards"]:
        sh = log.read_json(sm["path"])
        files.extend(sh["files"])
        stats.update(sh.get("stats") or {})
        seqs.update(sh.get("seqs") or {})
    state["files"] = sorted(files)
    state["stats"] = stats
    if base.get("has_seqs"):
        state["seqs"] = seqs
    return state


@dataclass
class ChainFold:
    """A walk's delta chain folded into its net effect on the base — for
    the planners and the checkpoint writer that keep a sharded base as
    shards and read only the ones they need. ``stats`` and ``seqs`` map a
    file to its last value in the chain (None: deleted): the chain-added
    files' final values and the overrides on base members; a file they
    do not name keeps the base's value (:meth:`maps`)."""

    fields: dict | None = None  # the last record's non-file fields; None: empty chain
    files_delta: int = 0  # net change of the file count
    removed: set[str] = field(default_factory=set)  # base members removed (re-added too)
    added: set[str] = field(default_factory=set)  # live chain-added files
    stats: dict = field(default_factory=dict)
    seqs: dict = field(default_factory=dict)  # since the last drop
    seqs_dropped: bool = False  # a record without seqs dropped every earlier one
    seqs_kept: bool | None = None  # the last record carries seqs; None: empty chain

    def maps(
        self, files: list[str], stats: dict, seqs: dict, base_has_seqs: bool
    ) -> tuple[dict, dict | None]:
        """The final stats and seqs maps of ``files`` given the base's
        maps (seqs None when the folded state carries none, as when the
        base does not and the chain is empty)."""
        st = {f: s for f in files if (s := self.stats.get(f, stats.get(f))) is not None}
        if not (base_has_seqs if self.seqs_kept is None else self.seqs_kept):
            return st, None
        base = {} if self.seqs_dropped else seqs
        return st, {f: q for f in files if (q := self.seqs.get(f, base.get(f))) is not None}


def fold(chain: list[dict]) -> ChainFold:
    """The net effect of ``chain`` (a :func:`walk`'s delta records,
    oldest first) on its base, by :func:`apply_delta`'s rules: a removed
    file that no earlier record added is a base member (a valid log only
    removes present files); a record without ``seqs`` drops every seq."""
    out = ChainFold()
    for d in chain:
        out.fields = d["base"]
        removed, added = d.get("files_removed", ()), d.get("files_added", ())
        out.files_delta += len(added) - len(removed)
        for f in removed:
            if f in out.added:
                out.added.discard(f)
            else:
                out.removed.add(f)
        out.added.update(added)
        out.stats.update(dict.fromkeys(d.get("stats_del", ())))
        out.stats.update(d.get("stats_set") or {})
        out.seqs_kept = "seqs" in d
        if out.seqs_kept:
            out.seqs.update(dict.fromkeys(d["seqs"]["del"]))
            out.seqs.update(d["seqs"]["set"])
        else:
            out.seqs_dropped = True
            out.seqs = {}
    return out


def replay(
    log,
    version: int,
    memo: Callable[[int], dict | None] | None = None,
    store: Callable[[int, dict], None] | None = None,
) -> dict:
    """The logical manifest at ``version``: :func:`walk` to the base,
    then fold the deltas forward. ``store(v, state)`` is called for the
    base (unless it came from ``memo``) and for every version folded, so
    a memo fills exactly as a per-version recursion would fill it. The
    result may be shared with the memo — callers that hand it out copy
    it."""
    v, base, chain, hit = walk(log, version, memo)
    state = base if hit else load_base(log, base)
    if store is not None and not hit:
        store(v, state)
    for d in chain:
        v += 1
        state = apply_delta(state, d)
        if store is not None:
            store(v, state)
    return state


# ------------------------------------------------ version-range classifiers


def _step(prev: set[str], raw: dict) -> tuple[set[str], list[str], list[str]]:
    """(file set, added, removed) of version record ``raw`` on top of
    the previous version's file set ``prev``."""
    if raw.get("format") == DELTA_FORMAT:
        cur = (prev - set(raw.get("files_removed", ()))) | set(
            raw.get("files_added", ())
        )
    else:
        cur = set(raw["files"])
    return cur, sorted(cur - prev), sorted(prev - cur)


def appended_files(
    log,
    have: set[int],
    lo: int,
    hi: int,
    prev: set[str],
    skip_compactions: bool = False,
) -> list[tuple[str, int, str]]:
    """``(relpath, version, "insert")`` for every file the versions in
    ``(lo, hi]`` added — the append-only incremental read's rule, for
    ``read_incremental`` and the ``snapshot_tail`` stream alike. ``have``
    is the set of versions whose file exists, ``prev`` the file set at
    ``lo``. Every version in range must be append-family (its new files
    ARE its new rows), a schema-only commit with an unchanged file set,
    or — with ``skip_compactions`` — a ``replace`` carrying the
    compactor's ``data_change: false`` marker (it adds no rows by
    contract; the files it replaced were captured at their own
    versions). Anything else, and a vacuumed version, raises
    ValueError."""
    out: list[tuple[str, int, str]] = []
    for v in range(lo + 1, hi + 1):
        if v not in have:
            raise ValueError(
                f"version {v} was vacuumed; append-only chain unprovable"
            )
        raw = log.read_json(manifest_name(v))
        fields = head_fields(raw)
        op = fields.get("op", "")
        cur, added, _ = _step(prev, raw)
        if op in APPEND_OPS:
            out.extend((f, v, "insert") for f in added)
        elif (
            skip_compactions
            and op == "replace"
            and fields.get("data_change") is False
        ):
            pass  # row-preserving rewrite: contributes no delta
        elif op in METADATA_ONLY_OPS and cur == prev:
            pass  # schema-only commit: same files, no rows
        else:
            raise ValueError(
                f"version {v} is '{op}', not append: an incremental read "
                "of a mutating table is unsound — read its change feed"
            )
        prev = cur
    return out


def changed_files(
    log, have: set[int], lo: int, hi: int, state_at: Callable[[int], dict]
) -> tuple[list[tuple[str, int, str | None]], dict[int, list | None]]:
    """The change feed's rule over ``(lo, hi]``, for ``read_changes``
    and the ``snapshot_changes`` stream alike: ``(relpath, version,
    change type)`` entries in feed order plus each version's partition
    spec (``lo`` included — a version's ``delete`` files are read with
    the spec of the version before it). ``state_at(lo)`` gives the state
    the range starts from; it is called after the vacuum check. Per
    version: recorded change files come as-is with change type None
    (they carry ``_change_type``; a recorded EMPTY list contributes
    nothing); a schema-only commit with an unchanged file set and a
    ``data_change: false`` replace contribute
    nothing; an add-only commit's added files are ``insert``s; a
    file-replacing commit's removed files are ``delete``s and added
    files ``insert``s. A row-mutating version with no recorded change
    files, and a vacuumed version, raise ValueError."""
    missing = [v for v in range(max(1, lo), hi + 1) if v not in have]
    if missing:
        raise ValueError(
            f"versions {missing[:3]}... were vacuumed: the change range is "
            "not reconstructible"
        )
    base = state_at(lo) if lo > 0 else None
    prev = set(base["files"]) if base else set()
    specs: dict[int, list | None] = {lo: base.get("partition_spec") if base else None}
    out: list[tuple[str, int, str | None]] = []
    for v in range(lo + 1, hi + 1):
        raw = log.read_json(manifest_name(v))
        fields = head_fields(raw)
        op = fields.get("op", "")
        cur, added, removed = _step(prev, raw)
        specs[v] = fields.get("partition_spec")
        if "change_files" in fields:
            out.extend((f, v, None) for f in fields["change_files"] or ())
        elif op in METADATA_ONLY_OPS and cur == prev:
            pass  # schema-only commit: no rows changed
        elif op == "replace" and fields.get("data_change") is False:
            pass  # row-preserving rewrite (compaction/Z-order)
        elif op in (*APPEND_OPS, "merge") and not removed:
            # add-only (a merge with no matched files is add-only too)
            out.extend((f, v, "insert") for f in added)
        elif op in FILE_DIFF_OPS or op.startswith("rollback-to-"):
            out.extend((f, v, "delete") for f in removed)
            out.extend((f, v, "insert") for f in added)
        else:
            raise ValueError(
                f"version {v} ({op!r}) recorded no change files — committed "
                "before the change feed was enabled, or a compaction that "
                "materialized MoR deletes; read from a later version"
            )
        prev = cur
    return out, specs


# ------------------------------------------------------------- pruning


def stats_check(st: dict | None, preds: list) -> bool:
    """Per-file stats check for the conjunction ``preds`` of ``(col, lo,
    hi)`` ranges: False when one recorded ``[min, max]`` is disjoint from
    its range; a column without recorded bounds keeps the file
    (superset guarantee)."""
    for col, lo, hi in preds:
        ent = (st or {}).get(col)
        if ent and ent[0] is not None and ent[1] is not None:
            if ent[1] < lo or ent[0] > hi:
                return False
    return True


def part_value(relpath: str, col: str, simple: str | None):
    """Typed partition value of ``col`` parsed from a file's ``col=val``
    path segment, None when absent or the null partition. The segment is
    UNQUOTED first: bounds are logical values, and a Hive-escaped
    segment ('00%3A00%3A00') compared raw would order differently from
    its logical form — a wrong prune, not a conservative keep. An
    unparseable numeric value is None (conservative)."""
    for seg in relpath.split("/")[1:-1]:
        if seg.startswith(f"{col}="):
            raw = seg[len(col) + 1 :]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                return None
            raw = unquote(raw)
            try:
                if simple in ("tinyint", "smallint", "int", "bigint"):
                    return int(raw)
                if simple in ("float", "double"):
                    return float(raw)
            except ValueError:
                return None
            return raw
    return None


def path_check(relpath: str, preds: list, spec: list, types: dict) -> bool:
    """Partition-path check: False when a predicate on a partition
    column excludes the file's ``col=val`` value — whole partitions drop
    at planning time, with no stats consulted. Composite specs prune one
    level per predicate."""
    for col, lo, hi in preds:
        if col in spec:
            pv = part_value(relpath, col, types.get(col))
            if pv is not None and not (lo <= pv <= hi):
                return False
    return True


# ------------------------------------------------------- column mapping


def column_resolution(columns: Iterable[str], schema) -> tuple:
    """Per declared column name: ``(candidate physical names, has
    default, default)`` against ``schema``'s alias chains (pass the
    NEWEST schema — its chains cover every era). A matching entry yields
    its current name first, then its former names — a pre-rename name
    finds the post-rename entry and vice versa — plus its declared
    default for files that predate the column. A name on a DROPPED
    entry's chain yields no candidates (the physical bytes stay
    invisible); an unmatched name keeps the plain ``(name,)`` fallback."""
    out = []
    for name in columns:
        cands: tuple = (name,)
        has_default, default = False, None
        for e in schema or []:
            meta = e[2] if len(e) > 2 and isinstance(e[2], dict) else {}
            chain = (e[0], *meta.get("aliases", ()))
            if name in chain:
                cands = () if meta.get("dropped") else chain
                if not meta.get("dropped") and "default" in meta:
                    has_default, default = True, meta["default"]
                break
        out.append((cands, has_default, default))
    return tuple(out)
