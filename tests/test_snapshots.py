"""Tests for operators/snapshots.py — the manifest-commit table layer
behind x69 (time travel) and the snapshot-isolated mutation publishes.

Pins exactly what the x69 registered doc claims: the atomic commit race
(two writers to the same version -> exactly one wins, the loser retries
on top of the winner), rollback-as-commit, and vacuum reachability
(only unreachable files deleted, retained versions byte-identical,
repeated vacuum after new commits is safe — regression for the
FileNotFoundError the range-based enumeration shipped)."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nagios_custom_etl_spark import fsio, table_log
from nagios_custom_etl_spark.operators import snapshots as S


@pytest.fixture()
def root(tmp_path):
    p = str(tmp_path / "snaptable")
    yield p
    shutil.rmtree(p, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.createDataFrame([Row(i=i, s=f"r{i}") for i in range(lo, hi)], "i int, s string")


def _rows(df):
    return sorted((r.i, r.s) for r in df.collect())


def test_append_overwrite_time_travel(spark, root):
    v1 = S.overwrite(_df(spark, 0, 3), root)
    v2 = S.append(_df(spark, 3, 5), root)
    v3 = S.overwrite(_df(spark, 10, 12), root)
    assert (v1, v2, v3) == (1, 2, 3)
    assert S.latest_version(spark, root) == 3
    # every version stays readable through its manifest
    assert _rows(S.read_snapshot(spark, root, 1)) == [(i, f"r{i}") for i in range(0, 3)]
    assert _rows(S.read_snapshot(spark, root, 2)) == [(i, f"r{i}") for i in range(0, 5)]
    assert _rows(S.read_snapshot(spark, root, 3)) == [(10, "r10"), (11, "r11")]
    # default read = latest
    assert _rows(S.read_snapshot(spark, root)) == [(10, "r10"), (11, "r11")]


def test_commit_race_exactly_one_winner_then_retry(spark, root):
    S.overwrite(_df(spark, 0, 2), root)  # v1
    parent = S.latest_version(spark, root)
    # two writers race to publish version parent+1: the first create wins
    S._commit(spark, root, ["data-w1/part-0.parquet"], "append", parent)
    with pytest.raises(S.ConcurrentCommitError):
        S._commit(spark, root, ["data-w2/part-0.parquet"], "append", parent)
    # the winner's manifest is intact (the loser did not clobber it)
    m = S._read_manifest(spark, root, parent + 1)
    assert m["files"] == ["data-w1/part-0.parquet"]
    # loser retries against the NEW latest and succeeds as the next version
    v = S._commit(
        spark, root, ["data-w2/part-0.parquet"], "append", S.latest_version(spark, root)
    )
    assert v == parent + 2


def test_append_through_api_after_external_commit_retries_cleanly(spark, root):
    # append() recomputes parent from the manifest dir, so sequential
    # appends from independent entry points never collide
    S.overwrite(_df(spark, 0, 2), root)
    S.append(_df(spark, 2, 4), root)
    S.append(_df(spark, 4, 6), root)
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(0, 6)]


def test_append_race_both_writers_land(spark, root, monkeypatch):
    """Two appends race for the same version: the loser classifies the
    winner's commit as append-family, re-parents, and lands as the next
    version — both batches in the final table (Delta's blind-append
    commute rule)."""
    S.overwrite(_df(spark, 0, 2), root)  # v1
    S.append(_df(spark, 2, 4), root)  # v2: the racing winner
    real = S.latest_version
    calls = {"n": 0}

    def stale_once(sp, r):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(sp, r)  # first read: stale parent

    monkeypatch.setattr(S, "latest_version", stale_once)
    v = S.append(_df(spark, 4, 6), root)  # tries v2, loses, re-parents
    assert v == 3
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(6)]


def test_append_race_aborts_on_non_commuting_overwrite(spark, root, monkeypatch):
    """An intervening OVERWRITE redefines the table; the losing append
    must refuse to auto-retry (its 'add to the table as it was' intent
    is ambiguous) and surface the conflicting op."""
    S.overwrite(_df(spark, 0, 2), root)  # v1
    S.overwrite(_df(spark, 10, 12), root)  # v2: non-commuting winner
    real = S.latest_version
    calls = {"n": 0}

    def stale_once(sp, r):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(sp, r)

    monkeypatch.setattr(S, "latest_version", stale_once)
    with pytest.raises(S.ConcurrentCommitError, match="non-commuting 'overwrite'"):
        S.append(_df(spark, 4, 6), root)
    # table state is the winner's, untouched
    assert _rows(S.read_snapshot(spark, root)) == [(10, "r10"), (11, "r11")]


def test_wap_publish_race_retries_over_commuting_append(spark, root, monkeypatch):
    S.overwrite(_df(spark, 0, 2), root)  # v1
    S.stage_append(_df(spark, 10, 12), root, "late")
    S.append(_df(spark, 2, 4), root)  # v2 lands while publish is in flight
    real = S.latest_version
    calls = {"n": 0}

    def stale_once(sp, r):
        calls["n"] += 1
        return 1 if calls["n"] == 1 else real(sp, r)

    monkeypatch.setattr(S, "latest_version", stale_once)
    v = S.publish_staged(spark, root, "late")  # tries v2, loses, re-parents
    assert v == 3
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in (0, 1, 2, 3, 10, 11)
    ]


def test_rollback_is_a_new_commit_with_old_content(spark, root):
    S.overwrite(_df(spark, 0, 3), root)  # v1
    S.overwrite(_df(spark, 100, 102), root)  # v2
    v3 = S.rollback(spark, root, to_version=1)
    assert v3 == 3
    # rollback content == the rolled-back-to version, byte-for-byte rows
    assert _rows(S.read_snapshot(spark, root, 3)) == _rows(S.read_snapshot(spark, root, 1))
    # history is append-only: v2 is STILL reachable after the rollback
    assert _rows(S.read_snapshot(spark, root, 2)) == [(100, "r100"), (101, "r101")]
    # the rollback manifest shares v1's files (no data copy)
    assert S._read_manifest(spark, root, 3)["files"] == S._read_manifest(spark, root, 1)["files"]


def test_vacuum_deletes_only_unreachable_and_preserves_retained(spark, root):
    S.overwrite(_df(spark, 0, 3), root)  # v1 files: only referenced by v1
    S.append(_df(spark, 3, 5), root)  # v2 = v1 files + new
    S.overwrite(_df(spark, 10, 12), root)  # v3 drops all v1/v2 files
    before_v3 = _rows(S.read_snapshot(spark, root, 3))
    deleted = S.vacuum(spark, root, keep_last=1)
    # v1's and v2's exclusive files are gone, v3's remain
    assert deleted  # something was actually unreachable
    for f in deleted:
        assert not fsio.exists(spark, f"{root}/{f}")
    for f in S._read_manifest(spark, root, 3)["files"]:
        assert fsio.exists(spark, f"{root}/{f}")
    # retained version reads unchanged after vacuum
    assert _rows(S.read_snapshot(spark, root, 3)) == before_v3
    # expired manifests dropped; time travel beyond retention is gone
    assert S._manifest_versions(spark, root) == [3]
    with pytest.raises(Exception):
        S.read_snapshot(spark, root, 1)


def test_vacuum_keeps_files_shared_with_retained_versions(spark, root):
    S.overwrite(_df(spark, 0, 3), root)  # v1
    S.append(_df(spark, 3, 5), root)  # v2 shares v1's files
    v1_files = S._read_manifest(spark, root, 1)["files"]
    deleted = S.vacuum(spark, root, keep_last=1)  # retain only v2
    # v1's files are REACHABLE from v2 (append shares them): none deleted
    assert deleted == []
    for f in v1_files:
        assert fsio.exists(spark, f"{root}/{f}")
    assert _rows(S.read_snapshot(spark, root, 2)) == [(i, f"r{i}") for i in range(0, 5)]


def test_delta_log_commit_bytes_are_o_of_change(spark, root):
    """r11 verdict task 2 (the binding 100 TB ceiling): appending K files
    to a many-file table writes O(K) metadata bytes, not O(total files).
    Grow the table past a checkpoint interval, then pin that (a) the
    1-file append's version file stays SMALL and does not grow with the
    table, (b) a checkpoint landed at the cadence version, (c) readers
    reconstruct exactly, (d) every version file is still valid JSON."""
    sizes = {}
    for lo in range(0, 40, 2):  # 20 single-file appends -> v1..v20
        v = S.append(_df(spark, lo, lo + 2).coalesce(1), root, stats_cols=["i"])
        sizes[v] = fsio.file_size(spark, S._manifest_path(root, v))
    assert S.latest_version(spark, root) == 20
    # (a) delta size at v20 (20-file table) ~ delta size at v3 (3-file
    # table): both describe ONE added file. Allow slack for stat noise.
    assert sizes[20] < 3 * sizes[3]
    # and it is much smaller than the full state (the checkpoint at 16)
    ckpt = fsio.file_size(spark, S._ckpt_path(root, 16))
    assert sizes[20] < ckpt / 3
    # (b) checkpoint cadence
    assert fsio.exists(spark, S._ckpt_path(root, 16))
    assert not fsio.exists(spark, S._ckpt_path(root, 15))
    # (c) reconstruction: 20 files, all rows, stats for every file
    m = S._read_manifest(spark, root, 20)
    assert len(m["files"]) == 20
    assert all("__rows" in m["stats"][f] for f in m["files"])
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(40)]
    # time travel through the delta chain (below the checkpoint too)
    assert _rows(S.read_snapshot(spark, root, 5)) == [(i, f"r{i}") for i in range(10)]
    # (d) every version file parses standalone
    for v in range(1, 21):
        json.loads(fsio.read_text(spark, S._manifest_path(root, v)))


def test_delta_log_cache_survives_wipe_and_rebuild(spark, root):
    """The state memo is identity-guarded (mtime+size of the version
    file): registry queries wipe and rebuild fixed per-pid roots, so a
    (root, version)-keyed cache would serve stale manifests. Rebuild the
    same path with different content and different file sets — reads
    must reflect the NEW table."""
    S.append(_df(spark, 0, 3), root)
    S.append(_df(spark, 3, 5), root)
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(5)]
    old_files = set(S._read_manifest(spark, root, 2)["files"])
    shutil.rmtree(root)
    S.append(_df(spark, 100, 103), root)
    S.append(_df(spark, 103, 105), root)
    m = S._read_manifest(spark, root, 2)
    assert set(m["files"]) != old_files
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in range(100, 105)
    ]


def test_vacuum_keeps_noncontiguous_versions_reconstructible(spark, root):
    """Tags pin arbitrary old versions, so vacuum's survivor set is
    non-contiguous; with delta-logged manifests every survivor must stay
    readable after the versions its chain crossed are expired (vacuum
    materializes checkpoints first)."""
    for lo in range(0, 12, 2):  # v1..v6, all deltas after v1
        S.append(_df(spark, lo, lo + 2), root)
    S.create_tag(spark, root, "pin3", version=3)
    deleted = S.vacuum(spark, root, keep_last=2)
    assert S._manifest_versions(spark, root) == [3, 5, 6]
    # v3's delta chain crossed v1/v2 (now gone) — checkpoint serves it
    assert _rows(S.read_snapshot(spark, root, 3)) == [(i, f"r{i}") for i in range(6)]
    assert _rows(S.read_snapshot(spark, root, 5)) == [(i, f"r{i}") for i in range(10)]
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(12)]
    assert isinstance(deleted, list)
    # appends continue on the vacuumed tail and stay delta-logged
    S.append(_df(spark, 12, 14), root)
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(14)]


def _folded(base: dict, fold) -> dict:
    """A full state from a base and the chain fold over it: files, stats
    and seqs as :func:`table_log.replay` rebuilds them."""
    files = sorted((set(base["files"]) - fold.removed) | fold.added)
    stats, seqs = fold.maps(files, base["stats"], base.get("seqs") or {}, "seqs" in base)
    return {"files": files, "stats": stats, "seqs": seqs}


def test_chain_fold_net_effect_matches_apply_delta():
    """table_log.fold over hand-built delta records: a base member
    removed and re-added, stats set then deleted, a record without seqs
    after ones with them (every seq drops, later records start afresh).
    Over every prefix of the chain, the base plus the fold equals the
    records folded one by one with apply_delta."""
    import functools

    base = {
        "files": ["a", "b", "c"],
        "stats": {f: {"i": [n, n + 1]} for n, f in enumerate("abc")},
        "seqs": {"a": 1, "b": 1, "c": 1},
    }

    def delta(v, **kw):
        return {"format": table_log.DELTA_FORMAT, "base": {"version": v}, **kw}

    chain = [
        delta(2, files_added=["d"], files_removed=["a"], stats_del=["a"],
              stats_set={"d": {"i": [6, 7]}}, seqs={"set": {"d": 2}, "del": ["a"]}),
        delta(3, files_added=["a"], stats_set={"a": {"i": [8, 9]}, "b": {"i": [2, 9]}},
              seqs={"set": {"a": 3}, "del": []}),
        delta(4, files_removed=["d"], stats_del=["d"], stats_set={"c": {"i": [4, 6]}},
              seqs={"set": {}, "del": ["b", "d"]}),
        delta(5, files_added=["e"], stats_del=["c"], stats_set={"e": {"i": [1, 1]}}),
        delta(6, files_added=["f"], seqs={"set": {"f": 6}, "del": []}),
    ]
    for k in range(len(chain) + 1):
        want = functools.reduce(table_log.apply_delta, chain[:k], base)
        got = _folded(base, table_log.fold(chain[:k]))
        assert got == {key: want.get(key) for key in got}, k
    fold = table_log.fold(chain)
    assert fold.fields == {"version": 6} and fold.files_delta == 2
    assert fold.removed == {"a"} and fold.added == {"a", "e", "f"}
    assert fold.stats["c"] is None and fold.stats["a"] == {"i": [8, 9]}
    assert fold.seqs_dropped and fold.seqs == {"f": 6}


@pytest.mark.parametrize("trial", [0, 1, 2])
def test_delta_log_random_op_sequences_reconstruct(spark, root, trial, monkeypatch):
    """Model-based randomized guard for the delta-log storage layer
    (the column-mapping family's convention applied to r12's manifest
    change): a random interleaving of append / overwrite / merge /
    compact / compact_small / rollback / tag+vacuum must leave EVERY
    retained version reconstructing to the model's expected rows — from
    a cold cache (forced mid-sequence clears exercise checkpoint walks
    and full delta chains), with metadata_count agreeing wherever it is
    answerable and expired versions refusing. Trial 2 shrinks the shard
    constants so every checkpoint the sequence writes (vacuum-time and
    periodic) takes the r13 MANIFEST-LIST form — the same model then
    fuzzes sharded reconstruction, shard reclaim, and the sharded
    pruned-planner (probed below against the full plan)."""
    import random

    if trial == 2:
        monkeypatch.setattr(S, "_SHARD_MIN_FILES", 4)
        monkeypatch.setattr(S, "_SHARD_SIZE", 2)

    rnd = random.Random(1000 + trial)
    versions: dict[int, list] = {}  # retained version -> expected rows
    tagged: set[int] = set()
    next_id = 0

    def batch(n):
        nonlocal next_id
        rows = [(next_id + j, f"r{next_id + j}") for j in range(n)]
        next_id += n
        return rows

    cur: list = []
    for step in range(14):
        op = rnd.choice(
            ["append", "append", "append", "overwrite", "merge",
             "compact", "compact_small", "rollback", "vacuum"]
        )
        if op == "append" or not versions:
            rows = batch(rnd.randint(1, 4))
            df = spark.createDataFrame(rows, "i int, s string").coalesce(
                rnd.randint(1, 2)
            )
            v = S.append(df, root, stats_cols=["i"])
            cur = cur + rows
        elif op == "overwrite":
            rows = batch(rnd.randint(1, 3))
            v = S.overwrite(
                spark.createDataFrame(rows, "i int, s string"), root,
                stats_cols=["i"],
            )
            cur = list(rows)
        elif op == "merge":
            # keyed upsert: update up to 2 existing keys, insert 1 new
            upd = rnd.sample(cur, min(2, len(cur))) if cur else []
            ins = batch(1)
            src = [(i, f"u{i}") for i, _ in upd] + ins
            v = S.merge_commit(
                root,
                spark.createDataFrame(src, "i int, s string"),
                keys=["i"],
                prune_on="i",
                when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
            )
            m = {i: s for i, s in cur}
            m.update({i: s for i, s in src})
            cur = sorted(m.items())
        elif op == "compact":
            v = S.compact(spark, root)
            if v is None:
                continue
        elif op == "compact_small":
            v = S.compact_small(spark, root, small_bytes=1 << 20)
            if v is None:
                continue
        elif op == "rollback":
            if not versions:
                continue
            to = rnd.choice(sorted(versions))
            v = S.rollback(spark, root, to)
            cur = list(versions[to])
        else:  # vacuum (tagging one survivor first half the time)
            if rnd.random() < 0.5 and versions:
                pin = rnd.choice(sorted(versions))
                if pin not in tagged:
                    S.create_tag(spark, root, f"pin{step}", version=pin)
                    tagged.add(pin)
            S.vacuum(spark, root, keep_last=2)
            retained = set(S._manifest_versions(spark, root))
            for gone in [x for x in versions if x not in retained]:
                del versions[gone]
            continue
        versions[v] = sorted(set(cur))
        cur = versions[v]
        if rnd.random() < 0.4:
            S._STATE_CACHE.clear()  # force cold reconstruction walks
    S._STATE_CACHE.clear()
    retained = set(S._manifest_versions(spark, root))
    assert retained == set(versions) | {
        x for x in retained if x not in versions
    }  # every modeled version still listed is checked below
    sharded_at = None
    for v, expect in sorted(versions.items()):
        if v not in retained:
            continue
        assert _rows(S.read_snapshot(spark, root, v)) == expect, f"v{v}"
        m = S._read_manifest(spark, root, v)
        assert sorted(m["files"]) == m["files"]  # canonical order kept
        # the session-free (pyarrow-bound) replay the streaming sources
        # use reconstructs the same state as the fsio-bound one
        pa_state = table_log.replay(table_log.ArrowLog(root), v)
        assert [pa_state.get(k) for k in ("files", "stats", "seqs")] == [
            m.get(k) for k in ("files", "stats", "seqs")
        ], f"replay v{v}"
        # over a sharded base, the shards plus the chain fold (what the
        # pruned planners and the incremental checkpoint read) rebuild it
        log = table_log.ArrowLog(root)
        _, base, chain, _ = table_log.walk(log, v)
        if base.get("format") == table_log.CKPT_LIST_FORMAT:
            sharded_at = v
            assert _folded(table_log.load_base(log, base), table_log.fold(chain)) == {
                k: pa_state.get(k) for k in ("files", "stats", "seqs")
            }, f"fold v{v}"
        assert S.metadata_count(spark, root, version=v) == len(expect)
        # sharded pruned planner == full plan (same candidates superset
        # contract, same total) at every retained version
        if expect:
            lo = expect[0][0]
            hi = expect[min(2, len(expect) - 1)][0]
            S._STATE_CACHE.clear()
            pm = S._plan_pruned_state(spark, root, v, [("i", lo, hi)])
            assert pm["_files_total"] == len(m["files"])
            assert set(pm["files"]) <= set(m["files"])
            got = sorted(
                (r.i, r.s)
                for r in S.read_snapshot_pruned(spark, root, "i", lo, hi, version=v)[0]
                .filter(F.col("i").between(lo, hi))
                .collect()
            )
            assert got == [e for e in expect if lo <= e[0] <= hi], f"pruned v{v}"
    if trial == 2:
        assert sharded_at is not None
        # the newest sharded-base version: the distributed planner plans
        # the files the single-node planner's per-file check keeps
        from nagios_custom_etl_spark.sources.manifest_scan import plan_files_distributed

        expect = versions[sharded_at]
        preds = [("i", expect[0][0], expect[min(2, len(expect) - 1)][0])]
        planned, _, total = plan_files_distributed(spark, root, sharded_at, preds)
        pm = S._plan_pruned_state(spark, root, sharded_at, preds)
        assert planned == sorted(
            f for f in pm["files"] if table_log.stats_check(pm["stats"].get(f), preds)
        )
        assert total == pm["_files_total"]
    # expired versions refuse instead of resurrecting from the cache
    expired = [x for x in range(1, max(retained)) if x not in retained]
    if expired:
        with pytest.raises(Exception):
            S.read_snapshot(spark, root, expired[0]).collect()


def test_state_memo_warm_reads_nothing_cold_walk_reads_each_version(
    spark, root, monkeypatch
):
    """The replay memo rule, counted in version-file reads: a cold walk
    over k delta records reads k + 1 version files (the deltas and the
    full base below them), a warm _state reads none, and a walk stops
    at the first memoized version below it."""
    S.append(_df(spark, 0, 40).repartition(4), root)  # v1: full, 4 files
    for lo in range(40, 46, 2):
        S.append(_df(spark, lo, lo + 2).coalesce(1), root)  # v2..v4: deltas
    for v in (2, 3, 4):
        raw = json.loads(fsio.read_text(spark, S._manifest_path(root, v)))
        assert raw["format"] == S._DELTA_FORMAT
    reads: list[str] = []
    real = fsio.read_text
    monkeypatch.setattr(
        fsio, "read_text", lambda sp, path: reads.append(path) or real(sp, path)
    )
    S._STATE_CACHE.clear()
    assert len(S._state(spark, root, 4)["files"]) == 7
    assert len(reads) == 3 + 1
    reads.clear()
    S._state(spark, root, 4)
    assert reads == []
    S._STATE_CACHE.clear()
    S._state(spark, root, 2)
    reads.clear()
    S._state(spark, root, 4)  # stops at the memoized v2
    assert reads == [S._manifest_path(root, 4), S._manifest_path(root, 3)]


def test_repeated_vacuum_after_new_commits_is_safe(spark, root):
    """Regression: vacuum used to enumerate range(1, latest+1) and
    re-open manifests an earlier vacuum had removed -> FileNotFoundError
    on any second vacuum after a new commit."""
    S.overwrite(_df(spark, 0, 2), root)  # v1
    S.overwrite(_df(spark, 2, 4), root)  # v2
    S.vacuum(spark, root, keep_last=1)  # drops v1's manifest
    S.overwrite(_df(spark, 4, 6), root)  # v3 (gap at v1 now)
    deleted = S.vacuum(spark, root, keep_last=1)  # must not crash on missing v1
    assert S._manifest_versions(spark, root) == [3]
    assert _rows(S.read_snapshot(spark, root)) == [(4, "r4"), (5, "r5")]
    # and the table keeps working after: append on top of the vacuumed tail
    S.append(_df(spark, 6, 7), root)
    assert _rows(S.read_snapshot(spark, root)) == [(4, "r4"), (5, "r5"), (6, "r6")]
    assert isinstance(deleted, list)


def test_vacuum_cold_cache_expired_deltas_below_expired_full(spark, root):
    """r12 ADVICE (high): with delta-logged manifests and a COLD
    _STATE_CACHE, vacuum used to reconstruct each expired version AFTER
    deleting earlier expired versions' manifests — an expired delta
    below an expired full manifest (appends preceding an overwrite)
    crashed mid-vacuum reading its already-deleted parent, and every
    later vacuum failed the same way. Two-pass vacuum collects every
    expired version's refs before deleting anything."""
    for lo in (0, 2, 4):
        S.append(_df(spark, lo, lo + 2), root)  # v1..v3 (v2, v3 deltas)
    S.overwrite(_df(spark, 10, 14), root)  # v4 (full)
    S.append(_df(spark, 14, 16), root)  # v5 (delta)
    S.append(_df(spark, 16, 18), root)  # v6 (delta)
    S._STATE_CACHE.clear()  # a fresh process: nothing warmed by commits
    deleted = S.vacuum(spark, root, keep_last=2)
    assert S._manifest_versions(spark, root) == [5, 6]
    # v1..v3's data files (rows 0..5) are unreachable from v5/v6 and gone
    assert len(deleted) >= 3
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in range(10, 18)
    ]
    # idempotent: immediate re-vacuum on the survivor tail is a no-op
    S._STATE_CACHE.clear()
    assert S.vacuum(spark, root, keep_last=2) == []


def test_vacuum_recovers_after_crashed_predecessor(spark, root):
    """A vacuum that crashed mid-delete (expired parent manifest gone,
    expired delta child still present, no checkpoint at the child) must
    not wedge the table: the unreconstructible expired version's refs
    are skipped (files may leak to orphan GC) and its manifest drops."""
    for lo in (0, 2, 4):
        S.append(_df(spark, lo, lo + 2), root)  # v1..v3
    S.overwrite(_df(spark, 10, 12), root)  # v4
    S.append(_df(spark, 12, 14), root)  # v5
    # simulate the old bug's crash point: v1's manifest deleted, v2 (a
    # delta on v1) left behind, cache cold
    fsio.delete(spark, S._manifest_path(root, 1), recursive=False)
    S._STATE_CACHE.clear()
    S.vacuum(spark, root, keep_last=2)
    assert S._manifest_versions(spark, root) == [4, 5]
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in range(10, 14)
    ]
    # table keeps working: append + another vacuum
    S.append(_df(spark, 14, 15), root)
    S._STATE_CACHE.clear()
    S.vacuum(spark, root, keep_last=1)
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in range(10, 15)
    ]


def test_sharded_checkpoint_pruned_read_parses_fewer_bytes(
    spark, root, monkeypatch
):
    """r12 verdict task 2 (manifest-list sharding): a big table's
    checkpoint splits into range-enveloped shard files; pruned reads
    parse ONLY intersecting shards (strictly fewer checkpoint bytes
    than full reconstruction) while planning the IDENTICAL file set,
    with the true files_total tracked through the delta fold."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    # 16 range-partitioned files: tight, disjoint per-file [min, max]
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i"])  # v1
    S.append(_df(spark, 500, 502).coalesce(1), root, stats_cols=["i"])  # v2 (delta)
    S._ensure_checkpoint(spark, root, 2)
    names = fsio.list_names(spark, f"{root}/_snapshots")
    assert any(n.startswith("ckptshard-00000002-") for n in names)
    S.append(_df(spark, 600, 602).coalesce(1), root, stats_cols=["i"])  # v3 (delta)
    # pruned read, cold cache: bytes parsed strictly fewer than full
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 10, 25)
    pruned_bytes = S._CKPT_BYTES_READ["n"]
    got = sorted(r.i for r in df.filter(F.col("i").between(10, 25)).collect())
    assert got == list(range(10, 26))
    assert 0 < planned < total and total == 18
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    m_full = S._read_manifest(spark, root, 3)
    full_bytes = S._CKPT_BYTES_READ["n"]
    assert len(m_full["files"]) == 18
    assert 0 < pruned_bytes < full_bytes
    # planned set identical to a full-reconstruction per-file plan
    stats = m_full.get("stats", {})
    expect = [
        f
        for f in m_full["files"]
        if not (
            (s := stats.get(f, {}).get("i"))
            and s[0] is not None
            and (s[1] < 10 or s[0] > 25)
        )
    ]
    assert planned == len(expect)
    # the session-free (pyarrow-bound) replay merges shards identically
    from nagios_custom_etl_spark import table_log

    assert table_log.replay(table_log.ArrowLog(root), 2)["files"] == S._read_manifest(
        spark, root, 2
    )["files"]
    # vacuum: shard liveness is BY REFERENCE (r13 incremental
    # checkpoints share untouched shards forward by name) — v3's
    # checkpoint, written incrementally during vacuum, reuses v2's
    # shard files, so expiring v2 drops its INDEX but keeps every
    # shared shard; only unreferenced shards are reclaimed
    S.vacuum(spark, root, keep_last=1)
    names = fsio.list_names(spark, f"{root}/_snapshots")
    assert not any(n == "ckpt-00000002.json" for n in names)
    idx3 = json.loads(fsio.read_text(spark, S._ckpt_path(root, 3)))
    assert idx3["format"] == "ckpt-list-v1"
    referenced = {sm["path"] for sm in idx3["shards"]}
    assert any(p.startswith("ckptshard-00000002-") for p in referenced)
    on_disk = {n for n in names if n.startswith("ckptshard-")}
    assert referenced <= on_disk  # every referenced shard survives
    assert on_disk <= referenced  # ...and nothing unreferenced lingers
    assert sorted(
        r.i for r in S.read_snapshot(spark, root).filter(F.col("i") >= 500).collect()
    ) == [500, 501, 600, 601]
    # a full rewrite drops every old shard reference; the next vacuum
    # then reclaims the now-unreferenced shared shards
    S.overwrite(_df(spark, 900, 902), root, stats_cols=["i"])
    S.vacuum(spark, root, keep_last=1)
    names = fsio.list_names(spark, f"{root}/_snapshots")
    assert not any(n.startswith("ckptshard-00000002-") for n in names)
    assert _rows(S.read_snapshot(spark, root)) == [(900, "r900"), (901, "r901")]


def test_incremental_checkpoint_reuses_untouched_shards(spark, root, monkeypatch):
    """r13 verdict task 1: a checkpoint after K small appends onto a
    sharded-checkpoint base REUSES the previous checkpoint's shard files
    by name and writes only O(K + touched shards) bytes — never
    O(table files) — and the reconstructed state is byte-equal to the
    full-walk reconstruction."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i"])  # v1
    S.append(_df(spark, 500, 501).coalesce(1), root, stats_cols=["i"])  # v2
    S._CKPT_BYTES_WRITTEN["n"] = 0
    S._ensure_checkpoint(spark, root, 2)  # first sharded ckpt: full write
    full_write_bytes = S._CKPT_BYTES_WRITTEN["n"]
    idx2 = json.loads(fsio.read_text(spark, S._ckpt_path(root, 2)))
    assert idx2["format"] == "ckpt-list-v1" and len(idx2["shards"]) == 5
    # two 1-file appends, then checkpoint again: pure-append fast path
    S.append(_df(spark, 600, 601).coalesce(1), root, stats_cols=["i"])  # v3
    S.append(_df(spark, 700, 701).coalesce(1), root, stats_cols=["i"])  # v4
    S._STATE_CACHE.clear()
    expect = S._read_manifest(spark, root, 4)  # full delta-walk state
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_WRITTEN["n"] = 0
    S._CKPT_BYTES_READ["n"] = 0
    S._ensure_checkpoint(spark, root, 4)
    inc_write_bytes = S._CKPT_BYTES_WRITTEN["n"]
    # O(touched): strictly fewer bytes than the full write, and the
    # pure-append path reads ZERO previous shard bytes (the deltas
    # already carry every added file + stat)
    assert 0 < inc_write_bytes < full_write_bytes / 2
    assert S._CKPT_BYTES_READ["n"] == fsio.file_size(spark, S._ckpt_path(root, 2))
    idx4 = json.loads(fsio.read_text(spark, S._ckpt_path(root, 4)))
    paths2 = [sm["path"] for sm in idx2["shards"]]
    paths4 = [sm["path"] for sm in idx4["shards"]]
    assert set(paths2) <= set(paths4)  # every v2 shard reused by name
    new = [p for p in paths4 if p not in paths2]
    assert len(new) == 1 and new[0].startswith("ckptshard-00000004-")
    # reconstruction through the incremental checkpoint is exact
    S._STATE_CACHE.clear()
    assert S._read_manifest(spark, root, 4) == expect
    assert S.metadata_count(spark, root, version=4) == 163
    assert S.metadata_minmax(spark, root, "i", version=4) == (0, 700)


def test_incremental_checkpoint_rewrites_only_touched_shards(
    spark, root, monkeypatch
):
    """A chain that removes/re-stats PREV members (a COW merge) rewrites
    exactly the shards holding the touched files; untouched shards are
    still referenced by name, and the reconstructed state matches the
    full walk."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i"])  # v1
    S.append(_df(spark, 500, 501).coalesce(1), root, stats_cols=["i"])  # v2
    S._ensure_checkpoint(spark, root, 2)
    idx2 = json.loads(fsio.read_text(spark, S._ckpt_path(root, 2)))
    # COW-merge keys living in one file (i in [0, 9]): removes that
    # file, adds its rewrite — exactly one prev shard is touched
    src = spark.createDataFrame([Row(i=3, s="u3")], "i int, s string")
    S.merge_commit(
        root, src, keys=["i"], prune_on="i",
        when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
    )  # v3
    S._STATE_CACHE.clear()
    expect = S._read_manifest(spark, root, 3)
    S._STATE_CACHE.clear()
    S._ensure_checkpoint(spark, root, 3)
    idx3 = json.loads(fsio.read_text(spark, S._ckpt_path(root, 3)))
    paths2 = {sm["path"] for sm in idx2["shards"]}
    paths3 = {sm["path"] for sm in idx3["shards"]}
    reused = paths2 & paths3
    assert len(reused) == len(paths2) - 1  # exactly one shard rewritten
    assert sum(sm["n_files"] for sm in idx3["shards"]) == len(expect["files"])
    S._STATE_CACHE.clear()
    assert S._read_manifest(spark, root, 3) == expect
    got = sorted((r.i, r.s) for r in S.read_snapshot(spark, root).collect())
    assert (3, "u3") in got and (3, "r3") not in got


def test_lazy_append_skips_full_reconstruction(spark, root, monkeypatch):
    """r13 verdict task 2: an append whose parent is a delta record with
    no pending MoR deletes commits through the shard-lazy path — one raw
    head read, ZERO checkpoint/shard bytes loaded, a pure delta record
    written — while schema/spec enforcement, txn idempotence tokens and
    the reconstructed state stay exactly the legacy path's."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i"])  # v1
    S.append(_df(spark, 500, 501).coalesce(1), root, stats_cols=["i"])  # v2
    S._ensure_checkpoint(spark, root, 2)
    # cold process: the lazy append must not reconstruct the file list
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    v3 = S.append(
        _df(spark, 600, 601).coalesce(1), root, stats_cols=["i"], txn="b-42"
    )
    assert S._CKPT_BYTES_READ["n"] == 0  # zero checkpoint bytes loaded
    raw = json.loads(fsio.read_text(spark, S._manifest_path(root, v3)))
    assert raw["format"] == "delta-v1" and raw["files_removed"] == []
    assert len(raw["files_added"]) == 1
    assert raw["base"]["txn"] == "b-42"
    assert S.txn_version(spark, root, "b-42") == v3
    # contrast: the full reconstruction a legacy writer would have paid
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    m = S._read_manifest(spark, root, v3)
    assert S._CKPT_BYTES_READ["n"] > 0 and len(m["files"]) == 18
    assert S.metadata_count(spark, root, version=v3) == 162
    # schema drift is still refused from the head fields alone
    with pytest.raises(S.SchemaMismatchError):
        S.append(
            spark.createDataFrame([Row(i="x", s="y")], "i string, s string"),
            root,
        )
    # a parent with pending MoR deletes takes the legacy path (seqs
    # bookkeeping needs the full file list) and stays correct
    S.mor_delete(spark.createDataFrame([Row(i=3)], "i int"), root, keys=["i"])
    S.append(_df(spark, 800, 801).coalesce(1), root, stats_cols=["i"])
    got = {r.i for r in S.read_snapshot(spark, root).collect()}
    assert 3 not in got and {600, 800} <= got


def test_sharded_checkpoint_multi_pruning_count_and_time_travel(
    spark, root, monkeypatch
):
    """Sharded-base coverage for the other metadata readers: the
    conjunctive pruned reader plans through intersecting shards only;
    metadata_count answers from the INDEX alone (per-shard row sums,
    zero shard loads); a time-travel pruned read BELOW the checkpoint
    walks its own (unsharded) base unaffected."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        (F.col("id") * 37 % 160).cast("int").alias("j"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i", "j"])  # v1
    S.append(
        spark.createDataFrame([Row(i=500, j=1, s="x")], "i int, j int, s string")
        .coalesce(1),
        root, stats_cols=["i", "j"],
    )  # v2
    S._ensure_checkpoint(spark, root, 2)
    # conjunctive pruning through the sharded base
    S._STATE_CACHE.clear()
    df, planned, total = S.read_snapshot_pruned_multi(
        spark, root, [("i", 10, 25), ("j", 0, 159)]
    )
    assert 0 < planned < total == 17
    got = sorted(r.i for r in df.filter(F.col("i").between(10, 25)).collect())
    assert got == list(range(10, 26))
    # metadata_count from the index alone: strictly fewer bytes than
    # even ONE shard load (the index is read, no ckptshard-* files)
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    assert S.metadata_count(spark, root, version=2) == 161
    assert S.metadata_minmax(spark, root, "i", version=2) == (0, 500)
    # exact integer SUM/AVG from the per-shard sum aggregates
    assert S.metadata_sum(spark, root, "i", version=2) == sum(range(160)) + 500
    index_only = S._CKPT_BYTES_READ["n"]
    # three index reads, zero ckptshard-* loads
    assert index_only == 3 * fsio.file_size(spark, S._ckpt_path(root, 2))
    # time-travel pruned read below the checkpoint: v1 is a full
    # manifest, its own base — results exact
    S._STATE_CACHE.clear()
    df1, planned1, total1 = S.read_snapshot_pruned(spark, root, "i", 150, 159)
    assert total1 == 17  # latest; now pin v1 explicitly
    df1, planned1, total1 = S.read_snapshot_pruned(
        spark, root, "i", 150, 159, version=1
    )
    assert total1 == 16 and 0 < planned1 < 16
    assert sorted(
        r.i for r in df1.filter(F.col("i") >= 150).collect()
    ) == list(range(150, 160))


def test_sharded_checkpoint_mor_pruned_read_applies_deletes(
    spark, root, monkeypatch
):
    """Sharded checkpoints carry per-file MoR seqs in their shards: a
    pruned read planned through intersecting shards still applies the
    pending equality deletes (the seqs slice covers every candidate)."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 120).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(12, "i"), root, stats_cols=["i"])  # v1
    S.mor_delete(
        spark.createDataFrame([Row(i=12), Row(i=14)]), root, keys=["i"]
    )  # v2: pending deletes
    S._ensure_checkpoint(spark, root, 2)
    S._STATE_CACHE.clear()
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 10, 20)
    assert planned < total
    got = sorted(r.i for r in df.filter(F.col("i").between(10, 20)).collect())
    assert got == [10, 11, 13, 15, 16, 17, 18, 19, 20]


def test_merge_commit_insert_then_newer_wins_update(spark, root):
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [Row(k=1, v="a", seq=1), Row(k=2, v="b", seq=1)], "k int, v string, seq int"
    )
    v1 = S.merge_commit(root, base, keys=["k"])  # empty table -> plain insert
    assert v1 == 1
    batch = spark.createDataFrame(
        [Row(k=2, v="B", seq=2), Row(k=2, v="stale", seq=0), Row(k=3, v="c", seq=1)],
        "k int, v string, seq int",
    ).filter(F.col("seq") != 0)  # one update, one insert
    newer = F.col("s.seq") > F.col("t.seq")
    upd = {
        c: F.when(newer, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        for c in ("k", "v", "seq")
    }
    v2 = S.merge_commit(root, batch, keys=["k"], when_matched_update=upd)
    assert v2 == 2
    assert sorted((r.k, r.v) for r in S.read_snapshot(spark, root, 2).collect()) == [
        (1, "a"),
        (2, "B"),
        (3, "c"),
    ]
    # v1 pinned reader unaffected by the publish
    assert sorted((r.k, r.v) for r in S.read_snapshot(spark, root, 1).collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_merge_commit_retries_after_losing_race(spark, root, monkeypatch):
    """A writer whose parent went stale mid-merge loses the manifest race,
    re-reads the new latest, and lands on the next version."""
    S.merge_commit(root, _df(spark, 0, 2), keys=["i"])  # v1
    real = S.latest_version
    calls = {"n": 0}

    def stale_once(sp, r):
        calls["n"] += 1
        return 0 if calls["n"] == 1 else real(sp, r)  # first read: stale parent

    monkeypatch.setattr(S, "latest_version", stale_once)
    v = S.merge_commit(root, _df(spark, 2, 4), keys=["i"])  # tries v1, loses, retries
    assert v == 2
    assert _rows(S.read_snapshot(spark, root, 2)) == [(i, f"r{i}") for i in range(0, 4)]

    # permanently stale parent -> retries exhaust -> ConcurrentCommitError
    monkeypatch.setattr(S, "latest_version", lambda sp, r: 0)
    with pytest.raises(S.ConcurrentCommitError):
        S.merge_commit(root, _df(spark, 4, 6), keys=["i"], max_retries=2)


def test_manifest_contents_and_parent_chain(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.append(_df(spark, 2, 3), root)
    m1 = S._read_manifest(spark, root, 1)
    m2 = S._read_manifest(spark, root, 2)
    assert m1["op"] == "overwrite" and m1["parent"] == 0
    assert m2["op"] == "append" and m2["parent"] == 1
    assert set(m1["files"]) < set(m2["files"])  # append shares parent files
    # on-disk storage is delta-logged: v1 (no parent state) is a full,
    # self-contained JSON; the small append at v2 is a delta record whose
    # non-file fields ride verbatim in `base` and whose adds are O(K)
    raw1 = json.loads(fsio.read_text(spark, S._manifest_path(root, 1)))
    assert raw1 == m1
    raw2 = json.loads(fsio.read_text(spark, S._manifest_path(root, 2)))
    assert raw2["format"] == "delta-v1"
    assert raw2["base"]["op"] == "append" and raw2["base"]["parent"] == 1
    assert set(raw2["files_added"]) == set(m2["files"]) - set(m1["files"])
    assert raw2["files_removed"] == []
    # reconstruction (what every reader sees) is exact
    assert S._apply_delta(m1, raw2) == m2


# --- manifest file stats + pruned reads (x76) -------------------------------


def _ranged(spark, n=40, files=4):
    df = spark.createDataFrame([Row(i=i, s=f"r{i}") for i in range(n)], "i int, s string")
    return df.repartitionByRange(files, "i")


def test_commit_records_per_file_stats(spark, root):
    v = S.overwrite(_ranged(spark), root, stats_cols=["i"])
    m = S._read_manifest(spark, root, v)
    assert set(m["stats"]) == set(m["files"])
    for f in m["files"]:
        lo, hi = m["stats"][f]["i"]
        assert 0 <= lo <= hi <= 39
    # the files jointly cover the domain with disjoint ranges (ranged write)
    spans = sorted(tuple(m["stats"][f]["i"]) for f in m["files"])
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo


def test_pruned_read_plans_fewer_files_same_answer(spark, root):
    S.overwrite(_ranged(spark), root, stats_cols=["i"])
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 10, 19)
    assert planned < total
    got = sorted(r.i for r in df.filter("i BETWEEN 10 AND 19").collect())
    assert got == list(range(10, 20))
    # pruning is a superset guarantee: the planned files hold every match
    assert {r.i for r in df.collect()} >= set(range(10, 20))


def test_pruned_read_without_stats_keeps_all_files(spark, root):
    S.overwrite(_ranged(spark), root)  # no stats_cols recorded
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 10, 19)
    assert planned == total  # conservative: never drop an unknown file
    assert df.count() == 40


def test_pruned_read_empty_intersection(spark, root):
    S.overwrite(_ranged(spark), root, stats_cols=["i"])
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 1000, 2000)
    assert planned == 0 and total > 0
    assert df.count() == 0


def test_append_merges_stats_and_rollback_carries_them(spark, root):
    S.overwrite(_ranged(spark, 40), root, stats_cols=["i"])
    df2 = spark.createDataFrame([Row(i=i, s=f"r{i}") for i in range(100, 120)], "i int, s string")
    v2 = S.append(df2.repartitionByRange(2, "i"), root, stats_cols=["i"])
    m2 = S._read_manifest(spark, root, v2)
    assert set(m2["stats"]) == set(m2["files"])  # old + new all carry stats
    _, planned, total = S.read_snapshot_pruned(spark, root, "i", 100, 119, version=v2)
    assert planned < total  # the appended files alone
    v3 = S.rollback(spark, root, v2)
    m3 = S._read_manifest(spark, root, v3)
    assert m3["stats"] == m2["stats"]


# --- orphan-file GC (x79) ----------------------------------------------------


def test_gc_orphans_deletes_only_unreferenced(spark, root):
    v1 = S.overwrite(_df(spark, 0, 10), root)
    files_v1 = set(S._read_manifest(spark, root, v1)["files"])
    orphan_files, _ = S._write_data_files(_df(spark, 50, 60), root)
    deleted = S.gc_orphans(spark, root, min_age_sec=0.0)
    assert set(deleted) == set(orphan_files)
    # committed version untouched: manifest identical, content readable
    assert set(S._read_manifest(spark, root, v1)["files"]) == files_v1
    assert _rows(S.read_snapshot(spark, root, v1)) == [(i, f"r{i}") for i in range(10)]
    # the orphaned data directory itself is gone
    orphan_dir = orphan_files[0].split("/")[0]
    assert not fsio.exists(spark, f"{root}/{orphan_dir}")


def test_gc_orphans_spares_young_empty_dir(spark, root):
    """A data-* dir with no parquet yet (in-flight writer just created
    it, or only job-setup artifacts inside) must survive GC until it
    ages past retention — deleting it re-opens the concurrent-writer
    window the file-level mtime check closed (r8 ADVICE)."""
    import os

    S.overwrite(_df(spark, 0, 3), root)
    young = f"{root}/data-inflight00000000000000000000000000"
    os.makedirs(young)
    with open(f"{young}/_SUCCESS", "w") as fh:
        fh.write("")
    assert S.gc_orphans(spark, root) == []  # default retention
    assert fsio.exists(spark, young)
    deleted = S.gc_orphans(spark, root, min_age_sec=0.0)  # aged out
    assert not fsio.exists(spark, young)
    assert deleted == []  # no parquet inside: dir dropped, nothing listed


def test_gc_orphans_spares_files_shared_by_old_versions(spark, root):
    S.overwrite(_df(spark, 0, 5), root)  # v1
    S.append(_df(spark, 5, 8), root)  # v2 shares v1's files
    S.overwrite(_df(spark, 100, 103), root)  # v3 references neither
    deleted = S.gc_orphans(spark, root, min_age_sec=0.0)
    assert deleted == []  # every file is reachable from SOME manifest
    assert _rows(S.read_snapshot(spark, root, 2)) == [(i, f"r{i}") for i in range(8)]


def test_gc_orphans_idempotent_and_empty_table(spark, root):
    import os

    os.makedirs(root, exist_ok=True)
    assert S.gc_orphans(spark, root, min_age_sec=0.0) == []  # no manifests, no data: no-op
    S.overwrite(_df(spark, 0, 3), root)
    S._write_data_files(_df(spark, 9, 12), root)
    first = S.gc_orphans(spark, root, min_age_sec=0.0)
    assert first  # removed the orphan
    assert S.gc_orphans(spark, root, min_age_sec=0.0) == []  # second run finds nothing


# --- incremental read (x84) --------------------------------------------------


def test_incremental_read_is_exactly_the_appended_rows(spark, root):
    v1 = S.append(_df(spark, 0, 5), root)
    S.append(_df(spark, 5, 8), root)
    v3 = S.append(_df(spark, 8, 12), root)
    inc = S.read_incremental(spark, root, since_version=v1)
    assert _rows(inc) == [(i, f"r{i}") for i in range(5, 12)]
    # bounded range: only the middle append
    mid = S.read_incremental(spark, root, v1, to_version=v3 - 1)
    assert _rows(mid) == [(i, f"r{i}") for i in range(5, 8)]
    # since the beginning: everything; empty range: nothing, typed
    assert _rows(S.read_incremental(spark, root, 0)) == [(i, f"r{i}") for i in range(12)]
    empty = S.read_incremental(spark, root, v3)
    assert empty.collect() == [] and empty.columns == _df(spark, 0, 1).columns


def test_incremental_read_refuses_non_append_history(spark, root):
    v1 = S.append(_df(spark, 0, 5), root)
    S.overwrite(_df(spark, 100, 103), root)
    S.append(_df(spark, 103, 105), root)
    with pytest.raises(ValueError, match="not append"):
        S.read_incremental(spark, root, since_version=v1)
    # a range that stays past the overwrite is fine again
    assert _rows(S.read_incremental(spark, root, since_version=2)) == [
        (i, f"r{i}") for i in range(103, 105)
    ]


def test_incremental_read_refuses_vacuumed_range(spark, root):
    S.append(_df(spark, 0, 3), root)
    S.append(_df(spark, 3, 6), root)
    S.append(_df(spark, 6, 9), root)
    S.vacuum(spark, root, keep_last=2)  # v1's manifest is gone
    with pytest.raises(ValueError, match="vacuumed"):
        S.read_incremental(spark, root, since_version=0)
    assert _rows(S.read_incremental(spark, root, since_version=2)) == [
        (i, f"r{i}") for i in range(6, 9)
    ]


# --- schema evolution (x73) --------------------------------------------------


def test_append_refuses_schema_drift_without_evolve(spark, root):
    S.append(_df(spark, 0, 3), root)
    widened = _df(spark, 3, 5).withColumn("extra", F.lit(7))
    with pytest.raises(S.SchemaMismatchError, match="evolve=True"):
        S.append(widened, root)
    v = S.append(widened, root, evolve=True)
    m = S._read_manifest(spark, root, v)
    assert [c for c, _ in m["schema"]] == _df(spark, 0, 1).columns + ["extra"]
    got = S.read_snapshot(spark, root).orderBy("i").collect()
    assert [r["extra"] for r in got] == [None, None, None, 7, 7]


def test_type_change_refused_even_with_evolve(spark, root):
    S.append(_df(spark, 0, 3), root)
    retyped = _df(spark, 3, 5).withColumn("s", F.lit(1))  # string -> int
    with pytest.raises(S.SchemaMismatchError, match="type change"):
        S.append(retyped, root, evolve=True)


def test_evolved_append_may_omit_old_columns(spark, root):
    S.append(_df(spark, 0, 3), root)
    S.append(_df(spark, 3, 5).drop("s"), root, evolve=True)
    got = S.read_snapshot(spark, root).orderBy("i").collect()
    assert [r["s"] for r in got] == ["r0", "r1", "r2", None, None]


def test_pruned_read_materializes_column_absent_from_planned_files(spark, root):
    # stats recorded on i; the evolved column exists only in files the
    # pruned read does NOT plan — it must still surface, typed, as NULL
    S.append(_df(spark, 0, 5).coalesce(1), root, stats_cols=["i"])
    S.append(
        _df(spark, 100, 103).coalesce(1).withColumn("extra", F.lit(9)),
        root,
        stats_cols=["i"],
        evolve=True,
    )
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 0, 4)
    assert planned < total
    rows = df.orderBy("i").collect()
    assert [r["i"] for r in rows] == [0, 1, 2, 3, 4]
    assert all(r["extra"] is None for r in rows)
    assert dict(df.dtypes)["extra"] == "int"


def test_rollback_restores_pre_evolution_schema(spark, root):
    v1 = S.append(_df(spark, 0, 3), root)
    S.append(_df(spark, 3, 5).withColumn("extra", F.lit(1)), root, evolve=True)
    v3 = S.rollback(spark, root, v1)
    assert S.read_snapshot(spark, root, v3).columns == _df(spark, 0, 1).columns


def test_txn_token_recorded_and_looked_up(spark, root):
    v1 = S.append(_df(spark, 0, 2), root, txn="batch-0")
    v2 = S.append(_df(spark, 2, 4), root, txn="batch-1")
    S.append(_df(spark, 4, 5), root)  # token-less commit in between
    assert S.txn_version(spark, root, "batch-0") == v1
    assert S.txn_version(spark, root, "batch-1") == v2
    assert S.txn_version(spark, root, "batch-9") is None


def test_append_refuses_duplicate_txn(spark, root):
    S.append(_df(spark, 0, 2), root, txn="batch-0")
    with pytest.raises(ValueError, match="already committed"):
        S.append(_df(spark, 0, 2), root, txn="batch-0")
    assert S.latest_version(spark, root) == 1  # nothing was committed


def test_snapshot_append_sink_replay_is_noop(spark, root):
    """The st22 sink: a replayed micro-batch (same batch_id after a
    sink crash) must not commit a second version or duplicate rows."""
    from nagios_custom_etl_spark.streaming.ops import snapshot_append_sink

    sink = snapshot_append_sink(root)
    sink(_df(spark, 0, 3), 0)
    sink(_df(spark, 3, 5), 1)
    assert S.latest_version(spark, root) == 2
    sink(_df(spark, 0, 3), 0)  # replay of batch 0
    assert S.latest_version(spark, root) == 2
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(5)]
    # empty trailing trigger commits nothing
    sink(_df(spark, 0, 0), 2)
    assert S.latest_version(spark, root) == 2


def test_overwrite_txn_and_agg_merge_sink_replay(spark, root):
    """The st23 silver maintainer: additive merges land as overwrite
    commits with txn tokens; a replayed batch must not re-merge."""
    from pyspark.sql import functions as F

    from nagios_custom_etl_spark.streaming.ops import snapshot_agg_merge_sink

    def batch(rows):
        return spark.createDataFrame(rows, "source string, n_chars long")

    sink = snapshot_agg_merge_sink(root)
    sink(batch([("a", 10), ("a", 5), ("b", 1)]), 0)
    sink(batch([("b", 2), ("c", 7)]), 1)
    want = [("a", 2, 15), ("b", 2, 3), ("c", 1, 7)]
    got = sorted(tuple(r) for r in S.read_snapshot(spark, root).collect())
    assert got == want
    assert S.latest_version(spark, root) == 2
    sink(batch([("a", 999)]), 0)  # replay: token committed, no-op
    assert S.latest_version(spark, root) == 2
    assert sorted(tuple(r) for r in S.read_snapshot(spark, root).collect()) == want
    # direct overwrite with a duplicate token is refused loudly
    with pytest.raises(ValueError, match="already committed"):
        S.overwrite(
            batch([("z", 1)]).groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
            ),
            root,
            txn="silver-batch-0",
        )


# --- gc retention guard / atomic manifest rename (r8 ADVICE) -----------------


def test_gc_orphans_retention_spares_young_files(spark, root):
    """An in-flight writer's just-written files (pre-commit) must survive
    a concurrent GC: default retention spares anything younger than the
    threshold, and the file is committable afterwards."""
    S.overwrite(_df(spark, 0, 3), root)
    orphan_files, _ = S._write_data_files(_df(spark, 9, 12), root)
    assert S.gc_orphans(spark, root) == []  # default retention: too young
    for f in orphan_files:
        assert fsio.exists(spark, f"{root}/{f}")
    # the "in-flight writer" now commits those very files: no dangling refs
    v = S._commit(spark, root, orphan_files, "append", S.latest_version(spark, root))
    assert sorted(r.i for r in S.read_snapshot(spark, root, v).collect()) == [9, 10, 11]
    # aged-out orphans still die under an explicit zero retention
    more, _ = S._write_data_files(_df(spark, 20, 22), root)
    assert set(S.gc_orphans(spark, root, min_age_sec=0.0)) == set(more)


def test_manifest_commit_is_rename_atomic(spark, root):
    """create_text_atomic lands content via tmp-write + no-overwrite
    rename: the final path never exists without complete content, the
    race loser errors, and no _tmp_ residue survives a successful commit."""
    path = f"{root}/_snapshots/v00000001.json"
    fsio.mkdirs(spark, f"{root}/_snapshots")
    fsio.create_text_atomic(spark, path, '{"version": 1}')
    assert json.loads(fsio.read_text(spark, path)) == {"version": 1}
    with pytest.raises(FileExistsError):
        fsio.create_text_atomic(spark, path, '{"version": "loser"}')
    assert json.loads(fsio.read_text(spark, path)) == {"version": 1}  # winner intact
    assert [
        f for f in fsio.list_names(spark, f"{root}/_snapshots") if f.startswith("_tmp_")
    ] == []


def test_crashed_tmp_manifest_is_invisible_and_gc_swept(spark, root):
    """A writer that died between tmp-write and rename leaves a _tmp_
    file: readers ignore it (not a version) and gc_orphans sweeps it once
    aged out."""
    S.overwrite(_df(spark, 0, 2), root)
    fsio.write_text(spark, f"{root}/_snapshots/_tmp_deadbeef", '{"torn": ')
    assert S._manifest_versions(spark, root) == [1]
    assert _rows(S.read_snapshot(spark, root)) == [(0, "r0"), (1, "r1")]
    assert S.gc_orphans(spark, root) == []  # young tmp: retained
    deleted = S.gc_orphans(spark, root, min_age_sec=0.0)
    assert deleted == ["_snapshots/_tmp_deadbeef"]
    assert not fsio.exists(spark, f"{root}/_snapshots/_tmp_deadbeef")


def test_incremental_read_reconciles_evolved_schema(spark, root):
    """r8 ADVICE: a range spanning an evolve=True append must surface the
    evolved column from ALL delta files — typed-null backfill for files
    that predate it, exactly like read_snapshot."""
    v1 = S.append(_df(spark, 0, 3).coalesce(1), root)
    S.append(_df(spark, 3, 5).coalesce(1), root)  # pre-evolution delta file
    S.append(
        _df(spark, 5, 7).coalesce(1).withColumn("extra", F.lit(9)), root, evolve=True
    )
    inc = S.read_incremental(spark, root, since_version=v1)
    rows = inc.orderBy("i").collect()
    assert [r["i"] for r in rows] == [3, 4, 5, 6]
    assert [r["extra"] for r in rows] == [None, None, 9, 9]
    assert dict(inc.dtypes)["extra"] == "int"


# --- file-pruned copy-on-write MERGE (x88) -----------------------------------


def _keyed(spark, lo, hi, tag="base"):
    return spark.createDataFrame(
        [Row(k=i, v=f"{tag}{i}") for i in range(lo, hi)], "k int, v string"
    )


def test_merge_commit_prunes_untouched_files(spark, root):
    # three single-file appends with disjoint key ranges + stats
    S.append(_keyed(spark, 0, 10).coalesce(1), root, stats_cols=["k"])
    S.append(_keyed(spark, 10, 20).coalesce(1), root, stats_cols=["k"])
    v3 = S.append(_keyed(spark, 20, 30).coalesce(1), root, stats_cols=["k"])
    m3 = S._read_manifest(spark, root, v3)
    assert len(m3["files"]) == 3
    by_range = {tuple(m3["stats"][f]["k"]): f for f in m3["files"]}
    touched_file = by_range[(10, 19)]
    untouched = sorted(set(m3["files"]) - {touched_file})
    # merge a batch whose keys live entirely in the middle file
    src = spark.createDataFrame([Row(k=12, v="UPD"), Row(k=17, v="UPD")], "k int, v string")
    v4 = S.merge_commit(
        root,
        src,
        keys=["k"],
        when_matched_update={"k": F.col("t.k"), "v": F.col("s.v")},
        prune_on="k",
    )
    m4 = S._read_manifest(spark, root, v4)
    # untouched file REFERENCES survive byte-identical (same relative
    # paths — no rewrite), and their stats are carried forward unchanged
    assert set(untouched) <= set(m4["files"])
    assert touched_file not in m4["files"]
    for f in untouched:
        assert m4["stats"][f] == m3["stats"][f]
    got = {r.k: r.v for r in S.read_snapshot(spark, root, v4).collect()}
    assert len(got) == 30
    assert got[12] == "UPD" and got[17] == "UPD"
    assert got[5] == "base5" and got[25] == "base25" and got[11] == "base11"
    # new files carry stats on the prune key so the NEXT merge prunes too
    new_files = set(m4["files"]) - set(untouched)
    for f in new_files:
        assert "k" in m4["stats"][f]


def test_merge_commit_pure_insert_batch_carries_every_file(spark, root):
    S.append(_keyed(spark, 0, 10).coalesce(1), root, stats_cols=["k"])
    v2 = S.append(_keyed(spark, 10, 20).coalesce(1), root, stats_cols=["k"])
    m2 = S._read_manifest(spark, root, v2)
    src = _keyed(spark, 100, 103, tag="new")
    v3 = S.merge_commit(root, src, keys=["k"], prune_on="k")
    m3 = S._read_manifest(spark, root, v3)
    assert set(m2["files"]) <= set(m3["files"])  # nothing rewritten
    got = {r.k: r.v for r in S.read_snapshot(spark, root, v3).collect()}
    assert len(got) == 23 and got[100] == "new100" and got[5] == "base5"


def test_merge_commit_without_stats_rewrites_conservatively(spark, root):
    S.append(_keyed(spark, 0, 10).coalesce(1), root)  # no stats recorded
    src = spark.createDataFrame([Row(k=3, v="UPD")], "k int, v string")
    v = S.merge_commit(
        root,
        src,
        keys=["k"],
        when_matched_update={"k": F.col("t.k"), "v": F.col("s.v")},
        prune_on="k",
    )
    got = {r.k: r.v for r in S.read_snapshot(spark, root, v).collect()}
    assert got[3] == "UPD" and len(got) == 10


def test_merge_commit_null_key_source_inserts_without_rewrite(spark, root):
    S.append(_keyed(spark, 0, 5).coalesce(1), root, stats_cols=["k"])
    v1_files = S._read_manifest(spark, root, 1)["files"]
    src = spark.createDataFrame([Row(k=None, v="nullrow")], "k int, v string")
    v = S.merge_commit(root, src, keys=["k"], prune_on="k")
    m = S._read_manifest(spark, root, v)
    assert set(v1_files) <= set(m["files"])  # all-NULL source: no file touched
    rows = S.read_snapshot(spark, root, v).collect()
    assert len(rows) == 6 and any(r.k is None and r.v == "nullrow" for r in rows)


def test_merge_commit_prune_on_must_be_a_key(spark, root):
    with pytest.raises(ValueError, match="prune_on"):
        S.merge_commit(root, _keyed(spark, 0, 2), keys=["k"], prune_on="v")


def test_merge_commit_refuses_ambiguous_duplicate_key_source(spark, root):
    # Delta's "multiple source rows matched" refusal: two source rows
    # with the same non-NULL key would match one target row twice — the
    # join duplicates the target and the change feed records two
    # preimages for a row that existed once (double-remove on replay).
    # Refused BEFORE any data file is written: the table stays at v1.
    S.append(_keyed(spark, 0, 5).coalesce(1), root, stats_cols=["k"])
    dup = spark.createDataFrame(
        [Row(k=2, v="a"), Row(k=2, v="b")], "k int, v string"
    )
    with pytest.raises(ValueError, match="ambiguous MERGE"):
        S.merge_commit(root, dup, keys=["k"], prune_on="k")
    assert S.latest_version(spark, root) == 1
    # duplicate NULL-key rows never match (SQL MERGE): both insert
    nulls = spark.createDataFrame(
        [Row(k=None, v="n1"), Row(k=None, v="n2")], "k int, v string"
    )
    v = S.merge_commit(root, nulls, keys=["k"], prune_on="k")
    assert S.read_snapshot(spark, root, v).count() == 7


# --- timestamp time travel (x90) ---------------------------------------------


def test_read_snapshot_as_of_ts_and_boundaries(spark, root):
    v1 = S.overwrite(_df(spark, 0, 2), root)
    v2 = S.overwrite(_df(spark, 10, 12), root)
    ca1 = S._read_manifest(spark, root, v1)["committed_at"]
    ca2 = S._read_manifest(spark, root, v2)["committed_at"]
    assert ca1 < ca2
    # exact commit timestamp resolves to THAT version (<=, not <)
    assert S.version_as_of(spark, root, ca1) == v1
    assert S.version_as_of(spark, root, ca2) == v2
    assert _rows(S.read_snapshot(spark, root, as_of_ts=(ca1 + ca2) / 2)) == [
        (0, "r0"),
        (1, "r1"),
    ]
    assert _rows(S.read_snapshot(spark, root, as_of_ts=ca2 + 1)) == [(10, "r10"), (11, "r11")]
    # pre-v1 timestamps are refused, never silently rounded up
    with pytest.raises(ValueError, match="predates the table|vacuumed"):
        S.read_snapshot(spark, root, as_of_ts=ca1 - 1)
    with pytest.raises(ValueError, match="not both"):
        S.read_snapshot(spark, root, version=v1, as_of_ts=ca1)


def test_version_as_of_refuses_vacuumed_window(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.overwrite(_df(spark, 2, 4), root)
    ca1 = S._read_manifest(spark, root, 1)["committed_at"]
    S.vacuum(spark, root, keep_last=1)  # v1's manifest is gone
    with pytest.raises(ValueError, match="vacuumed|predates"):
        S.version_as_of(spark, root, ca1)  # that state is unreconstructible


def test_read_incremental_ts_bounds(spark, root):
    v1 = S.append(_df(spark, 0, 3), root)
    S.append(_df(spark, 3, 5), root)
    v3 = S.append(_df(spark, 5, 8), root)
    ca1 = S._read_manifest(spark, root, v1)["committed_at"]
    ca2 = S._read_manifest(spark, root, 2)["committed_at"]
    ca3 = S._read_manifest(spark, root, v3)["committed_at"]
    assert _rows(S.read_incremental(spark, root, since_ts=ca1)) == [
        (i, f"r{i}") for i in range(3, 8)
    ]
    assert _rows(S.read_incremental(spark, root, since_ts=ca1, to_ts=ca2)) == [
        (i, f"r{i}") for i in range(3, 5)
    ]
    assert _rows(S.read_incremental(spark, root, since_version=v1, to_ts=ca3)) == [
        (i, f"r{i}") for i in range(3, 8)
    ]
    with pytest.raises(ValueError, match="not both"):
        S.read_incremental(spark, root, since_version=v1, since_ts=ca1)
    with pytest.raises(ValueError, match="required"):
        S.read_incremental(spark, root)


# --- transactional compaction (x91) ------------------------------------------


def test_compact_rewrites_slivers_same_rows(spark, root):
    for lo in range(0, 12, 3):  # four single-file sliver appends
        S.append(_df(spark, lo, lo + 3).coalesce(1), root, stats_cols=["i"])
    v4 = S.latest_version(spark, root)
    m4 = S._read_manifest(spark, root, v4)
    assert len(m4["files"]) == 4
    v5 = S.compact(spark, root)
    m5 = S._read_manifest(spark, root, v5)
    assert m5["op"] == "replace" and len(m5["files"]) == 1
    # identical rows, identical schema, stats recomputed on tracked cols
    assert _rows(S.read_snapshot(spark, root, v5)) == [(i, f"r{i}") for i in range(12)]
    assert m5["schema"] == m4["schema"]
    (f,) = m5["files"]
    assert m5["stats"][f]["i"] == [0, 11]
    # pre-compact versions stay readable (layout-only change)
    assert _rows(S.read_snapshot(spark, root, v4)) == [(i, f"r{i}") for i in range(12)]
    # idempotent: nothing left to compact -> no churn commit
    assert S.compact(spark, root) is None
    assert S.latest_version(spark, root) == v5


def test_vacuum_after_compact_reclaims_slivers(spark, root):
    for lo in range(0, 9, 3):
        S.append(_df(spark, lo, lo + 3).coalesce(1), root)
    sliver_files = S._read_manifest(spark, root, 3)["files"]
    v = S.compact(spark, root)
    deleted = S.vacuum(spark, root, keep_last=1)
    assert set(deleted) == set(sliver_files)  # all slivers unreachable now
    assert _rows(S.read_snapshot(spark, root, v)) == [(i, f"r{i}") for i in range(9)]


def test_incremental_read_refuses_range_across_compaction(spark, root):
    v1 = S.append(_df(spark, 0, 3).coalesce(1), root)
    S.append(_df(spark, 3, 6).coalesce(1), root)
    S.append(_df(spark, 6, 9).coalesce(1), root)
    assert S.compact(spark, root) is not None
    with pytest.raises(ValueError, match="replace"):
        S.read_incremental(spark, root, since_version=v1)


def test_incremental_read_skip_compactions_steps_over_marker(spark, root):
    """Delta's skipChangeCommits: with skip_compactions=True a range
    crossing a data_change:false replace delivers exactly the appended
    rows — appends BEFORE the compaction from their original files
    (still on disk), appends after from their own — and a replace
    WITHOUT the marker still refuses."""
    v1 = S.append(_df(spark, 0, 3).coalesce(1), root)
    S.append(_df(spark, 3, 6).coalesce(1), root)  # v2: pre-compaction delta
    S.append(_df(spark, 6, 9).coalesce(1), root)  # v3: pre-compaction delta
    assert S.compact(spark, root) is not None  # v4: data_change false
    S.append(_df(spark, 9, 12).coalesce(1), root)  # v5: post-compaction delta
    got = _rows(
        S.read_incremental(spark, root, since_version=v1, skip_compactions=True)
    )
    assert got == [(i, f"r{i}") for i in range(3, 12)]
    # an unmarked replace is NOT provably row-preserving: still refused
    m = S._read_manifest(spark, root, 4)
    del m["data_change"]
    fsio.write_text(spark, S._manifest_path(root, 4), __import__("json").dumps(m))
    with pytest.raises(ValueError, match="replace"):
        S.read_incremental(spark, root, since_version=v1, skip_compactions=True)


def test_snapshot_append_sink_auto_compacts_bounded_files(spark, root):
    """The auto-compacting streaming append sink (Delta auto-optimize):
    after N one-file batches the LIVE file count stays bounded by the
    threshold while every row remains readable and the compaction
    versions carry the data_change:false marker."""
    from nagios_custom_etl_spark.streaming.ops import snapshot_append_sink

    sink = snapshot_append_sink(root, auto_compact_files=4, compact_target_files=2)
    for b in range(12):
        sink(_df(spark, b * 5, b * 5 + 5).coalesce(1), b)
    live = S._read_manifest(spark, root, S.latest_version(spark, root))["files"]
    assert len(live) <= 5  # threshold 4 + the append that tripped it
    ops = [
        S._read_manifest(spark, root, v)["op"]
        for v in S._manifest_versions(spark, root)
    ]
    assert "replace" in ops  # compaction actually ran
    for v in S._manifest_versions(spark, root):
        m = S._read_manifest(spark, root, v)
        if m["op"] == "replace":
            assert m["data_change"] is False
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(60)]
    # replayed batch: still a no-op through the txn token
    before = S.latest_version(spark, root)
    sink(_df(spark, 0, 5), 0)
    assert S.latest_version(spark, root) == before


def test_snapshot_tail_skip_compactions_delivers_exact_rows(spark, root):
    """Tailing an auto-compacted bronze: skip_compactions=true steps
    over the marked replace versions and still delivers every appended
    row exactly once; without the option the stream fails loudly."""
    import os
    import tempfile

    from nagios_custom_etl_spark.sources.snapshot_tail import SnapshotTailSource

    spark.dataSource.register(SnapshotTailSource)
    S.append(_df(spark, 0, 3).coalesce(1), root)
    S.append(_df(spark, 3, 6).coalesce(1), root)
    S.append(_df(spark, 6, 9).coalesce(1), root)
    assert S.compact(spark, root) is not None
    S.append(_df(spark, 9, 12).coalesce(1), root)

    def drain(skip: str, name: str):
        q = (
            spark.readStream.format("snapshot_tail")
            .option("root", root)
            .option("schema_ddl", "i int, s string")
            .option("skip_compactions", skip)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option(
                "checkpointLocation",
                os.path.join(tempfile.mkdtemp(), "ckpt"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    drain("true", "tail_skip_ok")
    got = sorted(
        (r.i, r.s) for r in spark.sql("SELECT i, s FROM tail_skip_ok").collect()
    )
    assert got == [(i, f"r{i}") for i in range(12)]
    with pytest.raises(Exception, match="not append"):
        q = drain("false", "tail_skip_no")
        q.awaitTermination()


def test_agg_merge_sink_auto_vacuum_bounds_history(spark, root):
    """auto_vacuum_keep bounds the silver table's retained versions (and
    therefore disk) while the merged content stays exact."""
    from nagios_custom_etl_spark.streaming.ops import snapshot_agg_merge_sink

    sink = snapshot_agg_merge_sink(
        root,
        dims=["k"],
        measures={"n": ("count", None, "long"), "tot": ("sum", "i", "long")},
        auto_vacuum_keep=2,
    )
    for b in range(6):
        df = spark.createDataFrame(
            [Row(k="ab"[i % 2], i=b * 10 + i) for i in range(4)], "k string, i int"
        )
        sink(df, b)
    assert len(S._manifest_versions(spark, root)) <= 2
    got = {(r.k, r.n, r.tot) for r in S.read_snapshot(spark, root).collect()}
    rows = [(b * 10 + i, "ab"[i % 2]) for b in range(6) for i in range(4)]
    exp = {
        (k, sum(1 for i, kk in rows if kk == k), sum(i for i, kk in rows if kk == k))
        for k in "ab"
    }
    assert got == exp


# --- partition-valued tables (x92) -------------------------------------------


def _part_df(spark, rows):
    return spark.createDataFrame(rows, "i int, cat string")


def test_partitioned_roundtrip_and_spec_in_manifest(spark, root):
    df = _part_df(spark, [Row(i=i, cat="ab"[i % 2]) for i in range(10)])
    v = S.overwrite(df.repartition(1), root, partition_by="cat")
    m = S._read_manifest(spark, root, v)
    assert m["partition_spec"] == ["cat"]
    assert all("cat=" in f for f in m["files"])
    got = sorted((r.i, r.cat) for r in S.read_snapshot(spark, root).collect())
    assert got == sorted((i, "ab"[i % 2]) for i in range(10))
    # appends must match the declared spec
    with pytest.raises(S.SchemaMismatchError, match="partition spec"):
        S.append(df, root)
    S.append(
        _part_df(spark, [Row(i=100, cat="c")]).repartition(1), root, partition_by="cat"
    )
    got = sorted((r.i, r.cat) for r in S.read_snapshot(spark, root).collect())
    assert (100, "c") in got and len(got) == 11


def test_partition_pruned_read_drops_whole_partitions(spark, root):
    df = _part_df(spark, [Row(i=i, cat=c) for i in range(6) for c in ("a", "b", "c")])
    S.overwrite(df.repartition(1), root, partition_by="cat")
    sub, planned, total = S.read_snapshot_pruned(spark, root, "cat", "b", "b")
    assert total == 3 and planned == 1  # no stats consulted: path values
    rows = sub.collect()
    assert {r.cat for r in rows} == {"b"} and len(rows) == 6
    # unpartitioned column without stats: conservative full plan
    _, planned_i, total_i = S.read_snapshot_pruned(spark, root, "i", 0, 1)
    assert planned_i == total_i


@pytest.mark.parametrize("part_stats", [False, True])
def test_pruned_read_plans_the_single_predicate_rule(
    spark, root, monkeypatch, part_stats
):
    """read_snapshot_pruned is the one-predicate call of
    read_snapshot_pruned_multi (stats check AND partition-path check).
    On a valid partitioned table it plans exactly the files the former
    single-predicate rule planned (stats decide when present, the path
    value only when they are absent) — with and without stats on the
    partition column."""
    df = spark.createDataFrame(
        [Row(i=i, p=i % 4) for i in range(40)], "i int, p int"
    )
    S.overwrite(df.repartition(2), root, partition_by="p", stats_cols=["i"])
    v = S.append(
        spark.createDataFrame([Row(i=100, p=5)], "i int, p int"),
        root, partition_by="p", stats_cols=["i"],
    )
    m = S._read_manifest(spark, root, v)
    assert all("p=" in f for f in m["files"])
    if part_stats:
        # the writer records no stats for a partition column (its values
        # live in the path, not the file); record them as a valid table
        # would hold them — every row of a file has its path's value
        for f in m["files"]:
            pv = int(next(x for x in f.split("/") if x.startswith("p="))[2:])
            m["stats"][f]["p"] = [pv, pv]
        v = S._commit(
            spark, root, m["files"], "record-ndv", v, stats=m["stats"],
            schema=m["schema"], partition_spec=m["partition_spec"],
        )
        m = S._read_manifest(spark, root, v)
    planned: list = []
    real = S._live_view

    def live_view(sp, r, m, files, **kw):
        planned.append(sorted(files))
        return real(sp, r, m, files, **kw)

    monkeypatch.setattr(S, "_live_view", live_view)

    def former_rule(col, lo, hi):
        def keep(f):
            s = m["stats"].get(f, {}).get(col)
            if s and s[0] is not None and s[1] is not None:
                return not (s[1] < lo or s[0] > hi)
            seg = next((x for x in f.split("/")[1:-1] if x.startswith(f"{col}=")), None)
            return seg is None or lo <= int(seg[len(col) + 1 :]) <= hi

        return sorted(f for f in m["files"] if keep(f))

    ranges = [("p", 1, 2), ("p", 5, 9), ("p", 7, 9), ("i", 0, 3), ("i", 90, 200)]
    for col, lo, hi in ranges:
        planned.clear()
        _, n, total = S.read_snapshot_pruned(spark, root, col, lo, hi, version=v)
        want = former_rule(col, lo, hi)
        assert total == len(m["files"])
        # an empty plan reads the whole version with limit(0)
        assert (planned[0] if n else []) == want, (col, lo, hi)


def test_partitioned_merge_commit_keeps_layout(spark, root):
    df = _part_df(spark, [Row(i=i, cat="ab"[i % 2]) for i in range(8)])
    S.overwrite(df.repartition(1), root, partition_by="cat", stats_cols=["i"])
    src = _part_df(spark, [Row(i=1, cat="UPD")])
    v = S.merge_commit(
        root,
        src,
        keys=["i"],
        when_matched_update={"i": F.col("t.i"), "cat": F.col("s.cat")},
    )
    m = S._read_manifest(spark, root, v)
    assert m["partition_spec"] == ["cat"]  # layout survives the merge
    assert all("cat=" in f for f in m["files"])
    got = {r.i: r.cat for r in S.read_snapshot(spark, root, v).collect()}
    assert got[1] == "UPD" and got[0] == "a" and len(got) == 8


def test_unpartitioned_tables_unaffected_by_partition_plumbing(spark, root):
    v = S.append(_df(spark, 0, 4), root)
    assert "partition_spec" not in S._read_manifest(spark, root, v)
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(4)]


# --- generalized snapshot_agg_merge_sink (r8 task 4) -------------------------


def test_agg_merge_sink_custom_dims_and_measures(spark, root):
    """Second instantiation over different dims + a decimal sum carrier:
    the sink is a reusable operator, not a demo of one schema."""
    from nagios_custom_etl_spark.streaming.ops import snapshot_agg_merge_sink

    def batch(rows):
        return spark.createDataFrame(rows, "region string, tier string, amount double")

    sink = snapshot_agg_merge_sink(
        root,
        dims=["region", "tier"],
        measures={
            "n_rows": ("count", None, "long"),
            "total_amount": ("sum", "amount", "decimal(18,6)"),
        },
        txn_prefix="gold-batch",
    )
    sink(batch([("eu", "a", 1.5), ("eu", "a", 2.0), ("us", "b", 3.0)]), 0)
    sink(batch([("eu", "a", 0.5), ("ap", None, 9.0)]), 1)  # NULL dim value groups
    got = sorted(
        (r.region, r.tier, r.n_rows, float(r.total_amount))
        for r in S.read_snapshot(spark, root).collect()
    )
    assert got == [
        ("ap", None, 1, 9.0),
        ("eu", "a", 3, 4.0),
        ("us", "b", 1, 3.0),
    ]
    sink(batch([("eu", "a", 999.0)]), 0)  # replay: txn token, no-op
    assert S.latest_version(spark, root) == 2


def test_agg_merge_sink_min_max_kinds_order_invariant(spark, root):
    """min/max measures re-aggregate from partials on an insert-only
    feed; delivering the same rows in a different batching must land the
    identical silver content (the property st24's HLL registers, a
    'max' measure, rest on). Unknown kinds still refuse."""
    import pytest

    from nagios_custom_etl_spark.streaming.ops import snapshot_agg_merge_sink

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v int")

    def run(dst, batches):
        sink = snapshot_agg_merge_sink(
            dst,
            dims=["k"],
            measures={"lo": ("min", "v", "int"), "hi": ("max", "v", "int")},
            txn_prefix="mm",
        )
        for i, rows in enumerate(batches):
            sink(batch(rows), i)
        return sorted((r.k, r.lo, r.hi) for r in S.read_snapshot(spark, dst).collect())

    rows = [("a", 5), ("a", 1), ("b", 7), ("a", 9), ("b", 2), ("b", 7)]
    one = run(f"{root}/one", [rows])
    split = run(f"{root}/split", [rows[:2], rows[2:4], rows[4:]])
    assert one == split == [("a", 1, 9), ("b", 2, 7)]
    with pytest.raises(ValueError, match="does not re-aggregate"):
        snapshot_agg_merge_sink(root, dims=["k"], measures={"d": ("distinct", "v", "long")})


# ---------------------------------------------------------------------------
# merge-on-read (x93): equality deletes, sequence ordering, compaction as
# delete materializer, reachability through vacuum/GC
# ---------------------------------------------------------------------------


def test_mor_delete_is_metadata_only_and_read_applies_it(spark, root):
    S.append(_df(spark, 0, 4).coalesce(1), root)  # v1, seq 0 files
    before = S._read_manifest(spark, root, 1)["files"]
    v2 = S.mor_delete(spark.createDataFrame([Row(i=1), Row(i=3)], "i int"), root, keys=["i"])
    m = S._read_manifest(spark, root, v2)
    assert m["files"] == before  # zero data files rewritten or dropped
    assert len(m["deletes"]) == 1 and m["deletes"][0]["seq"] == v2
    assert _rows(S.read_snapshot(spark, root)) == [(0, "r0"), (2, "r2")]
    # the pre-delete version is untouched (time travel through MoR)
    assert _rows(S.read_snapshot(spark, root, 1)) == [(i, f"r{i}") for i in range(4)]


def test_mor_delete_of_no_keys_is_a_noop(spark, root):
    """An empty deletes frame writes no key rows (one empty part file, or
    none at all under AQE empty-relation propagation): nothing is
    committed, since a delete entry with no files would break every
    later read of the table."""
    S.append(_df(spark, 0, 4).coalesce(1), root)  # v1
    assert S.mor_delete(spark.createDataFrame([], "i int"), root, keys=["i"]) == 1
    assert S.latest_version(spark, root) == 1
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(4)]


def test_mor_upsert_delete_before_insert_ordering(spark, root):
    S.append(_df(spark, 0, 4).coalesce(1), root)  # v1
    up = spark.createDataFrame([Row(i=2, s="NEW2"), Row(i=9, s="r9")], "i int, s string")
    S.mor_upsert(up, root, keys=["i"])  # v2: delete(2,9)@2 + insert files@2
    assert _rows(S.read_snapshot(spark, root)) == [
        (0, "r0"), (1, "r1"), (2, "NEW2"), (3, "r3"), (9, "r9"),
    ]
    # a later delete erases the upserted key; a later upsert resurrects it
    S.mor_delete(spark.createDataFrame([Row(i=2)], "i int"), root, keys=["i"])
    assert (2, "NEW2") not in _rows(S.read_snapshot(spark, root))
    S.mor_upsert(spark.createDataFrame([Row(i=2, s="BACK")], "i int, s string"), root, keys=["i"])
    assert (2, "BACK") in _rows(S.read_snapshot(spark, root))


def test_mor_key_contract_enforced(spark, root):
    S.append(_df(spark, 0, 2).coalesce(1), root)
    S.mor_delete(spark.createDataFrame([Row(i=0)], "i int"), root, keys=["i"])
    with pytest.raises(ValueError, match="MoR key mismatch"):
        S.mor_delete(spark.createDataFrame([Row(s="r1")], "s string"), root, keys=["s"])
    with pytest.raises(ValueError, match="not table columns"):
        S.mor_upsert(_df(spark, 5, 6), root, keys=["nope"])


def test_append_carries_pending_deletes_and_new_files_escape_them(spark, root):
    S.append(_df(spark, 0, 3).coalesce(1), root)  # v1
    S.mor_delete(spark.createDataFrame([Row(i=1)], "i int"), root, keys=["i"])  # v2
    # a later plain append may re-add the deleted key: its files carry a
    # HIGHER seq than the delete, so the delete must not eat the new row
    v3 = S.append(_df(spark, 1, 2).coalesce(1), root)
    m = S._read_manifest(spark, root, v3)
    assert m["deletes"], "append must carry the pending delete list"
    assert _rows(S.read_snapshot(spark, root)) == [(0, "r0"), (1, "r1"), (2, "r2")]


def test_compact_materializes_deletes_and_clears_them(spark, root):
    S.append(_df(spark, 0, 4).coalesce(1), root)
    S.append(_df(spark, 4, 8).coalesce(1), root)
    S.mor_delete(spark.createDataFrame([Row(i=k) for k in (0, 5)], "i int"), root, keys=["i"])
    v = S.compact(spark, root)
    m = S._read_manifest(spark, root, v)
    assert m["op"] == "replace" and "deletes" not in m and "seqs" not in m
    expect = [(i, f"r{i}") for i in range(8) if i not in (0, 5)]
    assert _rows(S.read_snapshot(spark, root)) == expect
    # pre-compact MoR versions still time-travel correctly
    assert _rows(S.read_snapshot(spark, root, 3)) == expect


def test_compact_runs_on_pending_deletes_even_below_min_files(spark, root):
    S.append(_df(spark, 0, 3).coalesce(1), root)  # a single file
    assert S.compact(spark, root) is None  # nothing to do on a plain table
    S.mor_delete(spark.createDataFrame([Row(i=0)], "i int"), root, keys=["i"])
    v = S.compact(spark, root)  # pending deletes alone justify the rewrite
    assert v is not None
    assert "deletes" not in S._read_manifest(spark, root, v)


def test_vacuum_and_gc_keep_delete_files_reachable(spark, root):
    S.append(_df(spark, 0, 4).coalesce(1), root)  # v1
    v2 = S.mor_delete(spark.createDataFrame([Row(i=1)], "i int"), root, keys=["i"])
    S.append(_df(spark, 4, 5).coalesce(1), root)  # v3
    m2 = S._read_manifest(spark, root, v2)
    dfiles = m2["deletes"][0]["files"]
    # v2/v3 both retained: the delete-key files must survive vacuum + GC
    deleted = S.vacuum(spark, root, keep_last=2)
    assert not set(dfiles) & set(deleted)
    assert not set(dfiles) & set(S.gc_orphans(spark, root, min_age_sec=0.0))
    assert _rows(S.read_snapshot(spark, root)) == [
        (0, "r0"), (2, "r2"), (3, "r3"), (4, "r4"),
    ]
    # drop every MoR version (compact then retain only the replace):
    # the delete-key files become unreachable and vacuum reclaims them
    S.compact(spark, root)
    reclaimed = S.vacuum(spark, root, keep_last=1)
    assert set(dfiles) <= set(reclaimed)


def test_merge_commit_on_mor_table_respects_pending_deletes(spark, root):
    # two files with disjoint key ranges + stats so the merge prunes
    S.append(_df(spark, 0, 5).coalesce(1), root, stats_cols=["i"])
    S.append(_df(spark, 10, 15).coalesce(1), root, stats_cols=["i"])
    S.mor_delete(spark.createDataFrame([Row(i=k) for k in (0, 12)], "i int"), root, keys=["i"])
    src = spark.createDataFrame([Row(i=1, s="UPD")], "i int, s string")
    # merge_upsert's matched default keeps the TARGET row; an upsert
    # that overwrites must say so (same as every other call site)
    v = S.merge_commit(
        root,
        src,
        keys=["i"],
        prune_on="i",
        when_matched_update={"s": F.col("s.s")},
    )
    m = S._read_manifest(spark, root, v)
    # the [10,15) file was untouched, so the delete on 12 must survive
    assert m["deletes"], "carried deletes missing"
    got = _rows(S.read_snapshot(spark, root, v))
    assert (0, "r0") not in got  # materialized away in the rewritten file
    assert (12, "r12") not in got  # still masked by the carried delete
    assert (1, "UPD") in got and (11, "r11") in got


def test_mor_rollback_carries_delete_state(spark, root):
    S.append(_df(spark, 0, 3).coalesce(1), root)  # v1
    v2 = S.mor_delete(spark.createDataFrame([Row(i=1)], "i int"), root, keys=["i"])
    S.compact(spark, root)  # v3: deletes folded in
    v4 = S.rollback(spark, root, v2)  # back to the MoR view
    m = S._read_manifest(spark, root, v4)
    assert m["deletes"] == S._read_manifest(spark, root, v2)["deletes"]
    assert _rows(S.read_snapshot(spark, root)) == [(0, "r0"), (2, "r2")]


def test_incremental_read_refuses_mor_commits(spark, root):
    S.append(_df(spark, 0, 2).coalesce(1), root)
    S.mor_upsert(spark.createDataFrame([Row(i=5, s="r5")], "i int, s string"), root, keys=["i"])
    with pytest.raises(ValueError, match="not append"):
        S.read_incremental(spark, root, since_version=1)


def test_pruned_read_applies_deletes(spark, root):
    S.append(_df(spark, 0, 5).coalesce(1), root, stats_cols=["i"])
    S.append(_df(spark, 10, 15).coalesce(1), root, stats_cols=["i"])
    S.mor_delete(spark.createDataFrame([Row(i=3)], "i int"), root, keys=["i"])
    df, planned, total = S.read_snapshot_pruned(spark, root, "i", 0, 5)
    assert (planned, total) == (1, 2)
    assert _rows(df) == [(i, f"r{i}") for i in range(5) if i != 3]


# ---------------------------------------------------------------------------
# Z-order clustered compaction (x94)
# ---------------------------------------------------------------------------


def test_zorder_compact_content_invariant_and_prunes_both_columns(spark, root):
    import random

    rnd = random.Random(7)
    rows = [Row(a=rnd.randrange(1000), b=rnd.randrange(1000), k=k) for k in range(400)]
    df = spark.createDataFrame(rows, "a int, b int, k int")
    for m8 in range(4):  # 4 files each spanning the full (a, b) space
        S.append(df.filter(F.col("k") % 4 == m8).coalesce(1), root, stats_cols=["a", "b"])
    before = sorted((r.a, r.b, r.k) for r in S.read_snapshot(spark, root).collect())
    pre = S.read_snapshot_pruned(spark, root, "a", 0, 100)
    assert pre[1] == pre[2] == 4  # unclustered: every file overlaps
    v = S.compact(spark, root, target_file_count=4, cluster_by=["a", "b"])
    assert v is not None
    after = sorted((r.a, r.b, r.k) for r in S.read_snapshot(spark, root).collect())
    assert after == before  # layout-only: same rows
    _, pa, ta = S.read_snapshot_pruned(spark, root, "a", 0, 100)
    _, pb, tb = S.read_snapshot_pruned(spark, root, "b", 0, 100)
    assert pa < ta and pb < tb  # both clustered columns prune now
    # old (pre-compact) version still readable and identical
    assert sorted((r.a, r.b, r.k) for r in S.read_snapshot(spark, root, 4).collect()) == before


def test_zorder_compact_records_cluster_column_stats(spark, root):
    df = spark.createDataFrame([Row(a=i, b=i * 2) for i in range(50)], "a int, b int")
    S.append(df.filter(F.col("a") < 25).coalesce(1), root)  # no stats tracked
    S.append(df.filter(F.col("a") >= 25).coalesce(1), root)
    v = S.compact(spark, root, target_file_count=2, cluster_by=["a"])
    m = S._read_manifest(spark, root, v)
    assert all("a" in s for s in m["stats"].values())  # cluster col stats appear


# ---------------------------------------------------------------------------
# Write-audit-publish (x99): stage -> audit -> publish/abort
# ---------------------------------------------------------------------------


def test_wap_stage_is_invisible_until_publish(spark, root):
    S.overwrite(_df(spark, 0, 3), root)  # v1
    S.stage_append(_df(spark, 3, 5), root, "batch-a")
    # no reader sees the staged rows: latest content, version, history
    assert S.latest_version(spark, root) == 1
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(3)]
    # the audit surface sees base + batch
    assert _rows(S.read_staged(spark, root, "batch-a")) == [
        (i, f"r{i}") for i in range(5)
    ]
    v = S.publish_staged(spark, root, "batch-a")
    assert v == 2
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(5)]
    m = S._read_manifest(spark, root, 2)
    assert m["op"] == "wap-publish"
    assert m["stage_id"] == "batch-a"
    assert m["staged_parent"] == 1
    # staged manifest consumed
    with pytest.raises(ValueError, match="no staged batch"):
        S.read_staged(spark, root, "batch-a")


def test_wap_abort_removes_files_and_leaves_history_untouched(spark, root):
    S.overwrite(_df(spark, 0, 3), root)
    S.stage_append(_df(spark, 3, 5), root, "bad")
    staged_files = S._read_staged(spark, root, "bad")["files"]
    assert staged_files
    deleted = S.abort_staged(spark, root, "bad")
    assert deleted == sorted(staged_files)
    for rel in staged_files:
        assert not fsio.exists(spark, f"{root}/{rel}")
    assert S.latest_version(spark, root) == 1
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(3)]
    with pytest.raises(ValueError, match="no staged batch"):
        S.publish_staged(spark, root, "bad")


def test_wap_publish_rebases_over_concurrent_append(spark, root):
    S.overwrite(_df(spark, 0, 2), root)  # v1
    S.stage_append(_df(spark, 10, 12), root, "late")  # staged against v1
    S.append(_df(spark, 2, 4), root)  # v2 lands first
    v = S.publish_staged(spark, root, "late")
    assert v == 3
    # published content = CURRENT table + batch, not stage-time table
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in (0, 1, 2, 3, 10, 11)
    ]
    m = S._read_manifest(spark, root, 3)
    assert (m["parent"], m["staged_parent"]) == (2, 1)


def test_wap_duplicate_stage_id_refused(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.stage_append(_df(spark, 2, 3), root, "b1")
    with pytest.raises(ValueError, match="already staged"):
        S.stage_append(_df(spark, 3, 4), root, "b1")
    # the loser's data files are its own orphan problem (fresh uuid dir);
    # the original staged batch is intact and publishable
    assert _rows(S.read_staged(spark, root, "b1")) == [(0, "r0"), (1, "r1"), (2, "r2")]


def test_wap_publish_idempotent_after_cleanup_crash(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.stage_append(_df(spark, 2, 4), root, "once")
    staged_json = fsio.read_text(spark, S._staged_path(root, "once"))
    v = S.publish_staged(spark, root, "once")
    # simulate a crash between commit and staged-manifest cleanup:
    # the leftover staged file reappears, publish is retried
    fsio.write_text(spark, S._staged_path(root, "once"), staged_json)
    assert S.publish_staged(spark, root, "once") == v
    assert S.latest_version(spark, root) == v  # no double-append
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(4)]


def test_wap_gc_orphans_spares_staged_files(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.stage_append(_df(spark, 2, 4), root, "pending")
    staged_files = S._read_staged(spark, root, "pending")["files"]
    assert S.gc_orphans(spark, root, min_age_sec=0.0) == []
    for rel in staged_files:
        assert fsio.exists(spark, f"{root}/{rel}")
    # after publish the files are version-referenced; still no orphans
    S.publish_staged(spark, root, "pending")
    assert S.gc_orphans(spark, root, min_age_sec=0.0) == []


def test_wap_publish_abort_mutually_arbitrated(spark, root):
    """Exactly one of publish/abort wins a race (r8 ADVICE): the staged
    manifest is atomically claim-renamed, so the loser gets a clear
    error instead of publish committing refs abort just deleted."""
    S.overwrite(_df(spark, 0, 2), root)
    S.stage_append(_df(spark, 2, 4), root, "race")
    # abort claims first (the rename is the arbitration point)
    S._claim_staged(spark, root, "race", "abort")
    with pytest.raises(ValueError, match="claimed by abort"):
        S.publish_staged(spark, root, "race")
    S.abort_staged(spark, root, "race")  # resumes from its claim
    assert S.latest_version(spark, root) == 1
    # reverse order: publish claims first, abort must lose
    S.stage_append(_df(spark, 2, 4), root, "race2")
    S._claim_staged(spark, root, "race2", "publish")
    with pytest.raises(ValueError, match="claimed by publish"):
        S.abort_staged(spark, root, "race2")
    v = S.publish_staged(spark, root, "race2")  # resumes from its claim
    assert v == 2
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(4)]
    # claims consumed on completion
    assert not fsio.exists(spark, S._claim_path(root, "race2", "publish"))
    assert not fsio.exists(spark, S._claim_path(root, "race", "abort"))


def test_wap_abort_crash_resume_finishes_file_deletes(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.stage_append(_df(spark, 2, 4), root, "half")
    staged_files = S._claim_staged(spark, root, "half", "abort")["files"]
    # claimed but files not yet deleted = crash point; GC must spare them
    assert S.gc_orphans(spark, root, min_age_sec=0.0) == []
    for rel in staged_files:
        assert fsio.exists(spark, f"{root}/{rel}")
    assert S.abort_staged(spark, root, "half") == sorted(staged_files)
    for rel in staged_files:
        assert not fsio.exists(spark, f"{root}/{rel}")


def test_wap_schema_contract_enforced_at_stage_time(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    drifted = spark.createDataFrame([Row(i=9, s="r9", extra=1.0)], "i int, s string, extra double")
    with pytest.raises(S.SchemaMismatchError):
        S.stage_append(drifted, root, "drift")
    S.stage_append(drifted, root, "drift", evolve=True)
    assert S.publish_staged(spark, root, "drift") == 2
    got = {(r.i, r.s, r.extra) for r in S.read_snapshot(spark, root).collect()}
    assert got == {(0, "r0", None), (1, "r1", None), (9, "r9", 1.0)}


def test_wap_publish_refuses_partition_spec_change(spark, root):
    df = spark.createDataFrame(
        [Row(i=i, s=f"r{i}", k=i % 2) for i in range(4)], "i int, s string, k int"
    )
    S.overwrite(df, root)  # unpartitioned v1
    S.stage_append(_df_part(spark, 4, 6), root, "p0")
    # table is redefined as partitioned while the batch is staged
    S.overwrite(df, root, partition_by="k")
    with pytest.raises(S.SchemaMismatchError, match="partition spec changed"):
        S.publish_staged(spark, root, "p0")


def _df_part(spark, lo, hi):
    return spark.createDataFrame(
        [Row(i=i, s=f"r{i}", k=i % 2) for i in range(lo, hi)], "i int, s string, k int"
    )


def test_wap_staged_on_partitioned_table_keeps_layout(spark, root):
    S.overwrite(_df_part(spark, 0, 4), root, partition_by="k")
    S.stage_append(_df_part(spark, 4, 8), root, "pp")
    v = S.publish_staged(spark, root, "pp")
    m = S._read_manifest(spark, root, v)
    assert m["partition_spec"] == ["k"]
    # staged files were written Hive-layout so partition pruning holds
    assert all("/k=" in f for f in S._read_manifest(spark, root, v)["files"])
    got = {(r.i, r.k) for r in S.read_snapshot(spark, root).select("i", "k").collect()}
    assert got == {(i, i % 2) for i in range(8)}


# ---------------------------------------------------------------------------
# branches (x103): zero-copy divergent version chains over shared files
# ---------------------------------------------------------------------------


def test_branch_is_zero_copy_and_content_identical(spark, root):
    S.overwrite(_df(spark, 0, 4), root)  # v1
    S.append(_df(spark, 4, 6), root)  # v2
    broot = S.create_branch(spark, root, "exp")
    m = S._read_manifest(spark, broot, 1)
    assert m["op"] == "branch" and m["branched_from_version"] == 2
    assert all(f.startswith("../../data-") for f in m["files"])
    # zero data bytes written: no local data dirs under the branch root
    assert not [d for d in fsio.list_names(spark, broot) if d.startswith("data-")]
    assert _rows(S.read_snapshot(spark, broot)) == [(i, f"r{i}") for i in range(6)]
    # branching at an older version = time-travel branch
    b1 = S.create_branch(spark, root, "old", version=1)
    assert _rows(S.read_snapshot(spark, b1)) == [(i, f"r{i}") for i in range(4)]
    assert S.list_branches(spark, root) == ["exp", "old"]


def test_branch_diverges_independently(spark, root):
    S.overwrite(_df(spark, 0, 3), root)
    broot = S.create_branch(spark, root, "exp")
    S.append(_df(spark, 10, 12), broot)  # branch-local commit
    S.append(_df(spark, 20, 22), root)  # main moves separately
    assert _rows(S.read_snapshot(spark, broot)) == [
        (0, "r0"), (1, "r1"), (2, "r2"), (10, "r10"), (11, "r11"),
    ]
    assert _rows(S.read_snapshot(spark, root)) == [
        (0, "r0"), (1, "r1"), (2, "r2"), (20, "r20"), (21, "r21"),
    ]
    # a MoR delete on the branch must not leak into main
    S.mor_delete(spark.createDataFrame([Row(i=1)], "i int"), broot, keys=["i"])
    assert (1, "r1") not in _rows(S.read_snapshot(spark, broot))
    assert (1, "r1") in _rows(S.read_snapshot(spark, root))


def test_branch_carries_pending_mor_deletes(spark, root):
    S.append(_df(spark, 0, 4).coalesce(1), root)
    S.mor_delete(spark.createDataFrame([Row(i=2)], "i int"), root, keys=["i"])
    broot = S.create_branch(spark, root, "b")
    assert _rows(S.read_snapshot(spark, broot)) == [(0, "r0"), (1, "r1"), (3, "r3")]


def test_branch_compact_detaches_from_source(spark, root):
    S.overwrite(_df(spark, 0, 3), root)
    broot = S.create_branch(spark, root, "det")
    S.compact(spark, broot)  # rewrites live rows into branch-local files
    m = S._read_manifest(spark, broot, S.latest_version(spark, broot))
    assert all(not f.startswith("..") for f in m["files"])
    # source moves on and vacuums past the branch point; branch unaffected
    S.overwrite(_df(spark, 50, 52), root)
    S.vacuum(spark, root, keep_last=1)
    S.vacuum(spark, broot, keep_last=1)  # drop the shared-ref manifest too
    assert _rows(S.read_snapshot(spark, broot)) == [(i, f"r{i}") for i in range(3)]


def test_branch_vacuum_never_deletes_parent_files(spark, root):
    S.overwrite(_df(spark, 0, 3), root)
    broot = S.create_branch(spark, root, "v")
    S.overwrite(_df(spark, 9, 10), broot)  # branch v2 drops the shared refs
    deleted = S.vacuum(spark, broot, keep_last=1)  # expires branch v1
    assert deleted == []  # ../ refs skipped, never the source's files
    # source still fully readable
    assert _rows(S.read_snapshot(spark, root)) == [(0, "r0"), (1, "r1"), (2, "r2")]


def test_branch_refusals(spark, root):
    df = spark.createDataFrame(
        [Row(i=i, s=f"r{i}", k=i % 2) for i in range(4)], "i int, s string, k int"
    )
    S.overwrite(df, root, partition_by="k")
    with pytest.raises(ValueError, match="partitioned"):
        S.create_branch(spark, root, "p")
    root2 = f"{root}_plain"
    S.overwrite(_df(spark, 0, 2), root2)
    S.create_branch(spark, root2, "dup")
    with pytest.raises(ValueError, match="already exists"):
        S.create_branch(spark, root2, "dup")
    with pytest.raises(ValueError, match="invalid branch name"):
        S.create_branch(spark, root2, "a/b")


# ---------------------------------------------------------------------------
# replace_partitions (x106): transactional dynamic partition overwrite
# ---------------------------------------------------------------------------


def test_replace_partitions_swaps_only_named_partitions(spark, root):
    S.overwrite(_df_part(spark, 0, 8), root, partition_by="k")  # k=0: 0,2,4,6
    before = S._read_manifest(spark, root, 1)["files"]
    batch = spark.createDataFrame(
        [Row(i=100, s="NEW", k=0)], "i int, s string, k int"
    )
    v = S.replace_partitions(batch, root)
    m = S._read_manifest(spark, root, v)
    assert m["op"] == "replace-partitions"
    # k=1 files carried byte-identical; k=0 files dropped from refs
    k1_before = sorted(f for f in before if "/k=1/" in f)
    assert sorted(f for f in m["files"] if "/k=1/" in f) == k1_before
    assert not any(f in m["files"] for f in before if "/k=0/" in f)
    got = sorted((r.i, r.s, r.k) for r in S.read_snapshot(spark, root).collect())
    assert got == [(1, "r1", 1), (3, "r3", 1), (5, "r5", 1), (7, "r7", 1), (100, "NEW", 0)]
    # time travel to the pre-replace version still sees the old rows
    assert len(S.read_snapshot(spark, root, 1).collect()) == 8


def test_replace_partitions_hive_escaped_values(spark, root):
    """Partition values Spark Hive-escapes on disk (':' -> '%3A') must
    still REPLACE, not duplicate: the replaced-segment set is derived
    from the new files' own path segments, so writer encoding matches
    by construction (r8 ADVICE — str(value) never matched the escaped
    segment and the old files were silently carried)."""
    df = spark.createDataFrame(
        [Row(i=1, s="old", k="00:00:00"), Row(i=2, s="keep", k="01:00:00")],
        "i int, s string, k string",
    )
    S.overwrite(df, root, partition_by="k")
    before = S._read_manifest(spark, root, 1)["files"]
    assert any("%3A" in f for f in before)  # escaping actually happened
    batch = spark.createDataFrame(
        [Row(i=9, s="new", k="00:00:00")], "i int, s string, k string"
    )
    v = S.replace_partitions(batch, root)
    got = sorted((r.i, r.s, r.k) for r in S.read_snapshot(spark, root).collect())
    assert got == [(2, "keep", "01:00:00"), (9, "new", "00:00:00")]
    m = S._read_manifest(spark, root, v)
    assert not any(f in m["files"] for f in before if "k=00%3A00%3A00" in f)


def test_multi_column_partition_spec_end_to_end(spark, root):
    """r11 verdict task 3: composite Hive layouts (``d=…/hh=…``) as
    first-class spec — append/overwrite accept a column list, pruning
    composes per level (path values, unquoted before comparing),
    replace_partitions replaces the COMPOSITE unit, partitions_report
    reports per-level values. Hive-escaped values in BOTH levels (the
    r8/r11 escaping lessons)."""
    rows = [
        (i, f"r{i}", d, hh)
        for i, (d, hh) in enumerate(
            (d, hh)
            for d in ("2024:01", "2024:02")
            for hh in ("00:00:00", "06:30:00")
        )
    ]
    df = spark.createDataFrame(rows, "i int, s string, d string, hh string")
    S.overwrite(df, root, partition_by=["d", "hh"], stats_cols=["i"])
    m = S._read_manifest(spark, root, 1)
    assert m["partition_spec"] == ["d", "hh"]
    # both levels escaped on disk, nested in declaration order
    assert all("/d=" in f and "/hh=" in f for f in m["files"])
    assert any("%3A" in f.split("/")[1] and "%3A" in f.split("/")[2] for f in m["files"])
    got = sorted((r.i, r.d, r.hh) for r in S.read_snapshot(spark, root).collect())
    assert got == [(i, d, hh) for i, (_s, d, hh) in
                   [(r[0], (r[1], r[2], r[3])) for r in rows]]
    # composite pruning: one (d, hh) box plans exactly one file-set leaf
    pruned, planned, total = S.read_snapshot_pruned_multi(
        spark, root,
        [("d", "2024:01", "2024:01"), ("hh", "06:30:00", "06:30:00")],
    )
    assert total == 4 and planned == 1
    assert [(r.i, r.d, r.hh) for r in pruned.collect()] == [(1, "2024:01", "06:30:00")]
    # single-level predicate prunes that level only
    _, planned_d, _ = S.read_snapshot_pruned_multi(
        spark, root, [("d", "2024:02", "2024:02")]
    )
    assert planned_d == 2
    # single-column pruned read unquotes before comparing (a raw '%3A'
    # segment ordered below ':' bounds and wrongly pruned)
    pr, planned_h, _ = S.read_snapshot_pruned(
        spark, root, "hh", "00:00:00", "05:00:00"
    )
    assert planned_h == 2 and {r.hh for r in pr.collect()} == {"00:00:00"}
    # replace: the unit is the composite value — only (2024:01, 00:00:00)
    batch = spark.createDataFrame(
        [(9, "new", "2024:01", "00:00:00")], "i int, s string, d string, hh string"
    )
    S.replace_partitions(batch, root)
    got = sorted((r.i, r.s) for r in S.read_snapshot(spark, root).collect())
    assert got == [(1, "r1"), (2, "r2"), (3, "r3"), (9, "new")]
    # report: per-level UNESCAPED values, composite rows
    rep = S.partitions_report(spark, root)
    assert [(r["value"], r["n_rows"]) for r in rep] == [
        (["2024:01", "00:00:00"], 1),
        (["2024:01", "06:30:00"], 1),
        (["2024:02", "00:00:00"], 1),
        (["2024:02", "06:30:00"], 1),
    ]
    # appends must redeclare the full spec; arity changes are spec
    # evolution and need the explicit flag
    with pytest.raises(S.SchemaMismatchError, match="partition spec"):
        S.append(batch, root, partition_by="d")
    S.append(
        spark.createDataFrame(
            [(7, "e", "2024:03", "00:00:00")], "i int, s string, d string, hh string"
        ),
        root,
        partition_by="d",
        allow_spec_change=True,
    )
    assert S._read_manifest(spark, root, S.latest_version(spark, root))[
        "partition_spec"
    ] == ["d"]


def test_replace_partitions_refusals(spark, root):
    S.overwrite(_df(spark, 0, 3), root)  # unpartitioned
    flat = spark.createDataFrame([Row(i=1, s="x")], "i int, s string")
    with pytest.raises(ValueError, match="partitioned table"):
        S.replace_partitions(flat, root)
    root2 = f"{root}_mor"
    S.overwrite(_df_part(spark, 0, 4), root2, partition_by="k")
    S.mor_delete(spark.createDataFrame([Row(i=1)], "i int"), root2, keys=["i"])
    batch = spark.createDataFrame([Row(i=9, s="n", k=0)], "i int, s string, k int")
    with pytest.raises(ValueError, match="pending MoR deletes"):
        S.replace_partitions(batch, root2)
    nulls = spark.createDataFrame([Row(i=9, s="n", k=None)], "i int, s string, k int")
    root3 = f"{root}_nulls"
    S.overwrite(_df_part(spark, 0, 4), root3, partition_by="k")
    with pytest.raises(ValueError, match="NULL partition values"):
        S.replace_partitions(nulls, root3)
    with pytest.raises(S.SchemaMismatchError):
        S.replace_partitions(
            spark.createDataFrame([Row(i=9, k=0)], "i int, k int"), root3
        )


def test_replace_partitions_txn_idempotence(spark, root):
    S.overwrite(_df_part(spark, 0, 4), root, partition_by="k")
    batch = spark.createDataFrame([Row(i=9, s="n", k=0)], "i int, s string, k int")
    S.replace_partitions(batch, root, txn="restate-day0")
    with pytest.raises(ValueError, match="already committed"):
        S.replace_partitions(batch, root, txn="restate-day0")


def test_wap_carries_pending_mor_deletes_through_stage_and_publish(spark, root):
    """Staging over a table with pending equality deletes: the audit
    surface applies them (like any read), the staged rows are sequenced
    NEWER than the pending delete (a staged re-insert of a deleted key
    must survive publish), and the published manifest carries the
    delete state for the untouched files."""
    S.append(_df(spark, 0, 4).coalesce(1), root)  # v1
    S.mor_delete(spark.createDataFrame([Row(i=2)], "i int"), root, keys=["i"])  # v2
    # stage a batch that re-inserts the deleted key
    S.stage_append(spark.createDataFrame([Row(i=2, s="BACK")], "i int, s string"), root, "re2")
    assert _rows(S.read_staged(spark, root, "re2")) == [
        (0, "r0"), (1, "r1"), (2, "BACK"), (3, "r3"),
    ]
    v = S.publish_staged(spark, root, "re2")
    m = S._read_manifest(spark, root, v)
    assert m["deletes"], "pending delete state must carry through publish"
    assert _rows(S.read_snapshot(spark, root)) == [
        (0, "r0"), (1, "r1"), (2, "BACK"), (3, "r3"),
    ]
    # the old version still shows the post-delete, pre-publish view
    assert _rows(S.read_snapshot(spark, root, 2)) == [(0, "r0"), (1, "r1"), (3, "r3")]


def test_incremental_read_crosses_wap_publishes(spark, root):
    """wap-publish is append-family (files strictly added), so a change
    feed over a WAP-gated table stays readable — the delta across a
    publish is exactly the published batch; true mutations still refuse."""
    S.append(_df(spark, 0, 3), root)  # v1
    S.stage_append(_df(spark, 3, 5), root, "b")
    S.publish_staged(spark, root, "b")  # v2, op wap-publish
    S.append(_df(spark, 5, 6), root)  # v3
    got = _rows(S.read_incremental(spark, root, since_version=1))
    assert got == [(3, "r3"), (4, "r4"), (5, "r5")]
    assert _rows(S.read_incremental(spark, root, since_version=2)) == [(5, "r5")]
    S.overwrite(_df(spark, 9, 10), root)  # v4: a real mutation
    with pytest.raises(ValueError, match="not append"):
        S.read_incremental(spark, root, since_version=1)


# --- version tags (x114) ------------------------------------------------------


def test_tags_time_travel_and_vacuum_retention(spark, root):
    S.overwrite(_df(spark, 0, 3), root)  # v1
    assert S.create_tag(spark, root, "baseline") == 1
    S.overwrite(_df(spark, 10, 12), root)  # v2
    S.overwrite(_df(spark, 20, 22), root)  # v3
    deleted = S.vacuum(spark, root, keep_last=1)
    # tagged v1 survives the keep_last=1 window; untagged v2 expires
    assert _rows(S.read_snapshot_tag(spark, root, "baseline")) == [
        (i, f"r{i}") for i in range(3)
    ]
    assert S._manifest_versions(spark, root) == [1, 3]
    assert deleted  # v2's files were reclaimed
    assert _rows(S.read_snapshot(spark, root)) == [(20, "r20"), (21, "r21")]
    # tag dropped -> next vacuum expires v1 too
    assert S.delete_tag(spark, root, "baseline")
    S.vacuum(spark, root, keep_last=1)
    assert S._manifest_versions(spark, root) == [3]


def test_tag_immutability_and_refusals(spark, root):
    S.overwrite(_df(spark, 0, 2), root)
    S.create_tag(spark, root, "t1")
    with pytest.raises(ValueError, match="already exists"):
        S.create_tag(spark, root, "t1")
    with pytest.raises(ValueError, match="does not exist"):
        S.create_tag(spark, root, "t2", version=9)
    with pytest.raises(ValueError, match="invalid tag name"):
        S.create_tag(spark, root, "a/b")
    with pytest.raises(ValueError, match="no tag"):
        S.read_snapshot_tag(spark, root, "nope")
    assert S.list_tags(spark, root) == [("t1", 1)]
    assert not S.delete_tag(spark, root, "absent")


# --- type widening on evolve (x116) -------------------------------------------


def test_append_widens_integer_types_on_evolve(spark, root):
    ints = spark.createDataFrame([Row(i=1, s="a")], "i int, s string")
    longs = spark.createDataFrame([Row(i=2**40, s="b")], "i bigint, s string")
    S.append(ints, root)
    with pytest.raises(S.SchemaMismatchError, match="widened"):
        S.append(longs, root)  # widening is schema evolution: needs evolve
    S.append(longs, root, evolve=True)
    out = S.read_snapshot(spark, root)
    assert dict(S._read_manifest(spark, root, 2)["schema"])["i"] == "bigint"
    assert out.schema["i"].dataType.simpleString() == "bigint"
    assert sorted((r.i, r.s) for r in out.collect()) == [(1, "a"), (2**40, "b")]
    # narrower batches keep writing without widening anything further
    S.append(spark.createDataFrame([Row(i=3, s="c")], "i int, s string"), root)
    assert dict(S._read_manifest(spark, root, 3)["schema"])["i"] == "bigint"
    assert S.read_snapshot(spark, root).count() == 3


def test_append_refuses_non_widening_type_changes(spark, root):
    S.append(spark.createDataFrame([Row(i=1, s="a")], "i int, s string"), root)
    for bad, ddl in ((1.5, "i double, s string"), ("x", "i string, s string")):
        with pytest.raises(S.SchemaMismatchError, match="type change"):
            S.append(
                spark.createDataFrame([Row(i=bad, s="b")], ddl), root, evolve=True
            )


# --- metadata-only aggregates (x117) ------------------------------------------


def test_metadata_count_and_minmax(spark, root):
    S.append(_df(spark, 0, 5).coalesce(1), root, stats_cols=["i"])
    S.append(_df(spark, 5, 12).coalesce(2), root, stats_cols=["i"])
    assert S.metadata_count(spark, root) == 12
    assert S.metadata_minmax(spark, root, "i") == (0, 11)
    # version pinning: the older snapshot's metadata answers are its own
    assert S.metadata_count(spark, root, version=1) == 5
    assert S.metadata_minmax(spark, root, "i", version=1) == (0, 4)


def test_metadata_count_refuses_mor_and_recovers_after_compact(spark, root):
    S.append(_df(spark, 0, 8).coalesce(1), root, stats_cols=["i"])
    S.mor_delete(spark.createDataFrame([Row(i=2), Row(i=5)], "i int"), root, keys=["i"])
    with pytest.raises(ValueError, match="pending MoR"):
        S.metadata_count(spark, root)
    with pytest.raises(ValueError, match="pending MoR"):
        S.metadata_minmax(spark, root, "i")
    S.compact(spark, root)
    assert S.metadata_count(spark, root) == 6


def test_metadata_minmax_refuses_unrecorded_column(spark, root):
    S.append(_df(spark, 0, 3), root)  # no stats_cols: only __rows recorded
    assert S.metadata_count(spark, root) == 3  # __rows is always there
    with pytest.raises(ValueError, match="no recorded stats"):
        S.metadata_minmax(spark, root, "i")


# --- CDC apply (st28) ---------------------------------------------------------


def test_cdc_apply_tombstone_blocks_late_resurrection(spark, root):
    """The reason deletes persist as tombstones: a LATE upsert with a
    lower sequence than the delete must NOT resurrect the key, however
    late it arrives; a genuinely newer upsert must."""
    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink, cdc_current

    sink = cdc_apply_sink(root, keys=["k"], seq_col="seq", op_col="op")

    def batch(rows, bid):
        sink(spark.createDataFrame(rows, "k int, seq long, op string, v string"), bid)

    batch([(1, 10, "U", "a"), (2, 11, "U", "b")], 0)
    batch([(1, 20, "D", None)], 1)  # delete k=1 at seq 20
    batch([(1, 15, "U", "late")], 2)  # LATE: older than the delete
    got = {(r.k, r.seq, r.v) for r in cdc_current(spark, root, "op").collect()}
    assert got == {(2, 11, "b")}  # k=1 stays deleted
    batch([(1, 30, "U", "new")], 3)  # genuinely newer: resurrects
    got = {(r.k, r.seq, r.v) for r in cdc_current(spark, root, "op").collect()}
    assert got == {(2, 11, "b"), (1, 30, "new")}
    # replayed batch is a no-op; empty batch commits nothing
    before = S.latest_version(spark, root)
    batch([(1, 10, "U", "a")], 0)
    sink(spark.createDataFrame([], "k int, seq long, op string, v string"), 9)
    assert S.latest_version(spark, root) == before


def test_cdc_apply_order_insensitive(spark, root):
    """Any interleaving of the same change set converges to the same
    table — keep-max-seq is commutative/associative/idempotent."""
    import random

    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink, cdc_current

    rnd = random.Random(47)
    changes = [
        (k, seq, "D" if rnd.random() < 0.2 else "U", f"v{seq}")
        for seq, k in enumerate(rnd.choices(range(10), k=60))
    ]
    expected = {}
    for k, seq, op, v in changes:  # in-order ground truth
        expected[k] = (seq, op, v)
    expected_live = {
        (k, s, v) for k, (s, op, v) in expected.items() if op != "D"
    }
    shuffled = changes[:]
    rnd.shuffle(shuffled)
    sink = cdc_apply_sink(root, keys=["k"], seq_col="seq", op_col="op")
    for bid in range(6):  # 6 arbitrary batches of 10
        rows = shuffled[bid * 10 : (bid + 1) * 10]
        sink(spark.createDataFrame(rows, "k int, seq long, op string, v string"), bid)
    got = {(r.k, r.seq, r.v) for r in cdc_current(spark, root, "op").collect()}
    assert got == expected_live


# ---------------------------------------------------------------------------
# r9 ADVICE regressions: zero-row partitioned writes, partition column in
# stats_cols, delete-materializing compaction's data_change marker, and the
# create_tag/vacuum TOCTOU window.
# ---------------------------------------------------------------------------


def test_zero_row_partitioned_write_commits_empty_version(spark, root):
    """A zero-row batch on a PARTITIONED table commits a harmless empty
    version (the dynamic-partition writer emits no part files, so the
    stats pass must be skipped, not crash) — the contract st27's sink
    relies on."""
    df = spark.createDataFrame([Row(i=1, p="a")], "i int, p string")
    S.overwrite(df, root, partition_by="p")
    v = S.append(df.limit(0), root, partition_by="p")
    assert v == 2
    assert S.read_snapshot(spark, root).count() == 1
    assert S.metadata_count(spark, root) == 1  # coverage intact


def test_stats_cols_with_partition_column_recorded_pathside(spark, root):
    """stats_cols naming the partition column must not crash the leaf-file
    stats read (the column lives only in path segments): it is dropped
    from recorded stats, and pruning on it rides path values instead."""
    df = spark.createDataFrame([Row(i=1, p="a"), Row(i=5, p="b")], "i int, p string")
    v = S.append(df, root, partition_by="p", stats_cols=["p", "i"])
    m = S._read_manifest(spark, root, v)
    assert m["files"]
    for s in m["stats"].values():
        assert "p" not in s
        assert "i" in s
    pruned, planned, total = S.read_snapshot_pruned(spark, root, "p", "a", "a")
    assert planned < total
    assert [r.i for r in pruned.collect()] == [1]


def test_compact_materializing_deletes_drops_skip_marker(spark, root):
    """A compaction that materializes pending MoR deletes DROPS rows, so
    it must NOT carry data_change:false (Delta: legal only for OPTIMIZE)
    — incremental readers refuse to skip it instead of silently missing
    the deletions."""
    S.overwrite(_df(spark, 0, 6), root)  # v1
    S.append(_df(spark, 6, 8), root)  # v2
    S.mor_delete(spark.createDataFrame([Row(i=1)]), root, keys=["i"])  # v3
    v = S.compact(spark, root)
    m = S._read_manifest(spark, root, v)
    assert m["data_change"] is True
    assert m["deletes_materialized"] is True
    assert not m.get("deletes")  # the rewrite did materialize them
    assert S.read_snapshot(spark, root).count() == 7
    with pytest.raises(ValueError, match="not append"):
        S.read_incremental(spark, root, since_version=v - 1, skip_compactions=True)
    # a pure layout rewrite on the now-clean table keeps the marker
    S.append(_df(spark, 8, 9), root)
    S.append(_df(spark, 9, 10), root)
    v2 = S.compact(spark, root)
    assert S._read_manifest(spark, root, v2)["data_change"] is False


def test_create_tag_vacuum_race_detected(spark, root, monkeypatch):
    """A vacuum expiring the target version between create_tag's check
    and its atomic create must be detected: the tag is undone and the
    race surfaced, never a tag pointing at a missing manifest."""
    S.overwrite(_df(spark, 0, 2), root)  # v1
    S.append(_df(spark, 2, 3), root)  # v2
    real = fsio.create_text_atomic

    def racing(spark_, path, text):
        if "/tag-" in path:  # simulate the concurrent vacuum landing first
            fsio.delete(spark_, S._manifest_path(root, 1), recursive=False)
        return real(spark_, path, text)

    monkeypatch.setattr(S.fsio, "create_text_atomic", racing)
    with pytest.raises(S.ConcurrentCommitError, match="vacuumed"):
        S.create_tag(spark, root, "audit", version=1)
    monkeypatch.setattr(S.fsio, "create_text_atomic", real)
    assert not fsio.exists(spark, S._tag_path(root, "audit"))
    assert S.create_tag(spark, root, "audit", version=2) == 2


def test_cdc_apply_rewrites_only_touched_files(spark, root):
    """The r9 scale flag: a 1-key CDC batch against a many-file target
    must rewrite ONLY the files whose key range can hold that key —
    every other file reference (and its stats) carries into the child
    manifest byte-identical (merge_commit's file-pruned COW path)."""
    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink, cdc_current

    sch = "k int, seq long, op string, v string"
    sink = cdc_apply_sink(root, keys=["k"], seq_col="seq", op_col="op")
    # three disjoint key-range batches -> three commits, disjoint files
    for bid, lo in enumerate((0, 100, 200)):
        rows = [(lo + i, 10 + i, "U", f"v{lo + i}") for i in range(10)]
        sink(spark.createDataFrame(rows, sch).coalesce(1), bid)
    m_before = S._read_manifest(spark, root, S.latest_version(spark, root))
    files_before = set(m_before["files"])

    def krange(f):
        s = m_before["stats"][f]["k"]
        return (s[0], s[1])

    touched_before = {f for f in files_before if krange(f)[0] <= 105 <= krange(f)[1]}
    untouched_before = files_before - touched_before
    assert touched_before and len(untouched_before) >= 2
    # single-key update in the middle range
    sink(spark.createDataFrame([(105, 99, "U", "new")], sch), 3)
    m_after = S._read_manifest(spark, root, S.latest_version(spark, root))
    files_after = set(m_after["files"])
    # untouched files carried verbatim, stats and all
    assert untouched_before <= files_after
    for f in untouched_before:
        assert m_after["stats"][f] == m_before["stats"][f]
    # touched files replaced, not carried
    assert not (touched_before & files_after)
    got = {(r.k, r.v) for r in cdc_current(spark, root).collect() if r.k in (104, 105, 106)}
    assert got == {(104, "v104"), (105, "new"), (106, "v106")}


def test_cdc_expire_tombstones(spark, root):
    """Tombstone retention GC: expired tombstones gone, live keys and
    young tombstones untouched, retention shorter than the declared max
    lateness refused, second run a no-op, fresh files never rewritten."""
    from nagios_custom_etl_spark.streaming.ops import (
        cdc_apply_sink,
        cdc_current,
        cdc_expire_tombstones,
    )

    sch = "k int, seq long, op string, v string"
    sink = cdc_apply_sink(root, keys=["k"], seq_col="seq", op_col="op")
    sink(
        spark.createDataFrame(
            [(k, 10 + k, "U", f"a{k}") for k in range(5)], sch
        ).coalesce(1),
        0,
    )
    sink(spark.createDataFrame([(1, 20, "D", None), (3, 21, "D", None)], sch), 1)
    # newer, disjoint-key activity raises the high-water mark in its own files
    sink(spark.createDataFrame([(7, 500, "U", "hot"), (8, 501, "D", None)], sch), 2)
    m0 = S._read_manifest(spark, root, S.latest_version(spark, root))
    fresh = {
        f for f, s in m0["stats"].items() if s.get("seq") and s["seq"][0] >= 100
    }
    assert fresh  # the k=7/8 file(s): min seq 500

    with pytest.raises(ValueError, match="retention too short"):
        cdc_expire_tombstones(spark, root, older_than_seq=500, max_lateness=100)

    v = cdc_expire_tombstones(spark, root, older_than_seq=100, max_lateness=100)
    assert v is not None
    rows = {(r.k, r.seq, r.op) for r in S.read_snapshot(spark, root).collect()}
    assert (1, 20, "D") not in rows and (3, 21, "D") not in rows  # expired
    assert (8, 501, "D") in rows  # young tombstone kept
    live = {(r.k, r.v) for r in cdc_current(spark, root).collect()}
    assert live == {(0, "a0"), (2, "a2"), (4, "a4"), (7, "hot")}
    m1 = S._read_manifest(spark, root, v)
    # rows were DROPPED: data_change must be true (the compact-fix
    # contract) so a skip-compactions file-diff consumer refuses to
    # step over the expiry instead of silently keeping phantom rows
    assert m1["data_change"] is True and m1["tombstones_expired"] is True
    assert fresh <= set(m1["files"])  # fresh files carried, not rewritten
    with pytest.raises(ValueError, match="not append"):
        S.read_incremental(spark, root, since_version=v - 1, skip_compactions=True)
    # idempotent: nothing left to expire -> no commit published
    assert cdc_expire_tombstones(spark, root, older_than_seq=100, max_lateness=100) is None
    assert S.latest_version(spark, root) == v
    # a late upsert OLDER than retention is undefined-by-contract after
    # expiry: with the tombstone gone it resurrects (documented, pinned)
    sink(spark.createDataFrame([(1, 15, "U", "late")], sch), 3)
    assert (1, "late") in {(r.k, r.v) for r in cdc_current(spark, root).collect()}


def test_metadata_sum_avg_exact_nulls_and_refusals(spark, root):
    """metadata_sum/metadata_avg: exact across files and appends, SQL
    NULL semantics (NULLs out of both sum and AVG denominator; all-NULL
    -> None), refusal for columns without recorded sums."""
    big = 1 << 61
    df1 = spark.createDataFrame(
        [(1, 10), (2, None), (3, big)], "i int, x bigint"
    )
    df2 = spark.createDataFrame([(4, 5), (5, None)], "i int, x bigint")
    S.append(df1, root, stats_cols=["x"])
    S.append(df2, root, stats_cols=["x"])
    assert S.metadata_sum(spark, root, "x") == 10 + big + 5
    assert S.metadata_avg(spark, root, "x") == float(10 + big + 5) / 3
    with pytest.raises(ValueError, match="no recorded sum stats"):
        S.metadata_sum(spark, root, "i")  # never in stats_cols
    # version pinning: the first version's sum is still answerable
    assert S.metadata_sum(spark, root, "x", version=1) == 10 + big


def test_metadata_sum_all_null_is_none(spark, root):
    df = spark.createDataFrame([(1, None), (2, None)], "i int, x bigint")
    S.append(df, root, stats_cols=["x"])
    assert S.metadata_sum(spark, root, "x") is None
    assert S.metadata_avg(spark, root, "x") is None


def test_metadata_sum_float_column_refuses(spark, root):
    """Float sums are reduction-order-dependent: never recorded, so the
    metadata path refuses instead of returning a drifting answer."""
    df = spark.createDataFrame([(1, 1.5), (2, 2.5)], "i int, x double")
    S.append(df, root, stats_cols=["x"])  # min/max recorded, sum NOT
    assert S.metadata_minmax(spark, root, "x") == (1.5, 2.5)
    with pytest.raises(ValueError, match="no recorded sum stats"):
        S.metadata_sum(spark, root, "x")


def test_scd2_cdc_late_event_reslots_and_as_of(spark, root):
    """SCD2-from-CDC: a LATE event slots INTO the existing history and
    re-closes its neighbors (the rebuild-from-event-set property no
    in-order incremental rule has); a delete closes the last version
    without opening one; as_of returns the unique version alive at a
    seq; replaying any batch is a no-op."""
    from nagios_custom_etl_spark.streaming.ops import (
        scd2_as_of,
        scd2_cdc_sink,
        scd2_history,
    )

    sch = "k int, seq long, op string, v string"
    sink = scd2_cdc_sink(root, key="k", seq_col="seq", op_col="op")

    def hist():
        return {
            (r.k, r.valid_from, r.valid_to, r.v, r.is_current)
            for r in scd2_history(spark, root).collect()
        }

    sink(spark.createDataFrame([(1, 10, "U", "a"), (1, 30, "U", "c")], sch), 0)
    assert hist() == {(1, 10, 30, "a", False), (1, 30, None, "c", True)}
    # LATE event (seq 20) arrives after 30: slots between, re-closing 10
    sink(spark.createDataFrame([(1, 20, "U", "b"), (2, 5, "U", "x")], sch), 1)
    assert hist() == {
        (1, 10, 20, "a", False),
        (1, 20, 30, "b", False),
        (1, 30, None, "c", True),
        (2, 5, None, "x", True),
    }
    # delete closes the open version; no current row for k=1 remains
    sink(spark.createDataFrame([(1, 40, "D", None)], sch), 2)
    assert hist() == {
        (1, 10, 20, "a", False),
        (1, 20, 30, "b", False),
        (1, 30, 40, "c", False),
        (2, 5, None, "x", True),
    }
    # point-in-time reads (half-open intervals)
    assert {(r.k, r.v) for r in scd2_as_of(spark, root, 25).collect()} == {
        (1, "b"),
        (2, "x"),
    }
    assert {(r.k, r.v) for r in scd2_as_of(spark, root, 45).collect()} == {(2, "x")}
    # replay of an already-committed batch is a no-op
    before = S.latest_version(spark, root)
    sink(spark.createDataFrame([(1, 20, "U", "b"), (2, 5, "U", "x")], sch), 1)
    assert S.latest_version(spark, root) == before
    # a LATE upsert AFTER the delete opens a closed (non-current) slot
    sink(spark.createDataFrame([(1, 35, "U", "d")], sch), 3)
    assert (1, 35, 40, "d", False) in hist()


def _pruned_read_probe(monkeypatch):
    """Record every read_snapshot_pruned call's (col, planned, total) —
    the instrumentation convention for pinning that the CDC composites'
    per-trigger auxiliary READS plan only key-range-intersecting files
    (r10 verdict task 1), test_cdc_apply_rewrites_only_touched_files'
    sibling for the read side."""
    calls: list[tuple] = []
    real = S.read_snapshot_pruned

    def probe(spark_, root_, col, lo, hi, version=None):
        out = real(spark_, root_, col, lo, hi, version)
        calls.append((col, out[1], out[2]))
        return out

    monkeypatch.setattr(S, "read_snapshot_pruned", probe)
    return calls


def _files_pruned_read_keeps(m: dict, col: str, key) -> set[str]:
    """The file set read_snapshot_pruned must plan for a point probe:
    stats-covering files plus the conservative keeps (no/None stats —
    e.g. zero-row part files, which record only __rows)."""

    def keeps(f: str) -> bool:
        s = m["stats"].get(f, {}).get(col)
        if not s or s[0] is None or s[1] is None:
            return True
        return s[0] <= key <= s[1]

    return {f for f in m["files"] if keeps(f)}


def test_cdc_feed_preimage_reads_only_touched_files(spark, root, tmp_path, monkeypatch):
    """The change-feed pre-image fetch must READ only the files whose
    recorded key range covers the batch's keys — a 1-key trigger
    against a many-file target semi-joins a pruned plan, never the
    whole snapshot (the r10 weak finding, read-side twin of the merge's
    touched-files-only rewrite)."""
    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink

    chroot = str(tmp_path / "changes")
    sch = "k int, seq long, op string, v string"
    sink = cdc_apply_sink(
        root, keys=["k"], seq_col="seq", op_col="op", changes_root=chroot
    )
    for bid, lo in enumerate((0, 100, 200)):  # three disjoint key-range files
        rows = [(lo + i, 10 + i, "U", f"v{lo + i}") for i in range(10)]
        sink(spark.createDataFrame(rows, sch).coalesce(1), bid)
    m = S._read_manifest(spark, root, S.latest_version(spark, root))
    expected = _files_pruned_read_keeps(m, "k", 105)
    assert expected and len(m["files"]) - len(expected) >= 2
    calls = _pruned_read_probe(monkeypatch)
    sink(spark.createDataFrame([(105, 999, "U", "new")], sch), 3)
    pre_calls = [c for c in calls if c[0] == "k"]
    assert pre_calls, "pre-image fetch did not route through the pruned read"
    (_, planned, total), = pre_calls
    assert total == len(m["files"]) and planned == len(expected) < total
    feed = {
        (r.k, r._change_type)
        for r in S.read_snapshot(spark, chroot).filter(F.col("_batch_id") == 3).collect()
    }
    assert feed == {(105, "update_preimage"), (105, "update_postimage")}


def test_scd2_touched_history_reads_only_touched_files(spark, root, monkeypatch):
    """SCD2's per-trigger touched-history fetch plans only the files
    whose recorded key range covers the batch's keys; the rebuilt
    history for the touched key is still exact."""
    from nagios_custom_etl_spark.streaming.ops import scd2_cdc_sink, scd2_history

    sch = "k int, seq long, op string, v string"
    sink = scd2_cdc_sink(root, key="k", seq_col="seq", op_col="op")
    for bid, lo in enumerate((0, 100, 200)):  # disjoint key ranges per publish
        rows = [(lo + i, 10, "U", f"a{lo + i}") for i in range(10)]
        sink(spark.createDataFrame(rows, sch).coalesce(1), bid)
    m = S._read_manifest(spark, root, S.latest_version(spark, root))
    expected = _files_pruned_read_keeps(m, "k", 105)
    assert expected and len(m["files"]) - len(expected) >= 2
    calls = _pruned_read_probe(monkeypatch)
    sink(spark.createDataFrame([(105, 20, "U", "b105")], sch), 3)
    assert calls, "touched-history fetch did not route through the pruned read"
    (_, planned, total), = calls
    assert total == len(m["files"]) and planned == len(expected) < total
    got = {
        (r.k, r.valid_from, r.valid_to, r.v, r.is_current)
        for r in scd2_history(spark, root).filter(F.col("k") == 105).collect()
    }
    assert got == {(105, 10, 20, "a105", False), (105, 20, None, "b105", True)}


def test_fastforward_branch_zero_copy_and_ownership(spark, root):
    """Fast-forward publishes the branch state on main with re-rooted
    refs only (no data bytes written); main's vacuum never reclaims the
    branch-owned files it now references; refusals: main moved, MoR
    pending, vacuumed origin."""
    S.append(_df(spark, 0, 4), root)  # v1
    S.append(_df(spark, 4, 8), root)  # v2 (branch point)
    broot = S.create_branch(spark, root, "dev")
    S.append(_df(spark, 8, 12), broot)
    v = S.fastforward_branch(spark, root, "dev")
    assert _rows(S.read_snapshot(spark, root, v)) == [(i, f"r{i}") for i in range(12)]
    m = S._read_manifest(spark, root, v)
    assert all(
        f.startswith("data-") or f.startswith("_branches/dev/") for f in m["files"]
    )
    assert any(f.startswith("_branches/dev/") for f in m["files"])
    # push the ff version out of the retention window: vacuum must drop
    # old manifests but NEVER delete the branch-owned bytes
    S.append(_df(spark, 12, 13), root)
    S.append(_df(spark, 13, 14), root)
    deleted = S.vacuum(spark, root, keep_last=2)
    assert not any(f.startswith("_branches/") for f in deleted)
    assert _rows(S.read_snapshot(spark, broot)) == [(i, f"r{i}") for i in range(12)]
    # refusal: main advanced past a new branch's point
    S.create_branch(spark, root, "dev2")
    S.append(_df(spark, 14, 15), root)
    with pytest.raises(S.ConcurrentCommitError, match="not a fast-forward"):
        S.fastforward_branch(spark, root, "dev2")
    # refusal: pending MoR deletes on the branch
    broot3 = S.create_branch(spark, root, "dev3")
    S.mor_delete(spark.createDataFrame([Row(i=0)]), broot3, keys=["i"])
    with pytest.raises(ValueError, match="MoR deletes"):
        S.fastforward_branch(spark, root, "dev3")


def test_fastforward_carries_branch_partition_spec(spark, root):
    """A branch may legally (re)declare a partition spec via overwrite();
    fast-forward must carry it into the promoted manifest — without it,
    _read_files plans the col=val files with no basePath and silently
    NULL-fills the partition column on every read (r10 ADVICE)."""
    S.append(_df(spark, 0, 4), root)  # v1 (unpartitioned source)
    broot = S.create_branch(spark, root, "part")
    pdf = spark.createDataFrame(
        [Row(i=i, v=f"r{i}", p=i % 2) for i in range(6)], "i int, v string, p int"
    )
    S.overwrite(pdf, broot, partition_by="p")
    assert S._read_manifest(
        spark, broot, S.latest_version(spark, broot)
    )["partition_spec"] == ["p"]
    v = S.fastforward_branch(spark, root, "part")
    m = S._read_manifest(spark, root, v)
    assert m["partition_spec"] == ["p"]
    got = {(r.i, r.v, r.p) for r in S.read_snapshot(spark, root, v).collect()}
    assert got == {(i, f"r{i}", i % 2) for i in range(6)}  # p NOT null-filled


def test_cdc_change_data_feed_semantics(spark, root, tmp_path):
    """The APPLY CHANGES change feed describes VIEW TRANSITIONS, not
    deliveries: stale rows and no-op tombstones emit nothing; updates
    emit pre+post; winning tombstones emit the old row as 'delete';
    resurrections and unseen keys emit 'insert'; replays append
    nothing."""
    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink

    chroot = str(tmp_path / "changes")
    sch = "k int, seq long, op string, v string"
    sink = cdc_apply_sink(
        root, keys=["k"], seq_col="seq", op_col="op", changes_root=chroot
    )

    def feed():
        return {
            (r.k, r.seq, r.v, r._change_type, r._batch_id)
            for r in S.read_snapshot(spark, chroot).collect()
        }

    sink(spark.createDataFrame([(1, 10, "U", "a"), (2, 11, "U", "b")], sch), 0)
    assert feed() == {(1, 10, "a", "insert", 0), (2, 11, "b", "insert", 0)}
    # update emits pre+post; a tombstone for a NEVER-SEEN key changes
    # nothing in the view -> emits nothing
    sink(spark.createDataFrame([(1, 20, "U", "c"), (3, 5, "D", None)], sch), 1)
    assert feed() - {(1, 10, "a", "insert", 0), (2, 11, "b", "insert", 0)} == {
        (1, 10, "a", "update_preimage", 1),
        (1, 20, "c", "update_postimage", 1),
    }
    # winning tombstone emits the OLD row as delete; a stale upsert
    # (seq 15 < current 20) emits nothing
    sink(spark.createDataFrame([(2, 30, "D", None), (1, 15, "U", "late")], sch), 2)
    b2 = {c for c in feed() if c[4] == 2}
    assert b2 == {(2, 11, "b", "delete", 2)}
    # resurrection is an insert
    sink(spark.createDataFrame([(2, 40, "U", "back")], sch), 3)
    assert {c for c in feed() if c[4] == 3} == {(2, 40, "back", "insert", 3)}
    # replay: neither table moves
    before = (S.latest_version(spark, root), S.latest_version(spark, chroot))
    sink(spark.createDataFrame([(1, 20, "U", "c"), (3, 5, "D", None)], sch), 1)
    assert (S.latest_version(spark, root), S.latest_version(spark, chroot)) == before


def test_read_snapshot_pruned_multi_and_semantics(spark, root):
    """Conjunctive skipping: one disjoint range kills a file; files
    missing stats for a predicate column are conservatively kept."""
    a = spark.createDataFrame([(i, i, i * 10) for i in range(0, 5)], "id int, x int, y int")
    b = spark.createDataFrame([(i, i, i * 10) for i in range(100, 105)], "id int, x int, y int")
    c = spark.createDataFrame([(i, i, i * 10) for i in range(200, 205)], "id int, x int, y int")
    S.append(a.coalesce(1), root, stats_cols=["x", "y"])
    S.append(b.coalesce(1), root, stats_cols=["x", "y"])
    S.append(c.coalesce(1), root, stats_cols=["x"])  # no y stats: kept
    # file a dies on y (0..40 vs 1000..1040), file c dies on x
    # (200..204 vs 0..150) even though its missing y stats would have
    # kept it — AND semantics: one disjoint range kills
    df, planned, total = S.read_snapshot_pruned_multi(
        spark, root, [("x", 0, 150), ("y", 1000, 1040)]
    )
    assert total == 3
    assert planned == 1
    got = sorted(r.id for r in df.filter(F.col("y").between(1000, 1040)).collect())
    assert got == [100, 101, 102, 103, 104]
    # conservative path: predicate ONLY on y keeps the stats-less file
    _df2, planned2, _ = S.read_snapshot_pruned_multi(spark, root, [("y", 0, 1)])
    assert planned2 == 2  # file a (y 0..40 overlaps) + stats-less file c
    with pytest.raises(ValueError, match="no predicates"):
        S.read_snapshot_pruned_multi(spark, root, [])


def test_snapshot_diff_multiset_and_fast_path(spark, root):
    """Diff applied to the old version reproduces the new one: multiset
    semantics (a row going 2x -> 1x diffs as ONE delete); append-only
    ranges take the file-diff fast path (inserts only, no old files
    planned)."""
    from pyspark.sql import functions as F

    dup2 = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "i int, s string")
    dup1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "i int, s string")
    S.append(dup2, root)  # v1
    S.overwrite(dup1, root)  # v2
    d = S.snapshot_diff(spark, root, 1, 2).collect()
    got = sorted((r.i, r.s, r._change_type) for r in d)
    assert got == [(1, "a", "delete"), (3, "c", "insert")]
    S.append(spark.createDataFrame([(9, "z")], "i int, s string"), root)  # v3
    fast = S.snapshot_diff(spark, root, 2, 3).collect()
    assert [(r.i, r.s, r._change_type) for r in fast] == [(9, "z", "insert")]


@pytest.mark.parametrize("trial", [0, 1, 2])
def test_cdc_family_random_interleavings_converge(spark, root, tmp_path, trial):
    """Property: for RANDOM change sets under RANDOM batch splits, the
    SCD1 apply converges to latest-per-key and the SCD2 sink to the
    interval recompute — the algebraic out-of-order claims checked
    against a Python ground truth, not a hand-picked scenario."""
    import random

    from nagios_custom_etl_spark.streaming.ops import (
        cdc_apply_sink,
        cdc_current,
        scd2_cdc_sink,
        scd2_history,
    )

    rnd = random.Random(100 + trial)
    changes = [
        (k, seq, "D" if rnd.random() < 0.25 else "U", f"v{seq}")
        for seq, k in enumerate(rnd.choices(range(12), k=80))
    ]
    sch = "k int, seq long, op string, v string"
    n_batches = rnd.randint(2, 5)
    split = [rnd.randrange(n_batches) for _ in changes]
    batches = [
        [c for c, b in zip(changes, split) if b == i] for i in range(n_batches)
    ]

    # ground truth: SCD1 = latest per key minus tombstones
    last = {}
    for k, seq, op, v in changes:
        if k not in last or seq > last[k][0]:
            last[k] = (seq, op, v)
    want_live = {(k, s, v) for k, (s, op, v) in last.items() if op != "D"}
    sink1 = cdc_apply_sink(root, keys=["k"], seq_col="seq", op_col="op")
    for i, rows in enumerate(batches):
        sink1(spark.createDataFrame(rows or [], sch), i)
    got_live = {(r.k, r.seq, r.v) for r in cdc_current(spark, root).collect()}
    assert got_live == want_live

    # ground truth: SCD2 intervals from the globally ordered event set
    want_hist = set()
    by_key: dict[int, list] = {}
    for k, seq, op, v in changes:
        by_key.setdefault(k, []).append((seq, op, v))
    for k, evs in by_key.items():
        evs.sort()
        for i, (seq, op, v) in enumerate(evs):
            if op == "D":
                continue
            nxt = evs[i + 1][0] if i + 1 < len(evs) else None
            cur = nxt is None  # an open U version is the current one
            want_hist.add((k, seq, nxt, v, cur))
    root2 = str(tmp_path / "scd2tab")
    sink2 = scd2_cdc_sink(root2, key="k", seq_col="seq", op_col="op")
    for i, rows in enumerate(batches):
        sink2(spark.createDataFrame(rows or [], sch), i)
    got_hist = {
        (r.k, r.valid_from, r.valid_to, r.v, r.is_current)
        for r in scd2_history(spark, root2).collect()
    }
    assert got_hist == want_hist


def test_check_constraints_enforced_on_every_writer(spark, root):
    """CHECK constraints gate append, overwrite, merge, and mor_upsert;
    NULLs violate; drop re-allows; the violating batch never lands."""
    from nagios_custom_etl_spark.operators.quality import ExpectationFailed

    df = spark.createDataFrame([(1, 10), (2, 20)], "i int, x int")
    S.append(df, root)
    S.add_check_constraint(spark, root, "x_pos", "x > 0")
    with pytest.raises(ValueError, match="already exists"):
        S.add_check_constraint(spark, root, "x_pos", "x > 0")
    bad = spark.createDataFrame([(3, -1)], "i int, x int")
    nulls = spark.createDataFrame([(4, None)], "i int, x int")
    v_before = S.latest_version(spark, root)
    for batch in (bad, nulls):
        with pytest.raises(ExpectationFailed):
            S.append(batch, root)
        with pytest.raises(ExpectationFailed):
            S.overwrite(batch, root)
        with pytest.raises(ExpectationFailed):
            S.mor_upsert(batch, root, keys=["i"])
    with pytest.raises(ExpectationFailed):
        S.merge_commit(root, bad, keys=["i"])
    assert S.latest_version(spark, root) == v_before  # nothing landed
    assert S.read_snapshot(spark, root).count() == 2
    # add-time scan refuses a constraint existing rows violate
    with pytest.raises(ValueError, match="existing rows violate"):
        S.add_check_constraint(spark, root, "x_big", "x > 15")
    assert S.drop_check_constraint(spark, root, "x_pos")
    S.append(bad, root)  # enforcement gone
    assert S.read_snapshot(spark, root).count() == 3


def test_scd2_change_feed_transitions_and_replay(spark, root, tmp_path):
    """SCD2 CDF (st32): per batch, new version rows emit 'insert', stored
    versions whose interval a late neighbor re-closed emit correcting
    pre/post pairs, redelivered duplicates emit NOTHING; replaying the
    feed (last batch's insert/post per (key, valid_from)) reconstructs
    the stored history exactly; the crash window (feed landed, merge
    not) replays to convergence."""
    from nagios_custom_etl_spark.streaming.ops import scd2_cdc_sink

    chroot = str(tmp_path / "scd2chg")
    sch = "k int, seq long, op string, v string"
    sink = scd2_cdc_sink(root, key="k", seq_col="seq", op_col="op", changes_root=chroot)

    def batch_feed(b):
        return {
            (r.k, r.valid_from, r.valid_to, r._change_type)
            for r in S.read_snapshot(spark, chroot)
            .filter(F.col("_batch_id") == b)
            .collect()
        }

    sink(spark.createDataFrame([(1, 10, "U", "a"), (1, 30, "U", "c")], sch), 0)
    assert batch_feed(0) == {(1, 10, 30, "insert"), (1, 30, None, "insert")}
    # LATE seq-20 event: inserts between, re-closing (1,10)'s interval
    sink(spark.createDataFrame([(1, 20, "U", "b")], sch), 1)
    assert batch_feed(1) == {
        (1, 20, 30, "insert"),
        (1, 10, 30, "update_preimage"),
        (1, 10, 20, "update_postimage"),
    }
    # redelivered duplicate: zero transitions, but the token version lands
    chg_before = S.latest_version(spark, chroot)
    sink(spark.createDataFrame([(1, 20, "U", "b")], sch), 2)
    assert batch_feed(2) == set()
    assert S.latest_version(spark, chroot) == chg_before + 1
    # delete closes the open version AND lands as a stored 'D' event row
    sink(spark.createDataFrame([(1, 40, "D", None)], sch), 3)
    assert batch_feed(3) == {
        (1, 40, None, "insert"),
        (1, 30, None, "update_preimage"),
        (1, 30, 40, "update_postimage"),
    }
    # replay of the feed == the stored history, row for row
    from pyspark.sql import Window

    feed = S.read_snapshot(spark, chroot)
    w = Window.partitionBy("k", "valid_from").orderBy(F.desc("_batch_id"))
    recon = (
        feed.filter(F.col("_change_type").isin("insert", "update_postimage"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*S.read_snapshot(spark, root).columns)
    )
    assert recon.exceptAll(S.read_snapshot(spark, root)).isEmpty()
    assert S.read_snapshot(spark, root).exceptAll(recon).isEmpty()
    # crash window: feed for batch 9 landed, merge did not — a raw feed
    # read shows the pending transition; replay converges both tables
    pending = spark.createDataFrame(
        [(7, 5, "U", "x", None, True, "insert", 9)],
        S.read_snapshot(spark, chroot).schema,
    )
    S.append(pending, chroot, txn="scd2-batch-9-chg")
    sink(spark.createDataFrame([(7, 5, "U", "x")], sch), 9)  # recovery
    assert batch_feed(9) == {(7, 5, None, "insert")}  # the planted row, once
    assert {
        (r.k, r.v) for r in S.read_snapshot(spark, root).filter(F.col("k") == 7).collect()
    } == {(7, "x")}


def test_cdc_read_changes_crash_points(spark, root, tmp_path):
    """Visibility gate (st33 unit): enumerate a batch's crash points —
    (a) nothing landed, (b) feed landed / merge not, (c) both — and pin
    that cdc_read_changes NEVER shows a transition the target doesn't
    reflect, while replay converges and stays idempotent."""
    from nagios_custom_etl_spark.streaming.ops import (
        cdc_apply_sink,
        cdc_applied_high_water,
        cdc_read_changes,
    )

    chroot = str(tmp_path / "chg")
    sch = "k int, seq long, op string, v string"
    sink = cdc_apply_sink(
        root, keys=["k"], seq_col="seq", op_col="op", changes_root=chroot
    )
    sink(spark.createDataFrame([(1, 10, "U", "a"), (2, 10, "U", "b")], sch), 0)

    def target_keys():
        return {r.k for r in S.read_snapshot(spark, root).collect()}

    def visible_keys():
        return {
            r.k
            for r in cdc_read_changes(spark, chroot, root)
            .filter(F.col("_change_type").isin("insert", "update_postimage"))
            .collect()
        }

    # crash point (a): batch 1 not started — nothing visible beyond batch 0
    assert cdc_applied_high_water(spark, root, "cdc-batch") == 0
    assert visible_keys() == {1, 2} and visible_keys() <= target_keys()
    # crash point (b): feed landed, merge not — the transition is PENDING:
    # raw feed shows k=3, the gated reader does not, target agrees
    pending = spark.createDataFrame(
        [(3, 10, "U", "c", "insert", 1)], S.read_snapshot(spark, chroot).schema
    )
    S.append(pending, chroot, txn="cdc-batch-1-chg")
    assert 3 in {r.k for r in S.read_snapshot(spark, chroot).collect()}
    assert 3 not in visible_keys()
    assert visible_keys() <= target_keys()
    # crash point (c): recovery replays batch 1 — the feed half is skipped
    # (its token landed), the merge lands, the transition becomes visible
    sink(spark.createDataFrame([(3, 10, "U", "c")], sch), 1)
    assert cdc_applied_high_water(spark, root, "cdc-batch") == 1
    assert 3 in visible_keys() and visible_keys() == target_keys()
    # idempotent: a second replay holds both tables still
    before = (S.latest_version(spark, root), S.latest_version(spark, chroot))
    sink(spark.createDataFrame([(3, 10, "U", "c")], sch), 1)
    assert (S.latest_version(spark, root), S.latest_version(spark, chroot)) == before
    # fresh feed with no applied merge at all: the gate exposes nothing
    root2, chroot2 = str(tmp_path / "t2"), str(tmp_path / "c2")
    S.append(pending, chroot2, txn="cdc-batch-0-chg")
    S.append(_df(spark, 0, 1), root2)  # target exists but no cdc token
    assert cdc_read_changes(spark, chroot2, root2).isEmpty()


def test_cdc_high_water_survives_vacuumed_tokens(spark, root, tmp_path):
    """r11 ADVICE regression: txn tokens live in manifests, so once
    vacuum expires every token-bearing version (the retained versions
    are all later non-CDC commits) the mark used to read as None and a
    fully-applied feed as permanently empty. The sinks' durable
    _cdc_hwm marker (written after each merge, outside _snapshots)
    must keep the mark — and the gate's never-show-pending rule must
    still hold for a feed batch whose merge never landed."""
    from nagios_custom_etl_spark.streaming.ops import (
        cdc_apply_sink,
        cdc_applied_high_water,
        cdc_read_changes,
    )

    chroot = str(tmp_path / "chg")
    sch = "k int, seq long, op string, v string"
    sink = cdc_apply_sink(
        root, keys=["k"], seq_col="seq", op_col="op", changes_root=chroot
    )
    sink(spark.createDataFrame([(1, 10, "U", "a")], sch), 0)
    sink(spark.createDataFrame([(2, 10, "U", "b")], sch), 1)
    assert cdc_applied_high_water(spark, root, "cdc-batch") == 1
    # two non-CDC commits, then vacuum to exactly those: every retained
    # manifest now lacks a cdc token
    S.append(spark.createDataFrame([(9, 99, "U", "z")], sch), root)
    S.append(spark.createDataFrame([(8, 99, "U", "y")], sch), root)
    S.vacuum(spark, root, keep_last=2)
    for v in S._manifest_versions(spark, root):
        assert not (S._read_manifest(spark, root, v).get("txn") or "").startswith(
            "cdc-batch-"
        )
    assert cdc_applied_high_water(spark, root, "cdc-batch") == 1
    applied = cdc_read_changes(spark, chroot, root)
    assert {r.k for r in applied.collect()} == {1, 2}
    # pending-batch rule unchanged: a feed-first crash at batch 2 stays
    # invisible even though the mark now comes from the marker file
    pending = spark.createDataFrame(
        [(3, 10, "U", "c", "insert", 2)], S.read_snapshot(spark, chroot).schema
    )
    S.append(pending, chroot, txn="cdc-batch-2-chg")
    assert {r.k for r in cdc_read_changes(spark, chroot, root).collect()} == {1, 2}
    # recovery replays batch 2: marker advances, transition visible
    sink(spark.createDataFrame([(3, 10, "U", "c")], sch), 2)
    assert cdc_applied_high_water(spark, root, "cdc-batch") == 2
    assert {r.k for r in cdc_read_changes(spark, chroot, root).collect()} == {1, 2, 3}


def _change_rows(df):
    return sorted(
        (r["_change_type"], r["_commit_version"], r["i"], r["s"])
        for r in df.collect()
    )


def test_change_feed_merge_matches_snapshot_diff(spark, root):
    """r11 verdict task 4 (table-level CDF): with the feed enabled, a
    batch MERGE records its transitions ATOMICALLY in the committing
    manifest, appends derive inserts from added files, and per version
    the feed's net effect equals snapshot_diff's content diff (x124 as
    ground truth). Feed replay reproduces the final table."""
    S.set_change_feed(spark, root, True)
    assert S.change_feed_enabled(spark, root)
    S.append(_df(spark, 0, 4), root, stats_cols=["i"])  # v1: derived inserts
    batch = spark.createDataFrame(
        [Row(i=2, s="u2"), Row(i=3, s="u3"), Row(i=9, s="n9")], "i int, s string"
    )
    S.merge_commit(
        root, batch, keys=["i"], prune_on="i",
        when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
    )  # v2: 2 updates + 1 insert, change files recorded
    m2 = S._read_manifest(spark, root, 2)
    assert m2["change_files"] and all(f.startswith("cdc-") for f in m2["change_files"])
    feed = S.read_changes(spark, root, 0)
    v1 = [c for c in _change_rows(feed) if c[1] == 1]
    assert v1 == [("insert", 1, i, f"r{i}") for i in range(4)]
    v2 = [c for c in _change_rows(feed) if c[1] == 2]
    assert v2 == sorted(
        [
            ("insert", 2, 9, "n9"),
            ("update_preimage", 2, 2, "r2"),
            ("update_postimage", 2, 2, "u2"),
            ("update_preimage", 2, 3, "r3"),
            ("update_postimage", 2, 3, "u3"),
        ]
    )
    # x124 ground truth: per version, feed adds == diff inserts and
    # feed removals == diff deletes (multiset)
    diff = S.snapshot_diff(spark, root, 1, 2)
    adds = sorted((r.i, r.s) for r in diff.filter(F.col("_change_type") == "insert").collect())
    dels = sorted((r.i, r.s) for r in diff.filter(F.col("_change_type") == "delete").collect())
    assert adds == sorted((c[2], c[3]) for c in v2 if c[0] in ("insert", "update_postimage"))
    assert dels == sorted((c[2], c[3]) for c in v2 if c[0] in ("update_preimage", "delete"))
    # replay: last transition per key decides presence/value
    import collections

    state: dict = {}
    for ctype, v, i, s in sorted(_change_rows(feed), key=lambda c: c[1]):
        if ctype in ("insert", "update_postimage"):
            state[i] = s
        elif ctype == "delete":
            state.pop(i, None)
    assert sorted(state.items()) == _rows(S.read_snapshot(spark, root))
    del collections


def test_change_feed_mor_paths_and_replay(spark, root):
    """MoR writers with the feed on: mor_delete records `delete` rows
    carrying the OLD values (pre-image read, file-pruned); mor_upsert
    records update pairs + inserts; an all-miss delete records an EMPTY
    feed slice (distinct from unrecorded -> no refusal); replay still
    reproduces the live view."""
    S.set_change_feed(spark, root, True)
    S.append(_df(spark, 0, 5), root, stats_cols=["i"])  # v1
    S.mor_delete(spark.createDataFrame([Row(i=1)]), root, keys=["i"])  # v2
    S.mor_upsert(
        spark.createDataFrame([Row(i=2, s="u2"), Row(i=7, s="n7")], "i int, s string"),
        root, keys=["i"], stats_cols=["i"],
    )  # v3
    S.mor_delete(spark.createDataFrame([Row(i=999)]), root, keys=["i"])  # v4 all-miss
    feed = _change_rows(S.read_changes(spark, root, 1))  # (1, latest]
    assert [c for c in feed if c[1] == 2] == [("delete", 2, 1, "r1")]
    assert [c for c in feed if c[1] == 3] == sorted(
        [
            ("insert", 3, 7, "n7"),
            ("update_preimage", 3, 2, "r2"),
            ("update_postimage", 3, 2, "u2"),
        ]
    )
    assert [c for c in feed if c[1] == 4] == []  # recorded-empty, not refused
    state = {i: s for i, s in _rows(S.read_snapshot(spark, root, 1))}
    for ctype, v, i, s in sorted(feed, key=lambda c: c[1]):
        if ctype in ("insert", "update_postimage"):
            state[i] = s
        elif ctype == "delete":
            state.pop(i, None)
    assert sorted(state.items()) == _rows(S.read_snapshot(spark, root))


def test_change_feed_mor_upsert_duplicate_key_multiplicity(spark, root):
    """r12 ADVICE (low): a target holding DUPLICATE rows for a key
    (plain appends) upserted via mor_upsert must record a feed whose
    MULTISET replay equals the snapshot diff — one update_preimage per
    key (deterministic: lexicographically smallest row) plus N-1
    `delete` rows, one update_postimage."""
    import collections

    S.set_change_feed(spark, root, True)
    S.append(_df(spark, 0, 3), root, stats_cols=["i"])  # v1: i=0,1,2
    S.append(
        spark.createDataFrame(
            [Row(i=1, s="dupA"), Row(i=1, s="dupB")], "i int, s string"
        ),
        root, stats_cols=["i"],
    )  # v2: key 1 now has 3 live rows (r1, dupA, dupB)
    S.mor_upsert(
        spark.createDataFrame([Row(i=1, s="ONE")], "i int, s string"),
        root, keys=["i"], stats_cols=["i"],
    )  # v3
    v3 = [c for c in _change_rows(S.read_changes(spark, root, 2)) if c[1] == 3]
    by_type = collections.Counter(c[0] for c in v3)
    assert by_type == {"update_preimage": 1, "update_postimage": 1, "delete": 2}
    # deterministic pre: the lexicographically smallest matching row
    assert [c for c in v3 if c[0] == "update_preimage"][0][2:] == (1, "dupA")
    assert sorted(c[2:] for c in v3 if c[0] == "delete") == [(1, "dupB"), (1, "r1")]
    # multiset replay over the full feed == final table contents
    state = collections.Counter(_rows(S.read_snapshot(spark, root, 2)))
    for ctype, _v, i, s in v3:
        if ctype in ("insert", "update_postimage"):
            state[(i, s)] += 1
        else:  # delete / update_preimage remove one instance
            state[(i, s)] -= 1
    assert sorted(state.elements()) == _rows(S.read_snapshot(spark, root))


def test_change_feed_across_materializing_compaction(spark, root):
    """r12 verdict task 3: with the feed on, a compaction that
    materializes pending MoR deletes records the killed rows as
    `delete` change files in its own commit — a long-lag feed consumer
    whose range crosses the compaction replays without refusal, and the
    multiset replay equals the final table. Feed-OFF tables keep the
    refusal (no silently wrong feeds)."""
    import collections

    S.set_change_feed(spark, root, True)
    S.append(_df(spark, 0, 5), root, stats_cols=["i"])  # v1
    S.mor_delete(
        spark.createDataFrame([Row(i=1), Row(i=3)]), root, keys=["i"]
    )  # v2: MoR delete (already feeds its pre-images)
    v3 = S.compact(spark, root)  # v3: materializes the deletes
    assert v3 == 3
    m3 = S._read_manifest(spark, root, 3)
    assert m3.get("deletes_materialized") and "change_files" in m3
    S.append(_df(spark, 10, 12), root, stats_cols=["i"])  # v4
    # long-lag consumer: full range crossing the compaction, no refusal
    feed = _change_rows(S.read_changes(spark, root, 0))
    # v3 contributes NOTHING: the killed rows already left the logical
    # table at v2 (mor_delete recorded their pre-images there) — a
    # re-emit at v3 would double-remove on multiset replay
    assert [c for c in feed if c[1] == 3] == []
    # multiset replay over the whole feed equals the final table
    state: collections.Counter = collections.Counter()
    for ctype, _v, i, s in sorted(feed, key=lambda c: c[1]):
        if ctype in ("insert", "update_postimage"):
            state[(i, s)] += 1
        elif ctype in ("delete", "update_preimage"):
            state[(i, s)] -= 1
    assert sorted(state.elements()) == _rows(S.read_snapshot(spark, root))


def test_cdc_inline_feed_atomic_no_window(spark, root, monkeypatch):
    """r12 verdict task 5: cdc_apply_sink(inline_feed=True) records its
    view-semantic transitions as change files of the merge commit
    ITSELF — one txn token covers table and feed, so (1) a replayed
    batch holds both still with a single check, and (2) a batch whose
    merge commit CRASHES leaves no visible feed row at all (the st33
    feed-before-merge window cannot exist by construction: the change
    files are unreachable until the manifest lands)."""
    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink, cdc_current

    ddl = "k int, seq int, op string, v string"
    sink = cdc_apply_sink(root, keys=["k"], seq_col="seq", op_col="op",
                          inline_feed=True)
    sink(spark.createDataFrame([(1, 1, "U", "a"), (2, 1, "U", "b")], ddl), 0)
    sink(
        spark.createDataFrame(
            [(1, 2, "U", "a2"), (2, 2, "D", None), (3, 2, "U", "c")], ddl
        ),
        1,
    )
    feed = S.read_changes(spark, root, 0)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r.k, r.v)
        for r in feed.collect()
    )
    assert rows == [
        (1, "insert", 1, "a"),
        (1, "insert", 2, "b"),
        (2, "delete", 2, "b"),          # winning tombstone carries OLD values
        (2, "insert", 3, "c"),
        (2, "update_postimage", 1, "a2"),
        (2, "update_preimage", 1, "a"),
    ]
    # replay: ONE commit covers table + feed — one version check proves
    # both halves held still
    before = S.latest_version(spark, root)
    sink(spark.createDataFrame([(1, 2, "U", "a2")], ddl), 1)
    assert S.latest_version(spark, root) == before
    # crash: the merge commit dies -> NO feed row becomes visible (the
    # change files were written but no manifest references them)
    real_commit = S._commit

    def dying_commit(spark_, root_, files, op, parent, *a, **kw):
        if op == "merge":
            raise RuntimeError("simulated crash at the commit point")
        return real_commit(spark_, root_, files, op, parent, *a, **kw)

    monkeypatch.setattr(S, "_commit", dying_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink(spark.createDataFrame([(1, 3, "U", "a3")], ddl), 2)
    monkeypatch.setattr(S, "_commit", real_commit)
    assert S.latest_version(spark, root) == before
    assert S.read_changes(spark, root, 0).count() == 6  # nothing leaked
    # crash recovery: re-running the batch lands table + feed together
    sink(spark.createDataFrame([(1, 3, "U", "a3")], ddl), 2)
    v3 = [
        (r["_change_type"], r.k, r.v)
        for r in S.read_changes(spark, root, before).collect()
    ]
    assert sorted(v3) == [
        ("update_postimage", 1, "a3"), ("update_preimage", 1, "a2")
    ]
    assert sorted((r.k, r.v) for r in cdc_current(spark, root).collect()) == [
        (1, "a3"), (3, "c")
    ]


def test_change_feed_derived_ops_refusals_and_vacuum(spark, root):
    """Derived legs (replace_partitions/overwrite file diffs), the
    forward-only enablement refusal, compaction skipping, and vacuum:
    retained versions keep their change files, expired versions'
    change files are reclaimed with them."""
    # committed BEFORE enablement: a row-mutating merge in range refuses
    S.append(_df(spark, 0, 3), root, stats_cols=["i"])  # v1
    S.merge_commit(
        root, spark.createDataFrame([Row(i=0, s="x0")], "i int, s string"),
        keys=["i"], prune_on="i",
        when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
    )  # v2 pre-enable, no change files
    S.set_change_feed(spark, root, True)
    with pytest.raises(ValueError, match="no change files"):
        S.read_changes(spark, root, 0)
    assert _change_rows(S.read_changes(spark, root, 2)) == []  # empty post-enable range is fine
    # overwrite: derived delete+insert from the file diff
    S.overwrite(_df(spark, 10, 12), root, stats_cols=["i"])  # v3
    v3 = _change_rows(S.read_changes(spark, root, 2))
    assert [c for c in v3 if c[0] == "delete"] == [
        ("delete", 3, 0, "x0"), ("delete", 3, 1, "r1"), ("delete", 3, 2, "r2")
    ]
    assert [c for c in v3 if c[0] == "insert"] == [
        ("insert", 3, 10, "r10"), ("insert", 3, 11, "r11")
    ]
    # compaction (row-preserving) contributes nothing
    S.append(_df(spark, 12, 13), root, stats_cols=["i"])  # v4
    S.compact(spark, root)  # v5 replace data_change:false
    assert [c[1] for c in _change_rows(S.read_changes(spark, root, 3))] == [4]
    # merge change files survive vacuum while retained, reclaimed after
    S.merge_commit(
        root, spark.createDataFrame([Row(i=12, s="u12")], "i int, s string"),
        keys=["i"], prune_on="i",
        when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
    )  # v6
    cfiles = S._read_manifest(spark, root, 6)["change_files"]
    assert cfiles
    assert len([c for c in _change_rows(S.read_changes(spark, root, 5)) if c[1] == 6]) == 2
    S.append(_df(spark, 13, 14), root, stats_cols=["i"])  # v7
    S.vacuum(spark, root, keep_last=2)  # keeps v6+v7
    assert all(fsio.exists(spark, f"{root}/{f}") for f in cfiles)
    # a range anchored on a vacuumed version refuses (the file diff
    # needs the anchor manifest), a retained anchor still reads
    with pytest.raises(ValueError, match="vacuumed"):
        S.read_changes(spark, root, 5)
    assert [c[1] for c in _change_rows(S.read_changes(spark, root, 6))] == [7]
    S.append(_df(spark, 14, 15), root, stats_cols=["i"])  # v8
    S.vacuum(spark, root, keep_last=2)  # v6 expires -> its change files go
    assert not any(fsio.exists(spark, f"{root}/{f}") for f in cfiles)
    # disable is forward-only too
    S.set_change_feed(spark, root, False)
    assert not S.change_feed_enabled(spark, root)


def test_multi_read_consistent_cross_table_cut(spark, root, tmp_path):
    """r11 verdict task 6: multi_read pins each table to a cut in which
    every decided cross-table transaction is uniformly included or
    uniformly excluded across the read set — a reader never sees A's
    half of a decided txn without B's (the x132 window, closed by
    reader protocol like st33). Crash points enumerated; normal reads
    (no in-flight txns) are unpinned."""
    rb = str(tmp_path / "tableB")
    S.append(_df(spark, 0, 2), root)          # A v1
    S.append(_df(spark, 100, 102), rb)        # B v1
    # no in-flight txns: pins == latest
    pins = S.multi_read_versions(spark, [root, rb])
    assert pins == {root: 1, rb: 1}
    # decided txn T1, crash after publishing ONLY A
    S.multi_stage([(_df(spark, 2, 3), root), (_df(spark, 102, 103), rb)], "t1")
    fsio.create_text_atomic(
        spark, f"{root}/_snapshots/mtxn-t1.json",
        json.dumps({"txn_id": "t1", "roots": [root, rb]}),
    )
    S.publish_staged(spark, root, "mtxn-t1")  # A v2 = T1's half
    S.append(_df(spark, 3, 4), root)          # A v3 (unrelated later write)
    pins = S.multi_read_versions(spark, [root, rb])
    assert pins == {root: 1, rb: 1}  # A pinned BELOW its T1 half
    dfs = S.multi_read(spark, [root, rb])
    assert _rows(dfs[root]) == [(0, "r0"), (1, "r1")]  # no torn T1
    assert _rows(dfs[rb]) == [(100, "r100"), (101, "r101")]
    # single-table read of A alone is NOT held back by B's missing half
    # (cross-table consistency is a property of the read SET)
    assert S.multi_read_versions(spark, [root])[root] == 3
    # recovery completes T1: the cut advances to include both halves
    assert S.multi_txn_recover(spark, root) == ["t1"]
    pins = S.multi_read_versions(spark, [root, rb])
    assert pins == {root: 3, rb: 2}
    dfs = S.multi_read(spark, [root, rb])
    assert (2, "r2") in _rows(dfs[root]) and (102, "r102") in _rows(dfs[rb])
    # interleaved txns: T2 fully published, then T3 half-published ABOVE
    # T2 on B but BELOW on A — lowering B's pin for T3 must not tear T2
    S.multi_stage([(_df(spark, 4, 5), root), (_df(spark, 104, 105), rb)], "t2")
    S.multi_stage([(_df(spark, 5, 6), root), (_df(spark, 105, 106), rb)], "t3")
    fsio.create_text_atomic(
        spark, f"{root}/_snapshots/mtxn-t3.json",
        json.dumps({"txn_id": "t3", "roots": [root, rb]}),
    )
    S.publish_staged(spark, rb, "mtxn-t2")    # B v3 = T2
    S.publish_staged(spark, rb, "mtxn-t3")    # B v4 = T3 (half: A missing)
    S.publish_staged(spark, root, "mtxn-t2")  # A v4 = T2
    pins = S.multi_read_versions(spark, [root, rb])
    # T3 half forces B <= 3; T2 is then still uniformly included (A v4,
    # B v3) — no cascade needed in this layout
    assert pins == {root: 4, rb: 3}
    dfs = S.multi_read(spark, [root, rb])
    assert (4, "r4") in _rows(dfs[root]) and (104, "r104") in _rows(dfs[rb])
    assert (5, "r5") not in _rows(dfs[root]) and (105, "r105") not in _rows(dfs[rb])
    # cascade case: finish T3 on A, then a NEW half-published T4 lands
    # on A above T3 but T3's B half... (already published) — instead
    # pin-lowering interaction: T4 half on B only, published ABOVE T3
    S.multi_txn_recover(spark, root)  # completes t3 everywhere
    S.multi_stage([(_df(spark, 6, 7), root), (_df(spark, 106, 107), rb)], "t4")
    fsio.create_text_atomic(
        spark, f"{root}/_snapshots/mtxn-t4.json",
        json.dumps({"txn_id": "t4", "roots": [root, rb]}),
    )
    S.publish_staged(spark, rb, "mtxn-t4")
    pins = S.multi_read_versions(spark, [root, rb])
    dfs = S.multi_read(spark, [root, rb])
    # t3 uniformly included, t4 uniformly excluded
    assert (5, "r5") in _rows(dfs[root]) and (105, "r105") in _rows(dfs[rb])
    assert (6, "r6") not in _rows(dfs[root]) and (106, "r106") not in _rows(dfs[rb])


def test_multi_read_coordinator_outside_read_set(spark, root, tmp_path):
    """r12 verdict task 1 + ADVICE (medium): a decided 3-root txn whose
    coordinator record lives under A crashes after publishing B only —
    a reader of [B, C] (coordinator root NOT in the read set) must
    still see a consistent cut. multi_commit now mirrors the decision
    record under EVERY participant root before any publish, so the
    reader's own-roots scan finds it."""
    ra, rb, rc = root, str(tmp_path / "tB"), str(tmp_path / "tC")
    S.append(_df(spark, 0, 2), ra)
    S.append(_df(spark, 100, 102), rb)
    S.append(_df(spark, 200, 202), rc)
    S.multi_stage(
        [(_df(spark, 2, 3), ra), (_df(spark, 102, 103), rb), (_df(spark, 202, 203), rc)],
        "t9",
    )
    # simulate multi_commit crashing after publishing B only: decision
    # record + mirrors (all land before the first publish), then B's half
    rec = {"txn_id": "t9", "roots": [ra, rb, rc]}
    for r in (ra, rb, rc):
        fsio.create_text_atomic(
            spark, f"{r}/_snapshots/mtxn-t9.json", json.dumps(rec)
        )
    S.publish_staged(spark, rb, "mtxn-t9")  # B v2 = t9's half
    pins = S.multi_read_versions(spark, [rb, rc])
    assert pins == {rb: 1, rc: 1}  # B pinned BELOW its half: no torn cut
    dfs = S.multi_read(spark, [rb, rc])
    assert (102, "r102") not in _rows(dfs[rb])
    assert (202, "r202") not in _rows(dfs[rc])
    # recovery from a MIRROR root (not the coordinator) completes t9
    assert S.multi_txn_recover(spark, rb) == ["t9"]
    pins = S.multi_read_versions(spark, [rb, rc])
    assert pins == {rb: 2, rc: 2}
    dfs = S.multi_read(spark, [rb, rc])
    assert (102, "r102") in _rows(dfs[rb]) and (202, "r202") in _rows(dfs[rc])
    # all records retired everywhere
    for r in (ra, rb, rc):
        assert not fsio.exists(spark, f"{r}/_snapshots/mtxn-t9.json")


def test_multi_read_duplicate_alias_spellings_pin_together(spark, root, tmp_path):
    """r13 ADVICE: two read-set spellings normalizing to the same root
    ('a/b' and 'a/b/') are ONE table — a half-published txn must lower
    BOTH spellings' pins (the old last-spelling-wins nmap left the
    duplicate alias reading the torn half)."""
    ra, rb = root, str(tmp_path / "tB")
    S.append(_df(spark, 0, 2), ra)  # A v1
    S.append(_df(spark, 100, 102), rb)  # B v1
    S.multi_stage([(_df(spark, 2, 3), ra), (_df(spark, 102, 103), rb)], "t8")
    rec = {"txn_id": "t8", "roots": [ra, rb]}
    for r in (ra, rb):
        fsio.create_text_atomic(
            spark, f"{r}/_snapshots/mtxn-t8.json", json.dumps(rec)
        )
    S.publish_staged(spark, ra, "mtxn-t8")  # A v2 = the torn half
    alias = ra + "/"
    pins = S.multi_read_versions(spark, [ra, alias, rb])
    assert pins[ra] == pins[alias] == 1 and pins[rb] == 1
    dfs = S.multi_read(spark, [ra, alias, rb])
    assert (2, "r2") not in _rows(dfs[ra])
    assert (2, "r2") not in _rows(dfs[alias])
    # recovery completes the txn; both spellings advance together
    S.multi_txn_recover(spark, ra)
    pins = S.multi_read_versions(spark, [ra, alias, rb])
    assert pins[ra] == pins[alias] == 2 and pins[rb] == 2


def test_mor_upsert_feed_map_column_duplicate_key(spark, root):
    """r13 ADVICE: a table carrying a MAP column (non-orderable) with
    the change feed ON must not fail at analysis time on a
    duplicate-key upsert — the canonical-preimage window orders by
    keys + orderable columns with a to_json tiebreak."""
    df = spark.createDataFrame(
        [Row(i=1, m={"a": 1}), Row(i=1, m={"b": 2}), Row(i=2, m={"c": 3})],
        "i int, m map<string,int>",
    )
    S.append(df, root)
    S.set_change_feed(spark, root, True)
    src = spark.createDataFrame([Row(i=1, m={"z": 9})], "i int, m map<string,int>")
    v = S.mor_upsert(src, root, keys=["i"])
    live = sorted(
        (r.i, sorted(r.m.items())) for r in S.read_snapshot(spark, root).collect()
    )
    assert live == [(1, [("z", 9)]), (2, [("c", 3)])]
    # N=2 duplicate pre-rows: exactly 1 update_preimage + 1 delete + post
    kinds = sorted(
        r["_change_type"] for r in S.read_changes(spark, root, v - 1, v).collect()
    )
    assert kinds == ["delete", "update_postimage", "update_preimage"]


def test_multi_read_pins_over_mor_branch_tag_state(spark, root, tmp_path):
    """r12 verdict task 7: the consistent cut composes with the rest of
    the table state — a participant pinned BELOW a half-published txn
    still reads through its pinned version's pending MoR deletes (the
    anti-join is part of read_snapshot at every version), a tag on the
    pinned version is orthogonal (retention only), and a BRANCH root is
    just another root in the read set (branches are tables)."""
    ra, rb = root, str(tmp_path / "tB")
    S.append(_df(spark, 0, 4), ra, stats_cols=["i"])  # A v1
    S.mor_delete(spark.createDataFrame([Row(i=1)]), ra, keys=["i"])  # A v2
    S.create_tag(spark, ra, "pin2", 2)
    S.append(_df(spark, 100, 102), rb)  # B v1
    # decided txn half-published on A only (coordinator + mirrors land
    # before the publish, the multi_commit contract)
    S.multi_stage([(_df(spark, 50, 51), ra), (_df(spark, 150, 151), rb)], "t7")
    rec = {"txn_id": "t7", "roots": [ra, rb]}
    for r in (ra, rb):
        fsio.create_text_atomic(
            spark, f"{r}/_snapshots/mtxn-t7.json", json.dumps(rec)
        )
    S.publish_staged(spark, ra, "mtxn-t7")  # A v3 = t7's half
    pins = S.multi_read_versions(spark, [ra, rb])
    assert pins == {ra: 2, rb: 1}
    dfs = S.multi_read(spark, [ra, rb])
    # the pinned read of A v2 APPLIES its pending MoR delete (i=1 gone)
    assert _rows(dfs[ra]) == [(0, "r0"), (2, "r2"), (3, "r3")]
    assert _rows(dfs[rb]) == [(100, "r100"), (101, "r101")]
    # recovery advances the cut; MoR state carries through the publish
    S.multi_txn_recover(spark, rb)
    dfs = S.multi_read(spark, [ra, rb])
    assert (50, "r50") in _rows(dfs[ra]) and (1, "r1") not in _rows(dfs[ra])
    assert (150, "r150") in _rows(dfs[rb])
    # a branch root participates like any table (it IS a root)
    S.create_branch(spark, ra, "dev")
    broot = f"{ra}/_branches/dev"
    pins2 = S.multi_read_versions(spark, [broot, rb])
    assert set(pins2) == {broot, rb}
    assert (1, "r1") not in _rows(S.multi_read(spark, [broot, rb])[broot])


def test_multi_read_record_root_spelling_normalized(spark, root, tmp_path):
    """r12 ADVICE: a record whose roots were spelled with a trailing
    slash (or //) must still match the caller's spelling — otherwise a
    decided half-published txn hides from the uniform-inclusion check."""
    rb = str(tmp_path / "tB")
    S.append(_df(spark, 0, 2), root)
    S.append(_df(spark, 100, 102), rb)
    S.multi_stage([(_df(spark, 2, 3), root), (_df(spark, 102, 103), rb)], "t8")
    rec = {"txn_id": "t8", "roots": [root + "/", rb + "//"]}  # odd spellings
    for r in (root, rb):
        fsio.create_text_atomic(
            spark, f"{r}/_snapshots/mtxn-t8.json", json.dumps(rec)
        )
    S.publish_staged(spark, root, "mtxn-t8")  # A's half only
    pins = S.multi_read_versions(spark, [root, rb])
    assert pins == {root: 1, rb: 1}  # pinned despite the spelling skew


def test_rename_column_metadata_only_across_eras(spark, root):
    """Rename is ONE metadata commit: zero data files written, old files
    resolve through the alias chain, new writes use the new name, stats
    re-key so pruning and metadata aggregates answer on the new name,
    and type widening composes with the mapping."""
    S.append(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, qty int"),
        root,
        stats_cols=["qty"],
    )
    m1 = S._read_manifest(spark, root, 1)
    v = S.rename_column(spark, root, "qty", "quantity")
    m2 = S._read_manifest(spark, root, v)
    assert m2["files"] == m1["files"]  # zero-copy: same data files
    assert sorted((r.k, r.quantity) for r in S.read_snapshot(spark, root).collect()) == [
        (1, 10),
        (2, 20),
    ]
    # era 2: new name, WIDER type (bigint) — mapping + widening compose
    S.append(
        spark.createDataFrame([(3, 2**40)], "k int, quantity bigint"),
        root,
        stats_cols=["quantity"],
        evolve=True,
    )
    assert S._schema_types(S._read_manifest(spark, root, v + 1)["schema"]) == {
        "k": "int",
        "quantity": "bigint",
    }
    got = sorted((r.k, r.quantity) for r in S.read_snapshot(spark, root).collect())
    assert got == [(1, 10), (2, 20), (3, 2**40)]
    # stats re-keyed: pruning and metadata SUM answer on the NEW name
    df, planned, total = S.read_snapshot_pruned(spark, root, "quantity", 15, 25)
    assert planned < total
    assert {
        r.k for r in df.filter(F.col("quantity").between(15, 25)).collect()
    } == {2}
    assert S.metadata_sum(spark, root, "quantity") == 30 + 2**40
    # the former name is reserved while old files still carry it
    with pytest.raises(S.SchemaMismatchError, match="former name"):
        S.append(
            spark.createDataFrame([(9, 9)], "k int, qty int"),
            root,
            evolve=True,
        )
    # time travel: the pre-rename version still reads under the OLD name
    assert sorted(
        (r.k, r.qty) for r in S.read_snapshot(spark, root, 1).collect()
    ) == [(1, 10), (2, 20)]


def test_rename_column_refusals(spark, root, tmp_path):
    """Rename refuses name-bound structures a metadata commit cannot
    re-map: partition column, pending MoR delete keys, CHECK-constraint
    references, taken/reserved names."""
    proot = str(tmp_path / "part")
    pdf = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "i int, s string, p int")
    S.append(pdf, proot, partition_by="p")
    with pytest.raises(ValueError, match="partition column"):
        S.rename_column(spark, proot, "p", "bucket")
    S.append(_df(spark, 0, 3), root)
    S.mor_delete(spark.createDataFrame([Row(i=0)]), root, keys=["i"])
    with pytest.raises(ValueError, match="MoR delete key"):
        S.rename_column(spark, root, "i", "id")
    S.compact(spark, root)
    S.add_check_constraint(spark, root, "i_pos", "i >= 0")
    with pytest.raises(ValueError, match="constraint"):
        S.rename_column(spark, root, "i", "id")
    S.drop_check_constraint(spark, root, "i_pos")
    with pytest.raises(ValueError, match="already exists"):
        S.rename_column(spark, root, "i", "s")
    S.rename_column(spark, root, "i", "id")
    with pytest.raises(S.SchemaMismatchError, match="former name"):
        S.rename_column(spark, root, "s", "i")  # old name still reserved


def test_drop_undrop_column_lossless(spark, root):
    """Drop hides the column from every reader while the bytes stay in
    the old files; a during-window append simply lacks it; undrop
    restores the stored values (typed-NULL for the window's files)."""
    S.append(spark.createDataFrame([(1, "x", 5)], "k int, s string, x int"), root)
    v = S.drop_column(spark, root, "x")
    assert S.read_snapshot(spark, root).columns == ["k", "s"]
    # during-window write: the batch legally omits the dropped column
    S.append(spark.createDataFrame([(2, "y")], "k int, s string"), root)
    # the dropped name is reserved against re-adding
    with pytest.raises(S.SchemaMismatchError, match="former name"):
        S.append(
            spark.createDataFrame([(3, "z", 9)], "k int, s string, x int"),
            root,
            evolve=True,
        )
    S.undrop_column(spark, root, "x")
    got = sorted(
        (r.k, r.s, r.x) for r in S.read_snapshot(spark, root).collect()
    )
    assert got == [(1, "x", 5), (2, "y", None)]
    # pre-drop version is untouched; the drop-era version stays hidden
    assert S.read_snapshot(spark, root, 1).columns == ["k", "s", "x"]
    assert S.read_snapshot(spark, root, v).columns == ["k", "s"]
    # metadata queries refuse the hidden column during the window
    S.drop_column(spark, root, "x")
    with pytest.raises(ValueError, match="no recorded stats"):
        S.metadata_minmax(spark, root, "x")


def test_compact_purge_mapping_releases_names(spark, root):
    """compact(purge_mapping=True) — Delta REORG PURGE: the rewrite
    physically drops dropped-column bytes and current-name-ifies every
    file, the published schema loses alias chains and tombstones, the
    former names become reusable, and undrop becomes impossible."""
    S.append(spark.createDataFrame([(1, "a", 5)], "k int, s string, x int"), root)
    S.rename_column(spark, root, "s", "label")
    S.drop_column(spark, root, "x")
    v = S.compact(spark, root, purge_mapping=True)
    assert v is not None
    m = S._read_manifest(spark, root, v)
    assert m["schema"] == [["k", "int"], ["label", "string"]]
    with pytest.raises(ValueError, match="purged|never dropped"):
        S.undrop_column(spark, root, "x")
    # both former names are released for reuse
    S.append(
        spark.createDataFrame([(2, "b", "old-s", 7)], "k int, label string, s string, x int"),
        root,
        evolve=True,
    )
    got = sorted(
        (r.k, r.label, r.s, r.x) for r in S.read_snapshot(spark, root).collect()
    )
    assert got == [(1, "a", None, None), (2, "b", "old-s", 7)]


def test_add_column_with_default(spark, root):
    """add_column(default=): one metadata commit; files written before
    the add — and future batches that omit the column — read the
    default back; a batch that supplies it wins; plain compact keeps
    BOTH the materialized values and the declaration."""
    S.append(spark.createDataFrame([(1,), (2,)], "k int"), root)
    S.add_column(spark, root, "score", "int", default=7)
    assert sorted(
        (r.k, r.score) for r in S.read_snapshot(spark, root).collect()
    ) == [(1, 7), (2, 7)]
    # omitting batch: NO evolve needed (the default fills at read)
    S.append(spark.createDataFrame([(3,)], "k int"), root)
    # supplying batch wins
    S.append(spark.createDataFrame([(4, 99)], "k int, score int"), root)
    expect = [(1, 7), (2, 7), (3, 7), (4, 99)]
    assert sorted(
        (r.k, r.score) for r in S.read_snapshot(spark, root).collect()
    ) == expect
    # compact materializes defaults physically AND keeps the declaration
    S.compact(spark, root)
    assert sorted(
        (r.k, r.score) for r in S.read_snapshot(spark, root).collect()
    ) == expect
    S.append(spark.createDataFrame([(5,)], "k int"), root)
    assert (5, 7) in {
        (r.k, r.score) for r in S.read_snapshot(spark, root).collect()
    }
    # add without default: plain schema evolution, typed-NULL backfill
    S.add_column(spark, root, "note", "string")
    assert {r.note for r in S.read_snapshot(spark, root).collect()} == {None}
    with pytest.raises(ValueError, match="already exists"):
        S.add_column(spark, root, "score", "int")
    with pytest.raises(ValueError, match="JSON scalar"):
        S.add_column(spark, root, "bad", "array<int>", default=[1])


def test_metadata_only_commits_steppable_incrementally(spark, root):
    """read_incremental and the tail source step OVER schema-only
    commits (identical file set, zero rows) — a rename between two
    appends must not break a change-feed consumer; the delta comes back
    in the post-evolution schema."""
    S.append(spark.createDataFrame([(1, 10)], "k int, qty int"), root)  # v1
    S.rename_column(spark, root, "qty", "quantity")  # v2 (metadata only)
    S.append(
        spark.createDataFrame([(2, 20)], "k int, quantity int"), root
    )  # v3
    delta = S.read_incremental(spark, root, since_version=1)
    assert [(r.k, r.quantity) for r in delta.collect()] == [(2, 20)]
    from nagios_custom_etl_spark.sources.snapshot_tail import (
        SnapshotTailStreamReader,
    )

    rd = SnapshotTailStreamReader(
        {"root": root}, "k int, quantity int, _commit_version long"
    )
    parts = rd.partitions({"version": 1}, {"version": 3})
    # bundled partitions (r15): every (path, version) pair must come
    # from the one data-changing commit, v3
    assert parts and all(v == 3 for p in parts for _, v in p.files)


def test_snapshot_tail_resolves_renames_both_directions(spark, root):
    """r11 ADVICE regression: the tail source's read() must resolve
    declared columns through the alias chain like _read_files — a
    post-rename stream tailing PRE-rename data files (and a pre-rename
    stream tailing POST-rename files) gets real values, never silent
    typed-NULL backfill. Driven directly through the DataSource reader
    (partitions() + read()) so both file eras are exercised."""
    from nagios_custom_etl_spark.sources.snapshot_tail import (
        SnapshotTailStreamReader,
    )

    S.append(spark.createDataFrame([(1, 10)], "k int, qty int"), root)  # v1
    S.rename_column(spark, root, "qty", "quantity")  # v2 (metadata only)
    S.append(
        spark.createDataFrame([(2, 20)], "k int, quantity int"), root
    )  # v3

    def drive(ddl, lo, hi):
        rd = SnapshotTailStreamReader({"root": root}, ddl)
        rows = []
        for p in rd.partitions({"version": lo}, {"version": hi}):
            for b in rd.read(p):
                rows.extend(b.to_pylist())
        return sorted(rows, key=lambda r: r["k"])

    # post-rename DDL over BOTH eras' files: the v1 file stores the
    # column under the former name 'qty' — resolved, not NULLed
    got = drive("k int, quantity int", 0, 3)
    assert [(r["k"], r["quantity"]) for r in got] == [(1, 10), (2, 20)]
    # pre-rename DDL over post-rename files: 'qty' resolves through the
    # latest manifest's alias chain to the v3 file's 'quantity'
    got = drive("k int, qty int", 1, 3)
    assert [(r["k"], r["qty"]) for r in got] == [(2, 20)]
    # a genuinely-unknown declared column still typed-NULL backfills
    got = drive("k int, nope int", 0, 3)
    assert [r["nope"] for r in got] == [None, None]
    # a DROPPED column's bytes stay invisible (matches _read_files)
    S.drop_column(spark, root, "quantity")  # v4
    S.append(spark.createDataFrame([(3,)], "k int"), root)  # v5
    got = drive("k int, quantity int", 0, 5)
    assert [r["quantity"] for r in got] == [None, None, None]


def test_compact_small_binpacks_only_slivers(spark, root):
    """compact_small merges ONLY sub-threshold files: right-sized files
    carry byte-identically (reference AND stats), content is invariant,
    the commit is a skippable data_change:false replace, a second run
    converges to a no-op, and pending MoR deletes refuse."""
    S.append(_df(spark, 0, 500).coalesce(1), root, stats_cols=["i"])  # big
    m1 = S._read_manifest(spark, root, 1)
    big_file, = m1["files"]
    assert m1["stats"][big_file]["__bytes"] > 0  # AddFile size recorded
    for lo in (500, 510, 520):  # three slivers
        S.append(_df(spark, lo, lo + 10).coalesce(1), root, stats_cols=["i"])
    m4 = S._read_manifest(spark, root, 4)
    thr = m4["stats"][big_file]["__bytes"]
    v = S.compact_small(spark, root, small_bytes=int(thr))
    m5 = S._read_manifest(spark, root, v)
    assert m5["op"] == "replace" and m5["data_change"] is False
    assert big_file in m5["files"]
    assert m5["stats"][big_file] == m4["stats"][big_file]  # stats carried
    assert len(m5["files"]) < len(m4["files"])
    assert _rows(S.read_snapshot(spark, root)) == [
        (i, f"r{i}") for i in list(range(500)) + list(range(500, 530))
    ]
    # convergent: the merged output is right-sized, nothing left to do
    assert S.compact_small(spark, root, small_bytes=int(thr)) is None
    # incremental reader steps over it (row-preserving by marker)
    inc = S.read_incremental(spark, root, since_version=1, skip_compactions=True)
    assert inc.count() == 30
    # pending MoR deletes refuse the partial rewrite
    S.mor_delete(spark.createDataFrame([Row(i=0)]), root, keys=["i"])
    with pytest.raises(ValueError, match="MoR"):
        S.compact_small(spark, root, small_bytes=int(thr))


def test_compact_small_clustered_zorder(spark, root):
    """r11 verdict task 5 (incremental OPTIMIZE ZORDER BY): compact_small
    (cluster_by=) bin-packs ONLY the sliver files and Z-orders the
    rewritten output — right-sized files carry byte-identically, rows
    are invariant (data_change:false), a 2-D box predicate plans fewer
    files than the scattered slivers did, and a second run is a no-op
    (the progress guard: merging must strictly reduce the file count)."""
    # one big, already-right-sized file (a z-clustered corner) + 8
    # scattered slivers, each spanning the WHOLE 2-D space
    # footer overhead dominates tiny parquet files, so "big" must be big
    # enough in ROWS to clear 2x a 60-row sliver in bytes
    bigdf = spark.createDataFrame(
        [(100000 + i, i % 5, i % 5) for i in range(20000)], "i int, x int, y int"
    ).coalesce(1)
    S.append(bigdf, root, stats_cols=["x", "y"])
    for k in range(8):
        sl = spark.createDataFrame(
            [(k * 100 + j, (k * 100 + j) % 100, ((k * 100 + j) * 37) % 100)
             for j in range(60)],
            "i int, x int, y int",
        ).coalesce(1)
        S.append(sl, root, stats_cols=["x", "y"])
    m = S._read_manifest(spark, root, S.latest_version(spark, root))
    sizes = {f: m["stats"][f]["__bytes"] for f in m["files"]}
    big_file = max(sizes, key=sizes.get)
    slivers = [f for f in m["files"] if f != big_file]
    assert len(slivers) == 8
    # 2x the largest sliver: all 8 are slivers (big stays right-sized at
    # ~6x), and the bin-packing target is ~2 slivers per output — at
    # thr = max+1 the progress guard would correctly no-op (8 -> 8 files)
    thr = 2 * max(sizes[f] for f in slivers)
    assert S.compact_small(
        spark, root, small_bytes=int(max(sizes[f] for f in slivers) + 1),
        cluster_by=["x", "y"],
    ) is None  # the guard: no merge that cannot reduce the file count
    def xyrows(df):
        return sorted((r.i, r.x, r.y) for r in df.collect())

    before = xyrows(S.read_snapshot(spark, root))
    _, planned_before, total_before = S.read_snapshot_pruned_multi(
        spark, root, [("x", 0, 24), ("y", 0, 24)]
    )
    assert planned_before >= 9  # every scattered sliver + the big corner
    v = S.compact_small(spark, root, small_bytes=int(thr), cluster_by=["x", "y"])
    m2 = S._read_manifest(spark, root, v)
    assert m2["data_change"] is False  # layout-only: rows invariant
    assert big_file in m2["files"]  # right-sized file carried untouched
    assert m2["stats"][big_file] == m["stats"][big_file]
    assert xyrows(S.read_snapshot(spark, root)) == before
    # locality: the clustered outputs cover disjoint z-rectangles, so
    # the corner box plans a strict subset of the rewritten files
    _, planned_after, total_after = S.read_snapshot_pruned_multi(
        spark, root, [("x", 0, 24), ("y", 0, 24)]
    )
    n_new = len(m2["files"]) - 1  # minus the carried big file
    assert 1 < n_new < 8  # genuinely bin-packed into fewer, multiple files
    assert planned_after < planned_before
    assert planned_after - 1 < n_new  # box does NOT touch every new file
    # convergence: the progress guard (merge must strictly reduce the
    # file count) bounds the loop — at fixture scale merged parquet
    # shrinks below any byte threshold (footer overhead), so reach the
    # fixpoint and pin that it IS one, rows invariant throughout
    for _ in range(4):
        if S.compact_small(spark, root, small_bytes=int(thr), cluster_by=["x", "y"]) is None:
            break
    assert S.compact_small(spark, root, small_bytes=int(thr), cluster_by=["x", "y"]) is None
    mf = S._read_manifest(spark, root, S.latest_version(spark, root))
    assert big_file in mf["files"] and mf["stats"][big_file] == m["stats"][big_file]
    assert xyrows(S.read_snapshot(spark, root)) == before


def test_ndv_stats_merge_equals_global_and_refusals(spark, root):
    """Per-file register maps max-merge to EXACTLY the one-pass global
    sketch (HLL's algebra), the analyze is incremental and idempotent,
    registers re-key with a column rename, and the read refuses
    unanalyzed files and pending MoR deletes."""
    from nagios_custom_etl_spark.operators.sketches import (
        hll_estimate,
        hll_register_rows,
    )

    df1 = spark.createDataFrame([(i, i % 37) for i in range(300)], "i int, u int")
    df2 = spark.createDataFrame(
        [(i, i % 53) for i in range(300, 600)], "i int, u int"
    )
    S.append(df1, root)
    S.append(df2, root)
    with pytest.raises(ValueError, match="no recorded NDV"):
        S.metadata_distinct(spark, root, "u")
    analyzed = S.record_ndv_stats(spark, root, "u")
    assert analyzed  # every data file got registers
    assert S.record_ndv_stats(spark, root, "u") == []  # idempotent
    est, v_zero = S.metadata_distinct(spark, root, "u")
    # the engine-side sketch over the same rows must agree EXACTLY
    regs = hll_register_rows(
        S.read_snapshot(spark, root).withColumn("g", F.lit(1)), ["g"], "u"
    )
    row = hll_estimate(regs, ["g"]).first()
    assert row["v_zero"] == v_zero and row["est_distinct"] == est
    # rename re-keys the register maps: the answer carries to the new name
    S.rename_column(spark, root, "u", "uid")
    est2, vz2 = S.metadata_distinct(spark, root, "uid")
    assert (est2, vz2) == (est, v_zero)
    # a new unanalyzed append refuses, then analyzes incrementally
    S.append(
        spark.createDataFrame([(999, 999)], "i int, uid int"), root
    )
    with pytest.raises(ValueError, match="no recorded NDV"):
        S.metadata_distinct(spark, root, "uid")
    S.record_ndv_stats(spark, root, "uid")
    est3, _ = S.metadata_distinct(spark, root, "uid")
    assert est3 >= est  # max-merge: the sketch can only grow
    # pending MoR deletes refuse (dead rows baked into file registers)
    S.mor_delete(spark.createDataFrame([Row(i=0)]), root, keys=["i"])
    with pytest.raises(ValueError, match="MoR"):
        S.metadata_distinct(spark, root, "uid")


def test_merge_schema_evolution(spark, root):
    """merge_commit(evolve=True): source ADDS a column (schema grows in
    the same commit; untouched carried files NULL-backfill; matched
    rows take the update expressions), source OMITS a column (inserted
    rows take typed NULLs), and a WIDER key widens the table (x116
    composing with MERGE). The CDC apply sink threads evolve through
    for mid-stream source schema additions."""
    S.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (100, "z")], "k int, v string"),
        root,
        stats_cols=["k"],
    )
    src = spark.createDataFrame([(1, "A", 7), (3, "C", 9)], "k int, v string, w int")
    S.merge_commit(
        root,
        src,
        keys=["k"],
        when_matched_update={c: F.col(f"s.{c}") for c in src.columns},
        prune_on="k",
        evolve=True,
    )
    got = {
        (r.k, r.v, r.w) for r in S.read_snapshot(spark, root).collect()
    }
    assert got == {(1, "A", 7), (2, "b", None), (3, "C", 9), (100, "z", None)}
    # omitting batch inserts typed NULLs
    S.merge_commit(
        root,
        spark.createDataFrame([(4, "d")], "k int, v string"),
        keys=["k"],
        prune_on="k",
        evolve=True,
    )
    assert (4, "d", None) in {
        (r.k, r.v, r.w) for r in S.read_snapshot(spark, root).collect()
    }
    # widening through MERGE: a bigint key batch widens the int table
    S.merge_commit(
        root,
        spark.createDataFrame([(2**40, "big", 1)], "k bigint, v string, w int"),
        keys=["k"],
        prune_on="k",
        evolve=True,
    )
    m = S._read_manifest(spark, root, S.latest_version(spark, root))
    assert S._schema_types(m["schema"])["k"] == "bigint"
    assert (2**40, "big", 1) in {
        (r.k, r.v, r.w) for r in S.read_snapshot(spark, root).collect()
    }
    # CDC apply with a mid-stream source column addition
    from nagios_custom_etl_spark.streaming.ops import cdc_apply_sink, cdc_current

    root2 = root + "_cdc"
    sink = cdc_apply_sink(
        root2, keys=["k"], seq_col="seq", op_col="op", evolve=True
    )
    sink(spark.createDataFrame([(1, 10, "U", "a")], "k int, seq long, op string, v string"), 0)
    sink(
        spark.createDataFrame(
            [(1, 20, "U", "a2", 5), (2, 20, "U", "b", 6)],
            "k int, seq long, op string, v string, extra int",
        ),
        1,
    )
    got2 = {
        (r.k, r.v, r.extra) for r in cdc_current(spark, root2).collect()
    }
    assert got2 == {(1, "a2", 5), (2, "b", 6)}
    # evolve + change feed refuses at construction
    with pytest.raises(ValueError, match="not supported"):
        cdc_apply_sink(
            root2, keys=["k"], seq_col="seq", op_col="op",
            changes_root=root + "_chg", evolve=True,
        )


def test_multi_table_txn_crash_points(spark, root, tmp_path):
    """Two-phase cross-table commit: enumerate the crash points —
    (a) after staging, before the decision: abort reclaims, nothing
    ever visible; (b) after the decision, before any publish;
    (c) between the publishes — recovery completes (b) and (c) from
    the coordinator record, idempotently; abort REFUSES once decided."""
    rb = str(tmp_path / "tableB")
    S.append(_df(spark, 0, 3), root)
    S.append(_df(spark, 100, 103), rb)

    # (a) undecided: presumed abort — no trace, stages reclaimed
    S.multi_stage([(_df(spark, 3, 5), root), (_df(spark, 103, 105), rb)], "u1")
    S.multi_abort(spark, [root, rb], "u1")
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(3)]
    assert S._staged_ids(spark, root) == [] and S._staged_ids(spark, rb) == []

    # (b) decided, zero publishes happened: recovery lands BOTH
    S.multi_stage([(_df(spark, 3, 5), root), (_df(spark, 103, 105), rb)], "d1")
    fsio.create_text_atomic(
        spark,
        f"{root}/_snapshots/mtxn-d1.json",
        json.dumps({"txn_id": "d1", "roots": [root, rb]}),
    )
    # abort refuses a decided txn — in ANY roots order (r11 ADVICE: the
    # record lives under the COMMITTER's first root; a reordered caller
    # must not bypass the guard and reclaim a decided txn's stages)
    with pytest.raises(ValueError, match="decided"):
        S.multi_abort(spark, [root, rb], "d1")
    with pytest.raises(ValueError, match="decided"):
        S.multi_abort(spark, [rb, root], "d1")
    assert S.multi_txn_recover(spark, root) == ["d1"]
    assert _rows(S.read_snapshot(spark, root)) == [(i, f"r{i}") for i in range(5)]
    assert (104, "r104") in _rows(S.read_snapshot(spark, rb))

    # (c) decided, first publish landed, then crash: recovery finishes
    # the second; a second recovery is a no-op (idempotent)
    S.multi_stage([(_df(spark, 5, 6), root), (_df(spark, 105, 106), rb)], "d2")
    fsio.create_text_atomic(
        spark,
        f"{root}/_snapshots/mtxn-d2.json",
        json.dumps({"txn_id": "d2", "roots": [root, rb]}),
    )
    S.publish_staged(spark, root, "mtxn-d2")
    assert (105, "r105") not in _rows(S.read_snapshot(spark, rb))
    assert S.multi_txn_recover(spark, root) == ["d2"]
    assert (105, "r105") in _rows(S.read_snapshot(spark, rb))
    va, vb = S.latest_version(spark, root), S.latest_version(spark, rb)
    assert S.multi_txn_recover(spark, root) == []
    assert (S.latest_version(spark, root), S.latest_version(spark, rb)) == (va, vb)


def test_column_mapping_random_ops_match_model(spark, tmp_path):
    """Model-based randomized property test for the column-mapping
    family (the CDC-convergence convention applied to schema
    evolution): a random interleaving of append / rename / drop /
    undrop / add-with-default / plain compact must read back exactly
    what a pure-Python FIELD-ID model predicts — field identity
    survives renames (the alias chain), files lacking a column read
    its declared default else NULL (pre-add files, omitted-default
    batches, during-drop appends), and a plain compact PHYSICALLY
    erases dropped columns' stored values (undrop afterwards restores
    the default/NULL fill, not the data — the documented loss)."""
    import random

    rnd = random.Random(20260816)
    ABSENT = object()
    for trial in range(2):
        root = str(tmp_path / f"cmprop{trial}")
        fields: dict[int, dict] = {}  # fid -> {name,default?,dropped,drop_name}
        rows: list[dict] = []  # each: {"rid": int, fid: value-or-ABSENT}
        name_seq = [0]
        rid_seq = [0]

        def fresh_name() -> str:
            name_seq[0] += 1
            return f"c{name_seq[0]}"

        def visible():
            return [f for f, m in fields.items() if not m["dropped"]]

        def do_append():
            vis = visible()
            omit = {
                f for f in vis if "default" in fields[f] and rnd.random() < 0.5
            }
            provided = [f for f in vis if f not in omit]
            batch = []
            for _ in range(rnd.randint(1, 3)):
                rid_seq[0] += 1
                vals = {f: rnd.randint(0, 99) for f in provided}
                batch.append((rid_seq[0], vals))
                rows.append({"rid": rid_seq[0], **vals})
            names = ["rid"] + [fields[f]["name"] for f in provided]
            data = [(rid, *[vals[f] for f in provided]) for rid, vals in batch]
            S.append(
                spark.createDataFrame(data, ", ".join(f"{n} int" for n in names)),
                root,
            )

        do_append()  # the table must exist before any DDL
        f0 = 1  # no value fields yet: add one to start
        fields[f0] = {"name": fresh_name(), "dropped": False}
        S.add_column(spark, root, fields[f0]["name"], "int")
        for _ in range(14):
            op = rnd.choice(["append", "append", "rename", "drop", "undrop", "add", "compact"])
            if op == "append":
                do_append()
            elif op == "rename" and visible():
                f = rnd.choice(visible())
                new = fresh_name()
                S.rename_column(spark, root, fields[f]["name"], new)
                fields[f]["name"] = new
            elif op == "drop" and len(visible()) >= 1:
                f = rnd.choice(visible())
                S.drop_column(spark, root, fields[f]["name"])
                fields[f]["dropped"] = True
                fields[f]["drop_name"] = fields[f]["name"]
            elif op == "undrop":
                dropped = [f for f, m in fields.items() if m["dropped"]]
                if not dropped:
                    continue
                f = rnd.choice(dropped)
                S.undrop_column(spark, root, fields[f]["drop_name"])
                fields[f]["dropped"] = False
                fields[f]["name"] = fields[f]["drop_name"]
            elif op == "add":
                f = max(fields) + 1 if fields else 1
                fields[f] = {"name": fresh_name(), "dropped": False}
                if rnd.random() < 0.6:
                    fields[f]["default"] = rnd.randint(100, 199)
                    S.add_column(
                        spark, root, fields[f]["name"], "int",
                        default=fields[f]["default"],
                    )
                else:
                    S.add_column(spark, root, fields[f]["name"], "int")
            elif op == "compact":
                S.compact(spark, root, min_files=0)
                # a plain compact rewrites through the VISIBLE view:
                # dropped columns' stored values are physically gone
                for f, m in fields.items():
                    if m["dropped"]:
                        for r in rows:
                            r.pop(f, None)
        # model read: per row, a visible field reads its stored value,
        # else its declared default, else NULL
        vis = visible()
        want = {
            tuple(
                [r["rid"]]
                + [r.get(f, fields[f].get("default")) for f in vis]
            )
            for r in rows
        }
        got_df = S.read_snapshot(spark, root)
        assert set(got_df.columns) == {"rid"} | {fields[f]["name"] for f in vis}
        names = ["rid"] + [fields[f]["name"] for f in vis]
        got = {tuple(r[n] for n in names) for r in got_df.collect()}
        assert got == want, f"trial {trial}: mismatch"


def test_table_history_and_partitions_report(spark, root, tmp_path):
    """DESCRIBE HISTORY / SHOW PARTITIONS from manifests alone:
    histories surface ops, metadata row counts (None when a file
    predates __rows), tokens and markers; the partitions report types
    values through the schema, UNESCAPES Hive-escaped segments (the
    time-like-value lesson), counts NULL partitions, and refuses
    unpartitioned/MoR-pending tables."""
    S.append(_df(spark, 0, 3), root, txn="t-a")
    S.overwrite(_df(spark, 0, 2), root)
    hist = S.table_history(spark, root)
    assert [(h["version"], h["op"], h["n_rows"], h["txn"]) for h in hist] == [
        (1, "append", 3, "t-a"),
        (2, "overwrite", 2, None),
    ]
    proot = str(tmp_path / "ptab")
    pdf = spark.createDataFrame(
        [(1, "00:00:00"), (2, "00:00:00"), (3, "06:30:00"), (4, None)],
        "i int, hh string",
    )
    S.append(pdf, proot, partition_by="hh")
    rep = S.partitions_report(spark, proot)
    assert [(r["value"], r["n_rows"]) for r in rep] == [
        ("00:00:00", 2),
        ("06:30:00", 1),
        (None, 1),
    ]
    with pytest.raises(ValueError, match="unpartitioned"):
        S.partitions_report(spark, root)
    # r12 verdict task 4 (replacing the r11 refusal): after
    # partition-spec EVOLUTION each file's path self-describes its own
    # era's spec — the report shows BOTH eras' values, each row tagged
    # with its era's column list, never lumping old files into NULL
    eroot = str(tmp_path / "etab")
    S.append(
        spark.createDataFrame([(1, "a", "x")], "i int, p1 string, p2 string"),
        eroot,
        partition_by="p1",
    )
    S.append(
        spark.createDataFrame([(2, "b", "y")], "i int, p1 string, p2 string"),
        eroot,
        partition_by="p2",
        allow_spec_change=True,
    )
    erep = S.partitions_report(spark, eroot)
    assert [(r["spec"], r["value"], r["n_rows"]) for r in erep] == [
        (["p1"], "a", 1),
        (["p2"], "y", 1),
    ]
    S.mor_delete(spark.createDataFrame([Row(i=1)]), proot, keys=["i"])
    with pytest.raises(ValueError, match="MoR"):
        S.partitions_report(spark, proot)


def test_metadata_stats_exact_on_escaped_partition_values(spark, tmp_path):
    """Regression (r11): input_file_name() returns URI-encoded paths, so
    Hive-escaped partition segments ('%3A') came back double-encoded
    and per-file stats landed under phantom keys while the listed files
    took the zero-row fallback — metadata_count silently UNDERCOUNTED
    on any partition value needing escaping. Pin exact counts/sums on a
    time-like string partition."""
    root = str(tmp_path / "esc")
    pdf = spark.createDataFrame(
        [(1, 10, "00:00:00"), (2, 20, "00:00:00"), (3, 30, "06:30:00")],
        "i int, x int, hh string",
    )
    S.append(pdf, root, partition_by="hh", stats_cols=["x"])
    assert S.metadata_count(spark, root) == 3
    assert S.metadata_sum(spark, root, "x") == 60
    assert S.metadata_minmax(spark, root, "x") == (10, 30)
    m = S._read_manifest(spark, root, 1)
    # every listed file has REAL stats; no phantom keys exist
    assert set(m["stats"]) == set(m["files"])
    assert all(s["__rows"] > 0 for s in m["stats"].values())


def test_ndv_stats_partitioned_same_basename_files(spark, tmp_path):
    """Regression (r11 review): a dynamic-partition write reuses the
    same part-NNNNN-<uuid> basename across its col=val dirs — register
    maps must key by manifest-relative path, or registers misattribute
    across partitions. One coalesced task writing two partitions forces
    the collision; the metadata estimate must equal the engine sketch."""
    from nagios_custom_etl_spark.operators.sketches import (
        hll_estimate,
        hll_register_rows,
    )

    root = str(tmp_path / "ndvpart")
    df = spark.createDataFrame(
        [(i, i % 2, i % 41) for i in range(200)], "i int, p int, u int"
    ).coalesce(1)  # ONE task writes BOTH partition dirs: same basename
    S.append(df, root, partition_by="p")
    m = S._read_manifest(spark, root, 1)
    basenames = [f.split("/")[-1] for f in m["files"]]
    assert len(set(basenames)) < len(basenames)  # the collision is real
    S.record_ndv_stats(spark, root, "u")
    est, v_zero = S.metadata_distinct(spark, root, "u")
    regs = hll_register_rows(
        S.read_snapshot(spark, root).withColumn("g", F.lit(1)), ["g"], "u"
    )
    row = hll_estimate(regs, ["g"]).first()
    assert row["v_zero"] == v_zero and row["est_distinct"] == est


def test_merge_evolve_fills_declared_default(spark, root):
    """An evolving merge whose source omits a default-bearing column
    materializes the DEFAULT into inserted rows — byte-for-byte the
    same read an omitting append would produce, not a NULL."""
    S.append(spark.createDataFrame([(1, "a")], "k int, v string"), root)
    S.add_column(spark, root, "score", "int", default=7)
    S.merge_commit(
        root,
        spark.createDataFrame([(2, "b")], "k int, v string"),
        keys=["k"],
        prune_on="k",
        evolve=True,
    )
    got = {(r.k, r.v, r.score) for r in S.read_snapshot(spark, root).collect()}
    assert got == {(1, "a", 7), (2, "b", 7)}


def test_delete_update_where_file_pruned_cow_and_feed(spark, root):
    """r13 verdict task 5 (engine half): predicate DELETE/UPDATE as
    file-pruned COW — untouched files carried by reference, the change
    feed records atomically in the same commit, no-op predicates commit
    nothing, and NULL-predicate rows survive (SQL semantics)."""
    base = spark.range(0, 40).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(4, "i"), root, stats_cols=["i"])  # v1
    S.set_change_feed(spark, root, True)
    m1 = S._read_manifest(spark, root, 1)
    v2 = S.delete_where(spark, root, "i BETWEEN 10 AND 14")
    m2 = S._read_manifest(spark, root, v2)
    # 3 of 4 files untouched: carried by reference (same stats too)
    carried = set(m1["files"]) & set(m2["files"])
    assert len(carried) == 3
    for f in carried:
        assert m2["stats"][f] == m1["stats"][f]
    assert sorted(r.i for r in S.read_snapshot(spark, root).collect()) == [
        i for i in range(40) if not 10 <= i <= 14
    ]
    dels = sorted(
        r.i
        for r in S.read_changes(spark, root, 1, v2)
        .filter(F.col("_change_type") == "delete")
        .collect()
    )
    assert dels == list(range(10, 15))
    v3 = S.update_where(spark, root, {"s": "concat(s, '!')"}, "i = 20")
    rows = sorted(
        (r["_change_type"], r.i, r.s)
        for r in S.read_changes(spark, root, v2, v3).collect()
    )
    assert rows == [
        ("update_postimage", 20, "r20!"),
        ("update_preimage", 20, "r20"),
    ]
    got = {r.s for r in S.read_snapshot(spark, root).filter("i = 20").collect()}
    assert got == {"r20!"}
    # no-op predicate: no commit, same version handed back
    assert S.delete_where(spark, root, "i = 9999") == v3
    assert S.latest_version(spark, root) == v3
    # NULL predicate rows survive a delete (SQL: only TRUE deletes)
    S.append(
        spark.createDataFrame([Row(i=None, s="n")], "i int, s string"), root
    )
    S.delete_where(spark, root, "i < 5")
    left = {r.s for r in S.read_snapshot(spark, root).collect()}
    assert "n" in left and "r0" not in left and "r5" in left
    # UPDATE refuses unknown assignment targets
    with pytest.raises(ValueError, match="unknown column"):
        S.update_where(spark, root, {"zz": "1"}, "i = 20")


def test_mtxn_feed_crash_matrix_exactly_once(spark, tmp_path):
    """r13 verdict task 8: 2PC over a change-feed-enabled participant —
    at EVERY crash point (before any publish / after one participant /
    after publishes but before record retirement) recovery yields the
    staged batch's feed slice exactly once, and re-running recovery
    changes nothing."""
    for i, crash in enumerate(("before_any", "after_one", "before_retire")):
        ra = str(tmp_path / f"a{i}")
        rb = str(tmp_path / f"b{i}")
        S.set_change_feed(spark, ra, True)
        S.append(_df(spark, 0, 3), ra, stats_cols=["i"])  # A v1
        S.append(_df(spark, 100, 103), rb)  # B v1
        S.multi_stage(
            [(_df(spark, 10, 14), ra), (_df(spark, 110, 114), rb)], "tx"
        )
        rec = {"txn_id": "tx", "roots": [ra, rb]}
        for r in (ra, rb):
            fsio.create_text_atomic(
                spark, f"{r}/_snapshots/mtxn-tx.json", json.dumps(rec)
            )
        if crash == "after_one":
            S.publish_staged(spark, rb, "mtxn-tx")
        elif crash == "before_retire":
            S.publish_staged(spark, ra, "mtxn-tx")
            S.publish_staged(spark, rb, "mtxn-tx")
        S.multi_txn_recover(spark, ra)
        # the staged batch's feed slice appears exactly once
        v2 = (
            S.read_changes(spark, ra, 1)
            .filter(F.col("_change_type") == "insert")
            .collect()
        )
        assert sorted(r.i for r in v2) == [10, 11, 12, 13], crash
        # idempotent: recovery from either root changes nothing
        va, nfeed = S.latest_version(spark, ra), len(v2)
        S.multi_txn_recover(spark, rb)
        S.multi_txn_recover(spark, ra)
        assert S.latest_version(spark, ra) == va, crash
        assert S.read_changes(spark, ra, 1).count() == nfeed, crash
        for r in (ra, rb):
            assert not fsio.exists(spark, f"{r}/_snapshots/mtxn-tx.json"), crash
        # the cut is uniform after recovery
        dfs = S.multi_read(spark, [ra, rb])
        assert (10, "r10") in _rows(dfs[ra]) and (110, "r110") in _rows(dfs[rb])


def test_merge_commit_shard_lazy_path(spark, root, monkeypatch):
    """Shard-lazy MERGE (r13 verdict tasks 1-2 on the merge writer): on
    a sharded-checkpoint delta-parent table the merge plans through
    intersecting shards only (strictly fewer checkpoint bytes than full
    reconstruction), commits a DELTA record removing exactly the
    touched files, and the content equals the semantic merge result;
    insert-only merges remove nothing; the feed records atomically."""
    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i"])  # v1
    S.append(_df(spark, 500, 501).coalesce(1), root, stats_cols=["i"])  # v2
    S._ensure_checkpoint(spark, root, 2)
    S.set_change_feed(spark, root, True)
    src = spark.createDataFrame(
        [Row(i=3, s="u3"), Row(i=7, s="u7")], "i int, s string"
    )
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    v3 = S.merge_commit(
        root, src, keys=["i"], prune_on="i",
        when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
    )
    lazy_bytes = S._CKPT_BYTES_READ["n"]
    raw = json.loads(fsio.read_text(spark, S._manifest_path(root, v3)))
    assert raw["format"] == "delta-v1"
    assert len(raw["files_removed"]) == 1  # i=3 and i=7 share one file
    assert raw["files_removed"] == raw.get("stats_del")
    # planning read strictly fewer checkpoint bytes than reconstruction
    S._STATE_CACHE.clear()
    S._CKPT_BYTES_READ["n"] = 0
    m_full = S._read_manifest(spark, root, v3)
    assert 0 < lazy_bytes < S._CKPT_BYTES_READ["n"]
    assert len(m_full["files"]) == 17
    got = dict(_rows(S.read_snapshot(spark, root)))
    assert got[3] == "u3" and got[7] == "u7" and got[8] == "r8"
    assert S.metadata_count(spark, root, version=v3) == 161
    # the feed recorded pre/post pairs atomically in the same commit
    feed = sorted(
        (r["_change_type"], r.i, r.s)
        for r in S.read_changes(spark, root, v3 - 1, v3).collect()
    )
    assert feed == [
        ("update_postimage", 3, "u3"),
        ("update_postimage", 7, "u7"),
        ("update_preimage", 3, "r3"),
        ("update_preimage", 7, "r7"),
    ]
    # insert-only merge (key range beyond every shard envelope): removes
    # nothing, inserts the batch, feed derives at read time
    v4 = S.merge_commit(
        root,
        spark.createDataFrame([Row(i=9999, s="new")], "i int, s string"),
        keys=["i"], prune_on="i",
        when_matched_update={"i": F.col("s.i"), "s": F.col("s.s")},
    )
    raw4 = json.loads(fsio.read_text(spark, S._manifest_path(root, v4)))
    assert raw4["format"] == "delta-v1" and raw4["files_removed"] == []
    ins = sorted(
        r.i for r in S.read_changes(spark, root, v3, v4)
        .filter(F.col("_change_type") == "insert").collect()
    )
    assert ins == [9999]
    assert S.metadata_count(spark, root, version=v4) == 162


def test_distributed_manifest_planning_matches_single_node(
    spark, root, monkeypatch
):
    """Distributed manifest planning (r13 'What's missing' item 2):
    executor tasks parse the intersecting shards and apply the per-file
    check; the driver folds the delta chain, force-emitted re-statted
    members re-decide through their override stats, and the planned set
    is IDENTICAL to the single-node planner's — with refusals for
    unqualified table shapes."""
    from nagios_custom_etl_spark.sources.manifest_scan import (
        plan_files_distributed,
    )

    monkeypatch.setattr(S, "_SHARD_MIN_FILES", 8)
    monkeypatch.setattr(S, "_SHARD_SIZE", 4)
    base = spark.range(0, 160).select(
        F.col("id").cast("int").alias("i"),
        F.concat(F.lit("r"), F.col("id")).alias("s"),
    )
    S.append(base.repartitionByRange(16, "i"), root, stats_cols=["i"])  # v1
    S.append(_df(spark, 500, 501).coalesce(1), root, stats_cols=["i"])  # v2
    S._ensure_checkpoint(spark, root, 2)
    S.append(_df(spark, 600, 601).coalesce(1), root, stats_cols=["i"])  # v3
    # v4: a DELTA that re-stats a checkpoint MEMBER the executors'
    # stale shard view would REJECT — its new range intersects the
    # predicate, so only the force-emit + driver-recheck path can plan
    # it (the resurrection case)
    m3 = S._read_manifest(spark, root, 3)
    victim = next(
        f for f in m3["files"]
        if (s := m3["stats"].get(f, {}).get("i"))
        and s[0] is not None and s[0] >= 100
    )
    hf, _ = S._parent_head(spark, root, 3)
    fsio.create_text_atomic(
        spark,
        S._manifest_path(root, 4),
        json.dumps(
            {
                "format": "delta-v1",
                "base": {
                    **hf, "version": 4, "parent": 3, "op": "record-ndv",
                    "committed_at": 4.0,
                },
                "files_added": [],
                "files_removed": [],
                "stats_set": {
                    victim: {**m3["stats"][victim], "i": [20, 22]}
                },
            }
        ),
    )
    S._STATE_CACHE.clear()
    v = S.latest_version(spark, root)
    assert v == 4
    planned, n_shards, total = plan_files_distributed(
        spark, root, v, [("i", 10, 25)]
    )
    # single-node reference: the exact per-file check over the pruned
    # planning state
    S._STATE_CACHE.clear()
    m = S._plan_pruned_state(spark, root, v, [("i", 10, 25)])
    fstats = m.get("stats", {})

    def keeps(f):
        s = fstats.get(f, {}).get("i")
        if s and s[0] is not None and s[1] is not None:
            return not (s[1] < 10 or s[0] > 25)
        return True

    expect = sorted(f for f in m["files"] if keeps(f))
    assert planned == expect
    assert 0 < n_shards < 5  # envelope exclusion happened driver-side
    assert total == m["_files_total"] == 18
    # the planned set actually reads correctly
    df = S._read_files(spark, root, planned, m.get("schema"))
    got = sorted(r.i for r in df.filter(F.col("i").between(10, 25)).collect())
    assert got == list(range(10, 26))
    # refusals: full-manifest base / pending MoR deletes fall back
    r2 = root + "_plain"
    S.append(_df(spark, 0, 4), r2)
    with pytest.raises(ValueError, match="sharded checkpoint"):
        plan_files_distributed(spark, r2, 1, [("i", 0, 1)])
    S.mor_delete(spark.createDataFrame([Row(i=3)]), root, keys=["i"])
    # checkpoint the MoR-pending version so the walk reaches a sharded
    # base whose fields carry the pending deletes — the MoR refusal
    S._ensure_checkpoint(spark, root, S.latest_version(spark, root))
    with pytest.raises(ValueError, match="MoR"):
        plan_files_distributed(
            spark, root, S.latest_version(spark, root), [("i", 0, 1)]
        )


# --- positional deletion vectors (x154) ---------------------------------------


def _dvt(spark, lo, hi):
    return spark.createDataFrame(
        [Row(k=i, g=i % 4, v=f"r{i}") for i in range(lo, hi)],
        "k int, g int, v string",
    )


def test_dv_delete_basic_exact_count_and_noop(spark, root):
    S.append(_dvt(spark, 0, 40).coalesce(1), root, stats_cols=["k"])
    S.append(_dvt(spark, 40, 80).coalesce(1), root, stats_cols=["k"])
    files_before = S._read_manifest(spark, root, 2)["files"]
    v3 = S.dv_delete(spark, root, "k % 5 = 0")
    assert v3 == 3
    m = S._read_manifest(spark, root, v3)
    # no data file rewritten: the file list is byte-identical
    assert m["files"] == files_before
    assert [e for e in m["deletes"] if e.get("pos")]
    got = sorted(r.k for r in S.read_snapshot(spark, root).collect())
    assert got == [i for i in range(80) if i % 5 != 0]
    # metadata count stays EXACT on DV-pending tables
    assert S.metadata_count(spark, root) == len(got)
    # overlapping second DV never re-deletes a dead position: counts
    # stay additive and the metadata count stays exact
    v4 = S.dv_delete(spark, root, "g = 0")  # overlaps k%5=0 on k%20==0
    live = [i for i in range(80) if i % 5 != 0 and i % 4 != 0]
    assert sorted(r.k for r in S.read_snapshot(spark, root).collect()) == live
    assert S.metadata_count(spark, root) == len(live)
    # no-match predicate: a NO-OP, no version committed
    assert S.dv_delete(spark, root, "k = -1") == v4
    assert S.latest_version(spark, root) == v4
    # time travel: the pre-DV snapshot still reads every row
    assert S.read_snapshot(spark, root, 2).count() == 80


def test_dv_delete_hive_escaped_partition_values(spark, root):
    # the input_file_name/_file_stats lesson: partition segments with
    # chars Spark Hive-escapes (':' -> '%3A') must round-trip through
    # the DV path join (url-encoding on _metadata.file_path)
    df = spark.createDataFrame(
        [Row(k=i, hh=f"{i % 2:02d}:00:00", v=i * 10) for i in range(20)],
        "k int, hh string, v int",
    )
    S.append(df.coalesce(1), root, stats_cols=["k"], partition_by="hh")
    S.dv_delete(spark, root, "k % 3 = 0")
    got = sorted(r.k for r in S.read_snapshot(spark, root).collect())
    assert got == [i for i in range(20) if i % 3 != 0]
    assert S.metadata_count(spark, root) == len(got)


def test_dv_delete_coexists_with_equality_mor(spark, root):
    S.append(_dvt(spark, 0, 30).coalesce(1), root, stats_cols=["k"])
    S.dv_delete(spark, root, "k % 7 = 0")
    S.mor_delete(
        spark.createDataFrame([Row(k=3), Row(k=10)], "k int"), root, ["k"]
    )
    live = [i for i in range(30) if i % 7 != 0 and i not in (3, 10)]
    assert sorted(r.k for r in S.read_snapshot(spark, root).collect()) == live
    # equality entries pending: count refuses (their cardinality is
    # unrecorded), minmax refuses on ANY pending delete
    with pytest.raises(ValueError, match="pending MoR"):
        S.metadata_count(spark, root)
    with pytest.raises(ValueError, match="pending MoR"):
        S.metadata_minmax(spark, root, "k")
    # dv_delete over a table with pending equality deletes: positions
    # computed on the live view (a dead key can't match again)
    S.dv_delete(spark, root, "g = 1")
    live2 = [i for i in live if i % 4 != 1]
    assert sorted(r.k for r in S.read_snapshot(spark, root).collect()) == live2


def test_dv_delete_append_after_and_compact_materializes(spark, root):
    S.set_change_feed(spark, root, True)
    S.append(_dvt(spark, 0, 25).coalesce(1), root, stats_cols=["k"])
    S.dv_delete(spark, root, "g = 2")
    # an append after the DV: new files are untargeted, their rows
    # survive any predicate overlap, and the exact count still holds
    S.append(_dvt(spark, 100, 110).coalesce(1), root, stats_cols=["k"])
    live = [i for i in range(25) if i % 4 != 2] + list(range(100, 110))
    assert sorted(r.k for r in S.read_snapshot(spark, root).collect()) == live
    assert S.metadata_count(spark, root) == len(live)
    # the DV'd rows fed their pre-images at the dv-delete commit
    ch = S.read_changes(spark, root, 1, 2)
    assert sorted(r.k for r in ch.collect()) == [
        i for i in range(25) if i % 4 == 2
    ]
    assert set(r._change_type for r in ch.collect()) == {"delete"}
    # compact materializes the survivors, clears the list, and records
    # an EMPTY feed contribution (logically row-preserving — x142)
    vc = S.compact(spark, root)
    mc = S._read_manifest(spark, root, vc)
    assert not mc.get("deletes")
    assert mc.get("change_files") == []
    assert sorted(r.k for r in S.read_snapshot(spark, root).collect()) == live
    assert S.metadata_count(spark, root) == len(live)


def test_dv_delete_refusals_and_carriers(spark, root):
    S.append(_dvt(spark, 0, 10).coalesce(1), root, stats_cols=["k"])
    S.append(_dvt(spark, 10, 20).coalesce(1), root, stats_cols=["k"])
    S.dv_delete(spark, root, "k = 5 OR k = 15")  # one entry, both files
    # branches refuse DV-pending sources (root-relative target paths)
    with pytest.raises(ValueError, match="positional"):
        S.create_branch(spark, root, "b1")
    # incremental readers refuse stepping over a dv-delete (row-
    # mutating, no file diff — silently stepping would be wrong)
    with pytest.raises(ValueError, match="not append"):
        S.read_incremental(spark, root, 2, 3)
    # a COW merge that rewrites ONE targeted file (key-pruned to the
    # second): the read stays exact — the rewrite materialized the
    # second file's DV part, the first file's still applies — but the
    # metadata count refuses (a target left the file list, so the
    # entry's recorded cardinality no longer matches live rows)
    src = spark.createDataFrame([Row(k=12, g=0, v="upd")], "k int, g int, v string")
    S.merge_commit(
        root, src, keys=["k"], prune_on="k",
        when_matched_update={"k": F.col("s.k"), "g": F.col("s.g"), "v": F.col("s.v")},
    )
    rows = {r.k: r.v for r in S.read_snapshot(spark, root).collect()}
    assert rows[12] == "upd" and 5 not in rows and 15 not in rows
    assert len(rows) == 18
    with pytest.raises(ValueError, match="rewritten"):
        S.metadata_count(spark, root)
    # a FULL rewrite (compact) materializes everything: exact again
    S.compact(spark, root)
    assert S.metadata_count(spark, root) == 18


def test_dv_delete_branch_root_refused_and_vacuum_keeps_dv_files(spark, root):
    S.append(_dvt(spark, 0, 12).coalesce(1), root, stats_cols=["k"])
    S.create_branch(spark, root, "b")
    broot = f"{root}/_branches/b"
    with pytest.raises(ValueError, match="branch root"):
        S.dv_delete(spark, broot, "k = 1")
    v2 = S.dv_delete(spark, root, "k % 2 = 0")
    S.append(_dvt(spark, 20, 24).coalesce(1), root, stats_cols=["k"])
    # vacuum to the DV version: its position files must survive
    S.vacuum(spark, root, keep_last=2)
    assert sorted(r.k for r in S.read_snapshot(spark, root, v2).collect()) == [
        1, 3, 5, 7, 9, 11
    ]


def test_dv_update_positions_plus_new_rows_only(spark, root):
    S.set_change_feed(spark, root, True)
    S.append(_dvt(spark, 0, 30).coalesce(1), root, stats_cols=["k"])
    files_before = S._read_manifest(spark, root, 1)["files"]
    v2 = S.dv_update(spark, root, "g = 1", {"v": "concat(v, '!')"})
    m = S._read_manifest(spark, root, v2)
    # old files untouched; exactly the updated rows landed as new files
    assert set(files_before) <= set(m["files"])
    rows = {r.k: r.v for r in S.read_snapshot(spark, root).collect()}
    assert len(rows) == 30
    for i in range(30):
        assert rows[i] == (f"r{i}!" if i % 4 == 1 else f"r{i}")
    # metadata count exact through the update (old − positions + new)
    assert S.metadata_count(spark, root) == 30
    # feed: pre/post pairs recorded atomically
    ch = S.read_changes(spark, root, 1, v2)
    pre = sorted(r.k for r in ch.filter(F.col("_change_type") == "update_preimage").collect())
    post = [(r.k, r.v) for r in ch.filter(F.col("_change_type") == "update_postimage").collect()]
    assert pre == [i for i in range(30) if i % 4 == 1]
    assert all(v.endswith("!") for _, v in post) and len(post) == len(pre)
    # no-op predicate: nothing commits
    assert S.dv_update(spark, root, "k = -5", {"v": "'x'"}) == v2
    # SET guards: unknown columns refuse
    with pytest.raises(ValueError, match="not table columns"):
        S.dv_update(spark, root, "k = 1", {"nope": "'x'"})


def test_dv_update_partition_move_and_eq_delete_interplay(spark, root):
    # updating the partition column legally moves rows across col=val
    # dirs; a pending EQUALITY delete (lower seq) must not eat the
    # rewritten rows (they carry the update commit's seq)
    df = spark.createDataFrame(
        [Row(k=i, p="a" if i < 6 else "b", v=i) for i in range(12)],
        "k int, p string, v int",
    )
    S.append(df.coalesce(1), root, stats_cols=["k"], partition_by="p")
    S.mor_delete(
        spark.createDataFrame([Row(k=2), Row(k=7)], "k int"), root, ["k"]
    )  # v2: equality entry at seq 2
    v3 = S.dv_update(spark, root, "k >= 9", {"p": "'c'"})
    got = {(r.k, r.p) for r in S.read_snapshot(spark, root).collect()}
    expect = {
        (i, "a" if i < 6 else "b") for i in range(9) if i not in (2, 7)
    } | {(i, "c") for i in range(9, 12)}
    assert got == expect
    # partition pruning still sound: 'c' rows live under p=c dirs
    m = S._read_manifest(spark, root, v3)
    new_files = [f for f in m["files"] if "p=c" in f]
    assert new_files, "updated rows must land under their new partition dir"


def test_table_sql_using_dv_routes(spark, root):
    from nagios_custom_etl_spark.operators.table_sql import table_sql

    S.append(_dvt(spark, 0, 20).coalesce(1), root, stats_cols=["k"])
    files_before = S._read_manifest(spark, root, 1)["files"]
    table_sql(spark, f"DELETE FROM '{root}' WHERE k % 5 = 0 USING DV")
    table_sql(spark, f"UPDATE '{root}' SET v = concat(v, '+') WHERE g = 2 USING DV")
    m = S._read_manifest(spark, root, 3)
    assert set(files_before) <= set(m["files"])  # no data file rewritten
    assert len([e for e in m["deletes"] if e.get("pos")]) == 2
    rows = {r.k: r.v for r in S.read_snapshot(spark, root).collect()}
    assert sorted(rows) == [i for i in range(20) if i % 5 != 0]
    for k, v in rows.items():
        assert v == (f"r{k}+" if k % 4 == 2 else f"r{k}")
    assert S.metadata_count(spark, root) == len(rows)


# --- distributed checkpoint shard writes (x156) -------------------------------


def test_distributed_ckpt_write_byte_identical_to_driver_loop(spark, root):
    saved = (S._SHARD_MIN_FILES, S._SHARD_SIZE, S._DIST_CKPT_MIN_SHARDS)
    S._SHARD_MIN_FILES, S._SHARD_SIZE, S._DIST_CKPT_MIN_SHARDS = 8, 4, 2
    try:
        df = spark.createDataFrame(
            [Row(k=i, v=i * 3) for i in range(64)], "k int, v int"
        )
        S.append(df.repartitionByRange(16, "k"), root, stats_cols=["k"])
        S._DIST_SHARD_WRITES["n"] = 0
        S._ensure_checkpoint(spark, root, 1)
        assert S._DIST_SHARD_WRITES["n"] == 4  # 16 files / 4 per shard
        idx_a = fsio.read_text(spark, S._ckpt_path(root, 1))
        names = [sm["path"] for sm in json.loads(idx_a)["shards"]]
        blobs_a = {
            n: fsio.read_text(spark, f"{S._snap_dir(root)}/{n}") for n in names
        }
        # wipe the checkpoint, rewrite through the DRIVER loop: the
        # pure payload must reproduce the same names and bytes
        fsio.delete(spark, S._ckpt_path(root, 1), recursive=False)
        for n in names:
            fsio.delete(spark, f"{S._snap_dir(root)}/{n}", recursive=False)
        S._DIST_CKPT_MIN_SHARDS = 9999
        S._DIST_SHARD_WRITES["n"] = 0
        S._STATE_CACHE.clear()
        S._write_checkpoint(spark, root, 1)
        assert S._DIST_SHARD_WRITES["n"] == 0  # driver loop this time
        idx_b = fsio.read_text(spark, S._ckpt_path(root, 1))
        assert [sm["path"] for sm in json.loads(idx_b)["shards"]] == names
        for n in names:
            assert fsio.read_text(spark, f"{S._snap_dir(root)}/{n}") == blobs_a[n]
        # the distributed checkpoint serves the index-only fast paths
        assert S.metadata_count(spark, root) == 64
        dfp, n_planned, total = S.read_snapshot_pruned(spark, root, "k", 10, 20)
        assert total == 16 and n_planned < 16
        assert sorted(r.k for r in dfp.filter(F.col("k").between(10, 20)).collect()) == list(range(10, 21))
    finally:
        S._SHARD_MIN_FILES, S._SHARD_SIZE, S._DIST_CKPT_MIN_SHARDS = saved


def test_dv_commit_is_o_of_positions_not_files(spark, root):
    # a DV-only delete on a delta-chain table must commit an O(entry)
    # delta record — no seqs map over the table's files (positional
    # entries are file+position scoped; the equality machinery's seq
    # bookkeeping is not needed until an equality delete mints it)
    df = spark.createDataFrame(
        [Row(k=i, v=i * 2) for i in range(120)], "k int, v int"
    )
    S.append(df.repartitionByRange(12, "k"), root, stats_cols=["k"])
    S.append(df.limit(0).coalesce(1), root, stats_cols=["k"])  # v2: delta
    v3 = S.dv_delete(spark, root, "k % 40 = 7")
    raw = json.loads(fsio.read_text(spark, S._manifest_path(root, v3)))
    assert raw.get("format") == S._DELTA_FORMAT  # not a full manifest
    assert "seqs" not in raw and "seqs" not in raw["base"]
    assert not raw["files_added"] and not raw["files_removed"]
    dels = raw["base"]["deletes"]
    assert len(dels) == 1 and dels[0]["pos"] and dels[0]["count"] == 3
    # an append AFTER the DV stays a slim delta too (_mor_extra carries
    # only the entry list for DV-only parents)
    v4 = S.append(
        spark.createDataFrame([Row(k=500, v=0)], "k int, v int").coalesce(1),
        root, stats_cols=["k"],
    )
    raw4 = json.loads(fsio.read_text(spark, S._manifest_path(root, v4)))
    assert raw4.get("format") == S._DELTA_FORMAT
    assert "seqs" not in raw4 and "seqs" not in raw4["base"]
    assert len(raw4["files_added"]) == 1
    # reconstruction + read still exact across the chain
    S._STATE_CACHE.clear()
    got = sorted(r.k for r in S.read_snapshot(spark, root).collect())
    assert got == [i for i in range(120) if i % 40 != 7] + [500]
    assert S.metadata_count(spark, root) == len(got)


def test_compact_small_dv_aware_partial_materialization(spark, root):
    # a table under constant predicate DML: small DV'd slivers merge
    # with their positions materialized; a big DV'd file keeps its
    # entry (rewritten to only the surviving targets, count recounted)
    S.set_change_feed(spark, root, True)
    big_df = spark.createDataFrame(
        [Row(k=i, v=f"b{i}") for i in range(1000)], "k int, v string"
    )
    S.append(big_df.coalesce(1), root, stats_cols=["k"])  # one big file
    for lo in (2000, 2010, 2020):  # three tiny slivers
        S.append(
            spark.createDataFrame(
                [Row(k=i, v=f"s{i}") for i in range(lo, lo + 10)],
                "k int, v string",
            ).coalesce(1),
            root, stats_cols=["k"],
        )
    S.dv_delete(spark, root, "k % 100 = 1")  # hits big + slivers? k%100==1: big yes (1,101,...), slivers no
    S.dv_delete(spark, root, "k IN (2001, 2011, 2015)")  # sliver positions
    mb = S._read_manifest(spark, root, S.latest_version(spark, root))
    big_file = next(f for f in mb["files"] if (mb["stats"][f]["__bytes"] or 0) > 4000)
    live_before = sorted(
        (r.k, r.v) for r in S.read_snapshot(spark, root).collect()
    )
    n_before = S.metadata_count(spark, root)
    v = S.compact_small(spark, root, small_bytes=4000, min_merge=2)
    assert v is not None
    m = S._read_manifest(spark, root, v)
    assert big_file in m["files"]  # big file untouched
    # entries: the big-file entry survives with only big targets; the
    # sliver-only entry dropped (all targets merged away)
    pos = [e for e in m["deletes"]]
    assert all(e.get("pos") for e in pos) and len(pos) == 1
    assert set(pos[0]["targets"]) == {big_file}
    assert pos[0]["count"] == 10  # k in {1,101,...,901}
    assert m.get("data_change") is True and m.get("deletes_materialized")
    assert m.get("change_files") == []  # recorded-empty feed (x142)
    live_after = sorted(
        (r.k, r.v) for r in S.read_snapshot(spark, root).collect()
    )
    assert live_after == live_before
    assert S.metadata_count(spark, root) == n_before
    # convergent: a second pass with the same threshold does nothing
    # position-related (merged output is right-sized or fewer slivers)
    v2 = S.compact_small(spark, root, small_bytes=4000, min_merge=2)
    if v2 is not None:
        assert sorted(
            (r.k, r.v) for r in S.read_snapshot(spark, root).collect()
        ) == live_before
    # equality deletes still refuse
    S.mor_delete(spark.createDataFrame([Row(k=3)], "k int"), root, ["k"])
    with pytest.raises(ValueError, match="equality"):
        S.compact_small(spark, root, small_bytes=4000)


def test_table_sql_insert_into(spark, root):
    from nagios_custom_etl_spark.operators.table_sql import table_sql

    S.append(_dvt(spark, 0, 5).coalesce(1), root, stats_cols=["k"])
    table_sql(
        spark, f"INSERT INTO '{root}' (k, g, v) VALUES (100, 1, 'x'), (101, 2, 'y')"
    )
    S.read_snapshot(spark, root).createOrReplaceTempView("t_sql_ins")
    table_sql(
        spark,
        f"INSERT INTO '{root}' SELECT k + 200 AS k, g, v FROM t_sql_ins WHERE k >= 100",
    )
    got = sorted(r.k for r in S.read_snapshot(spark, root).collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 300, 301]
    # column-count mismatch refuses before any write
    with pytest.raises(ValueError, match="column list"):
        table_sql(spark, f"INSERT INTO '{root}' (k, g) VALUES (1, 2, 'z')")
    assert S.latest_version(spark, root) == 3


@pytest.mark.parametrize("trial", range(3))
def test_dv_family_random_model(spark, root, trial, tmp_path):
    """Model-based randomized guard for the deletion-vector family: a
    random op sequence (append / dv_delete / dv_update / mor_delete /
    compact_small / compact) against a plain Python dict model. After
    every op the live read must equal the model; metadata_count must be
    EXACT whenever no equality delete is pending (the DV count
    invariant) and must refuse while one is."""
    import random

    rng = random.Random(1000 + trial)
    model: dict[int, tuple[int, int]] = {}  # k -> (g, v)
    next_k = 0
    eq_pending = False
    sub = str(tmp_path / f"dvmodel{trial}")

    def do_append():
        nonlocal next_k
        n = rng.randint(3, 12)
        rows = [Row(k=k, g=k % 5, v=rng.randint(0, 50)) for k in range(next_k, next_k + n)]
        next_k += n
        S.append(
            spark.createDataFrame(rows, "k int, g int, v int").coalesce(1),
            sub, stats_cols=["k"],
        )
        for r in rows:
            model[r.k] = (r.g, r.v)

    do_append()
    ops = ["append", "dv_delete", "dv_update", "mor_delete", "compact_small", "compact"]
    for _ in range(9):
        op = rng.choice(ops)
        if op == "append":
            do_append()
        elif op == "dv_delete":
            m_, r_ = rng.choice([(3, 0), (4, 1), (5, 2), (7, 3)])
            S.dv_delete(spark, sub, f"v % {m_} = {r_}")
            for k in [k for k, (g, v) in model.items() if v % m_ == r_]:
                del model[k]
        elif op == "dv_update":
            m_, r_ = rng.choice([(3, 1), (4, 2), (5, 0)])
            d = rng.randint(1, 9)
            S.dv_update(spark, sub, f"g = {r_} AND v % {m_} = 0", {"v": f"v + {d}"})
            for k, (g, v) in list(model.items()):
                if g == r_ and v % m_ == 0:
                    model[k] = (g, v + d)
        elif op == "mor_delete":
            ks = rng.sample(sorted(model), min(2, len(model))) if model else []
            if not ks:
                continue
            S.mor_delete(
                spark.createDataFrame([Row(k=int(k)) for k in ks], "k int"),
                sub, ["k"],
            )
            for k in ks:
                model.pop(k, None)
            eq_pending = True
        elif op == "compact_small":
            if eq_pending:
                with pytest.raises(ValueError, match="equality"):
                    S.compact_small(spark, sub, small_bytes=1 << 20)
            else:
                S.compact_small(spark, sub, small_bytes=1 << 20)
        elif op == "compact":
            S.compact(spark, sub)
            eq_pending = False
        got = sorted(
            (r.k, r.g, r.v) for r in S.read_snapshot(spark, sub).collect()
        )
        assert got == sorted((k, g, v) for k, (g, v) in model.items()), op
        if eq_pending:
            with pytest.raises(ValueError, match="pending MoR"):
                S.metadata_count(spark, sub)
        else:
            assert S.metadata_count(spark, sub) == len(model), op


# --- driver-written small commits ---------------------------------------------


def _parquet_dirs(root):
    import os

    return sorted(d for d in os.listdir(root) if d.startswith("data-"))


def _group_jobs(spark, tag, fn) -> int:
    """Run ``fn`` under Spark job group ``tag``; the number of jobs it ran."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(tag, tag)
        fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(tag))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_stateful_stream_sink_commits_one_file_per_small_batch(spark, tmp_path):
    """Spark runs every foreachBatch frame of a STATEFUL query without
    AQE, so the sink's rebalance hint alone is a round-robin exchange
    into shuffle.partitions files per commit. A small micro-batch must
    land as ONE file; the trailing no-data batch commits nothing."""
    from nagios_custom_etl_spark.streaming import ops

    land, root = tmp_path / "landing", str(tmp_path / "tab")
    for poll in range(2):  # two ~600-row polls overlapping by 300 rows
        spark.range(1000 + poll * 300, 1600 + poll * 300).selectExpr(
            "concat('h', id % 7) host_name", "id t", "cast(id as double) / 2 value"
        ).repartition(1).write.mode("append").parquet(str(land))
    raw = (
        spark.readStream.schema("host_name string, t bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    keyed = raw.withColumn("ts", F.timestamp_seconds("t")).withColumn(
        "event_id", F.concat_ws("|", "host_name", F.col("t").cast("string"))
    )
    with ops.stream_state_partitions(spark, 4):
        q = (
            ops.cross_run_dedup(keyed).drop("event_id").writeStream
            .foreachBatch(ops.snapshot_append_sink(root))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert S.latest_version(spark, root) == 2
    for v in (1, 2):
        added = S._read_manifest(spark, root, v)["files"][v - 1 :]
        assert len(added) == 1, (v, added)
    assert len(_parquet_dirs(root)) == 2
    got = S.read_snapshot(spark, root)
    assert got.count() == 900 and got.select("t").distinct().count() == 900


def test_sink_no_data_batch_one_job_per_route_commits_nothing(spark, tmp_path):
    """A no-data micro-batch (every route filtered empty) runs exactly ONE
    Spark job per route — the driver write's collect, which stands in for
    an emptiness probe — commits nothing and leaves no data-* dir."""
    from nagios_custom_etl_spark.streaming.ops import snapshot_append_sink

    roots = {r: str(tmp_path / f"t{r}") for r in "abcd"}
    sinks = {r: snapshot_append_sink(root) for r, root in roots.items()}
    batch = spark.range(0, 400).selectExpr(
        "cast(id as int) i", "concat('r', id) s", "substr('abcd', cast(id % 4 as int) + 1, 1) route"
    ).repartition(4).persist()
    try:
        batch.count()
        for r, sink in sinks.items():
            sink(batch.filter(F.col("route") == r).drop("route"), 0)
        dirs = {r: _parquet_dirs(root) for r, root in roots.items()}
        assert all(len(d) == 1 for d in dirs.values()), dirs
        for r, sink in sinks.items():
            jobs = _group_jobs(
                spark, f"no-data-{r}",
                lambda r=r, sink=sink: sink(batch.filter(F.col("route") == "z").drop("route"), 1),
            )
            assert jobs == 1, (r, jobs)
            assert S.latest_version(spark, roots[r]) == 1
            assert _parquet_dirs(roots[r]) == dirs[r]
    finally:
        batch.unpersist()


def test_driver_write_with_float_stats_runs_only_the_collect(spark, tmp_path):
    """A driver-written batch whose stats columns include a double takes
    its stats from the in-memory table too: the whole write is ONE Spark
    job, the collect."""
    df = spark.range(0, 60).selectExpr("cast(id as int) i", "if(id = 3, double('NaN'), id / 7) d")
    out = {}
    jobs = _group_jobs(
        spark, "float-driver-write",
        lambda: out.update(stats=S._write_data_files(
            df, str(tmp_path / "t"), stats_cols=["i", "d"], driver=True
        )[1]),
    )
    assert jobs == 1
    (entry,) = out["stats"].values()
    lo, hi = entry["d"]
    assert entry["__rows"] == 60 and lo == 0.0 and hi != hi  # Spark's NaN-greatest max
    assert "__sum_d" not in entry and entry["__sum_i"] == sum(range(60))


def test_stats_read_jobs_by_listed_bytes(spark, tmp_path, monkeypatch):
    """A Spark write's stats step reads its listed files on the driver
    (zero jobs) when their bytes fit the cap, else in exactly ONE Spark
    job, a task per file."""
    import os

    root = str(tmp_path / "t")
    df = spark.range(0, 300).selectExpr("cast(id as int) i", "id / 3 d").repartition(3)
    files, _ = S._write_data_files(df, root, collect_stats=False)
    listed = [(f, os.path.getsize(f"{root}/{f}")) for f in files]
    sc = spark.sparkContext
    for cap, want in ((S._DRIVER_STATS_MAX_BYTES, 0), (0, 1)):
        monkeypatch.setattr(S, "_DRIVER_STATS_MAX_BYTES", cap)
        out = {}
        jobs = _group_jobs(
            spark, f"stats-step-{cap}",
            lambda: out.update(stats=S._listed_stats(spark, root, listed, ["i", "d"])),
        )
        assert len(files) == 3 and sum(out["stats"][f]["__rows"] for f in files) == 300
        assert jobs == want, cap
    (job,) = sc.statusTracker().getJobIdsForGroup("stats-step-0")
    (stage,) = sc.statusTracker().getJobInfo(job).stageIds
    assert sc.statusTracker().getStageInfo(stage).numTasks == 3


def test_sink_scans_txn_tokens_once_per_batch(spark, root, monkeypatch):
    """The sink checks its batch token once; the private append body it
    commits through must not scan every retained manifest again."""
    from nagios_custom_etl_spark.streaming.ops import snapshot_append_sink

    calls = []
    real = S.txn_version
    monkeypatch.setattr(S, "txn_version", lambda *a: calls.append(a) or real(*a))
    sink = snapshot_append_sink(root)
    for b in range(3):
        sink(_df(spark, b * 3, b * 3 + 3), b)
    assert len(calls) == 3
    assert S.latest_version(spark, root) == 3
    with pytest.raises(ValueError, match="already committed"):
        S.append(_df(spark, 0, 1), root, txn="stream-batch-1")  # public guard kept


def _driver_append(df, root, **kw):
    """Append through the private body with the driver write on, as the
    streaming sink does (the public append is always the Spark write)."""
    return S._append(df, root, driver=True, **kw)


def _spark_written_files(spark, root, v=1) -> bool:
    """Whether every data dir version ``v`` added carries Spark's _SUCCESS."""
    subs = {f.split("/")[0] for f in S._read_manifest(spark, root, v)["files"]}
    return all("_SUCCESS" in fsio.list_names(spark, f"{root}/{d}") for d in subs)


def _spy_collects(monkeypatch, df):
    """Record (rows, Arrow bytes) of every toArrow collect."""
    seen = []
    real = type(df).toArrow

    def spy(self):
        t = real(self)
        seen.append((t.num_rows, t.nbytes))
        return t

    monkeypatch.setattr(type(df), "toArrow", spy)
    return seen


@pytest.mark.parametrize("with_string", [False, True])
def test_over_cap_batch_takes_spark_write_with_equal_files_and_stats(
    spark, tmp_path, monkeypatch, with_string
):
    """With the cap at 10 rows' ceiling, a 500-row batch runs the prefix
    job, sees an 11th row and falls through to the Spark write: every
    row commits, and its files (one rebalanced file, Spark's _SUCCESS)
    and stats equal those of the public append, which always writes
    through Spark. A batch of exactly 10 rows stays on the driver."""
    cols = ["cast(id as int) i", "id * 3 b"] + (["cast(id as string) s"] if with_string else [])
    df = spark.range(0, 500).selectExpr(*cols).repartition(3)
    row = 12 + (4 + S._DRIVER_VAR_ROW_BYTES if with_string else 0)
    a, b = str(tmp_path / "drv"), str(tmp_path / "spk")
    with monkeypatch.context() as m:
        m.setattr(S, "_DRIVER_STATS_MAX_BYTES", 10 * row)
        seen = _spy_collects(m, df)
        _driver_append(df, a, stats_cols=["i", "b"], rebalance=True)
    assert [n for n, _ in seen] == [11]
    S.append(df, b, stats_cols=["i", "b"], rebalance=True)
    assert _spark_written_files(spark, a) and _spark_written_files(spark, b)
    ma, mb = S._read_manifest(spark, a, 1), S._read_manifest(spark, b, 1)
    assert len(ma["files"]) == len(mb["files"]) == 1
    sa, sb = (dict(next(iter(m["stats"].values()))) for m in (ma, mb))
    assert sa.pop("__bytes") > 0 and sb.pop("__bytes") > 0
    assert sa == sb and sa["__rows"] == 500
    assert sorted(map(tuple, S.read_snapshot(spark, a).collect())) == sorted(
        map(tuple, df.collect())
    )
    exact, c = spark.range(0, 10).selectExpr(*cols), str(tmp_path / "exact")
    with monkeypatch.context() as m:  # exactly k rows: still the driver
        m.setattr(S, "_DRIVER_STATS_MAX_BYTES", 10 * row)
        _driver_append(exact, c, stats_cols=["i", "b"], rebalance=True)
    assert not _spark_written_files(spark, c)
    assert S.read_snapshot(spark, c).count() == 10


def test_long_strings_stay_under_cap_and_fall_back(spark, tmp_path, monkeypatch):
    """The prefix is bounded in bytes, not in estimated rows: 40 rows of
    3 KB strings are few enough rows for a 64 KB cap but twice its
    bytes. Each row over the per-row ceiling ships nulled, so the
    driver collects well under the cap, and the batch falls back to the
    Spark write with every row committed. One long row among short ones
    falls back too; all-short rows stay on the driver."""
    cap = 64 * 1024
    long_ = spark.range(40).selectExpr("cast(id as int) i", "repeat(cast(id as string), 3000) s")
    mixed = spark.range(40).selectExpr(
        "cast(id as int) i", "if(id = 17, repeat('x', 3000), concat('v', id)) s"
    )
    short = spark.range(40).selectExpr("cast(id as int) i", "concat('v', id) s")
    assert cap // (8 + S._DRIVER_VAR_ROW_BYTES) > 40
    for name, df, spark_path in (("long", long_, True), ("mixed", mixed, True), ("short", short, False)):
        root = str(tmp_path / name)
        with monkeypatch.context() as m:
            m.setattr(S, "_DRIVER_STATS_MAX_BYTES", cap)
            seen = _spy_collects(m, df)
            _driver_append(df, root, stats_cols=["i"], rebalance=True)
        assert len(seen) == 1 and seen[0][0] == 40, name
        assert seen[0][1] < cap // 4, (name, seen)
        assert _spark_written_files(spark, root) == spark_path, name
        assert sorted(map(tuple, S.read_snapshot(spark, root).collect())) == sorted(
            map(tuple, df.collect())
        ), name


_WIDE_COLS = {
    "i": "cast(id as int)",
    "b": "id * 1000000007",
    "sm": "cast(id as smallint)",
    "ti": "cast(id as tinyint)",
    "f": "cast(id / 3 as float)",
    "d": "case id when 1 then double('NaN') when 2 then double('inf') "
    "when 3 then double('-inf') when 4 then null else id / 7 end",
    "str": "case when id = 5 then null else concat('v', id) end",
    "bo": "id % 2 = 0",
    "dt": "date_add(date'1999-12-30', cast(id as int))",
    "ts": "timestamp_seconds(id * 86401)",
    "tsn": "cast(timestamp_seconds(id * 3601) as timestamp_ntz)",
    "d10": "cast(id / 7 as decimal(10,2))",
    "d30": "cast(id * 1e15 / 7 as decimal(30,2))",
    "arr": "array(id, null, id + 1)",
    "mp": "map(concat('k', id), cast(id as int))",
    "st": "named_struct('x', id, 'y', concat('s', id))",
    "bin": "cast(concat('b', id) as binary)",
}


def test_driver_written_file_matches_spark_written_per_type(
    spark, tmp_path, monkeypatch
):
    """Parity over a planted wide schema, one column type at a time: a
    driver-written file and a Spark-written file of the same batch have
    equal footer fingerprints, equal read_snapshot rows and equal stats
    entries apart from __bytes (numeric columns carry stats; the float
    ones go through the Spark stats job on both sides)."""
    base = spark.range(0, 40).selectExpr(
        "id", *[f"{e} as {c}" for c, e in _WIDE_COLS.items()]
    ).persist()
    numeric = {"i", "b", "sm", "ti", "f", "d"}
    try:
        for c in _WIDE_COLS:
            df = base.select("id", c)
            stats = ["id"] + ([c] if c in numeric else [])
            a, b = str(tmp_path / f"drv-{c}"), str(tmp_path / f"spk-{c}")
            _driver_append(df, a, stats_cols=stats, single_file=True)
            S.append(df, b, stats_cols=stats, single_file=True)
            fa, fb = (S._read_manifest(spark, r, 1)["files"] for r in (a, b))
            assert len(fa) == len(fb) == 1, c
            assert "_SUCCESS" not in fsio.list_names(spark, f"{a}/{fa[0].split('/')[0]}"), c
            assert S._group_schema_fingerprint(a, fa[0].split("/")[0], fa[0]) == (
                S._group_schema_fingerprint(b, fb[0].split("/")[0], fb[0])
            ), c
            ra, rb = S.read_snapshot(spark, a), S.read_snapshot(spark, b)
            assert ra.schema == rb.schema, c
            assert sorted(map(repr, ra.collect())) == sorted(map(repr, rb.collect())), c
            sa = dict(S._read_manifest(spark, a, 1)["stats"][fa[0]])
            sb = dict(S._read_manifest(spark, b, 1)["stats"][fb[0]])
            sa.pop("__bytes"), sb.pop("__bytes")
            assert json.dumps(sa, sort_keys=True) == json.dumps(sb, sort_keys=True), c
    finally:
        base.unpersist()


def test_driver_write_refuses_mixed_timestamps_and_udts(spark, tmp_path):
    """INT96 output would turn a timestamp_ntz into a timestamp, so a
    schema with both kinds (nested ones too) takes the Spark write, as
    does a vector UDT; a single timestamp kind stays on the driver."""
    from pyspark.ml.linalg import Vectors

    ts = "timestamp_seconds(id)"
    ntz = "cast(timestamp_seconds(id) as timestamp_ntz)"
    cases = {
        "both": (f"{ts} a", f"{ntz} b"),
        "nested": (f"{ts} a", f"array(named_struct('x', {ntz})) b"),
        "ts_only": (f"{ts} a",),
        "ntz_only": (f"{ntz} b",),
    }
    for name, cols in cases.items():
        root = str(tmp_path / name)
        df = spark.range(3).selectExpr(*cols)
        _driver_append(df, root, single_file=True)
        (d,) = _parquet_dirs(root)
        spark_path = "_SUCCESS" in fsio.list_names(spark, f"{root}/{d}")
        assert spark_path == (name in ("both", "nested")), name
        assert sorted(map(repr, S.read_snapshot(spark, root).collect())) == sorted(
            map(repr, df.collect())
        ), name
    vec = spark.createDataFrame(
        [(1, Vectors.dense([1.0, 2.0])), (2, Vectors.sparse(2, [1], [3.0]))], ["k", "v"]
    )
    assert S._driver_write_plan(spark, vec.schema) is None
    root = str(tmp_path / "vec")
    (f,), _ = S._write_data_files(vec, root, single_file=True, driver=True)
    assert "_SUCCESS" in fsio.list_names(spark, f"{root}/{f.split('/')[0]}")
    assert sorted(
        (r.k, r.v) for r in spark.read.schema(vec.schema).parquet(f"{root}/{f}").collect()
    ) == sorted((r.k, r.v) for r in vec.collect())


def _scan_legs(df) -> int:
    return df._jdf.queryExecution().analyzed().collectLeaves().size()


def test_scan_legs_split_on_fingerprint_and_coalesce_across_writers(
    spark, tmp_path, monkeypatch
):
    """Scan-leg coalescing keys on each write group's physical footer
    fingerprint: int->bigint-widened and renamed eras plan separate legs,
    while a driver-written and a Spark-written group of the same frame
    coalesce into ONE leg — and every coalesced read equals the union of
    its per-group reads row for row."""
    def check(root, legs, groups):
        df = S.read_snapshot(spark, root)
        assert _scan_legs(df) == legs, root
        coalesced = sorted(tuple(r) for r in df.collect())
        with monkeypatch.context() as m:  # one leg per write group
            m.setattr(S, "_group_schema_fingerprint", lambda root, sub, f: sub)
            split = S.read_snapshot(spark, root)
            assert _scan_legs(split) == groups, root
            assert sorted(tuple(r) for r in split.collect()) == coalesced, root
        return coalesced

    same = str(tmp_path / "same")
    batch = spark.range(0, 50).selectExpr("cast(id as int) k", "concat('v', id) v")
    _driver_append(batch, same, single_file=True)
    S.append(batch, same, single_file=True)  # Spark-written
    _driver_append(batch, same, single_file=True)
    fps = {
        S._group_schema_fingerprint(same, f.split("/")[0], f)
        for f in S._read_manifest(spark, same, 3)["files"]
    }
    assert len(fps) == 1
    assert len(check(same, 1, 3)) == 150

    widened = str(tmp_path / "widened")
    _driver_append(batch, widened, single_file=True)
    S.append(batch.selectExpr("cast(k as bigint) k", "v"), widened, evolve=True, single_file=True)
    S.append(batch, widened, single_file=True)  # int era again: joins leg 1
    assert len(check(widened, 2, 3)) == 150

    renamed = str(tmp_path / "renamed")
    S.append(batch, renamed, single_file=True)
    S.rename_column(spark, renamed, "v", "w")
    S.append(batch.withColumnRenamed("v", "w"), renamed, single_file=True)
    assert len(check(renamed, 2, 2)) == 100


@pytest.mark.parametrize("codec", ["snappy", "zstd", "uncompressed"])
@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_driver_write_follows_writer_confs(spark, tmp_path, monkeypatch, codec, ts_type):
    """The driver file follows the session's parquet writer confs as
    Spark's would: codec (and Spark's file-name infix) and the timestamp
    encoding; under TIMESTAMP_MICROS both timestamp kinds can share it."""
    old = {
        k: spark.conf.get(k)
        for k in ("spark.sql.parquet.compression.codec", "spark.sql.parquet.outputTimestampType")
    }
    spark.conf.set("spark.sql.parquet.compression.codec", codec)
    spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    try:
        cols = ["timestamp_seconds(id * 7919) ts", "id k"]
        if ts_type == "TIMESTAMP_MICROS":
            cols.append("cast(timestamp_seconds(id) as timestamp_ntz) n")
        df = spark.range(20).selectExpr(*cols)
        a, b = str(tmp_path / "drv"), str(tmp_path / "spk")
        _driver_append(df, a, single_file=True)
        S.append(df, b, single_file=True)
        (fa,), (fb,) = (S._read_manifest(spark, r, 1)["files"] for r in (a, b))
        assert "_SUCCESS" not in fsio.list_names(spark, f"{a}/{fa.split('/')[0]}")
        assert fa.split("-c000")[1] == fb.split("-c000")[1]
        assert S._group_schema_fingerprint(a, fa.split("/")[0], fa) == (
            S._group_schema_fingerprint(b, fb.split("/")[0], fb)
        )
        ra, rb = S.read_snapshot(spark, a), S.read_snapshot(spark, b)
        assert ra.schema == rb.schema
        assert sorted(ra.collect()) == sorted(rb.collect())
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_zero_row_driver_append_commits_one_schema_file(spark, root):
    """A zero-row driver-path append (no skip_empty) keeps append's
    result: a committed version listing ONE zero-row file that carries the
    batch's schema."""
    import pyarrow.parquet as pq

    df = spark.range(0).selectExpr("cast(id as int) i", "cast(id as string) s")
    assert _driver_append(df, root, stats_cols=["i"], single_file=True) == 1
    (f,) = S._read_manifest(spark, root, 1)["files"]
    assert "_SUCCESS" not in fsio.list_names(spark, f"{root}/{f.split('/')[0]}")
    assert pq.read_schema(f"{root}/{f}").names == ["i", "s"]
    assert S._read_manifest(spark, root, 1)["stats"][f]["__rows"] == 0
    out = S.read_snapshot(spark, root)
    assert out.schema.simpleString() == "struct<i:int,s:string>" and out.count() == 0
