"""Versioned parquet table (sources/versioned.py): snapshot isolation,
time travel, optimistic commit, keyed merge, vacuum."""

from __future__ import annotations

import os
import uuid

import pytest

from dynamicqueryengine_spark.sources.versioned import (
    vt_count,
    vt_merge,
    vt_read,
    vt_vacuum,
    vt_versions,
    vt_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def _rows(df):
    return {(r["id"], r["v"]) for r in df.collect()}


class TestVersionedTable:
    def test_write_read_and_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t")
        v1 = vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        v2 = vt_write(spark, path, _df(spark, [(3, "c")]), mode="append")
        v3 = vt_write(spark, path, _df(spark, [(9, "z")]), mode="overwrite")
        assert (v1, v2, v3) == (1, 2, 3)
        assert vt_versions(path) == [1, 2, 3]
        # latest = overwrite
        assert _rows(vt_read(spark, path)) == {(9, "z")}
        # time travel to every retained version
        assert _rows(vt_read(spark, path, 1)) == {(1, "a"), (2, "b")}
        assert _rows(vt_read(spark, path, 2)) == {(1, "a"), (2, "b"), (3, "c")}

    def test_merge_upserts_and_keeps_history(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_merge(spark, path, _df(spark, [(2, "B2"), (3, "c")]), ["id"])
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "B2"), (3, "c")}
        # pre-merge snapshot unchanged — snapshot isolation across commits
        assert _rows(vt_read(spark, path, 1)) == {(1, "a"), (2, "b")}

    def test_reader_snapshot_survives_later_commits(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        snap = vt_read(spark, path)  # resolves version 1's file list NOW
        vt_merge(spark, path, _df(spark, [(1, "A2")]), ["id"])
        # the already-resolved reader still sees its snapshot (old files
        # are never modified or deleted by writers)
        assert _rows(snap) == {(1, "a")}

    def test_stale_commit_conflict_surfaces(self, spark, tmp_path):
        """The atomic-create commit must reject a writer holding a stale
        head: writer A reads head=1, writer B commits 2, then A's commit
        of 'version 2' must fail rather than clobber B's."""
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        from dynamicqueryengine_spark.sources.versioned import _commit

        stale_head = vt_versions(path)[-1]  # A reads head = 1
        _commit(path, [], "write", stale_head)  # B commits version 2
        with pytest.raises(FileExistsError):
            _commit(path, [], "write", stale_head)  # A's stale commit

    def test_merge_retries_through_commit_race(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        # pre-claim version 2 with a manifest referencing version 1's
        # data (as a real racing merge would); the merge must lose once,
        # re-read head = 2, and commit as version 3
        from dynamicqueryengine_spark.sources.versioned import (
            _commit,
            _read_manifest,
        )

        _commit(path, _read_manifest(path, 1)["dirs"], "merge", 1)
        v = vt_merge(spark, path, _df(spark, [(2, "b")]), ["id"])
        assert v == 3
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "b")}

    def test_vacuum_drops_only_unreferenced(self, spark, tmp_path):
        # r10 file-granular merge: disjoint-key merges are pure inserts,
        # so every data dir stays referenced by the retained heads —
        # vacuum may only reap rewritten-away FILES (empty part files
        # dropped by the merge classifier), never a referenced dir
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_merge(spark, path, _df(spark, [(2, "b")]), ["id"])
        vt_merge(spark, path, _df(spark, [(3, "c")]), ["id"])
        removed = vt_vacuum(spark, path, keep_last=2)
        assert all("/" in r for r in removed)  # files only, no dirs
        assert vt_versions(path) == [2, 3]
        # both retained versions still fully readable
        assert _rows(vt_read(spark, path, 2)) == {(1, "a"), (2, "b")}
        assert _rows(vt_read(spark, path, 3)) == {(1, "a"), (2, "b"), (3, "c")}
        data_dirs = [n for n in os.listdir(path) if n.startswith("d_")]
        assert len(data_dirs) == 3

    def test_vacuum_reaps_expired_rewrite_dirs(self, spark, tmp_path):
        # overlapping-key merges rewrite the touched file; once the
        # pre-merge version expires, the whole superseded dir is reaped
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_merge(spark, path, _df(spark, [(1, "A2"), (2, "B2")]), ["id"])
        vt_merge(spark, path, _df(spark, [(1, "A3"), (2, "B3")]), ["id"])
        removed = vt_vacuum(spark, path, keep_last=2)
        assert any(r.startswith("d_") and "/" not in r for r in removed)
        assert _rows(vt_read(spark, path)) == {(1, "A3"), (2, "B3")}

    def test_lost_write_race_removes_orphan_dir(self, spark, tmp_path, monkeypatch):
        """vt_write that loses the commit race must clean up its own
        uncommitted data directory (vt_merge already did). The race is
        injected between vt_write's data write and its commit."""
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        before = {n for n in os.listdir(path) if n.startswith("d_")}
        real = V._write_data_dir

        def racy(df, p, **kw):
            d = real(df, p, **kw)
            V._commit(p, [], "write", vt_versions(p)[-1])  # winner lands now
            return d

        monkeypatch.setattr(V, "_write_data_dir", racy)
        with pytest.raises(FileExistsError):
            vt_write(spark, path, _df(spark, [(2, "b")]))
        after = {n for n in os.listdir(path) if n.startswith("d_")}
        assert after == before  # loser's d_* removed, no orphan left

    def test_concurrent_appends_both_land(self, spark, tmp_path, monkeypatch):
        """Blind appends COMMUTE: an append losing the commit race to
        another append must retry against the advanced head (reusing its
        already-written data directory) so both land — versions n+1 and
        n+2, both directories referenced by the final manifest."""
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        real = V._write_data_dir
        injected = []

        def racy(df, p, **kw):
            out = real(df, p, **kw)
            if not injected:  # only the outer (loser) call injects
                injected.append(True)
                vt_write(spark, path, _df(spark, [(2, "winner")]),
                         mode="append")
            return out

        monkeypatch.setattr(V, "_write_data_dir", racy)
        v = vt_write(spark, path, _df(spark, [(3, "loser")]), mode="append")
        assert v == 3  # winner took 2, loser retried and committed 3
        assert vt_versions(path) == [1, 2, 3]
        assert _rows(vt_read(spark, path)) == {
            (1, "a"), (2, "winner"), (3, "loser"),
        }
        # both racing appends' directories are referenced by the head
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        assert len(_read_manifest(path, 3)["dirs"]) == 3
        # no orphans: every d_* on disk is referenced
        on_disk = {n for n in os.listdir(path) if n.startswith("d_")}
        assert on_disk == set(_read_manifest(path, 3)["dirs"])

    def test_concurrent_appends_from_threads(self, spark, tmp_path):
        """The real thing: two threads released together both append;
        whichever loses the manifest create must retry and land. Final
        state holds both row sets regardless of commit order."""
        import threading

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(0, "base")]))
        barrier = threading.Barrier(2)
        errors = []

        def appender(rows):
            try:
                barrier.wait(timeout=60)
                vt_write(spark, path, _df(spark, rows), mode="append")
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        ts = [
            threading.Thread(target=appender, args=([(i, f"t{i}")],))
            for i in (1, 2)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert not errors
        assert vt_versions(path) == [1, 2, 3]
        assert _rows(vt_read(spark, path)) == {
            (0, "base"), (1, "t1"), (2, "t2"),
        }

    def test_append_race_vs_overwrite_raises(
        self, spark, tmp_path, monkeypatch
    ):
        """An append racing a snapshot-REWRITING commit must NOT retry:
        the state it appended onto was replaced. It surfaces
        FileExistsError and removes its orphan directory."""
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        real = V._write_data_dir
        injected = []

        def racy(df, p, **kw):
            out = real(df, p, **kw)
            if not injected:
                injected.append(True)
                monkeypatch.setattr(V, "_write_data_dir", real)
                vt_write(spark, path, _df(spark, [(9, "ow")]),
                         mode="overwrite")
            return out

        monkeypatch.setattr(V, "_write_data_dir", racy)
        before = {n for n in os.listdir(path) if n.startswith("d_")}
        with pytest.raises(FileExistsError):
            vt_write(spark, path, _df(spark, [(3, "app")]), mode="append")
        after = {n for n in os.listdir(path) if n.startswith("d_")}
        # winner's overwrite dir is the only addition; loser left nothing
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        assert after - before == set(_read_manifest(path, 2)["dirs"])
        assert _rows(vt_read(spark, path)) == {(9, "ow")}

    def test_lost_optimize_race_removes_orphan_dir(
        self, spark, tmp_path, monkeypatch
    ):
        """vt_optimize that loses the commit race must clean up its
        rewritten (possibly large) data directory exactly like
        vt_write/vt_merge losers — an orphaned OPTIMIZE output is the
        biggest debris a race can leave."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(i, "x") for i in range(10)]))
        before = {n for n in os.listdir(path) if n.startswith("d_")}
        real = V._write_data_dir

        def racy(df, p, **kw):
            d = real(df, p, **kw)
            V._commit(p, [], "write", vt_versions(p)[-1])  # winner lands now
            return d

        monkeypatch.setattr(V, "_write_data_dir", racy)
        with pytest.raises(FileExistsError):
            vt_optimize(spark, path, ["id"], n_partitions=2)
        after = {n for n in os.listdir(path) if n.startswith("d_")}
        assert after == before

    def test_vt_read_predicate_reaches_parquet_scan(self, spark, tmp_path):
        """The vt_read predicate must not stop at file pruning: the same
        condition is a normal Spark filter, so it must ALSO push into the
        surviving parquet scans (PushedFilters) — manifest stats prune
        files, footer stats then prune row groups inside them."""
        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(i, f"v{i}") for i in range(100)])
        )
        df = vt_read(spark, path, predicate=("id", ">", 90))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "GreaterThan(id,90)" in plan

    def test_history_and_zero_copy_restore(self, spark, tmp_path):
        """vt_restore commits the OLD snapshot's directories as the new
        head without copying data; history (vt_history) records it, the
        restored-away version stays time-travelable, and vacuum keeps
        the restored data alive because the restore manifest references
        it."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_history,
            vt_restore,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_write(spark, path, _df(spark, [(9, "z")]), mode="overwrite")
        n_dirs_before = len(
            [n for n in os.listdir(path) if n.startswith("d_")]
        )
        v3 = vt_restore(spark, path, 1)
        assert v3 == 3
        # zero-copy: no new data directory was written
        assert (
            len([n for n in os.listdir(path) if n.startswith("d_")])
            == n_dirs_before
        )
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "b")}
        assert _rows(vt_read(spark, path, 2)) == {(9, "z")}  # history kept
        hist = vt_history(path)
        assert [h["op"] for h in hist] == ["restore", "overwrite", "overwrite"]
        assert hist[0]["version"] == 3
        # restored data survives vacuum because v3 references v1's dirs
        vt_vacuum(spark, path, keep_last=1, grace_seconds=0)
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "b")}
        # predicate read over the restored head still prunes soundly
        assert _rows(
            vt_read(spark, path, predicate=("id", ">", 1))
        ) == {(2, "b")}

    def test_vacuum_grace_spares_unreferenced_fresh_dirs(self, spark, tmp_path):
        """A d_* directory referenced by NO manifest (a concurrent
        writer's in-flight data) survives vacuum inside the grace
        window, and is collected once the grace is zero."""
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_write(spark, path, _df(spark, [(2, "b")]))
        vt_write(spark, path, _df(spark, [(3, "c")]))
        inflight = os.path.join(path, "d_inflight00000")
        os.makedirs(inflight)
        removed = vt_vacuum(spark, path, keep_last=2)  # default grace
        # version 1's expired-manifest dir goes; the in-flight dir stays
        assert len(removed) == 1
        assert "d_inflight00000" not in removed
        assert os.path.isdir(inflight)
        removed2 = vt_vacuum(spark, path, keep_last=2, grace_seconds=0)
        assert removed2 == ["d_inflight00000"]
        assert not os.path.isdir(inflight)

    def test_data_skipping_prunes_directories(self, spark, tmp_path):
        """A selective predicate read must list FEWER files: directories
        whose manifest min/max stats cannot satisfy the predicate are
        skipped before Spark ever lists them (pinned via inputFiles)."""
        path = str(tmp_path / "t")
        lo = spark.createDataFrame([(i, "lo") for i in range(100)], "id long, v string")
        hi = spark.createDataFrame([(i, "hi") for i in range(1000, 1100)], "id long, v string")
        vt_write(spark, path, lo)
        vt_write(spark, path, hi, mode="append")
        full = vt_read(spark, path)
        assert len(full.inputFiles()) >= 2
        pruned = vt_read(spark, path, predicate=("id", ">=", 1000))
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert pruned.count() == 100
        # identical results to an unpruned filter — pruning is invisible
        unpruned = full.filter("id >= 1000")
        assert {r["id"] for r in pruned.collect()} == {
            r["id"] for r in unpruned.collect()
        }
        # equality predicate inside only the low range
        only_lo = vt_read(spark, path, predicate=("id", "=", 5))
        assert len(only_lo.inputFiles()) < len(full.inputFiles())
        assert only_lo.count() == 1

    def test_data_skipping_all_pruned_keeps_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        out = vt_read(spark, path, predicate=("id", ">", 999))
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["id", "v"]

    def test_string_stats_prune(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "apple"), (2, "berry")]))
        vt_write(spark, path, _df(spark, [(3, "yam"), (4, "zebra")]), mode="append")
        pruned = vt_read(spark, path, predicate=("v", ">=", "yam"))
        full = vt_read(spark, path)
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        assert {r["v"] for r in pruned.collect()} == {"yam", "zebra"}

    def test_checkpoint_head_resolution(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_checkpoint,
            vt_head,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        assert vt_checkpoint(spark, path) == 2
        assert vt_head(path) == 2
        # commits AFTER the checkpoint are found by forward probing
        vt_merge(spark, path, _df(spark, [(3, "c")]), ["id"])
        assert vt_head(path) == 3
        assert _rows(vt_read(spark, path, vt_head(path))) == {
            (1, "a"), (2, "b"), (3, "c")
        }
        # stale checkpoint is advisory only: vacuum away old versions,
        # head still resolves
        vt_vacuum(spark, path, keep_last=1, grace_seconds=0)
        assert vt_head(path) == 3

    def test_head_valid_after_vacuum_breaks_probe_chain(
        self, spark, tmp_path
    ):
        """Checkpoint at v2, commits to v5, vacuum keeps only 4-5: the
        forward probe from v2 hits the missing v3 immediately, so without
        validation vt_head would return the vacuumed v2 (r6 advisor
        finding). It must fall back to the live log — and vacuum refreshes
        the checkpoint so the fast path recovers."""
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            vt_checkpoint,
            vt_head,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        assert vt_checkpoint(spark, path) == 2
        for i in range(3, 6):
            vt_write(spark, path, _df(spark, [(i, "x")]), mode="append")
        vt_vacuum(spark, path, keep_last=2, grace_seconds=0)
        assert vt_versions(path) == [4, 5]
        assert vt_head(path) == 5
        assert _rows(vt_read(spark, path, vt_head(path))) >= {(5, "x")}
        # vacuum refreshed the checkpoint to a live version
        cp = os.path.join(path, "_vlog", "_checkpoint.json")
        with open(cp) as f:
            assert _json.load(f)["version"] == 5

    def test_optimize_file_level_skipping(self, spark, tmp_path):
        """vt_optimize range-clusters the snapshot so per-FILE stats
        become disjoint; a selective read then scans strictly fewer
        files than the total while returning identical rows, and old
        versions stay time-travelable."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_scan_plan,
        )

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(1000)], "id long, v string"
        )
        # interleaved writes: every dir spans the full id range, so
        # dir-level pruning alone can prune nothing
        vt_write(spark, path, df.filter("id % 2 = 0"))
        v2 = vt_write(spark, path, df.filter("id % 2 = 1"), mode="append")
        pre = vt_scan_plan(path, predicate=("id", ">", 900))
        assert pre["dirs_kept"] == pre["dirs_total"]
        v3 = vt_optimize(spark, path, ["id"], n_partitions=8)
        assert v3 == v2 + 1
        plan = vt_scan_plan(path, predicate=("id", ">", 900))
        assert plan["files_total"] > 1
        assert 0 < plan["files_kept"] < plan["files_total"]
        pruned = vt_read(spark, path, predicate=("id", ">", 900))
        assert {r["id"] for r in pruned.collect()} == set(range(901, 1000))
        # full snapshot intact, history intact
        assert vt_read(spark, path).count() == 1000
        assert vt_read(spark, path, v2).count() == 1000
        assert vt_read(spark, path, 1).count() == 500

    def test_statless_files_are_scanned_not_skipped(self, spark, tmp_path):
        """A part file with no harvestable footer stats (here: zero-row
        files from empty partitions) must still be SCANNED — membership
        comes from the manifest's authoritative file list, pruning only
        from stats. Losing such a file would silently drop rows."""
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        # 2 rows across 4 partitions → at least 2 zero-row part files
        df = spark.createDataFrame(
            [(1, "a"), (1000, "z")], "id long, v string"
        ).repartition(4)
        vt_write(spark, path, df)
        plan = vt_scan_plan(path, predicate=("id", ">", 500))
        assert plan["files_total"] >= 2
        # row-carrying file(s) whose range excludes >500 may prune, but
        # the scan must still return the matching row
        assert _rows(vt_read(spark, path, predicate=("id", ">", 500))) == {
            (1000, "z")
        }

    def test_read_delta_incremental_feed(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_read_delta,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_write(spark, path, _df(spark, [(3, "c")]), mode="append")
        vt_write(spark, path, _df(spark, [(4, "d"), (5, "e")]), mode="append")
        assert _rows(vt_read_delta(spark, path, 1, 3)) == {
            (3, "c"), (4, "d"), (5, "e")
        }
        assert _rows(vt_read_delta(spark, path, 2, 3)) == {(4, "d"), (5, "e")}
        # identical versions → empty delta with the snapshot schema
        empty = vt_read_delta(spark, path, 3, 3)
        assert empty.count() == 0
        assert set(empty.columns) == {"id", "v"}
        # non-append ops in the range refuse (caller must full-refresh)
        vt_optimize(spark, path, ["id"], n_partitions=2)
        with pytest.raises(ValueError, match="append-only"):
            vt_read_delta(spark, path, 3, 4)
        vt_merge(spark, path, _df(spark, [(1, "A")]), ["id"])
        with pytest.raises(ValueError, match="append-only"):
            vt_read_delta(spark, path, 4, 5)

    def test_txn_guard_survives_vacuum(self, spark, tmp_path):
        """The exactly-once merge guard must not be voided by vacuum
        (r6 advisor finding): the app → txn-version map is carried
        forward in every manifest, so expiring the manifest that first
        recorded a marker keeps the guard intact."""
        from dynamicqueryengine_spark.sources.versioned import vt_last_txn

        path = str(tmp_path / "t")
        vt_merge(spark, path, _df(spark, [(1, "a")]), ["id"], txn=("app1", 7))
        # several unrelated commits, then vacuum away the txn's manifest
        for i in range(2, 6):
            vt_write(spark, path, _df(spark, [(i, "x")]), mode="append")
        vt_vacuum(spark, path, keep_last=2, grace_seconds=0)
        assert 1 not in vt_versions(path)
        assert vt_last_txn(path, "app1") == 7
        # a replayed producer txn is still an exact no-op
        head = vt_versions(path)[-1]
        assert (
            vt_merge(
                spark, path, _df(spark, [(1, "DUP")]), ["id"], txn=("app1", 7)
            )
            == head
        )
        assert (1, "DUP") not in _rows(vt_read(spark, path))
        # and a NEW txn still applies and records the higher version
        vt_merge(spark, path, _df(spark, [(1, "b")]), ["id"], txn=("app1", 8))
        assert vt_last_txn(path, "app1") == 8
        assert (1, "b") in _rows(vt_read(spark, path))


class TestRuleDataSkipping:
    """vt_read(rule=) / conjunction predicates (r9): rule-driven file
    pruning composed with full rule filtering."""

    def _staged(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_write,
        )

        path = str(tmp_path / "t")
        rows = [(i, f"n{i % 7}", float(i)) for i in range(400)]
        df = spark.createDataFrame(rows, "id long, name string, v double")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=8)
        return path, rows

    def test_conjunction_prunes_more_than_single(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read,
            vt_scan_plan,
        )

        path, rows = self._staged(spark, tmp_path)
        single = vt_scan_plan(path, predicate=("id", ">", 300))
        conj = vt_scan_plan(
            path, predicate=[("id", ">", 300), ("id", "<=", 340)]
        )
        assert 0 < single["files_kept"] < single["files_total"]
        assert conj["files_kept"] <= single["files_kept"]
        got = {
            (r["id"], r["name"], r["v"])
            for r in vt_read(
                spark, path, predicate=[("id", ">", 300), ("id", "<=", 340)]
            ).collect()
        }
        assert got == {t for t in rows if 300 < t[0] <= 340}

    def test_in_predicate_prunes_and_filters(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read,
            vt_scan_plan,
        )

        path, rows = self._staged(spark, tmp_path)
        plan = vt_scan_plan(path, predicate=("id", "in", [7, 9, 380]))
        assert 0 < plan["files_kept"] < plan["files_total"]
        got = {
            r["id"]
            for r in vt_read(
                spark, path, predicate=("id", "in", [7, 9, 380])
            ).collect()
        }
        assert got == {7, 9, 380}

    def test_rule_read_matches_apply_rule_and_prunes(self, spark, tmp_path):
        """The composed surface: vt_read(rule=) must equal apply_rule
        over the unpruned snapshot (pruning invisible to results) while
        the derived conjuncts keep a strict nonempty file subset with no
        schema-only fallback."""
        from dynamicqueryengine_spark import RuleDefinition, apply_rule
        from dynamicqueryengine_spark.operators.predicates import (
            rule_skip_conjuncts,
        )
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read,
            vt_scan_plan,
        )

        path, rows = self._staged(spark, tmp_path)
        rule = RuleDefinition.from_dict(
            {
                "Conditions": {
                    "LogicalOperator": "AND",
                    "Conditions": [
                        {"Property": "id", "Operator": "GreaterThan",
                         "Value": 350},
                        {"Property": "name", "Operator": "In",
                         "Value": ["n1", "n2"]},
                        {"Property": "name", "Operator": "Contains",
                         "Value": "n"},
                    ],
                }
            }
        )
        snap = vt_read(spark, path)
        expected = {
            (r["id"], r["name"], r["v"])
            for r in apply_rule(snap, rule).collect()
        }
        got = {
            (r["id"], r["name"], r["v"])
            for r in vt_read(spark, path, rule=rule).collect()
        }
        assert got == expected and got
        plan = vt_scan_plan(
            path, predicate=rule_skip_conjuncts(rule, snap.schema)
        )
        assert 0 < plan["files_kept"] < plan["files_total"]
        assert "schema_only_fallback" not in plan

    def test_rule_and_predicate_mutually_exclusive(self, spark, tmp_path):
        from dynamicqueryengine_spark import RuleDefinition
        from dynamicqueryengine_spark.sources.versioned import vt_read

        path, _ = self._staged(spark, tmp_path)
        r = RuleDefinition.from_dict({"Conditions": {"Conditions": []}})
        with pytest.raises(ValueError, match="not both"):
            vt_read(spark, path, predicate=("id", ">", 1), rule=r)

    def test_rule_read_accepts_raw_dict_and_params(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_read

        path, rows = self._staged(spark, tmp_path)
        got = {
            r["id"]
            for r in vt_read(
                spark,
                path,
                rule={
                    "Conditions": {
                        "Conditions": [
                            {"Property": "id", "Operator": "DynamicEqual"}
                        ]
                    }
                },
                external_params={"id": 123},
            ).collect()
        }
        assert got == {123}


class TestSchemaEvolution:
    """vt_write(mode='append', merge_schema=True) (r9): manifests carry
    the per-version logical schema; readers reconcile (typed nulls);
    incompatible changes raise."""

    def test_append_new_column_round_trip(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_history

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        evolved = spark.createDataFrame(
            [(3, "c", 0.5)], "id long, v string, score double"
        )
        vt_write(spark, path, evolved, mode="append", merge_schema=True)
        head = vt_read(spark, path)
        assert head.columns == ["id", "v", "score"]
        assert dict(head.dtypes)["score"] == "double"
        got = {(r["id"], r["v"], r["score"]) for r in head.collect()}
        # pre-evolution rows reconcile to typed nulls
        assert got == {(1, "a", None), (2, "b", None), (3, "c", 0.5)}
        # time travel: the OLD version keeps its own schema
        assert vt_read(spark, path, 1).columns == ["id", "v"]
        # history shows the evolution as a column-count change
        n_cols = {h["version"]: h["n_cols"] for h in vt_history(path)}
        assert n_cols == {1: 2, 2: 3}

    def test_append_missing_column_fills_nulls(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        narrower = spark.createDataFrame([(2,)], "id long")
        vt_write(spark, path, narrower, mode="append", merge_schema=True)
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, None)}

    def test_mismatch_without_merge_schema_raises(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        evolved = spark.createDataFrame(
            [(2, "b", 1.0)], "id long, v string, score double"
        )
        before = {n for n in os.listdir(path) if n.startswith("d_")}
        with pytest.raises(ValueError, match="merge_schema=True"):
            vt_write(spark, path, evolved, mode="append")
        after = {n for n in os.listdir(path) if n.startswith("d_")}
        assert after == before  # rejected append left no orphan dir
        assert vt_versions(path) == [1]

    def test_incompatible_type_change_always_raises(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        retyped = spark.createDataFrame([(2, 7)], "id long, v long")
        with pytest.raises(ValueError, match="incompatible type change"):
            vt_write(spark, path, retyped, mode="append", merge_schema=True)

    def test_optimize_rehomogenizes_evolved_table(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(i, f"r{i}") for i in range(50)]))
        evolved = spark.createDataFrame(
            [(100 + i, f"e{i}", float(i)) for i in range(50)],
            "id long, v string, score double",
        )
        vt_write(spark, path, evolved, mode="append", merge_schema=True)
        assert _read_manifest(path, 2).get("schema_heterogeneous")
        v3 = vt_optimize(spark, path, ["id"], n_partitions=4)
        assert not _read_manifest(path, v3).get("schema_heterogeneous")
        head = vt_read(spark, path)
        assert head.columns == ["id", "v", "score"]
        assert head.count() == 100

    @pytest.mark.parametrize(
        "where,hetero", [(("id", ">=", 0), False), (("id", ">=", 100), True)]
    )
    def test_scoped_optimize_clears_flag_only_when_nothing_kept(
        self, spark, tmp_path, where, hetero
    ):
        """A scoped OPTIMIZE that rewrites every file re-homogenizes the
        layout like a full one; one that keeps a pre-evolution file
        verbatim keeps the heterogeneous flag. Rows never change."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(i, f"r{i}") for i in range(50)]))
        evolved = spark.createDataFrame(
            [(100 + i, f"e{i}", float(i)) for i in range(50)],
            "id long, v string, score double",
        )
        vt_write(spark, path, evolved, mode="append", merge_schema=True)
        assert _read_manifest(path, 2).get("schema_heterogeneous")
        before = sorted(tuple(r) for r in vt_read(spark, path).collect())
        v3 = vt_optimize(spark, path, ["id"], n_partitions=2, where=where)
        assert v3 == 3
        m = _read_manifest(path, v3)
        assert bool(m.get("schema_heterogeneous")) is hetero
        assert sorted(tuple(r) for r in vt_read(spark, path).collect()) == (
            before
        )

    def test_pruning_on_evolved_column_keeps_statless_old_dirs(
        self, spark, tmp_path
    ):
        """A predicate on the NEW column: old dirs carry no stats for it
        (kept conservatively), new files prune normally — and results
        equal the plain filter either way."""
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(i, f"r{i}") for i in range(20)]))
        evolved = spark.createDataFrame(
            [(100 + i, f"e{i}", float(i)) for i in range(20)],
            "id long, v string, score double",
        )
        vt_write(spark, path, evolved, mode="append", merge_schema=True)
        plan = vt_scan_plan(path, predicate=("score", ">", 100.0))
        assert plan["dirs_kept"] == 1  # new dir's stats exclude it… old kept
        got = vt_read(spark, path, predicate=("score", ">", 5.0))
        assert {r["id"] for r in got.collect()} == {100 + i for i in range(6, 20)}

    def test_delta_read_reconciles_to_evolved_schema(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_read_delta

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        evolved = spark.createDataFrame(
            [(3, "c", 9.0)], "id long, v string, score double"
        )
        vt_write(spark, path, evolved, mode="append", merge_schema=True)
        delta = vt_read_delta(spark, path, 1, 3)
        assert delta.columns == ["id", "v", "score"]
        got = {(r["id"], r["v"], r["score"]) for r in delta.collect()}
        assert got == {(2, "b", None), (3, "c", 9.0)}


class TestChangeFeed:
    """vt_read_changes — the row-level Change Data Feed (Delta CDF):
    merges record pre/post-images, appends synthesize inserts from the
    added files, overwrites synthesize delete-all + insert-all, and the
    replay identity  state ⊎ (insert ∪ post) ∖ (delete ∪ pre) = next
    holds across any retained version range."""

    @staticmethod
    def _changes(df):
        return {
            (r["id"], r["v"], r["_change_type"], r["_commit_version"])
            for r in df.collect()
        }

    def test_merge_records_row_level_changes(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_merge(
            spark, path, _df(spark, [(2, "B2"), (3, "c")]), ["id"],
            change_feed=True,
        )
        got = self._changes(vt_read_changes(spark, path, 1, 2))
        assert got == {
            (2, "b", "update_preimage", 2),
            (2, "B2", "update_postimage", 2),
            (3, "c", "insert", 2),
        }
        # order of data/meta columns is the read contract
        cols = vt_read_changes(spark, path, 1, 2).columns
        assert cols == ["id", "v", "_change_type", "_commit_version"]

    def test_append_overwrite_and_optimize_sourcing(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))              # v1
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")  # v2
        vt_optimize(spark, path, ["id"], n_partitions=1)           # v3
        vt_write(spark, path, _df(spark, [(9, "z")]))              # v4 overwrite
        got = self._changes(vt_read_changes(spark, path, 0, 4))
        assert got == {
            (1, "a", "insert", 1),
            (2, "b", "insert", 2),
            # v3 optimize: no logical change, contributes nothing
            (1, "a", "delete", 4),
            (2, "b", "delete", 4),
            (9, "z", "insert", 4),
        }
        # empty range → empty frame with the change-feed schema
        empty = vt_read_changes(spark, path, 4, 4)
        assert empty.count() == 0
        assert empty.columns == ["id", "v", "_change_type", "_commit_version"]

    def test_replay_identity_over_mixed_history(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        vt_write(spark, path, _df(spark, [(4, "d")]), mode="append")
        vt_merge(
            spark, path, _df(spark, [(2, "B"), (5, "e")]), ["id"],
            change_feed=True,
        )
        vt_write(spark, path, _df(spark, [(7, "g"), (8, "h")]))
        vt_merge(
            spark, path, _df(spark, [(8, "H"), (1, "back")]), ["id"],
            change_feed=True,
        )
        from collections import Counter

        def counts(df):
            return Counter((r["id"], r["v"]) for r in df.collect())

        head = vt_versions(path)[-1]
        for a in range(0, head + 1):
            for b in range(max(a, 1), head + 1):
                cf = vt_read_changes(spark, path, a, b)
                adds = counts(
                    cf.filter(
                        F.col("_change_type").isin(
                            "insert", "update_postimage"
                        )
                    ).select("id", "v")
                )
                drops = counts(
                    cf.filter(
                        F.col("_change_type").isin(
                            "delete", "update_preimage"
                        )
                    ).select("id", "v")
                )
                state = (
                    counts(vt_read(spark, path, a)) if a else Counter()
                )
                # multiset replay telescopes across the whole range:
                # state + Σadds − Σdrops = target, with every
                # intermediate count non-negative by construction
                replayed = state.copy()
                replayed.update(adds)
                replayed.subtract(drops)
                replayed = Counter(
                    {k: n for k, n in replayed.items() if n}
                )
                assert replayed == counts(vt_read(spark, path, b)), (a, b)

    def test_merge_without_change_feed_raises(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_merge(spark, path, _df(spark, [(2, "b")]), ["id"])
        with pytest.raises(ValueError, match="without\\s+change_feed"):
            vt_read_changes(spark, path, 1, 2)

    def test_vacuum_drops_expired_change_dirs_keeps_live(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_merge(
            spark, path, _df(spark, [(2, "b")]), ["id"], change_feed=True
        )  # v2: its c_ dir will expire
        vt_merge(
            spark, path, _df(spark, [(3, "c")]), ["id"], change_feed=True
        )  # v3
        vt_merge(
            spark, path, _df(spark, [(4, "d")]), ["id"], change_feed=True
        )  # v4
        assert len([n for n in os.listdir(path) if n.startswith("c_")]) == 3
        vt_vacuum(spark, path, keep_last=2, grace_seconds=0)
        live = [n for n in os.listdir(path) if n.startswith("c_")]
        assert len(live) == 2  # v3's and v4's survive with their manifests
        got = self._changes(vt_read_changes(spark, path, 3, 4))
        assert got == {(4, "d", "insert", 4)}
        # a range crossing vacuumed versions refuses loudly (from=0 is
        # always a legal endpoint, but v1/v2's manifests are gone)
        vt_write(spark, path, _df(spark, [(9, "z")]))  # v5 overwrite
        vt_vacuum(spark, path, keep_last=1, grace_seconds=0)
        with pytest.raises(ValueError, match="vacuumed"):
            vt_read_changes(spark, path, 0, 5)

    def test_merge_race_loser_recomputes_changes(self, spark, tmp_path):
        """A merge that loses a commit race must discard BOTH its data
        dir and its change dir, and the retried merge's pre-images must
        reflect the head it actually landed on."""
        from dynamicqueryengine_spark.sources.versioned import (
            _commit,
            _read_manifest,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        # pre-claim version 2: the racing winner changed row 1 → "RACE"
        winner = _df(spark, [(1, "RACE")])
        from dynamicqueryengine_spark.sources.versioned import (
            _write_data_dir,
        )

        wdir, wstats, wfstats, wfiles, _ = _write_data_dir(winner, path)
        _commit(
            path, [wdir], "overwrite", 1,
            {wdir: wstats} if wstats else {}, None,
            {wdir: wfstats}, {wdir: wfiles},
            schema=__import__("json").loads(winner.schema.json()),
        )
        v = vt_merge(
            spark, path, _df(spark, [(1, "merged")]), ["id"],
            change_feed=True,
        )
        assert v == 3
        got = self._changes(vt_read_changes(spark, path, 2, 3))
        # pre-image is the WINNER's row, not version 1's
        assert got == {
            (1, "RACE", "update_preimage", 3),
            (1, "merged", "update_postimage", 3),
        }
        # exactly one live change dir (the loser's was cleaned up)
        assert len([n for n in os.listdir(path) if n.startswith("c_")]) == 1


class TestZOrder:
    """vt_optimize(method="zorder") — interleaved-bit multi-column
    clustering. The payoff over lexicographic range clustering: a
    selective predicate on the SECOND cluster column prunes files too."""

    @staticmethod
    def _grid(spark, n=64):
        # two INDEPENDENT uniform dimensions (full cross product) —
        # worst case for lexicographic clustering, ideal for the z-curve
        rows = [(i, i // n, i % n) for i in range(n * n)]
        return spark.createDataFrame(rows, "id long, x long, y long")

    def test_zorder_prunes_on_every_cluster_column(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_scan_plan,
        )

        n = 32
        df = self._grid(spark, n)
        p_range = str(tmp_path / "range")
        p_z = str(tmp_path / "zorder")
        vt_write(spark, p_range, df)
        vt_write(spark, p_z, df)
        vt_optimize(spark, p_range, ["x", "y"], n_partitions=16)
        vt_optimize(
            spark, p_z, ["x", "y"], n_partitions=16, method="zorder"
        )
        pred = ("y", "<", 2)
        plan_range = vt_scan_plan(p_range, predicate=pred)
        plan_z = vt_scan_plan(p_z, predicate=pred)
        # lexicographic on (x, y): y ranges span everything → ~no pruning
        # z-order: y's bits bound every file's y range → real pruning
        assert plan_z["files_kept"] < plan_range["files_kept"], (
            plan_z["files_kept"], plan_range["files_kept"])
        # and the first column still prunes under zorder too
        plan_zx = vt_scan_plan(p_z, predicate=("x", "<", 2))
        assert plan_zx["files_kept"] < 16
        # correctness: both layouts return identical filtered rows
        got_r = {r["id"] for r in
                 vt_read(spark, p_range, predicate=pred).collect()}
        got_z = {r["id"] for r in
                 vt_read(spark, p_z, predicate=pred).collect()}
        want = {r["id"] for r in df.filter("y < 2").collect()}
        assert got_r == want and got_z == want

    def test_zorder_timestamp_and_rejects_strings(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        df = spark.createDataFrame(
            [(i, f"u{i}") for i in range(10)], "id long, name string"
        ).withColumn(
            "ts",
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double")),
        )
        path = str(tmp_path / "t")
        vt_write(spark, path, df)
        # timestamp column clusters fine
        vt_optimize(spark, path, ["ts", "id"], method="zorder",
                    n_partitions=2)
        assert {r["id"] for r in vt_read(spark, path).collect()} == set(
            range(10)
        )
        with pytest.raises(ValueError, match="z-ordering supports"):
            vt_optimize(spark, path, ["name"], method="zorder")
        with pytest.raises(ValueError, match="unknown optimize method"):
            vt_optimize(spark, path, ["id"], method="hilbert")


class TestBloomSkipping:
    """Per-file Bloom filters (r9): equality pruning where min/max can't."""

    @pytest.fixture(scope="class")
    def bloom_table(self, spark, tmp_path_factory):
        from pyspark.sql import functions as F

        path = str(tmp_path_factory.mktemp("bloom") / "t")
        df = spark.range(0, 2000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), (F.col("id") % 500).cast("string")).alias(
                "user"
            ),
        )
        vt_write(
            spark, path, df.repartition(8, "user"), bloom_cols=["user"]
        )
        return path

    def test_point_probe_prunes_to_one_file(self, spark, bloom_table):
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        plan = vt_scan_plan(bloom_table, predicate=("user", "=", "u123"))
        # hash partitioning puts u123 in exactly one file; every sibling's
        # bloom (≤ 63 users × 4 positions, far from saturation) rejects it
        assert plan["files_total"] >= 2
        assert plan["files_kept"] < plan["files_total"]
        assert plan.get("bloom_pruned", 0) >= 1

    def test_pruned_read_matches_unpruned(self, spark, bloom_table):
        from pyspark.sql import functions as F

        pruned = sorted(
            vt_read(
                spark, bloom_table, predicate=("user", "=", "u123")
            ).collect()
        )
        plain = sorted(
            vt_read(spark, bloom_table)
            .filter(F.col("user") == "u123")
            .collect()
        )
        assert pruned == plain and len(pruned) == 4

    def test_in_list_probe(self, spark, bloom_table):
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        plan = vt_scan_plan(
            bloom_table, predicate=("user", "in", ["u1", "u499"])
        )
        assert plan["files_kept"] <= 2
        got = sorted(
            r["k"]
            for r in vt_read(
                spark,
                bloom_table,
                predicate=("user", "in", ["u1", "u499"]),
            ).collect()
        )
        assert got == [1, 499, 501, 999, 1001, 1499, 1501, 1999]

    def test_unsupported_probe_type_keeps_files(self, spark, bloom_table):
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        # float probe: str(x) vs CAST AS STRING drift → bloom must not
        # prune (min/max on a string column can't either)
        plan = vt_scan_plan(bloom_table, predicate=("user", "=", 1.5))
        assert plan.get("bloom_pruned", 0) == 0

    def test_spark_and_python_hash_agree(self, spark):
        """The probe-side pure-Python positions must equal the write-side
        Column expression's positions for the same value."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import (
            _BLOOM_K,
            _BLOOM_M,
            _bloom_positions_py,
        )

        values = ["u123", "hello world", "", "42", "Ünïcode-テスト"]
        hexd = F.md5(F.col("v").cast("string").cast("binary"))
        arr = F.array(
            *[
                F.pmod(
                    F.conv(F.substring(hexd, 4 * i + 1, 4), 16, 10).cast(
                        "int"
                    ),
                    F.lit(_BLOOM_M),
                )
                for i in range(_BLOOM_K)
            ]
        )
        got = {
            r["v"]: list(r["p"])
            for r in spark.createDataFrame(
                [(v,) for v in values], "v string"
            )
            .select("v", arr.alias("p"))
            .collect()
        }
        for v in values:
            assert got[v] == _bloom_positions_py(v)

    def test_append_preserves_prior_blooms(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        mk = lambda lo, hi: spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), (F.col("id") % 100).cast("string")).alias(
                "user"
            ),
        )
        vt_write(
            spark, path, mk(0, 500).repartition(4, "user"),
            bloom_cols=["user"],
        )
        vt_write(
            spark, path, mk(500, 1000).repartition(4, "user"),
            mode="append", bloom_cols=["user"],
        )
        plan = vt_scan_plan(path, predicate=("user", "=", "u7"))
        # both versions' directories carry blooms: pruning applies in each
        assert plan.get("bloom_pruned", 0) >= 2
        got = sorted(
            r["k"]
            for r in vt_read(
                spark, path, predicate=("user", "=", "u7")
            ).collect()
        )
        assert got == [7, 107, 207, 307, 407, 507, 607, 707, 807, 907]

    def test_probe_sound_requires_identical_rendering(self):
        """The r10 soundness gate: pruning is allowed ONLY when
        str(probe) provably equals Spark's CAST(col AS STRING) for every
        matching row — judged on the COLUMN type, not the probe type."""
        from dynamicqueryengine_spark.sources.versioned import (
            _bloom_probe_sound,
        )

        # string column: str probe sound, int probe rides Spark's
        # numeric coercion ('05' == 5 is TRUE in the filter) — unsound
        assert _bloom_probe_sound("u5", "string")
        assert not _bloom_probe_sound(5, "string")
        # integral column: int probe and canonical int-string sound;
        # non-canonical '05' casts to 5 in the filter but hashes '05'
        assert _bloom_probe_sound(5, "long")
        assert _bloom_probe_sound("5", "integer")
        assert not _bloom_probe_sound("05", "long")
        assert not _bloom_probe_sound("5.0", "long")
        # fractional/temporal/unknown columns: rendering drift
        # (str(5)='5' vs Spark '5.0' / '5.000000000000') — never prune
        for t in ("double", "float", "decimal(38,12)", "timestamp", None):
            assert not _bloom_probe_sound(5, t)
            assert not _bloom_probe_sound("5", t)
        assert not _bloom_probe_sound(True, "long")  # bool is not an int here
        assert not _bloom_probe_sound(1.5, "double")

    def test_int_probe_on_string_column_not_pruned(self, spark, tmp_path):
        """An int probe against a STRING column matches under Spark's
        numeric coercion ('05' == 5) but hashes different bytes than the
        write side ('5' vs '05') — the r10 type gate must keep every
        file rather than falsely prune the match."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "05"), (2, "7"), (3, "9")], "k long, code string"
        )
        vt_write(
            spark, path, df.repartition(3, "code"), bloom_cols=["code"]
        )
        plan = vt_scan_plan(path, predicate=("code", "=", 5))
        assert plan.get("bloom_pruned", 0) == 0  # unsound pair → keep all
        got = vt_read(spark, path, predicate=("code", "=", 5)).collect()
        plain = (
            vt_read(spark, path).filter(F.col("code") == 5).collect()
        )
        assert sorted(got) == sorted(plain) and len(plain) == 1

    def test_int_probe_on_long_column_prunes_soundly(self, spark, tmp_path):
        """The sound integral pair still prunes: CAST(long AS STRING)
        and str(int) render identical bytes."""
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        df = spark.range(0, 400).selectExpr("id as k", "id % 100 as g")
        vt_write(spark, path, df.repartition(4, "k"), bloom_cols=["k"])
        plan = vt_scan_plan(path, predicate=("k", "=", 123))
        assert plan.get("bloom_pruned", 0) >= 1
        got = [
            r["k"]
            for r in vt_read(spark, path, predicate=("k", "=", 123)).collect()
        ]
        assert got == [123]
        # non-canonical string probe against the same column: filter
        # would match ('05' casts to 5) but bytes differ — must keep
        plan2 = vt_scan_plan(path, predicate=("k", "=", "0123"))
        assert plan2.get("bloom_pruned", 0) == 0

    def test_fractional_column_bloom_never_prunes(self, spark, tmp_path):
        """Blooms harvested over a double column never prune: no Python
        probe can provably reproduce Spark's fractional rendering."""
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        df = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("x")
        )
        vt_write(spark, path, df.repartition(4, "k"), bloom_cols=["x"])
        plan = vt_scan_plan(path, predicate=("x", "=", 5))
        assert plan.get("bloom_pruned", 0) == 0
        got = vt_read(spark, path, predicate=("x", "=", 5)).collect()
        assert len(got) == 1 and got[0]["k"] == 5


class TestMetadataCount:
    """vt_count (r9): COUNT(*) from manifest file_rows, no data scan."""

    def test_metadata_count_never_scans(self, spark, tmp_path, monkeypatch):
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_write(spark, path, _df(spark, [(3, "c")]), mode="append")
        # the unfiltered path must not touch vt_read / the data files
        monkeypatch.setattr(
            V, "vt_read", lambda *a, **k: (_ for _ in ()).throw(
                AssertionError("metadata count scanned data")
            )
        )
        assert V.vt_count(spark, path) == 3
        assert V.vt_count(spark, path, version=1) == 2

    def test_incomplete_file_rows_falls_back_to_scan(
        self, spark, tmp_path
    ):
        import json as _json

        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        # simulate a legacy manifest: strip the file_rows map
        mp = V._manifest_path(path, 1)
        m = _json.load(open(mp))
        del m["file_rows"]
        os.remove(mp)
        _json.dump(m, open(mp, "w"))
        assert V.vt_count(spark, path) == 2  # exact via the scan path

    def test_predicate_count_uses_pruned_scan(self, spark, tmp_path):
        from pyspark.sql import functions as F

        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        df = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        )
        vt_write(spark, path, df)
        assert V.vt_count(spark, path, predicate=("k", ">", 49)) == 50
        assert V.vt_count(
            spark, path, predicate=[("k", ">", 49), ("g", "=", 0)]
        ) == 10
        # all-pruned → 0 without reading
        assert V.vt_count(spark, path, predicate=("k", ">", 1000)) == 0

    def test_count_tracks_merge_and_optimize(self, spark, tmp_path):
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_merge(spark, path, _df(spark, [(2, "B"), (3, "c")]), ["id"])
        assert V.vt_count(spark, path) == 3
        V.vt_optimize(spark, path, ["id"], n_partitions=2)
        assert V.vt_count(spark, path) == 3


class TestOptimizeBloomRecompute:
    def test_optimize_rebuilds_blooms(self, spark, tmp_path):
        from pyspark.sql import functions as F

        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        df = spark.range(0, 1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("user"),
        )
        vt_write(
            spark, path, df.repartition(4, "user"), bloom_cols=["user"]
        )
        # optimize clusters on k — the write-time blooms die with the
        # rewritten files, but bloom_cols recomputes them for the new
        # layout: u7 lives in exactly one k-range file, siblings prune
        V.vt_optimize(
            spark, path, ["k"], n_partitions=4, bloom_cols=["user"]
        )
        plan = V.vt_scan_plan(path, predicate=("user", "=", "u7"))
        assert plan.get("bloom_pruned", 0) >= 1
        assert plan["files_kept"] < plan["files_total"]
        got = [
            r["k"]
            for r in V.vt_read(
                spark, path, predicate=("user", "=", "u7")
            ).collect()
        ]
        assert got == [7]


class TestCheckConstraints:
    """Table-property CHECK constraints (r9): Delta's constraint
    semantics — recorded once, enforced on every commit's incoming rows,
    violations reject the commit atomically."""

    SPECS = [
        {"name": "v_not_null", "kind": "not_null", "col": "v"},
        {"name": "id_pos", "kind": "range", "col": "id", "lo": 0},
    ]

    def test_violating_write_rejected_atomically(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a")]), constraints=self.SPECS
        )
        with pytest.raises(ConstraintViolation, match="v_not_null"):
            vt_write(
                spark, path, _df(spark, [(2, None)]), mode="append"
            )
        with pytest.raises(ConstraintViolation, match="id_pos"):
            vt_write(
                spark, path, _df(spark, [(-5, "x")]), mode="append"
            )
        # nothing committed, no orphan data dirs
        assert vt_versions(path) == [1]
        assert _rows(vt_read(spark, path)) == {(1, "a")}

    def test_constraints_carry_through_commits(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
            vt_constraints,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a")]), constraints=self.SPECS
        )
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        vt_merge(spark, path, _df(spark, [(3, "c")]), ["id"])
        vt_optimize(spark, path, ["id"], n_partitions=2)
        assert vt_constraints(path) == self.SPECS
        # a merge after all that still enforces
        with pytest.raises(ConstraintViolation):
            vt_merge(spark, path, _df(spark, [(4, None)]), ["id"])

    def test_explicit_list_replaces_and_empty_clears(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_constraints,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a")]), constraints=self.SPECS
        )
        vt_write(
            spark, path, _df(spark, [(2, None)]), mode="append",
            constraints=[],
        )  # cleared: the null row commits
        assert vt_constraints(path) == []
        assert (2, None) in _rows(vt_read(spark, path))

    def test_append_race_reenforces_winners_constraints(
        self, spark, tmp_path, monkeypatch
    ):
        """r10 advice: an append that loses a commuting race must re-read
        the ADVANCED head's constraint set and re-validate its rows — the
        intervening append may have added/tightened CHECKs, and the
        one-shot validation against the pre-race head would let
        violating rows through. The loser here carries a NULL v; the
        winner lands first AND installs v_not_null, so the loser must
        reject and leave no orphan directory."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))  # no constraints yet
        real = V._write_data_dir
        injected = []

        def racy(df, p, **kw):
            out = real(df, p, **kw)
            if not injected:  # only the outer (loser) call injects
                injected.append(True)
                vt_write(
                    spark, path, _df(spark, [(2, "winner")]),
                    mode="append",
                    constraints=[
                        {"name": "v_not_null", "kind": "not_null",
                         "col": "v"}
                    ],
                )
            return out

        monkeypatch.setattr(V, "_write_data_dir", racy)
        with pytest.raises(ConstraintViolation, match="v_not_null"):
            vt_write(spark, path, _df(spark, [(3, None)]), mode="append")
        assert vt_versions(path) == [1, 2]
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "winner")}
        # the loser's uncommitted directory was cleaned up
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        on_disk = {n for n in os.listdir(path) if n.startswith("d_")}
        assert on_disk == set(_read_manifest(path, 2)["dirs"])

    def test_append_race_passes_when_rows_satisfy_new_constraints(
        self, spark, tmp_path, monkeypatch
    ):
        """Same race, but the loser's rows SATISFY the winner's new
        constraint — the retry must succeed and the final table carry
        the constraint set."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            vt_constraints,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        real = V._write_data_dir
        injected = []
        specs = [{"name": "v_not_null", "kind": "not_null", "col": "v"}]

        def racy(df, p, **kw):
            out = real(df, p, **kw)
            if not injected:
                injected.append(True)
                vt_write(
                    spark, path, _df(spark, [(2, "winner")]),
                    mode="append", constraints=specs,
                )
            return out

        monkeypatch.setattr(V, "_write_data_dir", racy)
        v = vt_write(spark, path, _df(spark, [(3, "ok")]), mode="append")
        assert v == 3
        assert vt_constraints(path) == specs
        assert _rows(vt_read(spark, path)) == {
            (1, "a"), (2, "winner"), (3, "ok"),
        }

    def test_non_persistable_kind_rejected(self, spark, tmp_path):
        path = str(tmp_path / "t")
        with pytest.raises(ValueError, match="table property"):
            vt_write(
                spark, path, _df(spark, [(1, "a")]),
                constraints=[
                    {"name": "u", "kind": "unique", "col": "id"}
                ],
            )


class TestMetadataMinMax:
    def test_minmax_from_manifest_without_scan(self, spark, tmp_path, monkeypatch):
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(3, "a"), (7, "b")]))
        vt_write(spark, path, _df(spark, [(1, "c")]), mode="append")
        monkeypatch.setattr(
            V, "vt_read", lambda *a, **k: (_ for _ in ()).throw(
                AssertionError("metadata minmax scanned data")
            )
        )
        assert V.vt_minmax(spark, path, "id") == (1, 7)
        assert V.vt_minmax(spark, path, "id", version=1) == (3, 7)

    def test_minmax_falls_back_without_stats(self, spark, tmp_path):
        import json as _json

        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(3, "a"), (7, "b")]))
        mp = V._manifest_path(path, 1)
        m = _json.load(open(mp))
        del m["stats"]
        os.remove(mp)
        _json.dump(m, open(mp, "w"))
        assert V.vt_minmax(spark, path, "id") == (3, 7)


class TestTimestampAsOf:
    def test_timestamp_resolves_to_snapshot(self, spark, tmp_path):
        import time as _t

        from dynamicqueryengine_spark.sources.versioned import (
            vt_version_at,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        _t.sleep(0.05)
        between = _t.time()
        _t.sleep(0.05)
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        assert vt_version_at(path, between) == 1
        assert _rows(vt_read(spark, path, timestamp=between)) == {(1, "a")}
        # after the last commit → head; datetime and ISO forms accept too
        now = _t.time()
        assert vt_version_at(path, now) == 2
        import datetime as _dt

        iso = _dt.datetime.fromtimestamp(
            now, tz=_dt.timezone.utc
        ).isoformat()
        assert vt_version_at(path, iso) == 2
        assert _rows(vt_read(spark, path, timestamp=now)) == {
            (1, "a"),
            (2, "b"),
        }

    def test_timestamp_before_first_commit_raises(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_version_at,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="at or before"):
            vt_version_at(path, 0.0)

    def test_version_and_timestamp_mutually_exclusive(
        self, spark, tmp_path
    ):
        import time as _t

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="not both"):
            vt_read(spark, path, version=1, timestamp=_t.time())


class TestShallowClone:
    def test_clone_is_zero_copy_and_reads_equal(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_clone,
            vt_count,
            vt_history,
        )

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        vt_write(spark, src, _df(spark, [(1, "a"), (2, "b")]))
        vt_clone(spark, src, dst)
        assert _rows(vt_read(spark, dst)) == {(1, "a"), (2, "b")}
        # zero copy: no data directories materialized under the clone
        import os

        assert not [n for n in os.listdir(dst) if n.startswith("d_")]
        # metadata count serves from the shared footer stats
        assert vt_count(spark, dst) == 2
        h = vt_history(dst)[0]
        assert h["op"] == "clone"

    def test_clone_writes_are_isolated_both_ways(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_clone

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        vt_write(spark, src, _df(spark, [(1, "a")]))
        vt_clone(spark, src, dst)
        # clone-side merge: copy-on-write into the clone's own tree
        vt_merge(spark, dst, _df(spark, [(1, "CLONE"), (9, "z")]), ["id"])
        assert _rows(vt_read(spark, dst)) == {(1, "CLONE"), (9, "z")}
        assert _rows(vt_read(spark, src)) == {(1, "a")}
        # source-side append: the clone's snapshot is pinned at clone time
        vt_write(spark, src, _df(spark, [(5, "e")]), mode="append")
        assert _rows(vt_read(spark, dst)) == {(1, "CLONE"), (9, "z")}

    def test_clone_vacuum_only_touches_clone_local_dirs(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_clone

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        vt_write(spark, src, _df(spark, [(1, "a")]))
        vt_clone(spark, src, dst)
        vt_merge(spark, dst, _df(spark, [(2, "b")]), ["id"])
        vt_merge(spark, dst, _df(spark, [(3, "c")]), ["id"])
        removed = vt_vacuum(spark, dst, keep_last=1, grace_seconds=0)
        # only clone-local merge output expired; the shared source dirs
        # are out of the clone's filesystem sweep entirely
        assert all(not r.startswith("/") for r in removed)
        assert _rows(vt_read(spark, src)) == {(1, "a")}
        assert _rows(vt_read(spark, dst)) == {
            (1, "a"),
            (2, "b"),
            (3, "c"),
        }

    def test_clone_onto_existing_table_rejected(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_clone

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        vt_write(spark, src, _df(spark, [(1, "a")]))
        vt_write(spark, dst, _df(spark, [(2, "b")]))
        with pytest.raises(FileExistsError):
            vt_clone(spark, src, dst)

    def test_deep_clone_survives_source_vacuum(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_clone,
            vt_count,
            vt_history,
        )

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        vt_write(spark, src, _df(spark, [(1, "a"), (2, "b")]))
        vt_clone(spark, src, dst, deep=True)
        # deep: data materialized under the clone, stats carried
        import os

        assert [n for n in os.listdir(dst) if n.startswith("d_")]
        assert vt_count(spark, dst) == 2  # metadata count from copied footers
        assert vt_history(dst)[0]["op"] == "clone"
        # sever test: rewrite + vacuum the source to nothing it had
        vt_write(spark, src, _df(spark, [(9, "z")]), mode="overwrite")
        vt_vacuum(spark, src, keep_last=1, grace_seconds=0)
        assert _rows(vt_read(spark, dst)) == {(1, "a"), (2, "b")}


class TestDiff:
    def test_diff_reports_rows_minmax_and_schema(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_analyze,
            vt_diff,
            vt_write,
        )

        path = str(tmp_path / "t")
        df1 = spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, v double"
        )
        vt_write(spark, path, df1)
        vt_analyze(spark, path, columns=["k"])
        # append extends the value range upward and adds a column
        df2 = spark.createDataFrame(
            [(i, float(i), "x") for i in range(10, 15)],
            "k long, v double, tag string",
        )
        vt_write(spark, path, df2, mode="append", merge_schema=True)
        vt_analyze(spark, path, columns=["k"])
        d = vt_diff(path, 2)  # analyze commit of the first snapshot
        assert d["rows_old"] == 10 and d["rows_new"] == 15
        assert d["row_delta"] == 5
        assert d["columns_added"] == ["tag"] and not d["columns_removed"]
        mm = d["minmax"]["k"]
        assert mm["old"] == [0, 9] and mm["new"] == [0, 14]
        assert mm["max_moved"] and not mm["min_moved"]
        drift = d["analyze_drift"]["k"]
        assert drift["ndv_old"] == 10 and drift["ndv_new"] == 15
        assert d["bytes_new"] > d["bytes_old"]

    def test_diff_same_version_is_identity(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_diff,
            vt_write,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        d = vt_diff(path, 1, 1)
        assert d["row_delta"] == 0
        assert not d["columns_added"] and not d["columns_removed"]
        assert all(
            not m["min_moved"] and not m["max_moved"]
            for m in d["minmax"].values()
        )


class TestSavepoint:
    def test_savepoint_pins_versions_across_commits(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_savepoint,
            vt_savepoint,
        )

        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        vt_write(spark, a, _df(spark, [(1, "a")]))
        vt_write(spark, b, _df(spark, [(2, "b")]))
        sp = vt_savepoint({"corpus": a, "index": b})
        assert sp["corpus"]["version"] == 1 and sp["index"]["version"] == 1
        # both tables move on; the savepoint must not
        vt_write(spark, a, _df(spark, [(9, "z")]), mode="overwrite")
        vt_merge(spark, b, _df(spark, [(2, "B2")]), ["id"])
        frames = vt_read_savepoint(spark, sp)
        assert _rows(frames["corpus"]) == {(1, "a")}
        assert _rows(frames["index"]) == {(2, "b")}

    def test_vacuumed_savepoint_fails_loudly(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_savepoint,
            vt_savepoint,
        )

        a = str(tmp_path / "a")
        vt_write(spark, a, _df(spark, [(1, "a")]))
        sp = vt_savepoint([a])
        vt_write(spark, a, _df(spark, [(2, "b")]), mode="overwrite")
        vt_write(spark, a, _df(spark, [(3, "c")]), mode="overwrite")
        vt_vacuum(spark, a, keep_last=1, grace_seconds=0)
        with pytest.raises(ValueError, match="not in"):
            vt_read_savepoint(spark, sp)


class TestRuleTimestampComposition:
    def test_rule_filter_over_timestamp_snapshot(self, spark, tmp_path):
        """The two flagship surfaces compose with TIMESTAMP AS OF: a
        compiled rule filters (and file-prunes) the snapshot the
        timestamp resolves to, not the head."""
        import time as _t

        path = str(tmp_path / "t")
        df1 = spark.createDataFrame(
            [(1, 50.0), (2, 150.0)], "id long, v double"
        )
        vt_write(spark, path, df1)
        _t.sleep(0.05)
        between = _t.time()
        _t.sleep(0.05)
        vt_write(
            spark,
            path,
            spark.createDataFrame([(3, 500.0)], "id long, v double"),
            mode="append",
        )
        rule = {
            "Conditions": {
                "Conditions": [
                    {"Property": "v", "Operator": "GreaterThan", "Value": 100}
                ]
            }
        }
        got = {
            r["id"]
            for r in vt_read(
                spark, path, rule=rule, timestamp=between
            ).collect()
        }
        assert got == {2}  # id=3 is after the timestamp; id=1 fails the rule
        head = {
            r["id"] for r in vt_read(spark, path, rule=rule).collect()
        }
        assert head == {2, 3}


class TestNullCountSkipping:
    """r9: Null/NotNull predicates prune files on exact footer null
    counts — the reference's null-operator family composed with data
    skipping."""

    def _table(self, spark, path):
        a = spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 6)], "k long, s string"
        )
        b = spark.createDataFrame(
            [(i, None) for i in range(6, 11)], "k long, s string"
        )
        vt_write(spark, path, a.coalesce(1))
        vt_write(spark, path, b.coalesce(1), mode="append")

    def test_isnull_prunes_null_free_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        self._table(spark, path)
        plan = vt_scan_plan(path, None, ("s", "isnull", None))
        assert plan["files_kept"] == 1 and plan["files_total"] == 2
        assert plan["null_pruned"] == 1
        got = {r["k"] for r in vt_read(spark, path, predicate=("s", "isnull", None)).collect()}
        assert got == {6, 7, 8, 9, 10}

    def test_notnull_prunes_all_null_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        self._table(spark, path)
        plan = vt_scan_plan(path, None, ("s", "notnull", None))
        assert plan["files_kept"] == 1 and plan["null_pruned"] == 1
        got = {r["k"] for r in vt_read(spark, path, predicate=("s", "notnull", None)).collect()}
        assert got == {1, 2, 3, 4, 5}

    def test_mixed_file_never_pruned(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a"), (2, None)], "k long, s string"
        )
        vt_write(spark, path, df.coalesce(1))
        for op in ("isnull", "notnull"):
            plan = vt_scan_plan(path, None, ("s", op, None))
            assert plan["files_kept"] == 1

    def test_rule_null_family_drives_skipping(self, spark, tmp_path):
        from dynamicqueryengine_spark.operators.predicates import (
            rule_skip_conjuncts,
        )
        from dynamicqueryengine_spark.plans.model import RuleDefinition
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        self._table(spark, path)
        rule = RuleDefinition.from_dict(
            {
                "Conditions": {
                    "Conditions": [
                        {"Property": "s", "Operator": "NotNull"},
                        {"Property": "k", "Operator": "GreaterThan", "Value": 2},
                    ]
                }
            }
        )
        schema = vt_read(spark, path).schema
        conj = rule_skip_conjuncts(rule, schema)
        assert ("s", "notnull", None) in conj
        plan = vt_scan_plan(path, None, conj)
        assert plan["files_kept"] == 1
        got = {
            r["k"] for r in vt_read(spark, path, rule=rule).collect()
        }
        assert got == {3, 4, 5}

    def test_dynamic_equal_null_param_prunes(self, spark, tmp_path):
        from dynamicqueryengine_spark.operators.predicates import (
            rule_skip_conjuncts,
        )
        from dynamicqueryengine_spark.plans.model import RuleDefinition

        path = str(tmp_path / "t")
        self._table(spark, path)
        rule = RuleDefinition.from_dict(
            {
                "Conditions": {
                    "Conditions": [
                        {"Property": "s", "Operator": "DynamicEqual"}
                    ]
                }
            }
        )
        schema = vt_read(spark, path).schema
        conj = rule_skip_conjuncts(rule, schema, {"s": None})
        assert ("s", "isnull", None) in conj
        got = {
            r["k"]
            for r in vt_read(
                spark, path, rule=rule, external_params={"s": None}
            ).collect()
        }
        assert got == {6, 7, 8, 9, 10}

    def test_dynamic_equal_stray_literal_cannot_misprune(self, spark, tmp_path):
        """The r10 advice scenario, end to end: a DynamicEqual carrying a
        literal Value=100 plus runtime param k=7. The compiled filter
        uses ONLY the param; pruning on the dead literal would skip every
        file (none contains 100) and silently drop the k=7 match. The
        pruned read must stay identical to apply_rule over an unpruned
        read — AND still prune the file the param rules out."""
        from dynamicqueryengine_spark.operators.executor import apply_rule
        from dynamicqueryengine_spark.operators.predicates import (
            rule_skip_conjuncts,
        )
        from dynamicqueryengine_spark.plans.model import RuleDefinition
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path = str(tmp_path / "t")
        lo = spark.createDataFrame([(k, "x") for k in range(1, 6)], "k long, s string")
        hi = spark.createDataFrame([(k, "y") for k in range(6, 11)], "k long, s string")
        vt_write(spark, path, lo.coalesce(1))
        vt_write(spark, path, hi.coalesce(1), mode="append")
        rule = RuleDefinition.from_dict(
            {
                "Conditions": {
                    "Conditions": [
                        {
                            "Property": "k",
                            "Operator": "DynamicEqual",
                            "Value": 100,
                        }
                    ]
                }
            }
        )
        schema = vt_read(spark, path).schema
        conj = rule_skip_conjuncts(rule, schema, {"k": 7})
        assert conj == [("k", "=", 7)]  # the PARAM, never the literal
        plan = vt_scan_plan(path, None, conj)
        assert plan["files_kept"] == 1  # still prunes the 1..5 file
        got = {
            r["k"]
            for r in vt_read(
                spark, path, rule=rule, external_params={"k": 7}
            ).collect()
        }
        want = {
            r["k"]
            for r in apply_rule(
                vt_read(spark, path), rule, external_params={"k": 7}
            ).collect()
        }
        assert got == want == {7}


class TestFileGranularMerge:
    """r10: Delta-style copy-on-write MERGE rewrites ONLY files whose
    stats/blooms say they may hold a matching key; everything else is
    referenced verbatim in the new manifest (VERDICT r9 ask #1)."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_one_key_merge_rewrites_one_file(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_history,
        )

        path = self._staged(spark, tmp_path)
        pre = _read_manifest(path, 2)
        [opt_dir] = pre["dirs"]
        pre_files = set(pre["files"][opt_dir])
        v = vt_merge(
            spark, path, _df(spark, [(5, "FIVE")]), ["id"]
        )
        m = _read_manifest(path, v)
        # the optimize dir is still referenced, minus exactly the files
        # holding key 5; every kept file is the ORIGINAL file (identity,
        # not a rewrite under the same name)
        assert opt_dir in m["dirs"]
        kept = set(m["files"][opt_dir])
        assert kept < pre_files
        rewritten = len(pre_files) - len(kept)
        assert m["merge"]["files_rewritten"] == rewritten
        assert m["merge"]["files_total"] == len(pre_files)
        assert rewritten <= 2  # one data file (+ a range-boundary mate)
        assert opt_dir in m.get("partial_dirs", [])
        # untouched files' stats and footer counts carried verbatim
        for f in kept:
            assert m["file_stats"][opt_dir][f] == pre["file_stats"][opt_dir][f]
            assert m["file_rows"][opt_dir][f] == pre["file_rows"][opt_dir][f]
        # rewritten files still exist on disk (older version reads them)
        assert pre_files <= set(os.listdir(os.path.join(path, opt_dir)))
        # history surfaces the rewrite shape
        h = vt_history(path)[0]
        assert h["merge"]["files_rewritten"] == rewritten
        # and the data is correct, both heads
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and got[6] == "v6" and len(got) == 64
        old = dict(_rows(vt_read(spark, path, 2)))
        assert old[5] == "v5"

    def test_disjoint_key_merge_is_pure_insert(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        path = self._staged(spark, tmp_path)
        v = vt_merge(spark, path, _df(spark, [(1000, "NEW")]), ["id"])
        m = _read_manifest(path, v)
        assert m["merge"]["files_rewritten"] == 0
        assert m["merge"].get("pure_insert") is True
        assert len(m["dirs"]) == 2  # optimize dir + insert dir
        got = dict(_rows(vt_read(spark, path)))
        assert got[1000] == "NEW" and len(got) == 65

    def test_bloom_prunes_when_ranges_overlap(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        # ids interleave (mod pattern) so every file's id RANGE overlaps
        # every probe — only the per-file blooms can prune
        df = spark.range(400).selectExpr(
            "cast(concat('u', id) as string) AS uid",
            "concat('v', id) AS v",
        )
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["v"], n_partitions=8, bloom_cols=["uid"])
        pre = _read_manifest(path, 2)
        [opt_dir] = pre["dirs"]
        upd = spark.createDataFrame([("u37", "X")], "uid string, v string")
        v = vt_merge(spark, path, upd, ["uid"])
        m = _read_manifest(path, v)
        assert m["merge"]["files_rewritten"] == 1
        # untouched files keep their blooms in the new manifest
        kept = set(m["files"][opt_dir])
        assert kept and all(
            f in m["blooms"][opt_dir]["files"] for f in kept
            if f in pre["blooms"][opt_dir]["files"]
        )
        got = {r["uid"]: r["v"] for r in vt_read(spark, path).collect()}
        assert got["u37"] == "X" and got["u38"] == "v38"

    def test_minmax_exact_after_partial_rewrite(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_minmax

        path = self._staged(spark, tmp_path)
        # rewrite the file holding the global max id (63) with a smaller
        # replacement value in v; the partial dir's recomputed stats must
        # not still advertise a stale range
        vt_merge(spark, path, _df(spark, [(63, "zz")]), ["id"])
        lo, hi = vt_minmax(spark, path, "id")
        assert (lo, hi) == (0, 63)
        # now DELETE-like shrink via merge of max key into lower id
        df2 = spark.range(32).selectExpr("id", "concat('w', id) AS v")
        vt_write(spark, path, df2, mode="overwrite")
        vt_merge(spark, path, _df(spark, [(31, "W")]), ["id"])
        lo2, hi2 = vt_minmax(spark, path, "id")
        assert (lo2, hi2) == (0, 31)

    def test_change_feed_replay_identity_partial(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )
        from pyspark.sql import functions as F

        path = self._staged(spark, tmp_path)
        vt_merge(
            spark,
            path,
            _df(spark, [(5, "FIVE"), (500, "NEW")]),
            ["id"],
            change_feed=True,
        )
        changes = vt_read_changes(spark, path, 2, 3)
        tags = {
            r["_change_type"]
            for r in changes.select("_change_type").distinct().collect()
        }
        assert tags == {"update_preimage", "update_postimage", "insert"}
        # multiset replay identity: v2 ⊎ (ins ∪ post) ∖ (del ∪ pre) = v3
        plus = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("id", "v")
        minus = changes.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select("id", "v")
        replayed = (
            vt_read(spark, path, 2)
            .unionByName(plus)
            .exceptAll(minus)
        )
        assert _rows(replayed) == _rows(vt_read(spark, path, 3))

    def test_predicate_and_rule_reads_on_partial_dirs(self, spark, tmp_path):
        path = self._staged(spark, tmp_path)
        vt_merge(spark, path, _df(spark, [(5, "FIVE")]), ["id"])
        got = _rows(
            vt_read(spark, path, predicate=("id", "<=", 6))
        )
        assert got == {
            (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3"), (4, "v4"),
            (5, "FIVE"), (6, "v6"),
        }

    def test_multi_key_and_null_key_updates(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "x", "a"), (1, "y", "b"), (2, "x", "c")],
            "k1 long, k2 string, v string",
        )
        vt_write(spark, path, df)
        upd = spark.createDataFrame(
            [(1, "y", "B2"), (None, "x", "NULLK"), (9, "z", "ins")],
            "k1 long, k2 string, v string",
        )
        vt_merge(spark, path, upd, ["k1", "k2"])
        got = {
            (r["k1"], r["k2"], r["v"])
            for r in vt_read(spark, path).collect()
        }
        # (1,y) replaced; null-key update row inserts (null joins nothing);
        # (9,z) inserts; everything else untouched
        assert got == {
            (1, "x", "a"), (1, "y", "B2"), (2, "x", "c"),
            (None, "x", "NULLK"), (9, "z", "ins"),
        }

    def test_updates_schema_mismatch_raises(self, spark, tmp_path):
        path = self._staged(spark, tmp_path)
        bad = spark.createDataFrame([(1, "x", 3)], "id long, v string, extra int")
        with pytest.raises(ValueError, match="schema mismatch"):
            vt_merge(spark, path, bad, ["id"])

    def test_vacuum_reaps_rewritten_files_in_partial_dir(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        path = self._staged(spark, tmp_path)
        pre = _read_manifest(path, 2)
        [opt_dir] = pre["dirs"]
        pre_files = set(pre["files"][opt_dir])
        vt_merge(spark, path, _df(spark, [(5, "FIVE")]), ["id"])
        removed = vt_vacuum(spark, path, keep_last=1, grace_seconds=0)
        on_disk = set(os.listdir(os.path.join(path, opt_dir)))
        # rewritten-away files are gone from the partial dir; kept ones
        # survive and the head still reads exactly right
        rewritten = pre_files - set(
            _read_manifest(path, 3)["files"][opt_dir]
        )
        assert rewritten and not (rewritten & on_disk)
        assert any(r.startswith(opt_dir + "/") for r in removed)
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and len(got) == 64


class TestMergeDeleteClause:
    """r10: Delta MERGE triad — WHEN MATCHED DELETE via ``delete_where``
    (a per-update-row condition; matched delete keys remove target rows,
    unmatched delete keys no-op, the rest upsert) in ONE commit."""

    def test_delete_where_on_data_columns(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a"), (2, "b"), (3, "c")])
        )
        # convention: v IS NULL marks a deletion (CDC tombstone)
        upd = _df(
            spark,
            [(1, "A2"), (2, None), (7, None), (9, "ins")],
        )
        v = vt_merge(
            spark, path, upd, ["id"], delete_where="v IS NULL"
        )
        assert _rows(vt_read(spark, path, v)) == {
            (1, "A2"), (3, "c"), (9, "ins")
        }

    def test_delete_where_change_feed(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a"), (2, "b"), (3, "c")])
        )
        upd = _df(spark, [(1, "A2"), (2, None), (7, None), (9, "ins")])
        vt_merge(
            spark, path, upd, ["id"],
            delete_where="v IS NULL", change_feed=True,
        )
        ch = vt_read_changes(spark, path, 1, 2)
        by_tag = {
            r["_change_type"]: r["id"]
            for r in ch.collect()
        }
        tags = {r["_change_type"] for r in ch.collect()}
        assert tags == {
            "insert", "delete", "update_preimage", "update_postimage"
        }
        # the deleted pre-image is target row (2, "b")
        dels = {
            (r["id"], r["v"])
            for r in ch.filter(F.col("_change_type") == "delete").collect()
        }
        assert dels == {(2, "b")}
        # replay identity across the delete-bearing merge
        plus = ch.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("id", "v")
        minus = ch.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select("id", "v")
        replayed = (
            vt_read(spark, path, 1).unionByName(plus).exceptAll(minus)
        )
        assert _rows(replayed) == _rows(vt_read(spark, path, 2))

    def test_null_condition_rows_upsert(self, spark, tmp_path):
        # a NULL delete_where verdict must upsert, not silently drop
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        upd = _df(spark, [(1, "A2"), (2, "x")])
        vt_merge(
            spark, path, upd, ["id"],
            delete_where="CASE WHEN v = 'zz' THEN true ELSE NULL END",
        )
        assert _rows(vt_read(spark, path)) == {(1, "A2"), (2, "x")}


class TestRowLevelDelete:
    """r10: vt_delete(predicate) — file-granular DELETE FROM ... WHERE
    with skip-eligible conjunct pruning and delete change-feed rows
    (VERDICT r9 ask #2)."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_delete_prunes_untouched_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_history,
        )

        path = self._staged(spark, tmp_path)
        pre = _read_manifest(path, 2)
        [opt_dir] = pre["dirs"]
        pre_files = set(pre["files"][opt_dir])
        v = vt_delete(spark, path, ("id", "<", 8))
        m = _read_manifest(path, v)
        assert m["op"] == "delete"
        assert m["delete"]["files_rewritten"] < len(pre_files)
        assert m["delete"]["files_total"] == len(pre_files)
        kept = set(m["files"].get(opt_dir, []))
        assert kept < pre_files and kept
        # kept files carry stats verbatim
        for f in kept:
            assert m["file_stats"][opt_dir][f] == pre["file_stats"][opt_dir][f]
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(8, 64))
        # time travel still sees the full snapshot
        assert len(vt_read(spark, path, 2).collect()) == 64
        assert vt_history(path)[0]["delete"]["files_total"] == len(pre_files)

    def test_delete_null_semantics(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "id long, v string"
        )
        vt_write(spark, path, df)
        vt_delete(spark, path, ("v", "=", "a"))
        # null row SURVIVES (predicate NULL ≠ TRUE), like SQL DELETE
        assert _rows(vt_read(spark, path)) == {(2, None), (3, "c")}
        vt_delete(spark, path, ("v", "isnull", None))
        assert _rows(vt_read(spark, path)) == {(3, "c")}

    def test_noop_delete_commits_nothing(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = self._staged(spark, tmp_path)
        v = vt_delete(spark, path, ("id", ">", 1_000_000))
        assert v == 2 and vt_versions(path) == [1, 2]

    def test_delete_change_feed_materialized(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_read_changes,
        )
        from pyspark.sql import functions as F

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "<", 4), change_feed=True)
        ch = vt_read_changes(spark, path, 2, 3)
        got = {
            (r["id"], r["_change_type"]) for r in ch.collect()
        }
        assert got == {(i, "delete") for i in range(4)}
        # replay identity
        minus = ch.filter(
            F.col("_change_type") == "delete"
        ).select("id", "v")
        replayed = vt_read(spark, path, 2).exceptAll(minus)
        assert _rows(replayed) == _rows(vt_read(spark, path, 3))

    def test_delete_change_feed_reconstructed(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_read_changes,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "in", [3, 5, 99]))  # no change_feed
        ch = vt_read_changes(spark, path, 2, 3)
        got = {(r["id"], r["_change_type"]) for r in ch.collect()}
        assert got == {(3, "delete"), (5, "delete")}

    def test_cdc_rollup_decrements_through_delete(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete
        from dynamicqueryengine_spark.streaming.cdc import (
            apply_rollup_increment,
            pump_until_current,
        )
        from pyspark.sql import functions as F

        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        df = spark.createDataFrame(
            [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
            "id long, g string, x double",
        )
        vt_write(spark, src, df)
        apply = apply_rollup_increment(
            spark, sink, key_cols=["g"], sum_cols={"s": "x"}
        )
        pump_until_current(spark, src, sink, "sub", apply)
        vt_delete(spark, src, ("id", "=", 2), change_feed=True)
        pump_until_current(spark, src, sink, "sub", apply)
        got = {
            (r["g"], r["n"], float(r["s"]))
            for r in vt_read(spark, sink).collect()
        }
        assert got == {("A", 1, 10.0), ("B", 1, 30.0)}

    def test_delete_requires_predicate(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = self._staged(spark, tmp_path)
        with pytest.raises(ValueError):
            vt_delete(spark, path, None)

    def test_delete_bloom_pruning_on_string_ids(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(400).selectExpr(
            "cast(concat('u', id) as string) AS uid",
            "concat('v', id) AS v",
        )
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["v"], n_partitions=8, bloom_cols=["uid"])
        v = vt_delete(spark, path, ("uid", "=", "u37"))
        m = _read_manifest(path, v)
        # uid ranges overlap every file; only blooms can prune → exactly
        # the one file holding u37 is rewritten
        assert m["delete"]["files_rewritten"] == 1
        got = {r["uid"] for r in vt_read(spark, path).collect()}
        assert "u37" not in got and "u38" in got and len(got) == 399


class TestMaintain:
    """r10: executable maintenance (VERDICT r9 ask #4) — vt_maintain
    applies the advisor's plan in dependency order, plus the 10-commit
    auto-checkpoint cadence and the compact-only optimize method."""

    def test_maintain_heals_fragmented_stale_table(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_maintain,
            vt_maintenance_plan,
            vt_table_stats,
        )

        path = str(tmp_path / "t")
        # fragmented ingest: 6 tiny appends → many dirs, no stats
        for i in range(6):
            vt_write(
                spark,
                path,
                _df(spark, [(i * 10 + j, f"v{i}{j}") for j in range(3)]),
                mode="append" if i else "overwrite",
            )
        plan = vt_maintenance_plan(path)
        assert plan["compact"] and plan["analyze"] == "missing"
        report = vt_maintain(
            spark, path, cluster_by=["id"], n_partitions=2, keep_last=2,
            grace_seconds=0,
        )
        assert "optimize:range" in report["actions"]
        assert "analyze" in report["actions"]
        assert "checkpoint" in report["actions"]
        # advisor now reports nothing to do
        after = vt_maintenance_plan(path)
        assert not after["compact"]
        assert after["analyze"] == "fresh"
        assert not after["vacuum"]["dirs"]
        st = vt_table_stats(path)
        assert st["analyze"] is not None and st["analyze_stale"] is False
        # data intact
        assert len(_rows(vt_read(spark, path))) == 18
        # head fast path: checkpoint exists and resolves
        from dynamicqueryengine_spark.sources.versioned import vt_head

        assert vt_head(path) == report["version"]

    def test_maintain_compact_without_cluster_key(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_maintain,
        )

        path = str(tmp_path / "t")
        for i in range(5):
            vt_write(
                spark,
                path,
                _df(spark, [(i, f"v{i}")]),
                mode="append" if i else "overwrite",
            )
        report = vt_maintain(spark, path, n_partitions=2, grace_seconds=0)
        assert "optimize:compact" in report["actions"]
        m = _read_manifest(path, report["version"])
        assert len(m["dirs"]) == 1
        assert len(_rows(vt_read(spark, path))) == 5

    def test_auto_checkpoint_cadence(self, spark, tmp_path):
        import json as _json
        from dynamicqueryengine_spark.sources.versioned import _log_dir

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(0, "x")]))
        for i in range(1, 11):
            vt_write(
                spark, path, _df(spark, [(i, "x")]), mode="append"
            )
        cp = os.path.join(_log_dir(path), "_checkpoint.json")
        assert os.path.exists(cp)
        with open(cp) as f:
            assert _json.load(f)["version"] == 10

    def test_optimize_range_requires_keys(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="requires cluster_by"):
            vt_optimize(spark, path, [], method="range")


class TestSinglePassMcv:
    """r10: vt_analyze MCV in ONE job for all columns (r9 advice:
    the groupBy-per-column loop was N+1 full scans)."""

    def test_mcv_values_and_job_count(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_analyze,
            vt_table_stats,
        )

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 20.0),
             (4, "b", 30.0), (5, None, None)],
            "id long, g string, x double",
        )
        vt_write(spark, path, df)
        wide_path = str(tmp_path / "wide")
        wide = df.selectExpr(
            "*", "id AS c4", "id AS c5", "g AS c6", "x AS c7", "id AS c8"
        )
        vt_write(spark, wide_path, wide)
        sc = spark.sparkContext

        def jobs_for(p, group):
            sc.setJobGroup(group, "vt_analyze job count")
            try:
                vt_analyze(spark, p)
            finally:
                sc.setJobGroup(None, None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        narrow_jobs = jobs_for(path, "mcv-narrow")
        wide_jobs = jobs_for(wide_path, "mcv-wide")
        # the job count must be INDEPENDENT of the column count — the
        # old per-column MCV loop added >= one extra job per analyzed
        # column (8 cols vs 3 cols would differ by >= 5 jobs)
        assert wide_jobs == narrow_jobs
        stats = vt_table_stats(path)["analyze"]["columns"]
        assert stats["g"]["mcv_count"] == 3      # 'a' appears 3x
        assert stats["x"]["mcv_count"] == 2      # 20.0 appears 2x
        assert stats["id"]["mcv_count"] == 1
        assert stats["g"]["nulls"] == 1
        assert stats["id"]["ndv"] >= 4


class TestRangeSetClassifier:
    """r10: above the exact-key sample bound the merge classifier uses a
    BUCKETED RANGE SET (exact per-bucket min/max), so a bimodal update
    key set (contiguous updates + far-shifted inserts) still prunes the
    files in the gap — the single min/max box would cover everything."""

    def test_bimodal_bulk_merge_still_prunes(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(40_000).selectExpr(
            "id", "cast(id % 97 as string) AS v"
        )
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=8)
        # 12k updated keys (over the 10k exact-sample bound) at the
        # bottom of the range, plus far-shifted inserts
        low = df.filter("id < 12000")
        updates = low.selectExpr(
            "id", "concat('u', v) AS v"
        ).unionByName(
            low.selectExpr("id + 1000000 AS id", "'ins' AS v")
        )
        v = vt_merge(spark, path, updates, ["id"])
        m = _read_manifest(path, v)
        blob = m["merge"]
        assert 0 < blob["files_rewritten"] < blob["files_total"], blob
        # correctness at the edges of the gap
        got = {
            r["id"]: r["v"]
            for r in vt_read(spark, path)
            .filter("id in (0, 11999, 12000, 39999, 1000005)")
            .collect()
        }
        assert got[0] == "u0"
        assert got[11999] == "u" + str(11999 % 97)
        assert got[12000] == str(12000 % 97)
        assert got[39999] == str(39999 % 97)
        assert got[1000005] == "ins"


class TestRowLevelUpdate:
    """r10: vt_update(predicate, assignments) — Delta's UPDATE ... SET
    ... WHERE with file-granular rewrite, simultaneous-assignment
    semantics, and update change-feed rows."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_update_prunes_and_transforms(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        v = vt_update(
            spark, path, ("id", "<", 8), {"v": "concat(v, '!')"}
        )
        m = _read_manifest(path, v)
        assert m["op"] == "update"
        assert 0 < m["update"]["files_rewritten"] < m["update"]["files_total"]
        got = dict(_rows(vt_read(spark, path)))
        assert got[0] == "v0!" and got[7] == "v7!" and got[8] == "v8"
        assert len(got) == 64
        # time travel unaffected
        assert dict(_rows(vt_read(spark, path, 2)))[0] == "v0"

    def test_simultaneous_assignment_swaps(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a", "b"), (2, "x", "y")], "id long, p string, q string"
        )
        vt_write(spark, path, df)
        vt_update(spark, path, ("id", "=", 1), {"p": "q", "q": "p"})
        got = {
            (r["id"], r["p"], r["q"])
            for r in vt_read(spark, path).collect()
        }
        assert got == {(1, "b", "a"), (2, "x", "y")}

    def test_null_predicate_rows_not_updated(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update
        from pyspark.sql import functions as F

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a")], "id long, v string"
        )
        vt_write(spark, path, df)
        vt_update(spark, path, ("v", "=", "a"), {"v": F.lit("A")})
        assert _rows(vt_read(spark, path)) == {
            (1, "A"), (2, None), (3, "A")
        }

    def test_type_preserved_and_cast(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        path = self._staged(spark, tmp_path, n=8, parts=2)
        # assignment expression is int-typed; column v is string → cast
        vt_update(spark, path, ("id", "=", 3), {"v": "id * 100"})
        got = dict(_rows(vt_read(spark, path)))
        assert got[3] == "300"
        from dynamicqueryengine_spark.sources.versioned import _read_manifest

        m = _read_manifest(path, 3)
        assert [f["type"] for f in m["schema"]["fields"]] == [
            "long", "string",
        ]

    def test_noop_update_commits_nothing(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        path = self._staged(spark, tmp_path)
        v = vt_update(
            spark, path, ("id", ">", 10_000), {"v": "'zz'"}
        )
        assert v == 2 and vt_versions(path) == [1, 2]

    def test_update_change_feed_and_cdc_rollup(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_update,
        )
        from dynamicqueryengine_spark.streaming.cdc import (
            apply_rollup_increment,
            pump_until_current,
        )
        from pyspark.sql import functions as F

        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        df = spark.createDataFrame(
            [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0)],
            "id long, g string, x double",
        )
        vt_write(spark, src, df)
        apply = apply_rollup_increment(
            spark, sink, key_cols=["g"], sum_cols={"s": "x"}
        )
        pump_until_current(spark, src, sink, "sub", apply)
        vt_update(
            spark, src, ("id", "=", 2), {"x": "x + 5"}, change_feed=True
        )
        ch = vt_read_changes(spark, src, 1, 2)
        tags = {
            (r["_change_type"], r["x"]) for r in ch.collect()
        }
        assert tags == {
            ("update_preimage", 20.0), ("update_postimage", 25.0)
        }
        pump_until_current(spark, src, sink, "sub", apply)
        got = {
            (r["g"], r["n"], float(r["s"]))
            for r in vt_read(spark, sink).collect()
        }
        assert got == {("A", 2, 35.0), ("B", 1, 30.0)}

    def test_update_string_assignments_reconstruct_changes(
        self, spark, tmp_path
    ):
        # committed WITHOUT change_feed, but predicate + SQL-string
        # assignments are recorded → both images reconstruct exactly
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_update,
        )

        path = self._staged(spark, tmp_path, n=8, parts=2)
        vt_update(spark, path, ("id", "=", 1), {"v": "concat(v, '!')"})
        ch = vt_read_changes(spark, path, 2, 3)
        got = {
            (r["_change_type"], r["id"], r["v"]) for r in ch.collect()
        }
        assert got == {
            ("update_preimage", 1, "v1"),
            ("update_postimage", 1, "v1!"),
        }

    def test_update_column_assignment_not_replayable(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_update,
        )

        path = self._staged(spark, tmp_path, n=8, parts=2)
        # a Column-object assignment cannot be recorded in the manifest
        vt_update(spark, path, ("id", "=", 1), {"v": F.lit("one")})
        with pytest.raises(ValueError, match="without"):
            vt_read_changes(spark, path, 2, 3).collect()

    def test_update_unknown_column_raises(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        path = self._staged(spark, tmp_path, n=8, parts=2)
        with pytest.raises(ValueError, match="unknown column"):
            vt_update(spark, path, ("id", "=", 1), {"nope": "'x'"})

    def test_update_respects_check_constraints(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
            vt_update,
        )

        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 5.0)], "id long, x double")
        vt_write(
            spark,
            path,
            df,
            constraints=[
                {
                    "name": "x_in_range",
                    "kind": "range",
                    "col": "x",
                    "lo": 0.0,
                    "hi": 10.0,
                }
            ],
        )
        with pytest.raises(ConstraintViolation):
            vt_update(spark, path, ("id", "=", 1), {"x": "x * 100"})

    def test_self_referential_update_keeps_postimages(
        self, spark, tmp_path
    ):
        """r12 review find: the rewrite path used to derive post-image
        change rows (and the constraint-check input) by re-filtering
        ``updated`` with the PREDICATE — wrong whenever an assignment
        rewrites a predicate column (``SET x = x*10 WHERE x = 2``: the
        post-image no longer matches), which silently dropped exactly
        the changed rows from the change feed. The match decision must
        be made once, on the pre-update row."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_update,
        )

        path = str(tmp_path / "t")
        df = spark.range(6).selectExpr("id", "CAST(id AS DOUBLE) AS x")
        vt_write(spark, path, df)
        vt_update(
            spark, path, ("x", "=", 2.0), {"x": "x * 10"},
            change_feed=True,
        )
        ch = vt_read_changes(spark, path, 1, 2)
        got = {
            (r["_change_type"], r["id"], r["x"]) for r in ch.collect()
        }
        assert got == {
            ("update_preimage", 2, 2.0),
            ("update_postimage", 2, 20.0),
        }
        got_now = {
            r["id"]: r["x"] for r in vt_read(spark, path).collect()
        }
        assert got_now[2] == 20.0

    def test_self_referential_update_cannot_escape_constraints(
        self, spark, tmp_path
    ):
        """Companion soundness pin: a constraint on the predicate column
        must reject an assignment that moves the row OUT of the matched
        set AND out of range — the old post-filter skipped enforcement
        for exactly those rows."""
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
            vt_update,
        )

        path = str(tmp_path / "t")
        df = spark.range(6).selectExpr("id", "CAST(id AS DOUBLE) AS x")
        vt_write(
            spark,
            path,
            df,
            constraints=[
                {
                    "name": "x_in_range",
                    "kind": "range",
                    "col": "x",
                    "lo": 0.0,
                    "hi": 10.0,
                }
            ],
        )
        with pytest.raises(ConstraintViolation):
            vt_update(spark, path, ("x", "=", 2.0), {"x": "x * 100"})
        # nothing committed
        got_now = {
            r["id"]: r["x"] for r in vt_read(spark, path).collect()
        }
        assert got_now[2] == 2.0


class TestPartialDirInterop:
    """r10: partial_dirs manifests compose with the rest of the surface
    — clone (shallow + deep), restore, optimize clearing partiality."""

    def test_clone_of_partially_rewritten_table(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_clone,
            vt_count,
            vt_optimize,
        )

        src, sh, dp = (
            str(tmp_path / "src"), str(tmp_path / "sh"), str(tmp_path / "dp")
        )
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, src, df)
        vt_optimize(spark, src, ["id"], n_partitions=8)
        vt_merge(spark, src, _df(spark, [(5, "FIVE")]), ["id"])
        assert _read_manifest(src, 3).get("partial_dirs")
        vt_clone(spark, src, sh)            # shallow
        vt_clone(spark, src, dp, deep=True)  # deep
        for c in (sh, dp):
            got = dict(_rows(vt_read(spark, c)))
            assert got[5] == "FIVE" and len(got) == 64
            assert vt_count(spark, c) == 64  # metadata path honors lists
            assert _read_manifest(c, 1).get("partial_dirs")

    def test_restore_preserves_partiality(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
            vt_restore,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=8)
        vt_merge(spark, path, _df(spark, [(5, "FIVE")]), ["id"])   # v3 partial
        vt_write(spark, path, _df(spark, [(999, "z")]), mode="overwrite")
        vt_restore(spark, path, 3)
        m = _read_manifest(path, 5)
        assert m.get("partial_dirs")
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and len(got) == 64

    def test_optimize_clears_partiality(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=8)
        vt_merge(spark, path, _df(spark, [(5, "FIVE")]), ["id"])
        vt_optimize(spark, path, ["id"], n_partitions=4)
        m = _read_manifest(path, 4)
        assert not m.get("partial_dirs")
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and len(got) == 64

    def test_append_after_partial_merge_carries_partiality(
        self, spark, tmp_path
    ):
        # regression (hypothesis-found): an append on top of a partial
        # merge must carry partial_dirs, or the unfiltered scan reads
        # the whole dir and resurrects rewritten-away rows
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=8)
        vt_merge(spark, path, _df(spark, [(5, "FIVE")]), ["id"])
        vt_write(spark, path, _df(spark, [(900, "new")]), mode="append")
        m = _read_manifest(path, 4)
        assert m.get("partial_dirs")
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and got[900] == "new" and len(got) == 65


class TestRuleDrivenDelete:
    """r10: vt_delete(rule=...) — the engine's flagship rule documents
    drive lakehouse retention: skip-eligible conjuncts prune files, the
    FULL compiled predicate (every operator) decides deleted rows, and
    a dict-form rule is CDC-replayable from the manifest."""

    def test_rule_delete_full_predicate_and_pruning(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr(
            "id", "concat('name', CASE WHEN id % 2 = 0 THEN 'X' ELSE 'Y' END) AS v"
        )
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=8)
        rule = {
            "Conditions": {
                "LogicalOperator": "AND",
                "Conditions": [
                    {"Property": "id", "Operator": "LessThan", "Value": 16},
                    {"Property": "v", "Operator": "Contains", "Value": "X"},
                ],
            }
        }
        v = vt_delete(spark, path, rule=rule)
        m = _read_manifest(path, v)
        # the id<16 conjunct is skip-eligible: only the low-range files
        # were rewritten
        assert 0 < m["delete"]["files_rewritten"] < m["delete"]["files_total"]
        assert m["delete"]["rule"] == rule
        got = {r["id"] for r in vt_read(spark, path).collect()}
        # even ids below 16 (Contains 'X') deleted; odd ones survive
        assert got == set(range(64)) - {0, 2, 4, 6, 8, 10, 12, 14}

    def test_rule_delete_cdc_reconstruction(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "keep"), (2, "drop-me"), (3, None)], "id long, v string"
        )
        vt_write(spark, path, df)
        vt_delete(
            spark,
            path,
            rule={
                "Conditions": {
                    "Conditions": [
                        {
                            "Property": "v",
                            "Operator": "Contains",
                            "Value": "drop",
                        }
                    ]
                }
            },
        )
        ch = vt_read_changes(spark, path, 1, 2)
        got = {(r["id"], r["v"], r["_change_type"]) for r in ch.collect()}
        assert got == {(2, "drop-me", "delete")}
        # null row survived (Contains NULL is not TRUE)
        assert _rows(vt_read(spark, path)) == {(1, "keep"), (3, None)}

    def test_rule_delete_with_external_params(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a"), (2, "b"), (3, "c")])
        )
        rule = {
            "Conditions": {
                "Conditions": [
                    {"Property": "v", "Operator": "DynamicEqual"}
                ]
            }
        }
        vt_delete(spark, path, rule=rule, external_params={"v": "b"})
        assert _rows(vt_read(spark, path)) == {(1, "a"), (3, "c")}
        ch = vt_read_changes(spark, path, 1, 2)
        assert {(r["id"], r["_change_type"]) for r in ch.collect()} == {
            (2, "delete")
        }

    def test_rule_and_predicate_mutually_exclusive(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="not both"):
            vt_delete(
                spark, path, ("id", "=", 1),
                rule={"Conditions": {"Conditions": []}},
            )


class TestMergeConstraintRace:
    """r10 verdict 'What's wrong' #1: vt_merge used to enforce CHECK
    constraints ONCE against the pre-race head, before its retry loop —
    a racing commit that adds/tightens constraints could land between
    that read and the merge's commit, and the retry would commit upsert
    rows unvalidated against the new set. Enforcement now runs inside
    the loop against each attempted head (mirroring vt_write's retry
    re-read and vt_update's in-loop enforcement)."""

    def test_merge_race_reenforces_winners_constraints(
        self, spark, tmp_path, monkeypatch
    ):
        """Writer A merges a NULL v while writer B commits a v_not_null
        constraint mid-merge: A's retry must raise ConstraintViolation
        and commit nothing."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))  # no constraints yet
        real = V._write_data_dir
        injected = []

        def racy(df, p, **kw):
            out = real(df, p, **kw)
            if not injected:  # only the merge's own write injects
                injected.append(True)
                vt_write(
                    spark, path, _df(spark, [(2, "winner")]),
                    mode="append",
                    constraints=[
                        {"name": "v_not_null", "kind": "not_null",
                         "col": "v"}
                    ],
                )
            return out

        monkeypatch.setattr(V, "_write_data_dir", racy)
        with pytest.raises(ConstraintViolation, match="v_not_null"):
            vt_merge(spark, path, _df(spark, [(3, None)]), ["id"])
        assert vt_versions(path) == [1, 2]
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "winner")}

    def test_merge_race_passes_when_rows_satisfy_new_constraints(
        self, spark, tmp_path, monkeypatch
    ):
        """Same race, upserts SATISFY the winner's constraint: the retry
        must succeed and the merged table carry both writers' rows."""
        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        real = V._write_data_dir
        injected = []

        def racy(df, p, **kw):
            out = real(df, p, **kw)
            if not injected:
                injected.append(True)
                vt_write(
                    spark, path, _df(spark, [(2, "winner")]),
                    mode="append",
                    constraints=[
                        {"name": "v_not_null", "kind": "not_null",
                         "col": "v"}
                    ],
                )
            return out

        monkeypatch.setattr(V, "_write_data_dir", racy)
        v = vt_merge(spark, path, _df(spark, [(1, "A2"), (3, "ok")]), ["id"])
        assert v == 3
        assert _rows(vt_read(spark, path)) == {
            (1, "A2"), (2, "winner"), (3, "ok"),
        }


class TestAtomicManifestCommit:
    """r10 verdict 'What's wrong' #2: the commit wrote json straight into
    the live version slot — a writer crashing mid-serialization left a
    torn manifest OWNING the version. The commit now serializes to a tmp
    file and os.link()s it into the slot (atomic create-if-absent with
    complete content); a crash can only tear the ignored tmp name."""

    def test_crash_mid_serialization_leaves_slot_free(
        self, spark, tmp_path, monkeypatch
    ):
        import json as _json

        import dynamicqueryengine_spark.sources.versioned as V

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        real_dump = _json.dump

        def torn(obj, f, **kw):
            f.write(_json.dumps(obj)[:10])  # partial bytes, then die
            raise RuntimeError("simulated writer crash")

        monkeypatch.setattr(V.json, "dump", torn)
        with pytest.raises(RuntimeError, match="simulated writer crash"):
            vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        monkeypatch.setattr(V.json, "dump", real_dump)
        # the crashed attempt owns nothing: no v2 manifest, no torn tmp,
        # head still parses
        assert vt_versions(path) == [1]
        log = os.listdir(os.path.join(path, "_vlog"))
        assert not [n for n in log if n.startswith(".tmp_")]
        assert _rows(vt_read(spark, path)) == {(1, "a")}
        # a clean retry takes the same version slot
        v = vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        assert v == 2
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "b")}

    def test_lost_race_leaves_no_tmp(self, spark, tmp_path):
        """The EEXIST loser's tmp file is removed on the way out."""
        from dynamicqueryengine_spark.sources.versioned import _commit

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        with pytest.raises(FileExistsError):
            _commit(path, ["d_x"], "append", expected_head=0)
        log = os.listdir(os.path.join(path, "_vlog"))
        assert not [n for n in log if n.startswith(".tmp_")]


class TestMergeStoreAssignment:
    """r10 advice: _reconcile_to_schema coerced upserts to table types
    with a plain cast, silently NULLing unrepresentable values in the
    committed snapshot. It now raises (ANSI store-assignment / Delta
    semantics) when a changed-type column holds a value the table type
    cannot represent."""

    def _int_table(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 10), (2, 20)], "id long, n int")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=2)
        return path

    def test_unparsable_string_raises_not_nulls(self, spark, tmp_path):
        path = self._int_table(spark, tmp_path)
        ups = spark.createDataFrame(
            [(1, "not-a-number")], "id long, n string"
        )
        with pytest.raises(ValueError, match="store-assignment"):
            vt_merge(spark, path, ups, ["id"])
        # nothing committed, data intact
        got = {(r["id"], r["n"]) for r in vt_read(spark, path).collect()}
        assert got == {(1, 10), (2, 20)}

    def test_representable_values_still_coerce(self, spark, tmp_path):
        path = self._int_table(spark, tmp_path)
        ups = spark.createDataFrame([(1, "77")], "id long, n string")
        vt_merge(spark, path, ups, ["id"])
        got = {(r["id"], r["n"]) for r in vt_read(spark, path).collect()}
        assert got == {(1, 77), (2, 20)}

    def test_null_inputs_are_not_flagged(self, spark, tmp_path):
        """A NULL input is a legitimate NULL, not a cast failure."""
        path = self._int_table(spark, tmp_path)
        ups = spark.createDataFrame([(1, None)], "id long, n string")
        vt_merge(spark, path, ups, ["id"])
        got = {(r["id"], r["n"]) for r in vt_read(spark, path).collect()}
        assert got == {(1, None), (2, 20)}


class TestDeletionVectors:
    """r10 verdict ask #2: merge-on-read DELETE/UPDATE. A small mutation
    writes a positional deletion-vector sidecar instead of rewriting
    files (files_rewritten = 0); every reader — snapshot, time travel,
    metadata count, change feed, DML rewrites — applies the vectors;
    OPTIMIZE materializes them."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_dv_delete_rewrites_nothing(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_delete,
        )

        path = self._staged(spark, tmp_path)
        pre = _read_manifest(path, 2)
        v = vt_delete(spark, path, ("id", "=", 5), mode="dv")
        m = _read_manifest(path, v)
        assert m["delete"]["dv"] is True
        assert m["delete"]["files_rewritten"] == 0
        assert m["delete"]["rows_matched"] == 1
        # every data file referenced VERBATIM — dirs, files, stats,
        # blooms, footer counts all carry unchanged
        assert m["dirs"] == pre["dirs"]
        assert m["files"] == pre["files"]
        assert m["file_stats"] == pre["file_stats"]
        assert m["file_rows"] == pre["file_rows"]
        # the vector names exactly one file with one position
        [(d, fmap)] = list(m["dv"].items())
        [(fname, entry)] = list(fmap.items())
        assert entry["count"] == 1
        # reads drop the row; metadata count subtracts it without a scan
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert 5 not in got and len(got) == 63
        assert vt_count(spark, path) == 63
        # time travel to the pre-DV snapshot still sees the row
        assert 5 in {r["id"] for r in vt_read(spark, path, 2).collect()}

    def test_dv_union_across_commits(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_delete,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        v = vt_delete(spark, path, ("id", "in", [6, 7]), mode="dv")
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got.isdisjoint({5, 6, 7}) and len(got) == 61
        assert vt_count(spark, path) == 61
        # 5,6,7 cluster in one optimized file: its entry is the UNION
        m = _read_manifest(path, v)
        counts = [
            e["count"] for fmap in m["dv"].values() for e in fmap.values()
        ]
        assert sum(counts) == 3

    def test_dv_delete_is_idempotent_noop_when_nothing_matches(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = self._staged(spark, tmp_path)
        v1 = vt_delete(spark, path, ("id", "=", 5), mode="dv")
        # the row is already deleted: the second delete matches nothing
        # (the matched read applies existing vectors) and commits nothing
        v2 = vt_delete(spark, path, ("id", "=", 5), mode="dv")
        assert v2 == v1
        assert vt_versions(path)[-1] == v1

    def test_dv_cap_strict_raises_auto_falls_back(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
        )

        path = self._staged(spark, tmp_path)
        with pytest.raises(ValueError, match="dv_max_rows"):
            vt_delete(
                spark, path, ("id", "<", 32), mode="dv", dv_max_rows=10
            )
        v = vt_delete(
            spark, path, ("id", "<", 32), mode="auto", dv_max_rows=10
        )
        m = _read_manifest(path, v)
        assert m["delete"]["files_rewritten"] > 0  # copy-on-write fallback
        assert "dv" not in m["delete"]
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(32, 64))

    def test_rewrite_delete_does_not_resurrect_dv_rows(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        # copy-on-write delete touching the same file: the rewrite read
        # must apply the existing vector
        vt_delete(spark, path, ("id", "=", 4))
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got.isdisjoint({4, 5}) and len(got) == 62

    def test_merge_does_not_resurrect_dv_rows(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        # merge rewrites the file holding key 4 (same file as 5)
        vt_merge(spark, path, _df(spark, [(4, "FOUR")]), ["id"])
        got = dict(_rows(vt_read(spark, path)))
        assert got[4] == "FOUR" and 5 not in got and len(got) == 63

    def test_optimize_materializes_dvs(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_delete,
            vt_optimize,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        v = vt_optimize(spark, path, ["id"], n_partitions=4)
        m = _read_manifest(path, v)
        assert "dv" not in m  # vectors expired with the rewritten files
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert 5 not in got and len(got) == 63
        assert vt_count(spark, path) == 63

    def test_dv_update_appends_postimages(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        pre = _read_manifest(path, 2)
        v = vt_update(
            spark, path, ("id", "=", 10), {"v": "'TEN'"}, mode="dv"
        )
        m = _read_manifest(path, v)
        assert m["update"]["dv"] is True
        assert m["update"]["files_rewritten"] == 0
        # old dirs carried verbatim + exactly one appended post-image dir
        assert set(pre["dirs"]) < set(m["dirs"])
        assert len(m["dirs"]) == len(pre["dirs"]) + 1
        got = dict(_rows(vt_read(spark, path)))
        assert got[10] == "TEN" and len(got) == 64
        assert vt_count(spark, path) == 64

    def test_dv_update_respects_constraints(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
            vt_optimize,
            vt_update,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "a"), (2, "b")]),
            constraints=[
                {"name": "v_not_null", "kind": "not_null", "col": "v"}
            ],
        )
        vt_optimize(spark, path, ["id"], n_partitions=2)
        with pytest.raises(ConstraintViolation, match="v_not_null"):
            vt_update(
                spark, path, ("id", "=", 1), {"v": "NULL"}, mode="dv"
            )
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "b")}

    def test_change_feed_exact_through_dv_commits(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_read_changes,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        v1 = vt_delete(spark, path, ("id", "=", 5), mode="dv")
        v2 = vt_update(
            spark, path, ("id", "=", 10), {"v": "'TEN'"}, mode="dv"
        )
        ch = vt_read_changes(spark, path, 2, v2)
        got = {
            (r["id"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()
        }
        assert got == {
            (5, "delete", v1),
            (10, "update_preimage", v2),
            (10, "update_postimage", v2),
        }

    def test_restore_past_dv_resurrects_rows(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_delete,
            vt_restore,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        v = vt_restore(spark, path, 2)  # pre-DV snapshot
        m = _read_manifest(path, v)
        assert "dv" not in m
        assert 5 in {r["id"] for r in vt_read(spark, path).collect()}
        assert vt_count(spark, path) == 64

    def test_minmax_falls_back_when_dv_removed_extreme(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_minmax,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 63), mode="dv")
        assert vt_minmax(spark, path, "id") == (0, 62)

    def test_predicate_read_with_pruning_applies_dv(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_delete

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        # the predicate matches ONLY the deleted row — stats keep its
        # file, the vector must drop the row behind the filter
        got = vt_read(spark, path, predicate=("id", "=", 5)).collect()
        assert got == []

    def test_shallow_clone_carries_dvs(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_clone,
            vt_count,
            vt_delete,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        dst = str(tmp_path / "branch")
        vt_clone(spark, path, dst)
        got = {r["id"] for r in vt_read(spark, dst).collect()}
        assert 5 not in got and len(got) == 63
        assert vt_count(spark, dst) == 63

    def test_deep_clone_copies_sidecars(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_clone,
            vt_delete,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        dst = str(tmp_path / "backup")
        vt_clone(spark, path, dst, deep=True)
        # severed: the clone reads correctly even after the source's
        # sidecars are gone
        import shutil as _shutil

        _shutil.rmtree(os.path.join(path, "_dv"))
        got = {r["id"] for r in vt_read(spark, dst).collect()}
        assert 5 not in got and len(got) == 63

    def test_vacuum_reaps_expired_sidecars(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
            vt_vacuum,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        vt_optimize(spark, path, ["id"], n_partitions=4)  # materializes
        vt_write(spark, path, _df(spark, [(100, "x")]), mode="append")
        removed = vt_vacuum(spark, path, keep_last=2, grace_seconds=0.0)
        assert any(n.startswith("_dv/") for n in removed)
        assert os.listdir(os.path.join(path, "_dv")) == []
        # referenced sidecars survive vacuum
        vt_delete(spark, path, ("id", "=", 6), mode="dv")
        vt_vacuum(spark, path, keep_last=1, grace_seconds=0.0)
        assert len(os.listdir(os.path.join(path, "_dv"))) == 1
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got.isdisjoint({5, 6}) and len(got) == 63


class TestRuleDrivenUpdate:
    """r10 verdict ask #3: rule documents drive all three DML verbs.
    vt_update(rule=...) prunes files on the rule's required skip
    conjuncts, updates rows the FULL compiled predicate matches, and
    records the rule + assignments for CDC reconstruction."""

    RULE = {
        "Conditions": {
            "Conditions": [
                {
                    "Property": "v",
                    "Operator": "StartsWith",
                    "Value": "v1",
                }
            ]
        }
    }

    def test_rule_update_applies_full_operator_set(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        path = str(tmp_path / "t")
        df = spark.range(20).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_update(
            spark, path, rule=self.RULE,
            assignments={"v": "upper(v)"},
        )
        got = dict(_rows(vt_read(spark, path)))
        # StartsWith 'v1' matches v1, v10..v19
        assert got[1] == "V1" and got[10] == "V10" and got[19] == "V19"
        assert got[2] == "v2" and got[0] == "v0"

    def test_rule_update_cdc_reconstruction(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_read_changes,
            vt_update,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, "va"), (2, "vb"), (3, "x")])
        )
        v = vt_update(
            spark, path, rule={
                "Conditions": {
                    "Conditions": [
                        {
                            "Property": "v",
                            "Operator": "Contains",
                            "Value": "v",
                        }
                    ]
                }
            },
            assignments={"v": "concat(v, '!')"},
        )
        m = _read_manifest(path, v)
        assert m["update"]["rule"] is not None
        assert m["update"]["assignments"] == {"v": "concat(v, '!')"}
        ch = vt_read_changes(spark, path, 1, v)
        got = {
            (r["id"], r["v"], r["_change_type"]) for r in ch.collect()
        }
        assert got == {
            (1, "va", "update_preimage"),
            (1, "va!", "update_postimage"),
            (2, "vb", "update_preimage"),
            (2, "vb!", "update_postimage"),
        }

    def test_rule_update_dv_mode(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
            vt_update,
        )

        path = str(tmp_path / "t")
        df = spark.range(32).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        v = vt_update(
            spark, path,
            rule={
                "Conditions": {
                    "Conditions": [
                        {
                            "Property": "id",
                            "Operator": "Equal",
                            "Value": 7,
                        }
                    ]
                }
            },
            assignments={"v": "'SEVEN'"},
            mode="dv",
        )
        m = _read_manifest(path, v)
        assert m["update"]["dv"] is True
        assert m["update"]["files_rewritten"] == 0
        got = dict(_rows(vt_read(spark, path)))
        assert got[7] == "SEVEN" and len(got) == 32

    def test_rule_and_predicate_mutually_exclusive(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        with pytest.raises(ValueError, match="not both"):
            vt_update(
                spark, path, ("id", "=", 1),
                assignments={"v": "'x'"},
                rule=self.RULE,
            )


class TestRuleDeleteReplayability:
    """r10 verdict ask #4: a vt_delete(rule=...) committed WITHOUT
    change_feed must still replay in the streaming source. A rule that
    is exactly a skip-grammar conjunction records a plain predicate
    (rule_exact_conjuncts); anything richer auto-materializes the
    change rows at delete time."""

    def test_exact_rule_records_predicate(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        v = vt_delete(
            spark, path, rule={
                "Conditions": {
                    "Conditions": [
                        {"Property": "id", "Operator": "Equal", "Value": 2}
                    ]
                }
            },
        )
        m = _read_manifest(path, v)
        # exact conjunction: recorded as a replayable plain predicate,
        # no change rows materialized
        assert m["delete"]["predicate"] == [["id", "=", 2]]
        assert m.get("changes") is None
        assert _rows(vt_read(spark, path)) == {(1, "a"), (3, "c")}

    def test_inexact_rule_materializes_changes(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "va"), (2, "xb")]))
        v = vt_delete(
            spark, path, rule={
                "Conditions": {
                    "Conditions": [
                        {
                            "Property": "v",
                            "Operator": "StartsWith",
                            "Value": "v",
                        }
                    ]
                }
            },
        )
        m = _read_manifest(path, v)
        assert m.get("changes") is not None  # forced materialization
        assert (
            m["delete"]["materialized_changes"]
            == "rule_not_skip_expressible"
        )
        assert "predicate" not in m["delete"]
        ch = vt_read_changes(spark, path, 1, v)
        assert {
            (r["id"], r["_change_type"]) for r in ch.collect()
        } == {(1, "delete")}

    def test_exact_conjunct_extractor_contract(self, spark):
        from dynamicqueryengine_spark.operators.predicates import (
            rule_exact_conjuncts,
        )
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("id", LongType()),
                StructField("v", StringType()),
            ]
        )

        def rule(*conds, op="AND", negate=False):
            return {
                "Conditions": {
                    "LogicalOperator": op,
                    "Negate": negate,
                    "Conditions": list(conds),
                }
            }

        eq = {"Property": "id", "Operator": "Equal", "Value": 3}
        rng = {"Property": "id", "Operator": "LessThan", "Value": 9}
        sw = {"Property": "v", "Operator": "StartsWith", "Value": "a"}
        assert rule_exact_conjuncts(rule(eq), schema) == [("id", "=", 3)]
        assert rule_exact_conjuncts(rule(eq, rng), schema) == [
            ("id", "=", 3),
            ("id", "<", 9),
        ]
        # OR with >1 child, negation, and inexpressible leaves all
        # disqualify (rule_skip_conjuncts would still over-approximate)
        assert rule_exact_conjuncts(rule(eq, rng, op="OR"), schema) is None
        assert rule_exact_conjuncts(rule(eq, negate=True), schema) is None
        assert rule_exact_conjuncts(rule(eq, sw), schema) is None
        # empty rule compiles to TRUE — not expressible as a conjunction
        assert rule_exact_conjuncts(rule(), schema) is None
        # string-column ranges compare numerically, footer stats are
        # lexicographic — never exact
        srng = {"Property": "v", "Operator": "GreaterThan", "Value": 1}
        assert rule_exact_conjuncts(rule(srng), schema) is None


class TestSampledMcv:
    """r10 verdict ask #6: the ANALYZE MCV explode shuffles |rows|×|cols|
    pairs — bound it at scale with a hash-Bernoulli row sample whose
    top-1 frequency scales by 1/f; the exact pass stays the default."""

    def _skewed(self, spark, tmp_path):
        path = str(tmp_path / "t")
        # 500 rows of g=hot, 100 distinct cold values
        df = spark.range(600).selectExpr(
            "id", "CASE WHEN id < 500 THEN 'hot' ELSE concat('c', id) END AS g"
        )
        vt_write(spark, path, df)
        return path

    def test_sampled_mcv_estimates_within_band(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_analyze,
            vt_table_stats,
        )

        path = self._skewed(spark, tmp_path)
        vt_analyze(spark, path, columns=["g"], mcv_sample=0.5)
        st = vt_table_stats(path)
        blob = st["analyze"] if "analyze" in st else st
        assert blob.get("mcv_sample") == 0.5
        est = blob["columns"]["g"]["mcv_count"]
        # Bernoulli(0.5) over a 500-row hot key: estimate lands well
        # inside a 2x band with overwhelming probability
        assert 250 <= est <= 1000

    def test_default_stays_exact_and_unmarked(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_analyze,
            vt_table_stats,
        )

        path = self._skewed(spark, tmp_path)
        vt_analyze(spark, path, columns=["g"])
        st = vt_table_stats(path)
        blob = st["analyze"] if "analyze" in st else st
        assert "mcv_sample" not in blob
        assert blob["columns"]["g"]["mcv_count"] == 500

    def test_bad_fraction_rejected(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_analyze

        path = self._skewed(spark, tmp_path)
        with pytest.raises(ValueError, match="mcv_sample"):
            vt_analyze(spark, path, mcv_sample=0.0)


class TestDvMaintenanceDebt:
    def test_advisor_flags_dv_debt_and_maintain_clears_it(
        self, spark, tmp_path
    ):
        """Merge-on-read defers the rewrite; the advisor is where the
        bill comes due: enough DV'd files trip ``compact``, and running
        vt_maintain materializes the vectors (dv counters back to 0)."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_maintain,
            vt_maintenance_plan,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        # DV one row in every file: 4/4 files carry vectors
        for k in (1, 17, 33, 49):
            vt_delete(spark, path, ("id", "=", k), mode="dv")
        plan = vt_maintenance_plan(path, small_file_bytes=1)
        assert plan["dv"] == {"files": 4, "rows": 4, "healthy_files": 4}
        assert plan["compact"] is True  # small-file rule can't trigger
        assert plan["reorg"] is True  # healthy-file debt → vt_reorg due
        vt_maintain(spark, path, cluster_by=["id"])
        plan2 = vt_maintenance_plan(path, small_file_bytes=1)
        assert plan2["dv"] == {"files": 0, "rows": 0, "healthy_files": 0}
        assert plan2["reorg"] is False
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got.isdisjoint({1, 17, 33, 49}) and len(got) == 60


class TestDvMerge:
    """Merge-on-read MERGE: matched rows DV'd, upserts appended,
    delete-clause matches DV'd without replacement, zero rewrites of
    existing files, change rows always materialized."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_dv_merge_rewrites_nothing(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
        )

        path = self._staged(spark, tmp_path)
        pre = _read_manifest(path, 2)
        v = vt_merge(
            spark, path,
            _df(spark, [(5, "FIVE"), (1000, "NEW")]),
            ["id"], mode="dv",
        )
        m = _read_manifest(path, v)
        assert m["merge"]["dv"] is True
        assert m["merge"]["files_rewritten"] == 0
        assert m["merge"]["rows_matched"] == 1  # only key 5 existed
        # old dirs + files carried verbatim, plus the appended upserts
        assert set(pre["dirs"]) < set(m["dirs"])
        assert m["files"][pre["dirs"][0]] == pre["files"][pre["dirs"][0]]
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and got[1000] == "NEW" and len(got) == 65
        assert vt_count(spark, path) == 65

    def test_dv_merge_change_feed_and_delete_clause(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )

        path = self._staged(spark, tmp_path)
        v = vt_merge(
            spark, path,
            _df(spark, [(5, "FIVE"), (6, None), (1000, "NEW")]),
            ["id"],
            delete_where="v IS NULL",
            mode="dv",
        )
        got = dict(_rows(vt_read(spark, path)))
        assert got[5] == "FIVE" and got[1000] == "NEW"
        assert 6 not in got and len(got) == 64
        ch = {
            (r["id"], r["_change_type"])
            for r in vt_read_changes(spark, path, v - 1, v).collect()
        }
        assert ch == {
            (5, "update_preimage"),
            (5, "update_postimage"),
            (6, "delete"),
            (1000, "insert"),
        }

    def test_dv_merge_streams_exact(self, spark, tmp_path):
        import uuid as _uuid

        from pyspark.sql import functions as F

        from dynamicqueryengine_spark.streaming.source import (
            vt_change_stream,
        )

        path = self._staged(spark, tmp_path, n=12, parts=2)
        vt_merge(
            spark, path, _df(spark, [(3, "THREE"), (99, "NEW")]),
            ["id"], mode="dv",
        )
        qn = "chg_" + _uuid.uuid4().hex[:8]
        q = (
            vt_change_stream(spark, path)
            .writeStream.format("memory")
            .queryName(qn)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql(f"select * from {qn}")
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1)
        fold = {
            (r["id"], r["v"])
            for r in out.groupBy("id", "v")
            .agg(F.sum(sign).alias("s"))
            .filter("s != 0")
            .collect()
        }
        assert fold == _rows(vt_read(spark, path))

    def test_dv_merge_cap_and_auto_fallback(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
        )

        path = self._staged(spark, tmp_path)
        big = spark.range(40).selectExpr("id", "'X' AS v")
        with pytest.raises(ValueError, match="dv_max_rows"):
            vt_merge(spark, path, big, ["id"], mode="dv", dv_max_rows=5)
        v = vt_merge(
            spark, path, big, ["id"], mode="auto", dv_max_rows=5
        )
        m = _read_manifest(path, v)
        assert m["merge"]["files_rewritten"] > 0  # copy-on-write fallback
        got = dict(_rows(vt_read(spark, path)))
        assert got[0] == "X" and got[39] == "X" and got[40] == "v40"

    def test_dv_merge_txn_marker_exactly_once(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_last_txn

        path = self._staged(spark, tmp_path, n=8, parts=2)
        v = vt_merge(
            spark, path, _df(spark, [(1, "ONE")]), ["id"],
            mode="dv", txn=("app", 7),
        )
        assert vt_last_txn(path, "app") == 7
        # replay of the same app txn is a no-op
        v2 = vt_merge(
            spark, path, _df(spark, [(1, "TWO")]), ["id"],
            mode="dv", txn=("app", 7),
        )
        assert v2 == v
        assert dict(_rows(vt_read(spark, path)))[1] == "ONE"


class TestDvCommitRace:
    def test_concurrent_dv_deletes_union_after_race(
        self, spark, tmp_path, monkeypatch
    ):
        """Two DV deletes race: the loser retries against the winner's
        head and must UNION vectors, not clobber them — both rows end
        up deleted and both counts subtract."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            vt_count,
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        real = V._write_dv_sidecar
        injected = []

        def racy(p, payload):
            out = real(p, payload)
            if not injected:
                injected.append(True)
                # winner lands a DV delete of id=7 between the loser's
                # sidecar write and its commit
                vt_delete(spark, path, ("id", "=", 7), mode="dv")
            return out

        monkeypatch.setattr(V, "_write_dv_sidecar", racy)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got.isdisjoint({5, 7}) and len(got) == 62
        assert vt_count(spark, path) == 62
        assert vt_versions(path) == [1, 2, 3, 4]


class TestIncrementalCompact:
    """vt_compact: pay O(small bytes), not the whole table — files
    already at size are referenced verbatim; packed files materialize
    their deletion vectors; kept files keep theirs."""

    def test_compact_packs_only_small_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_compact,
            vt_count,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        # one healthy file...
        vt_write(
            spark, path,
            spark.range(50000).selectExpr("id", "concat('v', id) AS v")
            .repartition(1),
        )
        vt_optimize(spark, path, ["id"], n_partitions=1)
        big = _read_manifest(path, 2)
        [big_dir] = big["dirs"]
        [big_file] = big["files"][big_dir]
        big_sz = os.path.getsize(os.path.join(path, big_dir, big_file))
        # ...plus a tail of tiny appends (the streaming small-file problem)
        for k in range(4):
            vt_write(
                spark, path,
                _df(spark, [(100000 + k, f"x{k}")]),
                mode="append",
            )
        v = vt_compact(spark, path, small_file_bytes=big_sz)
        m = _read_manifest(path, v)
        blob = m["compact"]
        assert blob["files_compacted"] == 4
        assert blob["files_total"] == 5
        # the big file is referenced verbatim with its stats
        assert big_dir in m["dirs"]
        assert m["files"][big_dir] == [big_file]
        assert m["file_stats"][big_dir] == big["file_stats"][big_dir]
        # 4 tiny files packed into one
        new_dirs = [d for d in m["dirs"] if d != big_dir]
        assert len(new_dirs) == 1
        assert len(m["files"][new_dirs[0]]) == 1
        assert vt_count(spark, path) == 50004
        got = dict(_rows(vt_read(spark, path).filter("id >= 100000")))
        assert got == {100000 + k: f"x{k}" for k in range(4)}

    def test_compact_materializes_touched_dvs_keeps_others(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_compact,
            vt_count,
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path,
            spark.range(50000).selectExpr("id", "concat('v', id) AS v")
            .repartition(1),
        )
        vt_optimize(spark, path, ["id"], n_partitions=1)
        big = _read_manifest(path, 2)
        [big_dir] = big["dirs"]
        big_sz = os.path.getsize(
            os.path.join(path, big_dir, big["files"][big_dir][0])
        )
        for k in range(3):
            vt_write(
                spark, path, _df(spark, [(100000 + k, f"x{k}")]),
                mode="append",
            )
        # one DV in the big (kept) file, one in a small (packed) file
        vt_delete(spark, path, ("id", "=", 7), mode="dv")
        vt_delete(spark, path, ("id", "=", 100001), mode="dv")
        v = vt_compact(spark, path, small_file_bytes=big_sz)
        m = _read_manifest(path, v)
        # the kept file's vector carried; the packed file's materialized
        assert list(m["dv"].keys()) == [big_dir]
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got.isdisjoint({7, 100001})
        assert vt_count(spark, path) == 50001
        # time travel across the compact still sees pre-delete rows
        assert 7 in {r["id"] for r in vt_read(spark, path, 2).collect()}

    def test_compact_noop_below_min_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_compact,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_optimize(spark, path, ["id"], n_partitions=1)
        v = vt_compact(spark, path, min_files=5)
        assert v == vt_versions(path)[-1] == 2

    def test_compact_is_change_feed_silent(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_compact,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        for k in range(3):
            vt_write(
                spark, path, _df(spark, [(10 + k, "x")]), mode="append"
            )
        v = vt_compact(spark, path, small_file_bytes=1 << 30, min_files=2)
        assert v > 4
        ch = vt_read_changes(spark, path, v - 1, v)
        assert ch.count() == 0  # layout only, no logical change


class TestMaintainIncremental:
    def test_incremental_maintain_uses_compact(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_maintain,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(0, "seed")]))
        for k in range(5):
            vt_write(
                spark, path, _df(spark, [(k + 1, f"x{k}")]), mode="append"
            )
        out = vt_maintain(spark, path, incremental=True)
        assert "compact:incremental" in out["actions"]
        m = _read_manifest(path, out["version"])
        assert "analyze" in m  # stats follow the new layout
        got = _rows(vt_read(spark, path))
        assert len(got) == 6


class TestReviewFixesR11:
    """Pins for the r11 in-round review findings."""

    def test_dv_merge_appended_dir_gets_blooms(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(32).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=2, bloom_cols=["id"])
        v = vt_merge(
            spark, path, _df(spark, [(5, "FIVE"), (99, "NEW")]),
            ["id"], mode="dv", bloom_cols=["id"],
        )
        m = _read_manifest(path, v)
        new_dirs = [d for d in m["dirs"] if d not in _read_manifest(path, 2)["dirs"]]
        assert len(new_dirs) == 1
        assert new_dirs[0] in m.get("blooms", {})  # upsert dir prunable

    def test_maintain_incremental_noop_records_no_action(
        self, spark, tmp_path
    ):
        """A compact trigger vt_compact cannot fix (dir sprawl of
        healthy-sized files) must not claim compaction nor force an
        analyze commit on every run."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_analyze,
            vt_maintain,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(0, "a")]))
        for k in range(5):
            vt_write(
                spark, path, _df(spark, [(k + 1, "b")]), mode="append"
            )
        vt_analyze(spark, path, columns=["id"])
        # every file is "healthy" under a 1-byte threshold: compact is
        # due (dir sprawl) but vt_compact finds nothing packable
        out = vt_maintain(
            spark, path, incremental=True, small_file_bytes=1
        )
        assert "compact:incremental" not in out["actions"]
        assert "analyze" not in out["actions"]  # stats still fresh

    def test_vacuum_reaps_torn_commit_temps(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_vacuum

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        torn = os.path.join(path, "_vlog", ".tmp_2_999_123")
        with open(torn, "w") as f:
            f.write('{"dirs": [')  # a crashed writer's debris
        removed = vt_vacuum(spark, path, keep_last=2, grace_seconds=0)
        assert os.path.join("_vlog", ".tmp_2_999_123") in removed
        assert not os.path.exists(torn)
        assert _rows(vt_read(spark, path)) == {(1, "a")}

    def test_compact_sizes_legacy_whole_dirs(self, spark, tmp_path):
        """A legacy (no file list) dir's bytes count toward the output
        sizing: packing must not collapse it into one oversized file."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_compact,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path,
            spark.range(40000).selectExpr("id", "concat('v', id) AS v"),
        )
        # strip the file list from the manifest to simulate a legacy dir
        m = _read_manifest(path, 1)
        m.pop("files", None)
        m.pop("file_stats", None)
        m.pop("file_rows", None)
        import json as _json

        with open(V._manifest_path(path, 1), "w") as f:
            _json.dump(m, f)
        legacy_bytes = sum(
            os.path.getsize(os.path.join(path, m["dirs"][0], n))
            for n in os.listdir(os.path.join(path, m["dirs"][0]))
            if n.endswith(".parquet")
        )
        # one genuinely-small companion file so the packable count
        # clears the >=2 floor; the legacy dir is touched whole anyway
        vt_write(spark, path, _df(spark, [(900000, "t")]), mode="append")
        tiny_dir = [
            d for d in _read_manifest(path, 2)["dirs"] if d != m["dirs"][0]
        ][0]
        tiny_bytes = sum(
            os.path.getsize(os.path.join(path, tiny_dir, n))
            for n in os.listdir(os.path.join(path, tiny_dir))
            if n.endswith(".parquet")
        )
        v = vt_compact(
            spark, path,
            small_file_bytes=tiny_bytes + 1,  # only the tiny file is small
            target_file_bytes=max(1, legacy_bytes // 3),
        )
        m2 = _read_manifest(path, v)
        [new_dir] = m2["dirs"]
        # the legacy dir was touched whole AND its bytes sized the
        # output: ~3+ files, not 1 oversized one
        assert len(m2["files"][new_dir]) >= 2
        assert vt_read(spark, path).count() == 40001


class TestAdviceFixesR12:
    """Pins for the r11 ADVICE findings plus the r12 compact DV sidecar
    encoding (delta-varint base64 position blobs, legacy JSON lists
    still readable)."""

    def _staged_dv(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        vt_delete(spark, path, ("id", "in", [5, 6, 40]), mode="dv")
        return path

    def test_dv_codec_roundtrip_property(self):
        from hypothesis import given, settings, strategies as st

        from dynamicqueryengine_spark.sources.versioned import (
            _decode_dv_positions,
            _encode_dv_positions,
        )

        @settings(max_examples=200, deadline=None)
        @given(
            st.lists(
                st.integers(min_value=0, max_value=2**40),
                max_size=300,
                unique=True,
            )
        )
        def check(poss):
            poss = sorted(poss)
            assert _decode_dv_positions(_encode_dv_positions(poss)) == poss
            # legacy plain-list entries pass through the decoder
            assert _decode_dv_positions(list(poss)) == poss

        check()

    def test_dv_sidecar_is_varint_and_smaller_than_json(self, tmp_path):
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _decode_dv_positions,
            _dv_dir,
            _write_dv_sidecar,
        )

        poss = sorted(range(0, 300_000, 3))  # 100k positions
        ref = _write_dv_sidecar(str(tmp_path), {"d_x": {"f.parquet": poss}})
        with open(os.path.join(_dv_dir(str(tmp_path)), ref)) as f:
            payload = _json.load(f)
        enc = payload["d_x"]["f.parquet"]
        assert isinstance(enc, str)  # varint blob, not a JSON array
        assert _decode_dv_positions(enc) == poss
        assert len(enc) < len(_json.dumps(poss)) / 5  # ≥5× tighter

    def test_legacy_list_sidecar_still_reads(self, spark, tmp_path):
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _dv_dir,
            _read_manifest,
            vt_count,
            vt_versions,
        )

        path = self._staged_dv(spark, tmp_path)
        m = _read_manifest(path, vt_versions(path)[-1])
        refs = {e["ref"] for fm in m["dv"].values() for e in fm.values()}
        # rewrite every sidecar into the pre-r12 plain-list format
        for ref in refs:
            full = os.path.join(_dv_dir(path), ref)
            with open(full) as f:
                payload = _json.load(f)
            from dynamicqueryengine_spark.sources.versioned import (
                _decode_dv_positions,
            )

            legacy = {
                d: {fn: _decode_dv_positions(e) for fn, e in fm.items()}
                for d, fm in payload.items()
            }
            with open(full, "w") as f:
                _json.dump(legacy, f)
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {5, 6, 40}
        assert vt_count(spark, path) == 61

    def test_corrupt_sidecar_raises_named_error(self, spark, tmp_path):
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _dv_dir,
            _read_manifest,
            vt_versions,
        )

        path = self._staged_dv(spark, tmp_path)
        m = _read_manifest(path, vt_versions(path)[-1])
        refs = {e["ref"] for fm in m["dv"].values() for e in fm.values()}
        for ref in refs:
            full = os.path.join(_dv_dir(path), ref)
            with open(full, "w") as f:
                _json.dump({}, f)  # sidecar lost its entries
        with pytest.raises(ValueError, match="DV sidecar .* no entry"):
            vt_read(spark, path).collect()

    def test_read_plan_raises_on_dv_key_mismatch(self, spark, tmp_path):
        """A non-empty DV map whose keys match no selected file must fail
        loudly, never read without the filter (silent resurrection)."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            _read_plan,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        m = _read_manifest(path, 1)
        ((d, files),) = m["files"].items()
        plan = {
            "files": {os.path.join(path, d): files},
            "dv": {"d_nonexistent/" + files[0]: [0]},
        }
        with pytest.raises(ValueError, match="matched no selected file"):
            _read_plan(spark, plan)

    def test_commit_falls_back_when_hardlinks_unsupported(
        self, spark, tmp_path, monkeypatch
    ):
        """Filesystems without hard links (FUSE/object-store mounts)
        degrade to create-if-absent: commits succeed, concurrent-writer
        detection (EEXIST) is unchanged."""
        import errno as _errno

        import dynamicqueryengine_spark.sources.versioned as V

        def no_link(src, dst):
            raise OSError(_errno.EPERM, "Operation not permitted")

        monkeypatch.setattr(V.os, "link", no_link)
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")
        assert _rows(vt_read(spark, path)) == {(1, "a"), (2, "b")}
        # slot already owned -> the fallback's open("x") raises EEXIST
        with open(V._manifest_path(path, 3), "w") as f:
            f.write("{}")
        with pytest.raises(FileExistsError):
            V._commit(path, [], "append", 2)

    def test_commit_still_raises_on_unexpected_link_errors(
        self, spark, tmp_path, monkeypatch
    ):
        import errno as _errno

        import dynamicqueryengine_spark.sources.versioned as V

        def bad_link(src, dst):
            raise OSError(_errno.EIO, "I/O error")

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a")]))
        monkeypatch.setattr(V.os, "link", bad_link)
        with pytest.raises(OSError):
            vt_write(spark, path, _df(spark, [(2, "b")]), mode="append")


class TestDmlBloomParity:
    """r11 verdict ask #3: every DML verb harvests blooms for the
    directories it writes, so a bloom-indexed table keeps per-file
    bloom entries for EVERY data dir across the full triad, in both
    rewrite and merge-on-read modes."""

    def _all_dirs_bloomed(self, path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_versions,
        )

        m = _read_manifest(path, vt_versions(path)[-1])
        blooms = m.get("blooms", {})
        return all(
            d in blooms and blooms[d].get("files") for d in m["dirs"]
        ), m

    def _staged(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4, bloom_cols=["id"])
        return path

    def test_rewrite_triad_keeps_blooms(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), bloom_cols=["id"])
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"delete lost blooms: {sorted(m.get('blooms', {}))}"
        vt_update(
            spark, path, ("id", "=", 7),
            {"v": "concat(v, '!')"}, bloom_cols=["id"],
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"update lost blooms: {sorted(m.get('blooms', {}))}"
        vt_merge(
            spark, path, _df(spark, [(9, "NINE"), (99, "NEW")]),
            ["id"], bloom_cols=["id"],
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"merge lost blooms: {sorted(m.get('blooms', {}))}"

    def test_dv_triad_keeps_blooms(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        # DV delete writes no data dir: existing blooms carry verbatim
        vt_delete(
            spark, path, ("id", "=", 5), mode="dv", bloom_cols=["id"]
        )
        ok, _ = self._all_dirs_bloomed(path)
        assert ok
        # DV update appends a post-image dir: it must get blooms
        vt_update(
            spark, path, ("id", "=", 7),
            {"v": "concat(v, '!')"}, mode="dv", bloom_cols=["id"],
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"dv update lost blooms: {sorted(m.get('blooms', {}))}"
        vt_merge(
            spark, path, _df(spark, [(9, "NINE"), (99, "NEW")]),
            ["id"], mode="dv", bloom_cols=["id"],
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"dv merge lost blooms: {sorted(m.get('blooms', {}))}"
        # and the table still answers correctly through all of it
        got = {r["id"]: r["v"] for r in vt_read(spark, path).collect()}
        assert 5 not in got
        assert got[7] == "v7!" and got[9] == "NINE" and got[99] == "NEW"


class TestDvSidecarConsolidation:
    """r11 verdict ask #2: scan planning must open O(1) DV sidecars no
    matter how many DV commits accumulated. Two mechanisms: DV-writing
    commits fold all live entries into their own sidecar once the head
    references _DV_CONSOLIDATE_REFS of them, and
    vt_checkpoint(consolidate_dv=True) rolls everything into exactly
    one via a metadata-only commit."""

    def _dv_refs(self, path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_versions,
        )

        m = _read_manifest(path, vt_versions(path)[-1])
        return {
            e["ref"]
            for fmap in (m.get("dv") or {}).values()
            for e in fmap.values()
        }, m

    def _staged(self, spark, tmp_path, n_deletes):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        # 16 range-clustered files: deletes at id = 4*i land in DISTINCT
        # files, so each commit adds a fresh sidecar ref (a later DV on
        # the same file would REPLACE its entry, not add a ref)
        vt_optimize(spark, path, ["id"], n_partitions=16)
        for i in range(n_deletes):
            vt_delete(spark, path, ("id", "=", 4 * i), mode="dv")
        return path

    def test_write_path_bounds_live_refs(self, spark, tmp_path):
        import dynamicqueryengine_spark.sources.versioned as V

        path = self._staged(spark, tmp_path, 12)
        refs, m = self._dv_refs(path)
        # 12 DV commits, but the 9th folded everything into one sidecar
        # (threshold 8): live refs stay bounded, never 12
        assert 1 <= len(refs) <= V._DV_CONSOLIDATE_REFS
        # a consolidating commit records itself in the audit blob
        hists = [
            h for h in V.vt_history(path)
            if h.get("delete", {}).get("dv_consolidated_refs")
        ]
        assert hists, "no delete recorded a consolidation"
        # every deleted row stays deleted through the fold
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {4 * i for i in range(12)}
        assert V.vt_count(spark, path) == 52

    def test_checkpoint_rolls_up_to_one_sidecar(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_checkpoint,
            vt_count,
            vt_head,
            vt_read_changes,
        )

        path = self._staged(spark, tmp_path, 5)
        refs_before, _ = self._dv_refs(path)
        # one sidecar per DV commit before the roll-up: scan planning
        # (_load_dv_positions) opens each distinct ref exactly once, so
        # distinct-ref count IS the per-plan sidecar-open count
        assert len(refs_before) == 5
        pre = vt_head(path)
        head = vt_checkpoint(spark, path, consolidate_dv=True)
        assert head == pre + 1  # metadata-only commit
        refs_after, m = self._dv_refs(path)
        assert len(refs_after) == 1
        assert "dv_consolidate" in m
        assert m["dv_consolidate"]["refs_before"] == 5
        # data references and results unchanged
        deleted = {4 * i for i in range(5)}
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - deleted
        assert vt_count(spark, path) == 59
        # time travel to a pre-roll-up version still reads old sidecars
        assert vt_count(spark, path, pre) == 59
        assert {r["id"] for r in vt_read(spark, path, pre - 1).collect()} == (
            set(range(64)) - {4 * i for i in range(4)}
        )
        # no logical change: the change feed skips the commit entirely
        assert vt_read_changes(spark, path, head, head).count() == 0
        # idempotent: a second consolidating checkpoint commits nothing
        assert vt_checkpoint(spark, path, consolidate_dv=True) == head

    def test_vacuum_reaps_superseded_sidecars(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _dv_dir,
            vt_checkpoint,
            vt_count,
        )

        path = self._staged(spark, tmp_path, 5)
        vt_checkpoint(spark, path, consolidate_dv=True)
        n_sidecars = len(os.listdir(_dv_dir(path)))
        assert n_sidecars == 6  # 5 originals + 1 consolidated
        vt_vacuum(spark, path, keep_last=1, grace_seconds=0)
        left = os.listdir(_dv_dir(path))
        assert len(left) == 1  # only the consolidated sidecar survives
        assert vt_count(spark, path) == 59
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {4 * i for i in range(5)}


class TestReorgPurge:
    """r11 verdict ask #1 — vt_reorg (Delta's REORG TABLE … APPLY
    (PURGE)): targeted DV materialization. Only files whose vector debt
    crosses the threshold are rewritten; healthy/lightly-vectored files
    carry VERBATIM with their stats, blooms and vectors; vt_optimize is
    no longer the only exit for DV debt on healthy files."""

    def _staged(self, spark, tmp_path, parts=16):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(
            spark, path, ["id"], n_partitions=parts, bloom_cols=["id"]
        )
        # vectors in exactly 3 of the 16 range-clustered files
        vt_delete(spark, path, ("id", "in", [0, 1]), mode="dv")
        vt_delete(spark, path, ("id", "=", 20), mode="dv")
        vt_delete(spark, path, ("id", "=", 40), mode="dv")
        return path

    def test_reorg_purges_exactly_the_dirty_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_head,
            vt_reorg,
        )

        path = self._staged(spark, tmp_path)
        pre_v = vt_head(path)
        pre = _read_manifest(path, pre_v)
        assert sum(len(f) for f in pre["dv"].values()) == 3
        v = vt_reorg(spark, path, bloom_cols=["id"])
        m = _read_manifest(path, v)
        blob = m["reorg"]
        # rewrote exactly the 3 vectored files out of 16
        assert blob["files_rewritten"] == 3
        assert blob["files_total"] == 16
        assert blob["dv_files_purged"] == 3
        assert blob["dv_rows_purged"] == 4
        assert "dv" not in m  # vectors fully materialized
        # the 13 clean files carried verbatim (same file names)
        pre_files = {
            f for d, fl in pre["files"].items() for f in fl
        }
        post_files = {
            f for d, fl in m["files"].items() for f in fl
        }
        assert len(pre_files & post_files) == 13
        # results identical, metadata count exact, blooms on every dir
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {0, 1, 20, 40}
        assert vt_count(spark, path) == 60
        assert all(d in m.get("blooms", {}) for d in m["dirs"])
        # time travel to the pre-reorg snapshot still applies vectors
        assert vt_count(spark, path, pre_v) == 60

    def test_reorg_threshold_leaves_light_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_reorg,
        )

        path = self._staged(spark, tmp_path)
        # only the 2-position file crosses min_dv_rows=2
        v = vt_reorg(spark, path, min_dv_rows=2)
        m = _read_manifest(path, v)
        assert m["reorg"]["files_rewritten"] == 1
        assert m["reorg"]["dv_rows_purged"] == 2
        # the two 1-position vectors survive untouched
        counts = sorted(
            e["count"] for fm in m["dv"].values() for e in fm.values()
        )
        assert counts == [1, 1]
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {0, 1, 20, 40}

    def test_reorg_fraction_threshold(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_head,
            vt_reorg,
        )

        path = self._staged(spark, tmp_path)
        # 16 files × 4 rows: 2/4 = 50% ≥ 0.5 purges only the heavy file
        v = vt_reorg(
            spark, path, min_dv_rows=10**9, min_dv_fraction=0.5
        )
        m = _read_manifest(path, v)
        assert m["reorg"]["files_rewritten"] == 1
        # nothing crosses an impossible threshold → no-op, same head
        assert vt_reorg(
            spark, path, min_dv_rows=10**9, min_dv_fraction=0.99
        ) == vt_head(path)

    def test_reorg_noop_without_vectors(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_head,
            vt_optimize,
            vt_reorg,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, "a"), (2, "b")]))
        vt_optimize(spark, path, ["id"], n_partitions=1)
        assert vt_reorg(spark, path) == vt_head(path)

    def test_reorg_skipped_by_cdc_and_streaming(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_reorg,
        )

        path = self._staged(spark, tmp_path)
        v = vt_reorg(spark, path)
        # no logical change: the change feed contributes nothing
        assert vt_read_changes(spark, path, v, v).count() == 0

    def test_maintain_incremental_executes_reorg(self, spark, tmp_path):
        """vt_optimize is no longer the only exit: incremental
        maintenance retires healthy-file DV debt via vt_reorg."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_history,
            vt_maintain,
            vt_maintenance_plan,
        )

        path = self._staged(spark, tmp_path)
        plan = vt_maintenance_plan(path, small_file_bytes=1)
        assert plan["reorg"] is True
        out = vt_maintain(
            spark, path, incremental=True, small_file_bytes=1
        )
        assert "reorg" in out["actions"]
        assert not any(
            a.startswith("optimize:") for a in out["actions"]
        )
        # debt cleared, results right
        plan2 = vt_maintenance_plan(path, small_file_bytes=1)
        assert plan2["dv"]["rows"] == 0 and plan2["reorg"] is False
        assert any("reorg" in h for h in vt_history(path))
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {0, 1, 20, 40}


class TestAutoModeCrossover:
    """r11 verdict ask #5 — ``mode="auto"`` as the maintained default
    for the DML triad: merge-on-read (deletion vector, zero rewrites)
    when at most ``dv_max_rows`` rows match, plain copy-on-write above
    the bound. The above-bound fallback was already pinned for delete
    and merge (TestDeletionVectors/TestDvMerge); this class pins the
    BELOW-bound half for all three verbs plus update's fallback, which
    together make ``auto`` safe to recommend as the default in the
    admin tour and docs. The crossover numbers behind the bound are
    measured by scripts/bench_dv_probe.py and recorded in SCALE.md."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_auto_delete_picks_dv_below_bound(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        v = vt_delete(spark, path, ("id", "=", 5), mode="auto")
        m = _read_manifest(path, v)
        assert m["delete"]["dv"] is True
        assert m["delete"]["files_rewritten"] == 0
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {5}

    def test_auto_update_picks_dv_below_bound(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_read,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        v = vt_update(
            spark, path, ("id", "=", 7), {"v": "'SEVEN'"}, mode="auto"
        )
        m = _read_manifest(path, v)
        assert m["update"]["dv"] is True
        assert m["update"]["files_rewritten"] == 0
        got = dict(
            (r["id"], r["v"]) for r in vt_read(spark, path).collect()
        )
        assert got[7] == "SEVEN" and len(got) == 64

    def test_auto_update_falls_back_above_bound(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_read,
            vt_update,
        )

        path = self._staged(spark, tmp_path)
        v = vt_update(
            spark,
            path,
            ("id", "<", 32),
            {"v": "'LOW'"},
            mode="auto",
            dv_max_rows=10,
        )
        m = _read_manifest(path, v)
        assert "dv" not in m["update"]
        assert m["update"]["files_rewritten"] > 0
        got = dict(
            (r["id"], r["v"]) for r in vt_read(spark, path).collect()
        )
        assert all(got[i] == "LOW" for i in range(32))
        assert all(got[i] == f"v{i}" for i in range(32, 64))

    def test_auto_merge_picks_dv_below_bound(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_merge,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        src = spark.createDataFrame(
            [(3, "THREE"), (99, "NEW")], "id long, v string"
        )
        v = vt_merge(spark, path, src, ["id"], mode="auto")
        m = _read_manifest(path, v)
        assert m["merge"]["dv"] is True
        assert m["merge"]["files_rewritten"] == 0
        got = dict(
            (r["id"], r["v"]) for r in vt_read(spark, path).collect()
        )
        assert got[3] == "THREE" and got[99] == "NEW" and len(got) == 65


class TestProtocolVersioning:
    """r12 — Delta's min_reader_version contract for the persisted
    format: a manifest carrying deletion vectors records
    ``protocol.min_reader = 2`` and a reader that does not support the
    level REFUSES to load it (silently ignoring a dv map would
    resurrect deleted rows — wrong results, not an error). The
    requirement describes the manifest, not the table's history:
    purging every vector drops it back to 1 and pre-DV versions never
    carry it, so legacy readers can still time-travel to clean
    snapshots."""

    def _staged(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        return path

    def test_dv_commit_records_min_reader_2(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
        )

        path = self._staged(spark, tmp_path)
        v = vt_delete(spark, path, ("id", "=", 5), mode="dv")
        m = _read_manifest(path, v)
        assert m["protocol"] == {"min_reader": 2, "min_writer": 2}
        # the carried map keeps the requirement on later plain commits
        vt_write(
            spark,
            path,
            spark.createDataFrame([(100, "x")], "id long, v string"),
            mode="append",
        )
        from dynamicqueryengine_spark.sources.versioned import vt_head

        assert _read_manifest(path, vt_head(path))["protocol"] == {
            "min_reader": 2,
            "min_writer": 2,
        }

    def test_clean_table_carries_no_requirement(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_head,
        )

        path = self._staged(spark, tmp_path)
        assert "protocol" not in _read_manifest(path, vt_head(path))

    def test_purge_drops_requirement_back_to_1(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_head,
            vt_reorg,
        )

        path = self._staged(spark, tmp_path)
        v_dv = vt_delete(spark, path, ("id", "=", 5), mode="dv")
        vt_reorg(spark, path)
        head = _read_manifest(path, vt_head(path))
        assert "dv" not in head and "protocol" not in head
        # …while the historical DV manifest keeps its requirement
        assert _read_manifest(path, v_dv)["protocol"] == {
            "min_reader": 2,
            "min_writer": 2,
        }

    def test_future_protocol_refuses_to_load(self, spark, tmp_path):
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _manifest_path,
            vt_delete,
            vt_head,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        head = vt_head(path)
        mp = _manifest_path(path, head)
        m = _json.load(open(mp))
        m["protocol"] = {"min_reader": 99}
        with open(mp, "w") as f:
            _json.dump(m, f)
        with pytest.raises(ValueError, match="reader protocol >= 99"):
            vt_read(spark, path).collect()
        # time travel to the still-supported predecessor works
        assert vt_read(spark, path, version=2).count() == 64

    def test_constraints_demand_writer_2_but_not_reader_2(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_head,
            vt_read,
            vt_write,
        )

        path = str(tmp_path / "c")
        vt_write(
            spark,
            path,
            spark.range(8).selectExpr("id", "concat('v', id) AS v"),
            constraints=[
                {"name": "id_not_null", "kind": "not_null", "col": "id"}
            ],
        )
        m = _read_manifest(path, vt_head(path))
        # legacy readers may read a constrained table (constraints bind
        # writers, not readers); legacy writers may not commit to it
        assert m["protocol"] == {"min_writer": 2}
        assert vt_read(spark, path).count() == 8

    def test_future_writer_protocol_refuses_commit(self, spark, tmp_path):
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _manifest_path,
            vt_head,
            vt_read,
            vt_write,
        )

        path = self._staged(spark, tmp_path)
        head = vt_head(path)
        mp = _manifest_path(path, head)
        m = _json.load(open(mp))
        m["protocol"] = {"min_writer": 99}
        with open(mp, "w") as f:
            _json.dump(m, f)
        with pytest.raises(ValueError, match="writer protocol >= 99"):
            vt_write(
                spark,
                path,
                spark.createDataFrame([(100, "x")], "id long, v string"),
                mode="append",
            )
        # reads are unaffected: the table demands nothing of READERS
        assert vt_read(spark, path).count() == 64


class TestBloomColsProperty:
    """r12 — bloom_cols as a carried TABLE PROPERTY (the
    dataSkippingStatsColumns idea): declared once, every later commit —
    append, the DML triad in both modes, optimize, compact, reorg —
    harvests blooms for its new directories WITHOUT the call
    re-declaring the columns. Explicit ``bloom_cols=`` still wins per
    call; ``[]`` clears the property. Before this, any verb invoked
    without the argument silently degraded a bloom-indexed table's
    equality pruning — the shape of r11 verdict ask #3, closed
    permanently instead of verb-by-verb."""

    def _all_dirs_bloomed(self, path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_versions,
        )

        m = _read_manifest(path, vt_versions(path)[-1])
        blooms = m.get("blooms", {})
        return all(
            d in blooms and blooms[d].get("files") for d in m["dirs"]
        ), m

    def _staged(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_optimize,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(64).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df, bloom_cols=["id"])
        vt_optimize(spark, path, ["id"], n_partitions=4)
        return path

    def test_property_recorded_and_carried(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_head,
        )

        path = self._staged(spark, tmp_path)
        m = _read_manifest(path, vt_head(path))
        assert m["bloom_cols"] == ["id"]
        # the optimize above never named bloom_cols — property did it
        ok, m = self._all_dirs_bloomed(path)
        assert ok, sorted(m.get("blooms", {}))

    def test_append_and_dml_inherit(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_merge,
            vt_update,
            vt_write,
        )

        path = self._staged(spark, tmp_path)
        vt_write(
            spark,
            path,
            spark.createDataFrame([(100, "x")], "id long, v string"),
            mode="append",
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"append lost blooms: {sorted(m.get('blooms', {}))}"
        vt_delete(spark, path, ("id", "=", 5))
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"delete lost blooms: {sorted(m.get('blooms', {}))}"
        vt_update(spark, path, ("id", "=", 7), {"v": "concat(v, '!')"})
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"update lost blooms: {sorted(m.get('blooms', {}))}"
        vt_merge(
            spark,
            path,
            spark.createDataFrame(
                [(9, "NINE"), (200, "NEW")], "id long, v string"
            ),
            ["id"],
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"merge lost blooms: {sorted(m.get('blooms', {}))}"

    def test_dv_merge_and_reorg_inherit(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_merge,
            vt_reorg,
        )

        path = self._staged(spark, tmp_path)
        # DV merge appends an upsert dir — must inherit the property
        vt_merge(
            spark,
            path,
            spark.createDataFrame(
                [(3, "THREE"), (300, "NEW")], "id long, v string"
            ),
            ["id"],
            mode="dv",
        )
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"dv merge lost blooms: {sorted(m.get('blooms', {}))}"
        vt_delete(spark, path, ("id", "=", 8), mode="dv")
        vt_reorg(spark, path)
        ok, m = self._all_dirs_bloomed(path)
        assert ok, f"reorg lost blooms: {sorted(m.get('blooms', {}))}"

    def test_explicit_empty_clears_property(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_head,
            vt_write,
        )

        path = self._staged(spark, tmp_path)
        vt_write(
            spark,
            path,
            spark.createDataFrame([(100, "x")], "id long, v string"),
            mode="append",
            bloom_cols=[],
        )
        m = _read_manifest(path, vt_head(path))
        assert "bloom_cols" not in m
        # later appends harvest nothing for their new dirs
        vt_write(
            spark,
            path,
            spark.createDataFrame([(101, "y")], "id long, v string"),
            mode="append",
        )
        m2 = _read_manifest(path, vt_head(path))
        new_dirs = [d for d in m2["dirs"] if d not in m["dirs"]]
        assert new_dirs and all(
            d not in m2.get("blooms", {}) for d in new_dirs
        )


class TestReorgConsolidationFaults:
    """r12 adversarial coverage for the DV-lifecycle executors: commit
    races and crashes mid-operation must never corrupt the table —
    reorg retries against the fresh head, a crash before commit leaves
    the head untouched with only vacuum-reapable debris, and a lost
    consolidation race degrades to checkpointing the winner."""

    def _staged_with_dv(self, spark, tmp_path, n=64, parts=8):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_optimize,
            vt_write,
        )

        path = str(tmp_path / "t")
        df = spark.range(n).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=parts)
        vt_delete(spark, path, ("id", "=", 3), mode="dv")
        return path

    @pytest.mark.parametrize("verb", ["compact", "optimize_where", "reorg"])
    def test_maintenance_lost_race_retries_and_lands(
        self, spark, tmp_path, monkeypatch, verb
    ):
        """The retrying maintenance verbs re-derive against the winner's
        head after a lost commit race: they land one version later, the
        winner's rows survive, and the lost attempt's output is gone."""
        import dynamicqueryengine_spark.sources.versioned as V

        path = self._staged_with_dv(spark, tmp_path)
        base = V.vt_head(path)
        real = V._write_data_dir
        injected: list = []

        def racy(df, p, *a, **kw):
            out = real(df, p, *a, **kw)
            if not injected:  # race once: an append lands mid-call
                injected.append(True)
                V.vt_write(
                    spark,
                    path,
                    spark.createDataFrame(
                        [(500, "race")], "id long, v string"
                    ),
                    mode="append",
                )
            return out

        calls = {
            "compact": lambda: V.vt_compact(spark, path),
            "optimize_where": lambda: V.vt_optimize(
                spark, path, ["id"], n_partitions=2, where=("id", ">=", 0)
            ),
            "reorg": lambda: V.vt_reorg(spark, path),
        }
        monkeypatch.setattr(V, "_write_data_dir", racy)
        v = calls[verb]()
        monkeypatch.setattr(V, "_write_data_dir", real)
        assert injected and v == V.vt_head(path) == base + 2
        assert V._read_manifest(path, base + 1)["op"] == "append"
        m = V._read_manifest(path, v)
        assert m["op"] == "optimize"
        assert "dv" not in m  # the retry still purged the vector
        got = {r["id"] for r in V.vt_read(spark, path).collect()}
        assert got == (set(range(64)) - {3}) | {500}
        # every d_* dir on disk is referenced by a committed manifest:
        # the lost attempt's output was removed
        referenced = set()
        for ver in vt_versions(path):
            referenced.update(V._read_manifest(path, ver)["dirs"])
        on_disk = {n for n in os.listdir(path) if n.startswith("d_")}
        assert on_disk == referenced

    def test_crash_mid_reorg_leaves_table_intact(self, spark, tmp_path):
        import dynamicqueryengine_spark.sources.versioned as V

        path = self._staged_with_dv(spark, tmp_path)
        head_before = V.vt_head(path)
        real = V._commit

        def boom(*a, **kw):
            raise RuntimeError("crash before commit")

        V._commit = boom
        try:
            with pytest.raises(RuntimeError, match="crash before commit"):
                V.vt_reorg(spark, path)
        finally:
            V._commit = real
        # head untouched, vector still applied, reads exact
        assert V.vt_head(path) == head_before
        got = {r["id"] for r in V.vt_read(spark, path).collect()}
        assert got == set(range(64)) - {3}
        # the orphan data dir the crashed reorg wrote is vacuum debris
        removed = V.vt_vacuum(spark, path, keep_last=5, grace_seconds=0)
        assert any(d.startswith("d_") for d in removed)
        got = {r["id"] for r in V.vt_read(spark, path).collect()}
        assert got == set(range(64)) - {3}

    def test_crash_mid_consolidation_reaps_orphan_sidecar(
        self, spark, tmp_path
    ):
        import os as _os

        import dynamicqueryengine_spark.sources.versioned as V

        path = self._staged_with_dv(spark, tmp_path)
        V.vt_delete(spark, path, ("id", "=", 40), mode="dv")  # 2nd ref
        dvd = V._dv_dir(path)
        n_sidecars = len(_os.listdir(dvd))
        real = V._commit

        def boom(*a, **kw):
            raise RuntimeError("crash mid consolidation")

        V._commit = boom
        try:
            with pytest.raises(RuntimeError, match="mid consolidation"):
                V.vt_checkpoint(spark, path, consolidate_dv=True)
        finally:
            V._commit = real
        # the consolidated sidecar was written but never referenced
        assert len(_os.listdir(dvd)) == n_sidecars + 1
        got = {r["id"] for r in V.vt_read(spark, path).collect()}
        assert got == set(range(64)) - {3, 40}
        V.vt_vacuum(spark, path, keep_last=5, grace_seconds=0)
        assert len(_os.listdir(dvd)) == n_sidecars  # orphan reaped
        got = {r["id"] for r in V.vt_read(spark, path).collect()}
        assert got == set(range(64)) - {3, 40}

    def test_consolidation_lost_race_checkpoints_winner(
        self, spark, tmp_path
    ):
        import dynamicqueryengine_spark.sources.versioned as V

        path = self._staged_with_dv(spark, tmp_path)
        V.vt_delete(spark, path, ("id", "=", 40), mode="dv")  # 2nd ref
        real = V._write_dv_sidecar
        injected: list = []

        def racy(p, payload):
            ref = real(p, payload)
            if not injected:  # a writer commits between read and fold
                injected.append(True)
                V.vt_write(
                    spark,
                    path,
                    spark.createDataFrame(
                        [(600, "race")], "id long, v string"
                    ),
                    mode="append",
                )
            return ref

        V._write_dv_sidecar = racy
        try:
            head = V.vt_checkpoint(spark, path, consolidate_dv=True)
        finally:
            V._write_dv_sidecar = real
        # lost race: no consolidation commit, the WINNER is checkpointed
        assert injected and head == V.vt_head(path)
        got = {r["id"] for r in V.vt_read(spark, path).collect()}
        assert got == (set(range(64)) - {3, 40}) | {600}


class TestWholeFileDelete:
    """r12 — metadata-only whole-file DELETE (Delta's stats-proved file
    drop): a rewrite-mode delete drops files whose min/max + exact
    null-count stats PROVE every logical row matches, reading only
    boundary files. Staged as eight single-file appends over disjoint
    id octets so the proof boundaries are exact by construction."""

    def _staged(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_write

        path = str(tmp_path / "t")
        for k in range(8):
            df = (
                spark.range(k * 8, (k + 1) * 8)
                .selectExpr("id", "concat('v', id) AS v")
                .coalesce(1)
            )
            vt_write(spark, path, df, mode="append" if k else "overwrite")
        return path

    def test_aligned_delete_is_pure_metadata(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_count,
            vt_delete,
            vt_history,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        v = vt_delete(spark, path, ("id", "<", 24))
        blob = vt_history(path)[0]["delete"]
        assert blob["files_rewritten"] == 0
        assert blob["files_dropped"] == 3
        assert blob["rows_dropped"] == 24
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(24, 64))
        # time travel un-drops
        assert vt_count(spark, path, v - 1) == 64

    def test_boundary_file_rewritten_interior_dropped(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_history,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "<", 20))
        blob = vt_history(path)[0]["delete"]
        assert blob["files_dropped"] == 2  # octets [0,8) and [8,16)
        assert blob["rows_dropped"] == 16
        assert blob["files_rewritten"] == 1  # octet [16,24) partially
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(20, 64))

    def test_change_feed_disables_drop(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_history,
            vt_read_changes,
        )

        path = self._staged(spark, tmp_path)
        v = vt_delete(spark, path, ("id", "<", 24), change_feed=True)
        blob = vt_history(path)[0]["delete"]
        assert "files_dropped" not in blob
        assert blob["files_rewritten"] == 3  # rows must be READ to record
        assert vt_read_changes(spark, path, v - 1, v).count() == 24

    def test_null_rows_block_the_proof(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_history,
            vt_read,
            vt_write,
        )

        path = str(tmp_path / "t")
        # file A: x fully < 10 but ONE null row; file B: x fully < 10
        a = spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 2.0)], "id long, x double"
        ).coalesce(1)
        b = spark.createDataFrame(
            [(10, 3.0), (11, 4.0)], "id long, x double"
        ).coalesce(1)
        vt_write(spark, path, a)
        vt_write(spark, path, b, mode="append")
        vt_delete(spark, path, ("x", "<", 10.0))
        blob = vt_history(path)[0]["delete"]
        # B drops (all rows provably match); A must be READ — its null
        # row never satisfies x < 10 and must survive
        assert blob["files_dropped"] == 1
        assert blob["files_rewritten"] == 1
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == {2}

    def test_delete_everything_falls_back_to_rewrite(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_count,
            vt_delete,
            vt_history,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "<", 1000))
        blob = vt_history(path)[0]["delete"]
        # dropping EVERY file would leave an uninferrable empty
        # manifest: the walk falls back to a schema-bearing rewrite
        assert "files_dropped" not in blob
        assert vt_count(spark, path) == 0
        assert vt_read(spark, path).columns == ["id", "v"]

    def test_drop_commit_streams_via_predicate_replay(
        self, spark, tmp_path
    ):
        import uuid as _uuid

        from dynamicqueryengine_spark.sources.versioned import vt_delete
        from dynamicqueryengine_spark.streaming.source import (
            vt_change_stream,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "<", 24))  # pure metadata commit
        qn = "wfd_" + _uuid.uuid4().hex[:8]
        q = (
            vt_change_stream(spark, path)
            .writeStream.format("memory")
            .queryName(qn)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.table(qn)
        dels = {
            r["id"]
            for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == set(range(24))  # dropped rows replay exactly

    def test_rows_dropped_excludes_dv_hidden_rows(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_count,
            vt_delete,
            vt_history,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        # hide two rows of the first octile behind a deletion vector
        vt_delete(spark, path, ("id", "in", [2, 5]), mode="dv")
        n_before = vt_count(spark, path)
        vt_delete(spark, path, ("id", "<", 24))
        blob = vt_history(path)[0]["delete"]
        # three files dropped; the blob reports LOGICAL deletions (22),
        # not the 24 physical footer rows
        assert blob["files_dropped"] == 3
        assert blob["rows_dropped"] == 22 == n_before - vt_count(spark, path)
        assert blob["files_rewritten"] == 0
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(24, 64))


class TestScopedOptimize:
    """r12 — predicate-scoped OPTIMIZE (Delta's ``OPTIMIZE … WHERE``):
    recluster ONLY the files whose stats say they may hold matching
    rows; out-of-scope files referenced verbatim with stats/blooms/
    vectors carried; in-scope files' accumulated deletion vectors
    materialized by the rewrite."""

    def _staged(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_write

        path = str(tmp_path / "t")
        for k in range(8):
            df = (
                spark.range(k * 8, (k + 1) * 8)
                .selectExpr("id", "concat('v', id) AS v")
                .coalesce(1)
            )
            vt_write(spark, path, df, mode="append" if k else "overwrite")
        return path

    def test_where_rewrites_only_in_scope(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_head,
            vt_history,
            vt_optimize,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        before = _read_manifest(path, vt_head(path))
        v = vt_optimize(
            spark, path, ["id"], n_partitions=1, where=("id", "<", 24)
        )
        blob = vt_history(path)[0]["optimize"]
        assert blob["scope"] == "where"
        assert blob["files_rewritten"] == 3
        assert blob["files_total"] == 8
        assert blob["predicate"] == [["id", "<", 24]]
        m = _read_manifest(path, v)
        # out-of-scope dirs referenced verbatim, file lists unchanged
        kept = [d for d in before["dirs"] if d in m["dirs"]]
        assert len(kept) == 5
        for d in kept:
            assert m["files"][d] == before["files"][d]
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64))

    def test_where_materializes_scoped_dvs_only(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_head,
            vt_optimize,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        vt_delete(spark, path, ("id", "=", 2), mode="dv")   # octile 0
        vt_delete(spark, path, ("id", "=", 40), mode="dv")  # octile 5
        vt_optimize(
            spark, path, ["id"], n_partitions=1, where=("id", "<", 8)
        )
        m = _read_manifest(path, vt_head(path))
        dv = m.get("dv") or {}
        rows_hidden = sum(
            e["count"] for fmap in dv.values() for e in fmap.values()
        )
        assert rows_hidden == 1  # octile 0's vector materialized away
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64)) - {2, 40}

    def test_where_out_of_range_is_noop(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_head,
            vt_optimize,
        )

        path = self._staged(spark, tmp_path)
        head = vt_head(path)
        assert (
            vt_optimize(
                spark, path, ["id"], where=("id", ">", 10_000)
            )
            == head
        )

    def test_where_zorder_scoped(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_history,
            vt_optimize,
            vt_read,
        )

        path = self._staged(spark, tmp_path)
        vt_optimize(
            spark,
            path,
            ["id"],
            n_partitions=2,
            method="zorder",
            where=("id", ">=", 40),
        )
        blob = vt_history(path)[0]["optimize"]
        assert blob["files_rewritten"] == 3
        got = {r["id"] for r in vt_read(spark, path).collect()}
        assert got == set(range(64))


_DML_RACE_CASES = [
    ("merge", "rewrite"),
    ("merge", "dv"),
    ("delete", "rewrite"),
    ("delete", "dv"),
    ("update", "rewrite"),
    ("update", "dv"),
    ("replace_where", "rewrite"),
]


def _run_dml(spark, path, verb, mode):
    """One change-feed DML call per verb, each touching row id=1."""
    from dynamicqueryengine_spark.sources.versioned import (
        vt_delete,
        vt_replace_where,
        vt_update,
    )

    if verb == "merge":
        return vt_merge(
            spark, path, _df(spark, [(1, "merged"), (100, "new")]),
            ["id"], change_feed=True, mode=mode,
        )
    if verb == "delete":
        return vt_delete(
            spark, path, ("id", "=", 1), change_feed=True, mode=mode
        )
    if verb == "update":
        return vt_update(
            spark, path, ("id", "=", 1), {"v": "'upd'"},
            change_feed=True, mode=mode,
        )
    return vt_replace_where(
        spark, path, _df(spark, [(1, "rw")]), ("id", "=", 1),
        change_feed=True,
    )


class TestDmlLostRace:
    """Every DML verb that loses its commit race re-derives against the
    winner's head: it lands one version later, its change rows carry
    the winner's pre-images, and nothing it staged for the lost attempt
    (data dirs, change dirs, deletion-vector sidecars) stays on disk."""

    _EXPECTED = {
        "merge": (
            {(1, "merged"), (100, "new")},
            {
                (1, "RACE", "update_preimage"),
                (1, "merged", "update_postimage"),
                (100, "new", "insert"),
            },
        ),
        "delete": (set(), {(1, "RACE", "delete")}),
        "update": (
            {(1, "upd")},
            {
                (1, "RACE", "update_preimage"),
                (1, "upd", "update_postimage"),
            },
        ),
        "replace_where": (
            {(1, "rw")},
            {(1, "RACE", "delete"), (1, "rw", "insert")},
        ),
    }

    @pytest.mark.parametrize("verb,mode", _DML_RACE_CASES)
    def test_loser_lands_on_winner_head(
        self, spark, tmp_path, monkeypatch, verb, mode
    ):
        import threading

        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_optimize,
            vt_read_changes,
            vt_update,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(i, f"v{i}") for i in range(8)]))
        vt_optimize(spark, path, ["id"], n_partitions=2)
        base = vt_versions(path)[-1]
        real = V._write_data_dir
        lock = threading.Lock()
        pending = [True]

        def racy(df, p, *a, **kw):
            with lock:
                fire = bool(pending) and pending.pop()
            if fire:
                # the winner commits base+1 after the loser read base
                vt_update(spark, path, ("id", "=", 1), {"v": "'RACE'"})
            return real(df, p, *a, **kw)

        monkeypatch.setattr(V, "_write_data_dir", racy)
        v = _run_dml(spark, path, verb, mode)
        monkeypatch.setattr(V, "_write_data_dir", real)
        assert not pending, "the race was never injected"
        assert v == base + 2
        assert _read_manifest(path, base + 1)["op"] == "update"
        want_rows, want_changes = self._EXPECTED[verb]
        others = {(i, f"v{i}") for i in range(8) if i != 1}
        assert _rows(vt_read(spark, path)) == others | want_rows
        got = {
            (r["id"], r["v"], r["_change_type"])
            for r in vt_read_changes(spark, path, v - 1, v).collect()
        }
        assert got == want_changes
        # every d_*/c_* dir and DV sidecar on disk is referenced by a
        # committed manifest: the lost attempt left nothing behind
        dirs, refs = set(), set()
        for ver in vt_versions(path):
            m = _read_manifest(path, ver)
            dirs.update(m["dirs"])
            if m.get("changes"):
                dirs.add(m["changes"])
            for fmap in (m.get("dv") or {}).values():
                refs.update(e["ref"] for e in fmap.values())
        on_disk = {
            n for n in os.listdir(path) if n.startswith(("d_", "c_"))
        }
        assert on_disk == dirs
        dvd = V._dv_dir(path)
        sidecars = set(os.listdir(dvd)) if os.path.isdir(dvd) else set()
        assert sidecars == refs


class TestDmlJobCount:
    """Spark job budget of the change-feed DML verbs and the maintenance
    verbs on a fixed small table. One fixed-cost job is 50-130 ms at
    this size, so a DML or maintenance path that grows a job is a
    latency regression even when its output is unchanged. The bounds
    are the counts the verbs measured when each was added here."""

    _MAX_JOBS = {
        "merge": 17, "delete": 2, "update": 2,
        "optimize_where": 3, "reorg": 2, "compact": 2, "optimize": 3,
    }

    @staticmethod
    def _four_hundred(spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_optimize

        path = str(tmp_path / "t")
        df = spark.range(400).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df)
        vt_optimize(spark, path, ["id"], n_partitions=4)
        return path

    def test_change_feed_dml_job_counts(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_compact,
            vt_delete,
            vt_optimize,
            vt_reorg,
            vt_update,
        )

        path = self._four_hundred(spark, tmp_path)
        ups = _df(spark, [(i, f"m{i}") for i in range(0, 20)] + [(1000, "n")])
        calls = {
            "merge": lambda: vt_merge(
                spark, path, ups, ["id"], change_feed=True
            ),
            "delete": lambda: vt_delete(
                spark, path, ("id", "<", 5), change_feed=True
            ),
            "update": lambda: vt_update(
                spark, path, ("id", "=", 7), {"v": "'u'"},
                change_feed=True,
            ),
            "optimize_where": lambda: vt_optimize(
                spark, path, ["id"], n_partitions=2, where=("id", "<", 100)
            ),
            "reorg": lambda: vt_reorg(spark, path),
            "compact": lambda: vt_compact(spark, path),
            "optimize": lambda: vt_optimize(
                spark, path, ["id"], n_partitions=4
            ),
        }
        sc = spark.sparkContext
        counts = {}
        for verb, call in calls.items():
            if verb == "reorg":
                # uncounted setup: a deletion vector for reorg to purge
                vt_delete(spark, path, ("id", "=", 250), mode="dv")
            group = f"dml-jobs-{verb}"
            sc.setJobGroup(group, "vt DML job count")
            try:
                v = vt_versions(path)[-1]
                assert call() == v + 1, verb  # every call commits
            finally:
                sc.setJobGroup(None, None)
            counts[verb] = len(sc.statusTracker().getJobIdsForGroup(group))
        for verb, n in counts.items():
            assert n <= self._MAX_JOBS[verb], counts
        got = {r["id"]: r["v"] for r in vt_read(spark, path).collect()}
        assert 3 not in got and got[7] == "u" and got[10] == "m10"
        assert 250 not in got
        assert got[1000] == "n" and len(got) == 395

    def test_all_touched_update_reads_directories(self, spark, tmp_path):
        """An update that touches every file of a 40-file directory reads
        that directory as one path: 40 explicit file paths cost Spark an
        extra listing job."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_update,
        )

        path = str(tmp_path / "t")
        df = spark.range(4000).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df.repartition(40))
        v = vt_versions(path)[-1]
        (flist,) = _read_manifest(path, v)["files"].values()
        assert len(flist) == 40
        sc = spark.sparkContext
        sc.setJobGroup("dml-jobs-update-all", "vt DML job count")
        try:
            assert vt_update(spark, path, ("id", ">=", 0), {"v": "'u'"}) == v + 1
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup("dml-jobs-update-all")
        assert len(jobs) == 1
        rows = vt_read(spark, path).collect()
        assert len(rows) == 4000 and {r["v"] for r in rows} == {"u"}

    @staticmethod
    def _status_jobs(spark, call):
        """``(call(), Spark jobs it ran)``, counted by the scheduler, so
        jobs started off the calling thread count too. (A status-store
        size delta saturates once the store holds its last 1000 jobs.)"""
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        before = dag.numTotalJobs()
        out = call()
        return out, dag.numTotalJobs() - before

    def test_change_feed_read_runs_one_job(self, spark, tmp_path):
        """Building the change feed over an append, a merge, a delete and
        an update runs no Spark job: each change directory is read with
        the schema in its footer, not inferred by a job. Collecting it
        runs one."""
        from collections import Counter

        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_read_changes,
            vt_update,
        )

        path = self._four_hundred(spark, tmp_path)
        v0 = vt_versions(path)[-1]
        vt_write(spark, path, _df(spark, [(1000, "a")]), mode="append")
        ups = _df(spark, [(i, f"m{i}") for i in range(0, 20)] + [(1001, "n")])
        vt_merge(spark, path, ups, ["id"], change_feed=True)
        vt_delete(spark, path, ("id", "<", 5), change_feed=True)
        vt_update(
            spark, path, ("id", "=", 7), {"v": "'u'"}, change_feed=True
        )
        head = vt_versions(path)[-1]
        assert head == v0 + 4
        feed, built = self._status_jobs(
            spark, lambda: vt_read_changes(spark, path, v0, head)
        )
        rows, ran = self._status_jobs(spark, feed.collect)
        assert (built, ran) == (0, 1)
        assert Counter(r["_change_type"] for r in rows) == {
            "insert": 2, "update_preimage": 21, "update_postimage": 21,
            "delete": 5,
        }
        assert {
            (r["id"], r["v"], r["_commit_version"])
            for r in rows
            if r["_change_type"] == "update_postimage"
        } >= {(7, "m7", v0 + 2), (7, "u", v0 + 4)}

    def test_bloom_append_reads_back_without_inference(self, spark, tmp_path):
        """An append to a table with bloom columns harvests its blooms
        from a read-back of the new directory that uses the footer
        schema, so it runs no inference job: three jobs, four when the
        read-back inferred its schema."""
        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(i, f"v{i}") for i in range(40)]),
            bloom_cols=["v"],
        )
        v = vt_versions(path)[-1]
        got, jobs = self._status_jobs(
            spark,
            lambda: vt_write(
                spark, path, _df(spark, [(40, "v40"), (41, "v41")]),
                mode="append", bloom_cols=["v"],
            ),
        )
        assert got == v + 1
        assert jobs == 3
        assert vt_read(spark, path, predicate=("v", "=", "v41")).count() == 1

    @staticmethod
    def _forty_files(spark, tmp_path):
        path = str(tmp_path / "t")
        df = spark.range(4000).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df.repartition(40))
        return path

    def test_partial_delete_reads_directory_once(self, spark, tmp_path):
        """A delete that rewrites most of a 40-file directory reads the
        directory as one path filtered to its touched files: more than
        32 explicit file paths cost Spark an extra listing job."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
        )

        path = self._forty_files(spark, tmp_path)
        v = vt_versions(path)[-1]
        got, jobs = self._status_jobs(
            spark, lambda: vt_delete(spark, path, ("id", ">=", 100))
        )
        assert got == v + 1
        blob = _read_manifest(path, v + 1)["delete"]
        assert blob["files_rewritten"] > 32
        assert blob["files_rewritten"] + blob.get("files_dropped", 0) == 40
        assert jobs == 1
        assert sorted(r["id"] for r in vt_read(spark, path).collect()) == (
            list(range(100))
        )

    def test_file_pruned_read_runs_no_extra_job(self, spark, tmp_path):
        """A predicate read keeping 38 of the directory's 40 files runs no
        more jobs than the unfiltered read of the whole directory."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_scan_plan,
        )

        path = self._forty_files(spark, tmp_path)
        m = _read_manifest(path, vt_versions(path)[-1])
        ((d, fstats),) = m["file_stats"].items()
        cut = sorted(s["id"][1] for s in fstats.values())[2]
        pred = ("id", ">", cut - 1)
        plan = vt_scan_plan(path, predicate=pred)
        assert (plan["files_kept"], plan["files_total"]) == (38, 40)
        want = spark.range(4000).filter(f"id >= {cut}").count()
        for _ in range(2):  # the second pass is warm
            n_all, jobs_all = self._status_jobs(
                spark, lambda: vt_read(spark, path).count()
            )
            n_kept, jobs_kept = self._status_jobs(
                spark, lambda: vt_read(spark, path, predicate=pred).count()
            )
        assert (n_all, n_kept) == (4000, want)
        assert jobs_kept <= jobs_all


class TestStaleFilesStayHidden:
    """A file-granular delete leaves a PARTIAL directory: its rewritten
    and dropped files stay on disk until vacuum, and every reader must
    serve the manifest's file list, never the directory's contents."""

    @pytest.fixture(scope="class")
    def table(self, spark, tmp_path_factory):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_delete,
            vt_optimize,
        )

        path = str(tmp_path_factory.mktemp("stale") / "t")
        vt_write(spark, path, _df(spark, [(i, f"v{i}") for i in range(40)]))
        vt_optimize(spark, path, ["id"], n_partitions=4)
        (d,) = _read_manifest(path, vt_versions(path)[-1])["dirs"]
        on_disk = set(os.listdir(os.path.join(path, d)))
        # drops the id 0-9 file whole, rewrites the id 10-19 file
        vt_delete(spark, path, ("id", "<", 15))
        m = _read_manifest(path, vt_versions(path)[-1])
        assert m["partial_dirs"] == [d] and m["dirs"][0] == d
        stale = {f for f in on_disk if f.endswith(".parquet")} - set(
            m["files"][d]
        )
        assert len(stale) == 2  # still on disk: nothing was vacuumed
        return path, d, stale

    @staticmethod
    def _changes_snapshot(spark, path):
        from dynamicqueryengine_spark.streaming.source import (
            VersionedChangesDataSource,
        )

        spark.dataSource.register(VersionedChangesDataSource)
        qn = "stale_" + uuid.uuid4().hex[:8]
        q = (
            spark.readStream.format("vt_changes").option("path", path)
            .load().writeStream.format("memory").queryName(qn)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return [
            r["id"] for r in spark.sql(f"select id from {qn}").collect()
        ]

    @staticmethod
    def _manifest_ids(spark, path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_generate_manifest,
        )

        listed = open(vt_generate_manifest(path)).read().split()
        return [r["id"] for r in spark.read.parquet(*listed).collect()]

    READERS = {
        "vt_read": (
            lambda s, p: [r["id"] for r in vt_read(s, p).collect()],
            range(15, 40),
        ),
        "vt_read_predicate": (
            lambda s, p: [
                r["id"]
                for r in vt_read(s, p, predicate=("id", "<", 30)).collect()
            ],
            range(15, 30),
        ),
        "schema_only_fallback": (
            lambda s, p: [
                r["id"]
                for r in vt_read(s, p, predicate=("id", "=", 5)).collect()
            ],
            [],
        ),
        "vt_count": (
            lambda s, p: vt_count(s, p, predicate=("id", "<", 30)),
            15,
        ),
        "format_vt": (
            lambda s, p: [
                r["id"]
                for r in s.read.format("vt").option("path", p).load()
                .filter("id < 30").collect()
            ],
            range(15, 30),
        ),
        "vt_changes_snapshot": (
            lambda s, p: TestStaleFilesStayHidden._changes_snapshot(s, p),
            range(15, 40),
        ),
        "generate_manifest": (
            lambda s, p: TestStaleFilesStayHidden._manifest_ids(s, p),
            range(15, 40),
        ),
    }

    @pytest.mark.parametrize("reader", sorted(READERS))
    def test_reader_serves_listed_files_only(self, spark, table, reader):
        from dynamicqueryengine_spark.sources.datasource import vt_register
        from dynamicqueryengine_spark.sources.versioned import vt_scan_plan

        path, d, stale = table
        vt_register(spark)
        read, want = self.READERS[reader]
        got = read(spark, path)
        if isinstance(got, list):
            got, want = sorted(got), list(want)
        assert got == want
        if reader == "schema_only_fallback":
            plan = vt_scan_plan(path, predicate=("id", "=", 5))
            assert plan["schema_only_fallback"]
            assert os.path.join(path, d) in plan["partial_dirs"]
        for fl in vt_scan_plan(path)["files"].values():
            assert not stale & set(fl)


class TestFooterSchemaParity:
    """Every directory the format writes is read with the schema Spark
    put in its footer (``_footer_schema``) instead of an inference job.
    On the change directories of tables whose history renames, nests,
    widens or carries every non-trivial column type, that schema is the
    one inference returns, and the change feed read with it equals the
    change feed read by inference."""

    @staticmethod
    def _mapped_rename(spark, path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_rename_column,
            vt_update,
        )

        vt_write(
            spark, path,
            spark.createDataFrame(
                [(i, f"u{i % 3}", float(i)) for i in range(8)],
                "id long, user string, val double",
            ),
        )
        vt_delete(spark, path, ("val", "=", 3.0), change_feed=True)
        vt_rename_column(path, "val", "amount")
        vt_update(
            spark, path, ("amount", "=", 2.0), {"amount": "amount * 10"},
            change_feed=True,
        )

    @staticmethod
    def _nested_rename(spark, path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_rename_column,
        )

        schema = "id long, payload struct<v:int, w:string>"
        vt_write(
            spark, path,
            spark.createDataFrame(
                [(1, (10, "a")), (2, (20, "b")), (3, (30, "c"))], schema
            ),
        )
        vt_merge(
            spark, path,
            spark.createDataFrame([(2, (21, "B")), (4, (40, "d"))], schema),
            ["id"], change_feed=True,
        )
        vt_rename_column(path, "payload.v", "val")
        vt_merge(
            spark, path,
            spark.createDataFrame(
                [(3, (31, "C"))], "id long, payload struct<val:int, w:string>"
            ),
            ["id"], change_feed=True,
        )

    @staticmethod
    def _widened(spark, path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_widen_column,
        )

        vt_write(
            spark, path,
            spark.createDataFrame(
                [(i, f"v{i}") for i in range(6)], "id int, v string"
            ),
        )
        vt_delete(spark, path, ("id", "<", 2), change_feed=True)
        vt_widen_column(path, "id", "bigint")
        vt_merge(
            spark, path,
            spark.createDataFrame(
                [(3, "m3"), (2**40, "big")], "id bigint, v string"
            ),
            ["id"], change_feed=True,
        )

    @staticmethod
    def _typed(spark, path):
        import datetime as dt
        from decimal import Decimal

        schema = (
            "id long, ts timestamp, d date, dec decimal(10,2), "
            "bin binary, arr array<int>, m map<string,int>"
        )

        def row(i, cents=25):
            return (
                i, dt.datetime(2024, 1, 1, 12, i), dt.date(2024, 2, i + 1),
                Decimal(f"{i}.{cents}"), bytes([i, 255 - i]), [i, None],
                {"k": i},
            )

        vt_write(spark, path, spark.createDataFrame(
            [row(i) for i in range(5)], schema
        ))
        vt_merge(
            spark, path,
            spark.createDataFrame([row(2, cents=75), row(9)], schema),
            ["id"], change_feed=True,
        )

    @staticmethod
    def _zero_rows(spark, path):
        vt_write(spark, path, _df(spark, [(1, "a"), (3, "c")]))
        vt_merge(
            spark, path, _df(spark, []), ["id"], change_feed=True
        )

    @pytest.mark.parametrize(
        "table",
        ["_mapped_rename", "_nested_rename", "_widened", "_typed",
         "_zero_rows"],
    )
    def test_footer_schema_matches_inference(
        self, spark, tmp_path, monkeypatch, table
    ):
        from dynamicqueryengine_spark.sources import versioned
        from dynamicqueryengine_spark.sources.versioned import (
            _footer_schema,
            vt_read_changes,
        )

        path = str(tmp_path / "t")
        getattr(self, table)(spark, path)
        change_dirs = [
            os.path.join(path, d)
            for d in sorted(os.listdir(path))
            if d.startswith("c_")
        ]
        assert change_dirs
        for d in change_dirs:
            assert _footer_schema(d) == spark.read.parquet(d).schema, d
        head = vt_versions(path)[-1]

        def feed():
            df = vt_read_changes(spark, path, 0, head)
            return df.schema.json(), sorted(map(repr, df.collect()))

        got = feed()
        monkeypatch.setattr(versioned, "_footer_schema", lambda d: None)
        assert got == feed()
        if table == "_zero_rows":
            assert [r for r in got[1] if "'insert'" not in r] == []
