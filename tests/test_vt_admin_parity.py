"""Round-12 admin-parity bundle (sources/versioned.py): SQL-expression
CHECK constraints (Delta's ``ADD CONSTRAINT … CHECK``), time-based
vacuum retention (``VACUUM … RETAIN n HOURS``), vacuum dry runs, and
RESTORE TO TIMESTAMP AS OF."""

from __future__ import annotations

import json
import os
import time

import pytest

from dynamicqueryengine_spark.sources.versioned import (
    ConstraintViolation,
    _read_manifest,
    vt_count,
    vt_merge,
    vt_read,
    vt_rename_column,
    vt_restore,
    vt_update,
    vt_vacuum,
    vt_versions,
    vt_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, qty long, price double")


class TestExprConstraints:
    def test_expr_check_enforced_on_write_and_append(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spec = [{"name": "qty_price", "kind": "expr",
                 "expr": "qty * price >= 0"}]
        vt_write(spark, path, _df(spark, [(1, 2, 3.0)]), constraints=spec)
        with pytest.raises(ConstraintViolation, match="qty_price"):
            vt_write(
                spark, path, _df(spark, [(2, -5, 3.0)]), mode="append"
            )
        # NULL evaluates unknown -> passes (Delta CHECK semantics)
        vt_write(
            spark, path, _df(spark, [(3, None, 3.0)]), mode="append"
        )
        assert vt_count(spark, path) == 2

    def test_expr_check_enforced_by_merge_and_update(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spec = [{"name": "positive_total", "kind": "expr",
                 "expr": "qty * price >= 0"}]
        vt_write(spark, path, _df(spark, [(1, 2, 3.0)]), constraints=spec)
        with pytest.raises(ConstraintViolation):
            vt_merge(spark, path, _df(spark, [(1, -9, 1.0)]), ["id"])
        with pytest.raises(ConstraintViolation):
            vt_update(
                spark, path, ("id", "=", 1), {"qty": "-1 * qty"}
            )
        got = vt_read(spark, path).collect()
        assert [(r["id"], r["qty"]) for r in got] == [(1, 2)]

    def test_expr_check_blocks_rename_of_referenced_column(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        spec = [{"name": "qp", "kind": "expr", "expr": "qty * price >= 0"}]
        vt_write(spark, path, _df(spark, [(1, 2, 3.0)]), constraints=spec)
        with pytest.raises(ValueError, match="CHECK constraint"):
            vt_rename_column(path, "qty", "quantity")
        # an unreferenced column renames fine
        vt_rename_column(path, "id", "row_id")
        assert vt_read(spark, path).columns == ["row_id", "qty", "price"]

    def test_expr_spec_validation(self, spark, tmp_path):
        path = str(tmp_path / "t")
        with pytest.raises(ValueError, match="needs name and expr"):
            vt_write(
                spark,
                path,
                _df(spark, [(1, 2, 3.0)]),
                constraints=[{"name": "bad", "kind": "expr"}],
            )


class TestVacuumRetention:
    def test_retain_seconds_keeps_recent_versions(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(4):
            vt_write(
                spark, path, _df(spark, [(i, i, float(i))]),
                mode="append" if i else "overwrite",
            )
        # keep_last=1 would expire versions 1-3; a generous time floor
        # retains everything committed within the window
        removed = vt_vacuum(
            spark, path, keep_last=1, grace_seconds=0,
            retain_seconds=3600.0,
        )
        assert removed == []
        assert vt_versions(path) == [1, 2, 3, 4]
        # a zero-width window falls back to keep_last alone
        removed = vt_vacuum(
            spark, path, keep_last=2, grace_seconds=0,
            retain_seconds=0.0,
        )
        assert vt_versions(path) == [3, 4]
        assert vt_count(spark, path) == 4  # head snapshot intact

    def test_dry_run_reports_without_deleting(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(3):
            vt_write(
                spark, path, _df(spark, [(i, i, float(i))]),
                mode="append" if i else "overwrite",
            )
        before_dirs = sorted(os.listdir(path))
        before_versions = vt_versions(path)
        would = vt_vacuum(
            spark, path, keep_last=1, grace_seconds=0, dry_run=True
        )
        assert would == []  # appends: every dir still referenced by head
        # an overwrite strands the old dirs -> dry run names them
        vt_write(spark, path, _df(spark, [(9, 9, 9.0)]), mode="overwrite")
        would = vt_vacuum(
            spark, path, keep_last=1, grace_seconds=0, dry_run=True
        )
        assert len(would) == 3
        # nothing deleted, no manifest expired
        assert set(os.listdir(path)) >= set(before_dirs)
        assert vt_versions(path) == before_versions + [4]
        # the real run removes exactly what the dry run promised
        removed = vt_vacuum(spark, path, keep_last=1, grace_seconds=0)
        assert sorted(removed) == sorted(would)


class TestRestoreTimestamp:
    def test_restore_to_timestamp(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, 1, 1.0)]))
        t_after_v1 = time.time()
        m1 = _read_manifest(path, 1)
        assert float(m1["ts"]) <= t_after_v1
        time.sleep(0.05)
        vt_write(spark, path, _df(spark, [(2, 2, 2.0)]), mode="overwrite")
        v = vt_restore(spark, path, timestamp=t_after_v1)
        assert v == 3
        assert {r["id"] for r in vt_read(spark, path).collect()} == {1}
        with pytest.raises(ValueError, match="not both"):
            vt_restore(spark, path, version=1, timestamp=t_after_v1)
        with pytest.raises(ValueError, match="requires version"):
            vt_restore(spark, path)


class TestGeneratedColumns:
    def test_computed_when_missing_validated_when_present(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        gen = {"total": "qty * price"}
        vt_write(
            spark,
            path,
            _df(spark, [(1, 2, 3.0)]).select("id", "qty", "price"),
            generated=gen,
        )
        got = vt_read(spark, path).collect()[0]
        assert got["total"] == 6.0
        # append WITH the column: consistent passes, inconsistent raises
        ok = spark.createDataFrame(
            [(2, 4, 2.0, 8.0)], "id long, qty long, price double, total double"
        )
        vt_write(spark, path, ok, mode="append")
        bad = spark.createDataFrame(
            [(3, 4, 2.0, 99.0)], "id long, qty long, price double, total double"
        )
        with pytest.raises(ValueError, match="generated-column mismatch"):
            vt_write(spark, path, bad, mode="append")
        assert vt_count(spark, path) == 2

    def test_property_carries_and_null_semantics(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            _df(spark, [(1, 2, 3.0)]).select("id", "qty", "price"),
            generated={"total": "qty * price"},
        )
        # later appends inherit the property without re-declaring it
        vt_write(
            spark,
            path,
            _df(spark, [(2, None, 5.0)]).select("id", "qty", "price"),
            mode="append",
        )
        got = {r["id"]: r["total"] for r in vt_read(spark, path).collect()}
        assert got == {1: 6.0, 2: None}

    def test_merge_and_update_validate_generated(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            _df(spark, [(1, 2, 3.0)]).select("id", "qty", "price"),
            generated={"total": "qty * price"},
        )
        bad_ups = spark.createDataFrame(
            [(1, 9, 1.0, 123.0)],
            "id long, qty long, price double, total double",
        )
        with pytest.raises(ValueError, match="generated-column mismatch"):
            vt_merge(spark, path, bad_ups, ["id"])
        ok_ups = spark.createDataFrame(
            [(1, 9, 1.0, 9.0)],
            "id long, qty long, price double, total double",
        )
        vt_merge(spark, path, ok_ups, ["id"])
        assert vt_read(spark, path).collect()[0]["total"] == 9.0
        # an update that leaves the generated column stale refuses
        with pytest.raises(ValueError, match="generated-column mismatch"):
            vt_update(spark, path, ("id", "=", 1), {"qty": "qty + 1"})
        # updating both consistently commits
        vt_update(
            spark,
            path,
            ("id", "=", 1),
            {"qty": "qty + 1", "total": "(qty + 1) * price"},
        )
        assert vt_read(spark, path).collect()[0]["total"] == 10.0

    def test_ddl_blocked_on_generated_columns(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_drop_column,
            vt_widen_column,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            _df(spark, [(1, 2, 3.0)]).select("id", "qty", "price"),
            generated={"total": "qty * price"},
        )
        for col in ("total", "qty"):
            with pytest.raises(ValueError, match="pinned by"):
                vt_rename_column(path, col, f"{col}2")
            with pytest.raises(ValueError, match="pinned by"):
                vt_drop_column(path, col)
        with pytest.raises(ValueError, match="pinned by"):
            vt_widen_column(path, "qty", "double")
        # clearing the property unblocks
        vt_write(
            spark,
            path,
            vt_read(spark, path),
            mode="overwrite",
            generated={},
        )
        vt_rename_column(path, "total", "line_total")
        assert "line_total" in vt_read(spark, path).columns


class TestIdentityColumns:
    def test_assignment_monotone_and_unique_across_appends(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        base = spark.createDataFrame(
            [("a",), ("b",), ("c",)], "name string"
        )
        vt_write(
            spark, path, base, identity={"rid": {"start": 10, "step": 2}}
        )
        first = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(set(first)) == 3
        assert min(first) >= 10 and all((r - 10) % 2 == 0 for r in first)
        vt_write(
            spark,
            path,
            spark.createDataFrame([("d",), ("e",)], "name string"),
            mode="append",
        )
        allrows = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(set(allrows)) == 5
        second = sorted(set(allrows) - set(first))
        assert min(second) > max(first)  # monotone across appends

    def test_explicit_values_refused(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame([("a",)], "name string"),
            identity={"rid": {"start": 1, "step": 1}},
        )
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            vt_write(
                spark,
                path,
                spark.createDataFrame(
                    [(99, "x")], "rid long, name string"
                ),
                mode="append",
            )

    def test_high_water_recorded_and_restore_never_rewinds(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        v1 = vt_write(
            spark,
            path,
            spark.createDataFrame([("a",), ("b",)], "name string"),
            identity={"rid": {"start": 1, "step": 1}},
        )
        hw1 = _read_manifest(path, v1)["identity"]["rid"]["high_water"]
        v2 = vt_write(
            spark,
            path,
            spark.createDataFrame([("c",)], "name string"),
            mode="append",
        )
        hw2 = _read_manifest(path, v2)["identity"]["rid"]["high_water"]
        assert hw2 > hw1
        v3 = vt_restore(spark, path, v1)
        hw3 = _read_manifest(path, v3)["identity"]["rid"]["high_water"]
        assert hw3 == hw2  # never rewinds (Delta's RESTORE contract)
        # ids issued after the restore stay above every issued id
        vt_write(
            spark,
            path,
            spark.createDataFrame([("d",)], "name string"),
            mode="append",
        )
        rids = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(set(rids)) == 3 and max(rids) > hw2

    def test_ddl_blocked_on_identity_column(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_drop_column,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame([("a",)], "name string"),
            identity={"rid": {"start": 1, "step": 1}},
        )
        with pytest.raises(ValueError, match="pinned by"):
            vt_rename_column(path, "rid", "row_id")
        with pytest.raises(ValueError, match="pinned by"):
            vt_drop_column(path, "rid")

    def test_negative_step(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame([("a",), ("b",)], "name string"),
            identity={"rid": {"start": -1, "step": -1}},
        )
        vt_write(
            spark,
            path,
            spark.createDataFrame([("c",)], "name string"),
            mode="append",
        )
        rids = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(set(rids)) == 3 and max(rids) <= -1


class TestDescribeDetail:
    def test_describe_covers_properties_and_layout(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_describe,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            _df(spark, [(i, i, float(i)) for i in range(10)]),
            constraints=[{"name": "q", "kind": "expr", "expr": "qty >= 0"}],
            bloom_cols=["id"],
        )
        vt_rename_column(path, "price", "amount")
        vt_delete(spark, path, ("id", "=", 3), mode="dv")
        d = vt_describe(path)
        assert d["version"] == 3 and d["op"] == "delete"
        assert d["physical_rows"] == 10 and d["logical_rows"] == 9
        assert d["deletion_vectors"] == {"files": 1, "rows": 1}
        assert d["protocol"]["min_reader"] == 3  # mapped + DV'd
        props = d["properties"]
        assert props["bloom_cols"] == ["id"]
        assert props["constraints"][0]["name"] == "q"
        assert props["column_mapping"]["amount"] == "price"
        assert [f["name"] for f in d["schema"]["fields"]] == [
            "id", "qty", "amount",
        ]
        assert d["num_files"] >= 1 and d["size_bytes"] > 0
        # time travel: the pre-rename version describes the OLD state
        d1 = vt_describe(path, version=1)
        assert "column_mapping" not in d1["properties"]
        assert d1["logical_rows"] == 10


class TestSymlinkManifest:
    def test_manifest_lists_exact_snapshot_files(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_generate_manifest,
            vt_optimize,
            vt_scan_plan,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(i, i, float(i)) for i in range(40)])
        )
        vt_optimize(spark, path, ["id"], n_partitions=4)
        # file-granular delete leaves a PARTIAL dir: the manifest must
        # follow the authoritative list, not the directory contents
        vt_delete(spark, path, ("id", "<", 10))
        dest = vt_generate_manifest(path)
        listed = [
            ln for ln in open(dest).read().splitlines() if ln.strip()
        ]
        assert listed == [
            os.path.abspath(os.path.join(d, f))
            for d, files in vt_scan_plan(path)["files"].items()
            for f in files
        ]
        # an external engine reading the listed files sees the snapshot
        got = spark.read.parquet(*listed)
        assert got.count() == vt_count(spark, path) == 30

    def test_manifest_refuses_dv_and_mapping(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_delete,
            vt_generate_manifest,
            vt_reorg,
        )

        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(i, i, float(i)) for i in range(10)])
        )
        vt_delete(spark, path, ("id", "=", 3), mode="dv")
        with pytest.raises(ValueError, match="deletion vectors"):
            vt_generate_manifest(path)
        vt_reorg(spark, path)
        vt_generate_manifest(path)  # purged: exportable again
        vt_rename_column(path, "qty", "quantity")
        with pytest.raises(ValueError, match="column mapping"):
            vt_generate_manifest(path)


class TestInCommitTimestampClamp:
    def test_backwards_clock_cannot_break_timestamp_resolution(
        self, spark, tmp_path, monkeypatch
    ):
        """Delta's inCommitTimestamps rationale: a commit stamped
        EARLIER than its predecessor (clock skew, NTP step) would make
        TIMESTAMP AS OF resolve a snapshot that did not exist at that
        moment. The commit clamps to the predecessor's timestamp."""
        import dynamicqueryengine_spark.sources.versioned as V
        from dynamicqueryengine_spark.sources.versioned import (
            vt_version_at,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, 1, 1.0)]))
        t1 = _read_manifest(path, 1)["ts"]
        real_time = V.time.time

        monkeypatch.setattr(
            V.time, "time", lambda: real_time() - 3600.0
        )
        try:
            vt_write(
                spark, path, _df(spark, [(2, 2, 2.0)]), mode="append"
            )
        finally:
            monkeypatch.setattr(V.time, "time", real_time)
        t2 = _read_manifest(path, 2)["ts"]
        assert t2 >= t1  # clamped, not an hour in the past
        # resolution stays monotone: the head is reachable at its own
        # stamp, and v1's stamp never resolves FORWARD past the clamp
        assert vt_version_at(path, t2) == 2
        assert vt_version_at(path, t1) in (1, 2)


class TestVtCli:
    def test_vt_admin_cli_round_trip(self, spark, tmp_path, capsys):
        """`python -m dynamicqueryengine_spark vt …` drives the schema
        DDL, DESCRIBE, dry-run vacuum and HISTORY end to end."""
        from dynamicqueryengine_spark.cli import main

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, 2, 3.0)]))
        assert main(["vt", "rename-column", path, "price", "amount"]) == 0
        assert main(["vt", "add-column", path, "tag", "string"]) == 0
        assert main(["vt", "describe", path]) == 0
        out = capsys.readouterr().out
        assert '"amount"' in out and '"tag"' in out
        assert main(["vt", "vacuum", path, "--dry-run"]) == 0
        assert "would remove" in capsys.readouterr().out
        assert main(["vt", "history", path]) == 0
        hist = capsys.readouterr().out.splitlines()
        assert json.loads(hist[0])["op"] == "add_column"
        # operand validation errors exit, not traceback
        with pytest.raises(SystemExit, match="usage"):
            main(["vt", "rename-column", path, "only-one-arg"])



class TestIdentityDmlContract:
    """ADVICE r12: vt_merge carries explicit identity values (the keyed
    reconcile contract), so its commit must ADVANCE the manifest's high
    watermark — a later vt_write append assigning from a stale watermark
    would mint duplicate ids. vt_update must refuse SET on an identity
    column outright (Delta refuses explicit identity values in DML)."""

    def _table(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame([("a",), ("b",)], "name string"),
            identity={"rid": {"start": 1, "step": 1}},
        )
        return path

    def test_merge_advances_high_water(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        hw0 = _read_manifest(path, 1)["identity"]["rid"]["high_water"]
        # upsert an INSERT carrying an explicit id far above the watermark
        v = vt_merge(
            spark,
            path,
            spark.createDataFrame(
                [(hw0 + 50, "m")], "rid long, name string"
            ),
            ["rid"],
        )
        hw1 = _read_manifest(path, v)["identity"]["rid"]["high_water"]
        assert hw1 == hw0 + 50
        # a later append must assign ABOVE the merge-inserted id
        vt_write(
            spark,
            path,
            spark.createDataFrame([("c",), ("d",)], "name string"),
            mode="append",
        )
        rids = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(rids) == len(set(rids)), "duplicate identity values"
        assert max(rids) > hw0 + 50

    def test_merge_dv_mode_advances_high_water(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        hw0 = _read_manifest(path, 1)["identity"]["rid"]["high_water"]
        v = vt_merge(
            spark,
            path,
            spark.createDataFrame(
                [(hw0 + 9, "x")], "rid long, name string"
            ),
            ["rid"],
            mode="dv",
        )
        hw1 = _read_manifest(path, v)["identity"]["rid"]["high_water"]
        assert hw1 == hw0 + 9
        vt_write(
            spark,
            path,
            spark.createDataFrame([("y",)], "name string"),
            mode="append",
        )
        rids = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(rids) == len(set(rids))

    def test_merge_requires_identity_column(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            vt_merge(
                spark,
                path,
                spark.createDataFrame([("e",)], "name string"),
                ["name"],
            )

    def test_update_refuses_set_on_identity(self, spark, tmp_path):
        path = self._table(spark, tmp_path)
        with pytest.raises(ValueError, match="GENERATED ALWAYS"):
            vt_update(
                spark,
                path,
                ("name", "=", "a"),
                {"rid": "rid + 100"},
            )

    def test_negative_step_merge_advances_downward(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame([("a",)], "name string"),
            identity={"rid": {"start": -1, "step": -1}},
        )
        hw0 = _read_manifest(path, 1)["identity"]["rid"]["high_water"]
        v = vt_merge(
            spark,
            path,
            spark.createDataFrame(
                [(hw0 - 7, "m")], "rid long, name string"
            ),
            ["rid"],
        )
        hw1 = _read_manifest(path, v)["identity"]["rid"]["high_water"]
        assert hw1 == hw0 - 7
        vt_write(
            spark,
            path,
            spark.createDataFrame([("z",)], "name string"),
            mode="append",
        )
        rids = [r["rid"] for r in vt_read(spark, path).collect()]
        assert len(rids) == len(set(rids)) and min(rids) < hw0 - 7


class TestExprConstraintTypeGate:
    """ADVICE r12: a CHECK expression that does not resolve to boolean
    (a spec typo like "qty" for "qty > 0") must be rejected, not
    silently coerced to nonzero-is-true semantics."""

    def test_non_boolean_expr_rejected_at_write(self, spark, tmp_path):
        path = str(tmp_path / "t")
        with pytest.raises(ValueError, match="not boolean"):
            vt_write(
                spark,
                path,
                _df(spark, [(1, 2, 3.0)]),
                constraints=[
                    {"name": "typo", "kind": "expr", "expr": "qty"}
                ],
            )

    def test_non_boolean_expr_rejected_in_report(self, spark, tmp_path):
        from dynamicqueryengine_spark.functions.constraints import (
            constraint_report,
        )

        with pytest.raises(ValueError, match="not boolean"):
            constraint_report(
                _df(spark, [(1, 2, 3.0)]),
                [{"name": "typo", "kind": "expr", "expr": "qty + 1"}],
            ).collect()

    def test_boolean_expr_still_accepted(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            _df(spark, [(1, 2, 3.0)]),
            constraints=[
                {"name": "ok", "kind": "expr", "expr": "qty > 0"}
            ],
        )
        assert vt_count(spark, path) == 1

    def test_legacy_recorded_non_boolean_stays_writable(
        self, spark, tmp_path
    ):
        """ADVICE r13 (low): a table whose MANIFEST already records a
        non-boolean expr constraint (written before boolean-ness was
        enforced) must not become unwritable — the recorded spec keeps
        its original nonzero-is-true coercion on the write path, while
        NEW registrations stay strict."""
        path = str(tmp_path / "t")
        vt_write(
            spark, path, _df(spark, [(1, 2, 3.0)]),
            constraints=[
                {"name": "q", "kind": "expr", "expr": "qty > 0"}
            ],
        )
        # simulate the pre-strictness table: rewrite the recorded spec
        # to a bare numeric expression, as an old version could have
        mp = os.path.join(path, "_vlog", "00000001.json")
        m = json.load(open(mp))
        m["constraints"] = [{"name": "q", "kind": "expr", "expr": "qty"}]
        json.dump(m, open(mp, "w"))
        # append enforces the legacy spec under coercion: qty=5 passes
        vt_write(
            spark, path, _df(spark, [(2, 5, 1.0)]), mode="append"
        )
        assert vt_count(spark, path) == 2
        # ... and still ENFORCES it: qty=0 coerces false -> violation
        from dynamicqueryengine_spark.sources.versioned import (
            ConstraintViolation,
        )

        with pytest.raises(ConstraintViolation):
            vt_write(
                spark, path, _df(spark, [(3, 0, 1.0)]), mode="append"
            )
        # registering the same non-boolean spec anew is still refused
        with pytest.raises(ValueError, match="not boolean"):
            vt_write(
                spark, path, _df(spark, [(4, 1, 1.0)]), mode="append",
                constraints=[
                    {"name": "q", "kind": "expr", "expr": "qty"}
                ],
            )


class TestManifestExportGates:
    def test_schema_heterogeneous_snapshot_refused(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_add_column,
            vt_compact,
            vt_generate_manifest,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, [(1, 2, 3.0)]))
        # merge_schema evolution on an UNMAPPED table: the snapshot is
        # schema-heterogeneous (old files lack `tag`) with no column
        # mapping, so the heterogeneity gate is the one that fires
        vt_write(
            spark,
            path,
            spark.createDataFrame(
                [(9, 9, 9.0, "x")],
                "id long, qty long, price double, tag string",
            ),
            mode="append",
            merge_schema=True,
        )
        assert vt_add_column is not None  # imported for parity with DDL gates
        with pytest.raises(ValueError, match="schema-heterogeneous"):
            vt_generate_manifest(path)
        # a compaction rewrites the snapshot to ONE physical schema;
        # the export works again
        vt_compact(spark, path)
        out = vt_generate_manifest(path)
        assert os.path.exists(out)
