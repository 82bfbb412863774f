"""Batch half of the vt Python DataSource (r13):
``spark.read.format("vt").option("path", …).load()`` must equal
``vt_read`` on any table — deletion vectors, column mapping, schema
evolution, partitions — plus versionAsOf/timestampAsOf time travel and
metadata-driven filter pushdown (sources/datasource.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynamicqueryengine_spark.sources.datasource import (
    _VtBatchPushdownReader,
    vt_register,
)
from dynamicqueryengine_spark.sources.versioned import (
    vt_delete,
    vt_merge,
    vt_read,
    vt_rename_column,
    vt_widen_column,
    vt_write,
)


@pytest.fixture()
def registered(spark):
    vt_register(spark)
    return spark


def _df(spark, n=20):
    return spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(n)],
        "id long, g string, x double",
    )


def _by_id(df):
    return sorted(tuple(r) for r in df.collect())


class TestBatchRead:
    def test_equals_vt_read_on_mapped_dv_table(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark), partition_by=["g"])
        vt_delete(spark, path, ("id", "=", 5), mode="dv")
        vt_rename_column(path, "x", "amount")
        out = spark.read.format("vt").option("path", path).load()
        assert out.columns == ["id", "g", "amount"]
        assert _by_id(out) == _by_id(vt_read(spark, path))
        assert out.count() == 19

    def test_version_and_timestamp_time_travel(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 5))
        import time as _t

        _t.sleep(0.05)
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
        )

        ts1 = _read_manifest(path, 1)["ts"]
        vt_write(spark, path, _df(spark, 3), mode="append")
        v1 = (
            spark.read.format("vt")
            .option("path", path)
            .option("versionAsOf", "1")
            .load()
        )
        assert v1.count() == 5
        t1 = (
            spark.read.format("vt")
            .option("path", path)
            .option("timestampAsOf", str(ts1))
            .load()
        )
        assert t1.count() == 5
        with pytest.raises(Exception, match="not both"):
            spark.read.format("vt").option("path", path).option(
                "versionAsOf", "1"
            ).option("timestampAsOf", str(ts1)).load()

    def test_schema_evolution_reconciles_nulls_and_upcasts(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame(
                [(i, f"g{i % 3}", float(i)) for i in range(4)],
                "id int, g string, x double",
            ),
        )
        # metadata-only widen: the v1 files stay physically int32; the
        # batch reader must upcast them to the declared bigint at scan
        vt_widen_column(path, "id", "bigint")
        vt_write(
            spark,
            path,
            spark.createDataFrame(
                [(100, "g9", 1.5, "tag")],
                "id long, g string, x double, note string",
            ),
            mode="append",
            merge_schema=True,
        )
        out = spark.read.format("vt").option("path", path).load()
        rows = {r["id"]: r["note"] for r in out.collect()}
        assert rows[100] == "tag"
        assert all(rows[i] is None for i in range(4))

    def test_merge_and_partial_dirs_honored(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark))
        vt_merge(
            spark,
            path,
            spark.createDataFrame(
                [(0, "g0", 99.0)], "id long, g string, x double"
            ),
            ["id"],
        )
        out = spark.read.format("vt").option("path", path).load()
        assert _by_id(out) == _by_id(vt_read(spark, path))
        assert {r["x"] for r in out.filter("id = 0").collect()} == {99.0}

    def test_pushdown_prunes_partitions(self, registered, tmp_path):
        from pyspark.sql.datasource import EqualTo

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 30), partition_by=["g"])
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
        )

        schema = (
            spark.read.format("vt").option("path", path).load().schema
        )
        probe = _VtBatchPushdownReader(schema, path, 1)
        kept = probe.pushFilters([EqualTo(("g",), "g1")])
        assert list(kept)  # every filter handed back for re-evaluation
        parts = probe.partitions()
        # the pushed equality keeps ONLY the g1 partition's directory —
        # every planned path lives under it
        m = _read_manifest(path, 1)
        g1_dirs = {
            d for d, pv in m["partitions"].items() if pv["g"] == "g1"
        }
        assert len(g1_dirs) == 1
        assert parts and all(
            any(f"/{d}/" in p.path or p.path.endswith(d) for d in g1_dirs)
            for p in parts
        )
        # and the filtered read is value-correct end to end
        got = sorted(
            r["id"]
            for r in spark.read.format("vt")
            .option("path", path)
            .load()
            .filter(F.col("g") == "g1")
            .collect()
        )
        assert got == [i for i in range(30) if i % 3 == 1]

    def test_pruned_directory_read_plans_several_partitions(
        self, registered, tmp_path
    ):
        """A pushed filter keeping 38 of a directory's 40 small files
        packs them into input partitions the way Spark packs file
        splits (32 files of about 4 MiB open cost each per partition),
        not into one partition, and reads the same rows."""
        from pyspark.sql.datasource import GreaterThanOrEqual

        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_scan_plan,
        )

        spark = registered
        path = str(tmp_path / "t")
        df = spark.range(4000).selectExpr("id", "concat('v', id) AS v")
        vt_write(spark, path, df.repartition(40))
        ((_, fstats),) = _read_manifest(path, 1)["file_stats"].items()
        cut = sorted(s["id"][1] for s in fstats.values())[2]
        plan = vt_scan_plan(path, predicate=("id", ">=", cut))
        assert (plan["files_kept"], plan["files_total"]) == (38, 40)
        schema = spark.read.format("vt").option("path", path).load().schema
        probe = _VtBatchPushdownReader(schema, path, 1)
        probe.pushFilters([GreaterThanOrEqual(("id",), cut)])
        parts = probe.partitions()
        assert [len(p.files) for p in parts] == [32, 6]
        assert sorted(f for p in parts for f in p.files) == sorted(
            next(iter(plan["files"].values()))
        )
        out = (
            spark.read.format("vt").option("path", path).load()
            .filter(F.col("id") >= cut)
        )
        assert out.rdd.getNumPartitions() == 2
        assert _by_id(out) == _by_id(
            vt_read(spark, path, predicate=("id", ">=", cut))
        )

    def test_reads_without_pushdown_conf(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6))
        spark.conf.set(
            "spark.sql.python.filterPushdown.enabled", "false"
        )
        try:
            out = (
                spark.read.format("vt")
                .option("path", path)
                .load()
                .filter("g = 'g0'")
            )
            assert out.count() == 2
        finally:
            spark.conf.set(
                "spark.sql.python.filterPushdown.enabled", "true"
            )

    def test_missing_table_and_bad_version_error(
        self, registered, tmp_path
    ):
        spark = registered
        with pytest.raises(Exception, match="no committed versions"):
            spark.read.format("vt").option(
                "path", str(tmp_path / "nope")
            ).load()
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 2))
        with pytest.raises(Exception, match="not committed"):
            spark.read.format("vt").option("path", path).option(
                "versionAsOf", "7"
            ).load()


class TestBatchWrite:
    """r13: the writer half — df.write.format('vt') creates/appends
    through the same OCC manifest commit as vt_write; features a blind
    writer cannot maintain refuse; failed jobs leave the table
    byte-identical (abort removes the staging, the version slot was
    never claimed)."""

    def test_create_append_and_read_back(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        df = _df(spark, 20)
        df.write.format("vt").mode("overwrite").option(
            "path", path
        ).save()
        assert vt_read(spark, path).count() == 20
        spark.createDataFrame(
            [(100, "g9", 1.0)], "id long, g string, x double"
        ).write.format("vt").mode("append").option("path", path).save()
        got = sorted(
            r["id"]
            for r in spark.read.format("vt")
            .option("path", path)
            .load()
            .collect()
        )
        assert got == sorted(list(range(20)) + [100])
        # the format write is a real commit: time travel sees both
        assert vt_read(spark, path, version=1).count() == 20
        # footer stats were harvested — the scan plan can prune
        from dynamicqueryengine_spark.sources.versioned import (
            vt_scan_plan,
        )

        plan = vt_scan_plan(path, predicate=("id", "=", 100))
        assert plan["files_kept"] < plan["files_total"]

    def test_append_schema_mismatch_refused(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        _df(spark, 4).write.format("vt").mode("overwrite").option(
            "path", path
        ).save()
        with pytest.raises(Exception, match="schema differs"):
            spark.createDataFrame([(1,)], "id long").write.format(
                "vt"
            ).mode("append").option("path", path).save()

    def test_featured_tables_refused(self, registered, tmp_path):
        spark = registered
        for feature, kwargs in (
            (
                "constraints",
                {
                    "constraints": [
                        {"name": "c", "kind": "not_null", "col": "id"}
                    ]
                },
            ),
            ("identity", {"identity": {"rid": {"start": 1}}}),
        ):
            path = str(tmp_path / f"t_{feature}")
            vt_write(spark, path, _df(spark, 4), **kwargs)
            with pytest.raises(Exception, match="vt_write"):
                _df(spark, 2).write.format("vt").mode("append").option(
                    "path", path
                ).save()

    def test_partitioned_append_splits_per_value(
        self, registered, tmp_path
    ):
        """r13 verdict ask #1: the format writer splits appends by the
        recorded partition_by — one file per value per task, one d_*
        dir per value per commit — so exact pruning and metadata-only
        DROP PARTITION survive external writes."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
            vt_delete,
            vt_scan_plan,
            vt_versions,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 12), partition_by=["g"])
        _df(spark, 9).withColumn(
            "x", F.col("x") + 100.0
        ).write.format("vt").mode("append").option("path", path).save()
        v = vt_versions(path)[-1]
        m = _read_manifest(path, v)
        # every dir carries exact partition values; no dir mixes them
        assert m["partition_by"] == ["g"]
        assert set(m["dirs"]) == set(m["partitions"])
        assert sorted(
            {pv["g"] for pv in m["partitions"].values()}
        ) == ["g0", "g1", "g2"]
        assert vt_count(spark, path) == 21
        # exact dir pruning still holds across vt_write + format dirs
        plan = vt_scan_plan(path, predicate=("g", "=", "g1"))
        assert plan["partition_pruned"] == len(m["dirs"]) - plan[
            "dirs_kept"
        ] and plan["dirs_kept"] < len(m["dirs"])
        got = sorted(
            r["id"]
            for r in vt_read(
                spark, path, predicate=("g", "=", "g1")
            ).collect()
        )
        assert got == sorted(
            [i for i in range(12) if i % 3 == 1]
            + [i for i in range(9) if i % 3 == 1]
        )
        # DROP PARTITION stays metadata-only after the format append
        v2 = vt_delete(spark, path, ("g", "=", "g2"))
        blob = _read_manifest(path, v2)["delete"]
        assert blob["files_rewritten"] == 0 and blob["dirs_dropped"] >= 2
        assert vt_count(spark, path) == 21 - 7

    def test_partitioned_overwrite_and_null_values(
        self, registered, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_scan_plan,
            vt_versions,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6), partition_by=["g"])
        spark.createDataFrame(
            [(1, None, 1.0), (2, "", 2.0), (3, "z", 3.0)],
            "id long, g string, x double",
        ).write.format("vt").mode("overwrite").option(
            "path", path
        ).save()
        m = _read_manifest(path, vt_versions(path)[-1])
        assert m["partition_by"] == ["g"]  # property carried
        vals = sorted(
            (pv["g"] is None, pv["g"] or "<null>")
            for pv in m["partitions"].values()
        )
        assert vals == [
            (False, "<null>"), (False, "z"), (True, "<null>")
        ]
        plan = vt_scan_plan(path, predicate=("g", "isnull", None))
        assert plan["partition_pruned"] == 2
        assert [
            r["id"]
            for r in vt_read(
                spark, path, predicate=("g", "=", "")
            ).collect()
        ] == [2]

    def test_bloom_cols_harvested_at_parity(self, registered, tmp_path):
        """The gateway-free Arrow bloom harvest must record the same
        positions as vt_write's JVM harvest for the same rows, and the
        format-written files must bloom-prune (value-interleaved so
        min/max stats cannot)."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_scan_plan,
            vt_versions,
        )

        spark = registered
        rows_a = [(1, "aa", 1.0), (2, "cc", 2.0)]
        rows_b = [(3, "bb", 3.0), (4, "dd", 4.0)]
        schema = "id long, g string, x double"
        native, fmt = str(tmp_path / "n"), str(tmp_path / "f")
        vt_write(
            spark,
            native,
            spark.createDataFrame(rows_a, schema).coalesce(1),
            bloom_cols=["g"],
        )
        vt_write(
            spark,
            fmt,
            spark.createDataFrame([], schema),
            bloom_cols=["g"],
        )
        spark.createDataFrame(rows_a, schema).coalesce(1).write.format(
            "vt"
        ).mode("append").option("path", fmt).save()
        spark.createDataFrame(rows_b, schema).coalesce(1).write.format(
            "vt"
        ).mode("append").option("path", fmt).save()

        def positions(path, version):
            m = _read_manifest(path, version)
            out = []
            for d in sorted(m.get("blooms", {})):
                b = m["blooms"][d]
                assert (b["m"], b["k"]) == (4096, 4)
                for f in sorted(b["files"]):
                    out.append(b["files"][f].get("g"))
            return out

        # rows_a harvested identically by both write paths
        assert positions(native, 1) == positions(fmt, 2)
        # interleaved ranges: stats keep both data files, blooms prune
        # the one without 'bb'
        plan = vt_scan_plan(fmt, predicate=("g", "=", "bb"))
        assert plan["bloom_pruned"] == 1
        assert plan["files_kept"] == plan["files_total"] - 1
        assert vt_read(
            spark, fmt, predicate=("g", "=", "bb")
        ).count() == 1

    def test_repartition_race_refused_at_commit(
        self, registered, tmp_path
    ):
        from dynamicqueryengine_spark.sources.datasource import (
            _check_writable,
        )
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_versions,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6), partition_by=["g"])
        prev = _read_manifest(path, vt_versions(path)[-1])
        schema_json = {"fields": []}
        # staged under the recorded split: fine
        _check_writable(
            prev, schema_json, "overwrite", path, staged_pby=["g"]
        )
        # a racing overwrite re-partitioned the table: refuse
        with pytest.raises(ValueError, match="re-partitioned"):
            _check_writable(
                prev, schema_json, "overwrite", path, staged_pby=[]
            )

    def test_cdf_option_refused_on_write(self, registered, tmp_path):
        spark = registered
        with pytest.raises(Exception, match="read option"):
            _df(spark, 2).write.format("vt").mode("append").option(
                "path", str(tmp_path / "t")
            ).option("readChangeFeed", "true").save()

    def test_failed_job_leaves_table_untouched(
        self, registered, tmp_path
    ):
        import glob
        import os as _os

        spark = registered
        path = str(tmp_path / "t")
        _df(spark, 6).write.format("vt").mode("overwrite").option(
            "path", path
        ).save()

        def boom(it):
            for pdf in it:
                raise RuntimeError("task failure injection")
                yield pdf  # pragma: no cover

        bad = _df(spark, 6).mapInPandas(boom, _df(spark, 1).schema)
        with pytest.raises(Exception):
            bad.write.format("vt").mode("append").option(
                "path", path
            ).save()
        from dynamicqueryengine_spark.sources.versioned import (
            vt_versions,
        )

        assert vt_versions(path) == [1]
        assert vt_read(spark, path).count() == 6
        assert not glob.glob(_os.path.join(path, ".fmtstage_*"))

    def test_unclaimed_staged_files_reaped_at_commit(
        self, registered, tmp_path
    ):
        """ADVICE r13 (medium): tasks write straight into the shared
        staging dir, so a failed or SPECULATIVE attempt leaves a file
        no commit message names. The committed d_* dir is scanned
        whole, so commit must unlink every unclaimed file before the
        rename — otherwise its duplicate/truncated rows get served
        while vt_count answers from the manifest."""
        import glob
        import os as _os

        from pyspark.sql.pandas.types import to_arrow_schema

        from dynamicqueryengine_spark.sources.datasource import (
            VersionedTableDataSource,
        )
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_count,
        )

        spark = registered
        path = str(tmp_path / "t")
        schema = _df(spark, 1).schema
        target = to_arrow_schema(schema)
        src = VersionedTableDataSource({"path": path})
        w = src.writer(schema, True)
        batches = list(_df(spark, 4).toArrow().cast(target).to_batches())
        msg = w.write(iter(batches))
        # a speculative duplicate attempt writes the same rows but its
        # message never reaches the driver; plus a truncated partial
        w.write(iter(batches))
        stage = glob.glob(_os.path.join(path, ".fmtstage_*"))[0]
        open(_os.path.join(stage, "part-partial.parquet"), "wb").write(
            b"PAR1garbage"
        )
        w.commit([msg])
        m = _read_manifest(path, 1)
        d = m["dirs"][0]
        on_disk = sorted(
            _os.path.basename(p)
            for p in glob.glob(_os.path.join(path, d, "*"))
        )
        assert on_disk == [msg.entries[0][0]] == m["files"][d]
        assert vt_read(spark, path).count() == 4 == vt_count(spark, path)


class TestReadChangeFeed:
    """Batch CDF through the format reader (r14, verdict ask #3):
    option("readChangeFeed","true") + startingVersion/endingVersion
    must equal the package-level vt_read_changes over the same range —
    including DV deletes, column mapping, merges with recorded change
    dirs, and overwrite synthesis."""

    def _stage_history(self, spark, path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_merge,
            vt_update,
        )

        vt_write(spark, path, _df(spark, 6))                      # v1
        vt_write(                                                 # v2
            spark,
            path,
            spark.createDataFrame(
                [(100, "g9", 9.0)], "id long, g string, x double"
            ),
            mode="append",
        )
        vt_delete(spark, path, ("id", "=", 2), mode="dv")         # v3
        vt_rename_column(path, "x", "amount")                     # v4 (no rows)
        vt_merge(                                                 # v5
            spark,
            path,
            spark.createDataFrame(
                [(0, "gz", 50.0), (200, "gn", 7.0)],
                "id long, g string, amount double",
            ),
            ["id"],
            change_feed=True,
        )
        vt_update(                                                # v6
            spark,
            path,
            ("id", "=", 100),
            {"amount": "amount + 1"},
            change_feed=True,
        )
        return path

    def _norm(self, df):
        return sorted(
            tuple(r) for r in df.collect()
        )

    def test_equals_vt_read_changes_full_history(
        self, registered, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_versions,
        )

        spark = registered
        path = self._stage_history(spark, str(tmp_path / "t"))
        head = vt_versions(path)[-1]
        fmt = (
            spark.read.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "1")
            .load()
        )
        native = vt_read_changes(spark, path, 0, head)
        assert fmt.columns == native.columns
        assert self._norm(fmt) == self._norm(native)
        # the feed saw every change-bearing commit
        assert {
            r["_commit_version"]
            for r in fmt.select("_commit_version").distinct().collect()
        } == {1, 2, 3, 5, 6}

    def _stage_every_op(self, spark, path):
        """One history holding every op the change-feed plan classifies;
        the replayed deletes run after a rename, so their recorded
        predicates name a column-mapped column."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_add_column,
            vt_analyze,
            vt_optimize,
            vt_replace_where,
            vt_restore,
            vt_update,
        )

        vt_write(spark, path, _df(spark, 12))                     # v1
        vt_write(                                                 # v2
            spark, path,
            spark.createDataFrame(
                [(100, "g9", 9.0)], "id long, g string, x double"
            ),
            mode="append",
        )
        vt_write(spark, path, _df(spark, 14))                     # v3
        vt_restore(spark, path, version=2)                        # v4
        vt_rename_column(path, "x", "amount")                     # v5
        rows = "id long, g string, amount double"
        vt_merge(                                                 # v6
            spark, path,
            spark.createDataFrame([(0, "gz", 50.0), (200, "gn", 7.0)], rows),
            ["id"], change_feed=True,
        )
        vt_delete(spark, path, ("id", "=", 1), change_feed=True)  # v7
        vt_update(                                                # v8
            spark, path, ("id", "=", 2), {"amount": "amount + 1"},
            change_feed=True,
        )
        vt_delete(spark, path, ("amount", "=", 10.0))             # v9
        vt_delete(                                                # v10
            spark, path,
            rule={"Conditions": {"Conditions": [
                {"Property": "id", "Operator": "Equal", "Value": 3}]}},
        )
        vt_delete(spark, path, ("id", "=", 4), mode="dv")         # v11
        vt_replace_where(                                         # v12
            spark, path,
            spark.createDataFrame([(300, "g1", 1.5)], rows),
            ("g", "=", "g1"),
        )
        vt_optimize(spark, path, ["id"], n_partitions=2)          # v13
        vt_analyze(spark, path)                                   # v14
        vt_add_column(path, "extra", "string")                    # v15
        return path

    def _cdf(self, spark, path, start, end):
        return (
            spark.read.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", str(start))
            .option("endingVersion", str(end))
            .load()
        )

    def test_every_op_matches_vt_read_changes(self, registered, tmp_path):
        """readChangeFeed and vt_read_changes return the same rows for
        every single-commit range and the whole history."""
        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_read_changes,
        )

        spark = registered
        path = self._stage_every_op(spark, str(tmp_path / "t"))
        head = 15
        assert [_read_manifest(path, v).get("op") for v in (4, 10, 12)] == [
            "restore", "delete", "replace_where"
        ]

        def rows(df):
            return sorted((tuple(r) for r in df.collect()), key=repr)

        for lo, hi in [(v - 1, v) for v in range(1, head + 1)] + [(0, head)]:
            fmt = self._cdf(spark, path, lo + 1, hi)
            native = vt_read_changes(spark, path, lo, hi)
            assert fmt.columns == native.columns, (lo, hi)
            assert rows(fmt) == rows(native), (lo, hi)

    @pytest.mark.xfail(
        strict=True,
        reason="an overwrite drops the column mapping, so the rows of a "
        "snapshot on the other side of it lose their renamed or added "
        "columns (known defect, see CHANGES.md)",
    )
    def test_snapshot_deletes_across_a_mapping_reset(
        self, registered, tmp_path
    ):
        """The delete rows of an overwrite and of a restore hold the
        replaced snapshot's values, in both readers."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_add_column,
            vt_read_changes,
            vt_restore,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))                      # v1
        vt_rename_column(path, "x", "amount")                     # v2
        vt_add_column(path, "extra", "string")                    # v3
        vt_write(                                                 # v4
            spark, path,
            spark.createDataFrame(
                [(7, "g7", 7.5, "e")],
                "id long, g string, amount double, extra string",
            ),
        )
        vt_restore(spark, path, version=3)                        # v5
        for v in (4, 5):
            want = sorted(
                (*r, "delete", v) for r in vt_read(spark, path, v - 1).collect()
            )
            for df in (
                vt_read_changes(spark, path, v - 1, v),
                self._cdf(spark, path, v, v),
            ):
                got = sorted(
                    tuple(r) for r in df.collect() if r[-2] == "delete"
                )
                assert got == want, v

    def test_update_replays_are_batch_only(self, registered, tmp_path):
        """Updates committed without change_feed replay in
        vt_read_changes; the pyarrow readers (stream and readChangeFeed)
        cannot evaluate assignments, so they refuse."""
        from dynamicqueryengine_spark.sources.datasource import (
            VersionedTableDataSource,
        )
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
            vt_update,
        )
        from dynamicqueryengine_spark.streaming.source import (
            VersionedChangesDataSource,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6))                      # v1
        vt_update(spark, path, ("id", "=", 1), {"x": "x + 1"})    # v2
        vt_update(                                                # v3
            spark, path,
            rule={"Conditions": {"Conditions": [
                {"Property": "g", "Operator": "StartsWith",
                 "Value": "g2"}]}},
            assignments={"x": "x * 10"},
        )
        for v, ids in ((2, {1}), (3, {2, 5})):
            got = vt_read_changes(spark, path, v - 1, v).collect()
            assert {(r["id"], r["_change_type"]) for r in got} == {
                (i, t) for i in ids
                for t in ("update_preimage", "update_postimage")
            }, v
            stream = VersionedChangesDataSource(
                {"path": path, "startingversion": str(v - 1)}
            )
            reader = stream.streamReader(stream.schema())
            with pytest.raises(ValueError, match=r"without\s+change_feed"):
                reader.partitions({"version": v - 1}, {"version": v})
            batch = VersionedTableDataSource({
                "path": path, "readchangefeed": "true",
                "startingversion": str(v), "endingversion": str(v),
            })
            with pytest.raises(ValueError, match=r"without\s+change_feed"):
                batch.reader(batch.schema()).partitions()
            with pytest.raises(Exception, match=r"without\s+change_feed"):
                self._cdf(spark, path, v, v).collect()

    def test_overwrite_rows_carry_the_overwrite_version(
        self, registered, tmp_path
    ):
        """An overwrite's synthesized deletes belong to the overwrite
        commit, as vt_read_changes stamps them, not to the version they
        were deleted from."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        vt_write(spark, path, _df(spark, 2), mode="overwrite")
        fmt = (
            spark.read.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "2")
            .load()
        )
        native = vt_read_changes(spark, path, 1, 2)
        assert self._norm(fmt) == self._norm(native)
        assert {r["_commit_version"] for r in fmt.collect()} == {2}

    def test_sub_range_and_defaults(self, registered, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_read_changes,
        )

        spark = registered
        path = self._stage_history(spark, str(tmp_path / "t"))
        fmt = (
            spark.read.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "3")
            .option("endingVersion", "5")
            .load()
        )
        native = vt_read_changes(spark, path, 2, 5)
        assert self._norm(fmt) == self._norm(native)
        # rename inside the range: renamed column's data keeps flowing
        # under the ending version's name
        assert "amount" in fmt.columns and "x" not in fmt.columns

    def test_option_validation(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))

        def rd(**opts):
            r = (
                spark.read.format("vt")
                .option("path", path)
                .option("readChangeFeed", "true")
            )
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load().collect()

        with pytest.raises(Exception, match="startingVersion"):
            rd()
        with pytest.raises(Exception, match="not committed"):
            rd(startingVersion="1", endingVersion="9")
        with pytest.raises(Exception, match="not versionAsOf"):
            rd(startingVersion="1", versionAsOf="1")


class TestTimestampOptions:
    """r14: Delta's timestamp forms of the CDF/stream range options —
    startingTimestamp (lowest version committed at/after, raising past
    the latest commit) and endingTimestamp (highest version committed
    at/before) on the batch reader; startingTimestamp on the stream."""

    def _stage(self, spark, path):
        import time as _t

        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
        )

        vt_write(spark, path, _df(spark, 3))                      # v1
        for i in range(2, 4):                                     # v2, v3
            vt_write(
                spark,
                path,
                spark.createDataFrame(
                    [(100 + i, "gz", float(i))],
                    "id long, g string, x double",
                ),
                mode="append",
            )
        return {
            v: float(_read_manifest(path, v)["ts"]) for v in (1, 2, 3)
        }

    def test_batch_cdf_timestamp_range(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        ts = self._stage(spark, path)
        got = (
            spark.read.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingTimestamp", str(ts[2]))
            .option("endingTimestamp", str(ts[2]))
            .load()
            .collect()
        )
        # exactly v2's insert
        assert [(r["id"], r["_commit_version"]) for r in got] == [
            (102, 2)
        ]

    def test_starting_timestamp_after_latest_raises(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        ts = self._stage(spark, path)
        with pytest.raises(Exception, match="after the latest commit"):
            (
                spark.read.format("vt")
                .option("path", path)
                .option("readChangeFeed", "true")
                .option("startingTimestamp", str(ts[3] + 3600))
                .load()
                .collect()
            )
        with pytest.raises(Exception, match="not both"):
            (
                spark.read.format("vt")
                .option("path", path)
                .option("readChangeFeed", "true")
                .option("startingVersion", "1")
                .option("startingTimestamp", str(ts[2]))
                .load()
                .collect()
            )

    def test_stream_starting_timestamp_inclusive(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        ts = self._stage(spark, path)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        q = (
            spark.readStream.format("vt")
            .option("path", path)
            .option("startingTimestamp", str(ts[2]))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # v2 AND v3 appends (at-or-after is inclusive), no snapshot
        assert sorted(
            r["id"] for r in spark.read.parquet(out).collect()
        ) == [102, 103]


class TestMergeSchemaOption:
    """r14: option("mergeSchema", "true") on format('vt') writes —
    Delta's contract: append may ADD nullable columns, WIDEN along the
    safe lattice, and omit existing columns (readers reconcile with
    typed nulls); incompatible changes still raise."""

    def test_append_adds_column_and_null_fills(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        evolved = spark.createDataFrame(
            [(100, "gz", 9.0, "note")],
            "id long, g string, x double, note string",
        )
        (
            evolved.write.format("vt")
            .option("path", path)
            .option("mergeSchema", "true")
            .mode("append")
            .save()
        )
        out = vt_read(spark, path)
        assert out.columns == ["id", "g", "x", "note"]
        rows = {r["id"]: r["note"] for r in out.collect()}
        assert rows[100] == "note" and rows[0] is None

    def test_append_missing_column_null_fills_new_rows(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        partial = spark.createDataFrame(
            [(200, "gm")], "id long, g string"
        )
        (
            partial.write.format("vt")
            .option("path", path)
            .option("mergeSchema", "true")
            .mode("append")
            .save()
        )
        out = vt_read(spark, path)
        assert out.columns == ["id", "g", "x"]
        assert (
            out.filter("id = 200").collect()[0]["x"] is None
        )

    def test_append_widens_table_type(self, registered, tmp_path):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(
            spark,
            path,
            spark.createDataFrame([(1, 2)], "id int, n int"),
        )
        wide = spark.createDataFrame(
            [(2, 3_000_000_000)], "id int, n long"
        )
        (
            wide.write.format("vt")
            .option("path", path)
            .option("mergeSchema", "true")
            .mode("append")
            .save()
        )
        out = vt_read(spark, path)
        assert out.schema["n"].dataType.simpleString() == "bigint"
        assert out.filter("n = 3000000000").count() == 1

    def test_incompatible_change_still_raises(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        bad = spark.createDataFrame(
            [(1, 2, 3.0)], "id long, g int, x double"
        )
        with pytest.raises(Exception, match="incompatible"):
            (
                bad.write.format("vt")
                .option("path", path)
                .option("mergeSchema", "true")
                .mode("append")
                .save()
            )

    def test_without_option_still_exact_match(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        evolved = spark.createDataFrame(
            [(1, "g", 1.0, "n")],
            "id long, g string, x double, note string",
        )
        with pytest.raises(Exception, match="mergeSchema"):
            (
                evolved.write.format("vt")
                .option("path", path)
                .mode("append")
                .save()
            )

    def test_replace_where_refuses_merge_schema(
        self, registered, tmp_path
    ):
        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        with pytest.raises(Exception, match="cannot combine"):
            (
                _df(spark, 1).write.format("vt")
                .option("path", path)
                .option("replaceWhere", "id < 1")
                .option("mergeSchema", "true")
                .mode("overwrite")
                .save()
            )

    def test_streaming_sink_merge_schema(self, registered, tmp_path):
        from dynamicqueryengine_spark.streaming.source import (
            vt_change_stream,
        )

        spark = registered
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        vt_write(spark, dst, _df(spark, 2))
        vt_write(
            spark,
            src,
            spark.createDataFrame(
                [(500, "gs", 5.0, "tag")],
                "id long, g string, x double, note string",
            ),
        )
        q = (
            vt_change_stream(spark, src)
            .select("id", "g", "x", "note")
            .writeStream.format("vt")
            .option("path", dst)
            .option("mergeSchema", "true")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = vt_read(spark, dst)
        assert out.columns == ["id", "g", "x", "note"]
        assert out.filter("note = 'tag'").count() == 1


class TestFormatWriterLostRace:
    """The format writer's append/overwrite commit through a lost race.
    Spark runs ``commit`` in a driver-side Python worker, so these tests
    drive it in-process: stage a parquet file with pyarrow, build the
    task's commit message and call ``_materialize_and_commit``. A
    one-shot hook on ``versioned._commit`` lands the racing commit just
    before the writer's own attempt."""

    @staticmethod
    def _staged(spark, path, ids, overwrite=False, stream_app=None):
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from dynamicqueryengine_spark.sources.datasource import (
            _VtBatchWriter,
            _VtStreamWriter,
            _VtWriteMessage,
        )

        schema = _df(spark, 1).schema
        staged = _os.path.join(path, ".fmtstage_race")
        _os.makedirs(staged, exist_ok=True)
        tbl = pa.table(
            {
                "id": list(ids),
                "g": [f"g{i % 3}" for i in ids],
                "x": [float(i) for i in ids],
            },
            schema=to_arrow_schema(schema),
        )
        pq.write_table(tbl, _os.path.join(staged, "part-race.parquet"))
        if stream_app is None:
            w = _VtBatchWriter(path, staged, overwrite, schema)
        else:
            w = _VtStreamWriter(path, staged, schema, [], [], stream_app)
        msgs = [_VtWriteMessage(entries=(("part-race.parquet", "", len(ids)),))]
        return w, msgs

    @staticmethod
    def _race(monkeypatch, winner):
        import dynamicqueryengine_spark.sources.versioned as V

        real = V._commit
        fired = []

        def hook(*a, **k):
            # one-shot even where a caller bound the hook to a local name
            if not fired:
                fired.append(True)
                monkeypatch.setattr(V, "_commit", real)
                winner()
            return real(*a, **k)

        monkeypatch.setattr(V, "_commit", hook)

    @staticmethod
    def _unreferenced(path):
        import os as _os

        from dynamicqueryengine_spark.sources.versioned import (
            _read_manifest,
            vt_versions,
        )

        referenced = {
            d for v in vt_versions(path) for d in _read_manifest(path, v)["dirs"]
        }
        on_disk = {n for n in _os.listdir(path) if n.startswith("d_")}
        return on_disk - referenced

    def test_append_vs_append_retries_and_lands(
        self, spark, tmp_path, monkeypatch
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_versions

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))
        w, msgs = self._staged(spark, path, [200, 201])
        self._race(
            monkeypatch,
            lambda: vt_write(
                spark, path, _df(spark, 1).selectExpr(
                    "100L AS id", "g", "x"
                ), mode="append",
            ),
        )
        w._materialize_and_commit(msgs, "append")
        assert vt_versions(path) == [1, 2, 3]
        ids = sorted(r["id"] for r in vt_read(spark, path).collect())
        assert ids == [0, 1, 2, 3, 100, 200, 201]
        assert not self._unreferenced(path)

    def test_append_vs_delete_raises_and_cleans(
        self, spark, tmp_path, monkeypatch
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_versions

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))
        w, msgs = self._staged(spark, path, [200])
        self._race(
            monkeypatch, lambda: vt_delete(spark, path, ("id", "=", 1))
        )
        with pytest.raises(FileExistsError):
            w._materialize_and_commit(msgs, "append")
        assert vt_versions(path) == [1, 2]
        assert sorted(r["id"] for r in vt_read(spark, path).collect()) == [
            0, 2, 3,
        ]
        assert not self._unreferenced(path)

    def test_overwrite_vs_append_raises_and_cleans(
        self, spark, tmp_path, monkeypatch
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_versions

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))
        w, msgs = self._staged(spark, path, [200], overwrite=True)
        self._race(
            monkeypatch,
            lambda: vt_write(spark, path, _df(spark, 6), mode="append"),
        )
        with pytest.raises(FileExistsError):
            w._materialize_and_commit(msgs, "overwrite")
        assert vt_versions(path) == [1, 2]
        assert vt_read(spark, path).count() == 10
        assert not self._unreferenced(path)

    def test_sink_replay_after_race_is_a_noop(
        self, spark, tmp_path, monkeypatch
    ):
        """A replica commits the same ``(app, batchId)`` and a vt_delete
        lands on top before this attempt commits: the race is lost to a
        non-append, yet the batch is already in the table, so the sink
        returns as vt_write does instead of raising."""
        from dynamicqueryengine_spark.sources.versioned import (
            vt_last_txn,
            vt_versions,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))
        w, msgs = self._staged(spark, path, [200, 201], stream_app="sink")

        def replica_then_delete():
            vt_write(
                spark, path,
                _df(spark, 202).where("id >= 200"),
                mode="append", txn=("sink", 7),
            )
            vt_delete(spark, path, ("id", "=", 1))

        self._race(monkeypatch, replica_then_delete)
        w.commit(msgs, 7)
        assert vt_versions(path) == [1, 2, 3]
        assert vt_last_txn(path, "sink") == 7
        ids = sorted(r["id"] for r in vt_read(spark, path).collect())
        assert ids == [0, 2, 3, 200, 201]
        assert not self._unreferenced(path)


class TestLegacyHeadAppend:
    @pytest.mark.parametrize("writer", ["vt_write", "format"])
    def test_append_on_legacy_head_records_no_schema(
        self, registered, tmp_path, writer
    ):
        """A head that records no ``schema`` (written before manifests
        carried one) stays schema-less through an append from either
        writer: the appended rows' schema says nothing about the legacy
        directories."""
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _manifest_path,
            _read_manifest,
        )

        spark = registered
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 3))
        mpath = _manifest_path(path, 1)
        with open(mpath) as f:
            m = _json.load(f)
        del m["schema"]
        with open(mpath, "w") as f:
            _json.dump(m, f)
        more = _df(spark, 5).where("id >= 3")
        if writer == "vt_write":
            vt_write(spark, path, more, mode="append")
        else:
            more.write.format("vt").mode("append").option("path", path).save()
        assert "schema" not in _read_manifest(path, 2)
        assert sorted(r["id"] for r in vt_read(spark, path).collect()) == [
            0, 1, 2, 3, 4,
        ]
