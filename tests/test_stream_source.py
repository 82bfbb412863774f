"""Structured Streaming source over the versioned table's change feed
(streaming/source.py r10): offsets = commit versions, partitions =
(commit, file) units, Arrow-batch reads, availableNow catch-up,
rate limiting, checkpoint-restart exactly-once."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dynamicqueryengine_spark.sources.versioned import (
    vt_delete,
    vt_merge,
    vt_read,
    vt_write,
)
from dynamicqueryengine_spark.streaming.source import vt_change_stream


def _df(spark, n=20):
    return spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(n)],
        "id long, g string, x double",
    )


def _drain_to_memory(stream, timeout=120):
    qn = "chg_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(qn)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return qn


def _signed_state(out):
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), 1
    ).otherwise(-1)
    return {
        (r["g"], r["n"], r["s"])
        for r in out.groupBy("g")
        .agg(
            F.sum(sign).alias("n"),
            F.sum(sign * F.col("x")).alias("s"),
        )
        .collect()
    }


class TestChangeStream:
    def test_available_now_replays_to_snapshot(self, spark, tmp_path):
        src = str(tmp_path / "src")
        df = _df(spark)
        vt_write(spark, src, df.filter("id % 2 = 0"))
        vt_write(spark, src, df.filter("id % 2 = 1"), mode="append")
        vt_merge(
            spark,
            src,
            df.filter("id % 10 = 3").withColumn("x", F.col("x") * 2),
            ["id"],
            change_feed=True,
        )
        vt_delete(spark, src, ("id", "=", 4))  # replay-by-predicate path
        qn = _drain_to_memory(vt_change_stream(spark, src))
        out = spark.sql(f"select * from {qn}")
        tags = {
            (r["_commit_version"], r["_change_type"])
            for r in out.select(
                "_commit_version", "_change_type"
            ).distinct().collect()
        }
        assert tags == {
            (1, "insert"),
            (2, "insert"),
            (3, "update_preimage"),
            (3, "update_postimage"),
            (4, "delete"),
        }
        # signed replay of the FULL stream equals the final snapshot
        want = {
            (r["g"], r["n"], r["s"])
            for r in vt_read(spark, src)
            .groupBy("g")
            .agg(F.count("*").alias("n"), F.sum("x").alias("s"))
            .collect()
        }
        assert _signed_state(out) == want

    def test_rate_limit_bounds_each_batch(self, spark, tmp_path):
        # rate limiting is a PROCESSING-TIME-trigger tool (a continuous
        # tail that must not swallow a backlog in one batch); under
        # availableNow Spark pins the end offset at query start, so the
        # cap would simply stop the catch-up early. Fresh queries cap
        # from trigger 1 (initialOffset seeds the base — r10 advice);
        # only CHECKPOINT RESTARTS keep an uncapped first offset, since
        # Spark never reveals the cursor to latestOffset and a cap
        # relative to startingVersion could land BELOW it and wedge the
        # query.
        src = str(tmp_path / "src")
        df = _df(spark, 12)
        vt_write(spark, src, df.filter("id % 4 = 0"))
        stream = vt_change_stream(
            spark, src, max_versions_per_trigger=1
        )
        qn = "chg_" + uuid.uuid4().hex[:8]
        q = (
            stream.writeStream.format("memory")
            .queryName(qn)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            import time

            deadline = time.time() + 120
            while time.time() < deadline:  # first (uncapped) batch
                if spark.sql(f"select * from {qn}").count() >= 3:
                    break
                time.sleep(0.5)
            for i in range(1, 4):  # backlog committed while running
                vt_write(
                    spark, src, df.filter(f"id % 4 = {i}"), mode="append"
                )
            while time.time() < deadline:
                if spark.sql(f"select * from {qn}").count() >= 12:
                    break
                time.sleep(0.5)
            out = spark.sql(f"select * from {qn}")
            assert out.count() == 12
            assert set(
                r["_commit_version"]
                for r in out.select("_commit_version").distinct().collect()
            ) == {1, 2, 3, 4}
            # capped: the 3-version backlog drains one version per
            # micro-batch → >= 4 non-empty batches in total
            batches = [
                p for p in q.recentProgress if p["numInputRows"] > 0
            ]
            assert len(batches) >= 4
        finally:
            q.stop()

    def test_checkpoint_restart_resumes_exactly_once(self, spark, tmp_path):
        src = str(tmp_path / "src")
        sink = str(tmp_path / "sink")
        cp = str(tmp_path / "cp")
        df = _df(spark)
        vt_write(spark, src, df.filter("id < 10"))
        q = (
            vt_change_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert spark.read.parquet(sink).count() == 10
        # new commits; restart from the SAME checkpoint → only the delta
        vt_write(spark, src, df.filter("id >= 10"), mode="append")
        q2 = (
            vt_change_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        out = spark.read.parquet(sink)
        assert out.count() == 20  # no replays, no gaps
        assert out.select("id").distinct().count() == 20

    def test_schema_evolution_nulls_for_old_files(self, spark, tmp_path):
        src = str(tmp_path / "src")
        vt_write(
            spark,
            src,
            spark.createDataFrame([(1, "a")], "id long, v string"),
        )
        vt_write(
            spark,
            src,
            spark.createDataFrame(
                [(2, "b", 9.5)], "id long, v string, score double"
            ),
            mode="append",
            merge_schema=True,
        )
        qn = _drain_to_memory(vt_change_stream(spark, src))
        out = spark.sql(f"select * from {qn}")
        rows = {
            (r["id"], r["v"], r["score"]) for r in out.collect()
        }
        assert rows == {(1, "a", None), (2, "b", 9.5)}

    def test_merge_without_change_feed_fails_stream(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import StreamingQueryException

        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 6))
        vt_merge(
            spark,
            src,
            _df(spark, 3).withColumn("x", F.col("x") + 1),
            ["id"],
        )
        stream = vt_change_stream(spark, src)
        qn = "chg_" + uuid.uuid4().hex[:8]
        q = (
            stream.writeStream.format("memory")
            .queryName(qn)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)

    def test_starting_version_skips_history(self, spark, tmp_path):
        src = str(tmp_path / "src")
        df = _df(spark, 9)
        vt_write(spark, src, df.filter("id < 3"))
        vt_write(spark, src, df.filter("id >= 3 and id < 6"), mode="append")
        vt_write(spark, src, df.filter("id >= 6"), mode="append")
        qn = _drain_to_memory(vt_change_stream(spark, src, starting_version=2))
        out = spark.sql(f"select * from {qn}")
        assert {r["id"] for r in out.collect()} == {6, 7, 8}

    def test_update_commit_streams_pre_and_post_images(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import vt_update

        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 6))
        vt_update(
            spark, src, ("id", "=", 2), {"x": "x + 100"},
            change_feed=True,
        )
        qn = _drain_to_memory(vt_change_stream(spark, src))
        out = spark.sql(f"select * from {qn}")
        upd = {
            (r["_change_type"], r["x"])
            for r in out.filter("_commit_version = 2").collect()
        }
        assert upd == {
            ("update_preimage", 2.0), ("update_postimage", 102.0)
        }

    def test_timestamp_and_decimal_columns_roundtrip(self, spark, tmp_path):
        # arrow-side reconciliation must hand temporal/decimal columns
        # to Spark byte-exactly (naive-vs-UTC drift would shift values)
        src = str(tmp_path / "src")
        df = spark.sql(
            "SELECT id, timestamp'2024-03-01 12:34:56.789' + "
            "make_interval(0,0,0,0,0,0,id) AS ts, "
            "CAST(id AS DECIMAL(38,12)) / 7 AS d "
            "FROM range(5)"
        )
        vt_write(spark, src, df)
        qn = _drain_to_memory(vt_change_stream(spark, src))
        out = spark.sql(f"select id, ts, d from {qn}")
        want = {(r["id"], r["ts"], r["d"]) for r in df.collect()}
        got = {(r["id"], r["ts"], r["d"]) for r in out.collect()}
        assert got == want


class TestReaderOffsetProtocol:
    """Unit-level checks on _ChangesStreamReader's offset math (r10
    advice #1): a FRESH query (initialOffset called) gets its first
    micro-batch capped by maxVersionsPerTrigger — the backfill case the
    option exists for — while a checkpoint RESTART (initialOffset never
    called) keeps the deliberately-uncapped first offset."""

    def _table(self, spark, tmp_path, commits=3):
        src = str(tmp_path / "src")
        df = _df(spark, 9)
        vt_write(spark, src, df.filter("id % 3 = 0"))
        for i in range(1, commits):
            vt_write(spark, src, df.filter(f"id % 3 = {i}"), mode="append")
        return src

    def _reader(self, spark, src, **opts):
        from dynamicqueryengine_spark.streaming.source import (
            _ChangesStreamReader,
        )

        schema = vt_read(spark, src).schema
        # startingversion pinned at 0 — the pre-r14 default these
        # offset-math checks were written against (no startingversion
        # now means snapshot-at-head mode)
        options = {"path": src, "startingversion": "0"}
        options.update({k.lower(): str(v) for k, v in opts.items()})
        return _ChangesStreamReader(schema, options)

    def test_fresh_query_first_batch_is_capped(self, spark, tmp_path):
        src = self._table(spark, tmp_path, commits=3)
        r = self._reader(spark, src, maxversionspertrigger=1)
        assert r.initialOffset() == {"version": 0}
        # trigger 1 of the fresh backfill: capped to ONE version, not
        # the whole 3-commit backlog
        assert r.latestOffset() == {"version": 1}
        assert r.latestOffset() == {"version": 2}
        assert r.latestOffset() == {"version": 3}
        assert r.latestOffset() == {"version": 3}  # drained, holds

    def test_restart_first_offset_is_uncapped(self, spark, tmp_path):
        """Spark never calls initialOffset on a checkpoint restart and
        never reveals the cursor to latestOffset — capping relative to
        startingVersion could return an offset BELOW the cursor and
        wedge the query, so the first post-restart offset advances to
        head; the cap re-engages once partitions() reveals the cursor."""
        src = self._table(spark, tmp_path, commits=3)
        r = self._reader(spark, src, maxversionspertrigger=1)
        assert r.latestOffset() == {"version": 3}

    def test_restart_cap_reengages_after_partitions(self, spark, tmp_path):
        src = self._table(spark, tmp_path, commits=3)
        r = self._reader(spark, src, maxversionspertrigger=1)
        # restart: Spark re-plans the last uncommitted batch first
        r.partitions({"version": 0}, {"version": 1})
        assert r.latestOffset() == {"version": 2}  # capped from cursor


class TestDeleteReplayNullSemantics:
    """r10 advice #2: the delete-replay pyarrow filter must mirror
    Spark's null-rejecting isin — an IN list containing NULL matches no
    null row (SQL three-valued logic), so the streamed CDC must not tag
    null rows as deleted."""

    def test_pa_filter_in_with_null_matches_no_null_row(self):
        import pyarrow as pa

        from dynamicqueryengine_spark.streaming.source import _pa_filter

        tbl = pa.table({"v": ["a", None, "b"], "id": [1, 2, 3]})
        expr = _pa_filter([("v", "in", ["a", None])])
        got = tbl.filter(expr)
        assert got["id"].to_pylist() == [1]  # the null row is NOT matched

    def test_stream_replay_of_in_delete_with_null_literal(
        self, spark, tmp_path
    ):
        src = str(tmp_path / "src")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id long, v string"
        )
        vt_write(spark, src, df)
        # vt_delete evaluates Spark isin: removes v='a' only, keeps the
        # null row (NULL IN ('a', NULL) is NULL, not TRUE)
        vt_delete(spark, src, ("v", "in", ["a", None]))
        assert {
            r["id"] for r in vt_read(spark, src).collect()
        } == {2, 3}
        # the streamed replay must agree row-for-row
        stream = vt_change_stream(spark, src)
        qn = _drain_to_memory(stream)
        out = spark.sql(f"select * from {qn}")
        dels = {
            r["id"]
            for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == {1}


class TestStreamRuleDeleteReplay:
    """r10 verdict ask #4: stream-vs-batch identity over vt_delete(rule=)
    commits without explicit change_feed — exact rules replay via the
    recorded plain predicate, inexact rules via the auto-materialized
    change directory."""

    def test_exact_rule_delete_streams_without_change_feed(
        self, spark, tmp_path
    ):
        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 12))
        vt_delete(
            spark, src, rule={
                "Conditions": {
                    "Conditions": [
                        {"Property": "g", "Operator": "Equal", "Value": "g1"}
                    ]
                }
            },
        )
        stream = vt_change_stream(spark, src)
        qn = _drain_to_memory(stream)
        out = spark.sql(f"select * from {qn}")
        dels = {
            r["id"]
            for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == {i for i in range(12) if i % 3 == 1}

    def test_inexact_rule_delete_streams_via_materialized_changes(
        self, spark, tmp_path
    ):
        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 12))
        # StartsWith is outside the skip grammar: the delete must have
        # auto-materialized its change rows, and the stream reads them
        vt_delete(
            spark, src, rule={
                "Conditions": {
                    "Conditions": [
                        {
                            "Property": "g",
                            "Operator": "StartsWith",
                            "Value": "g2",
                        }
                    ]
                }
            },
        )
        stream = vt_change_stream(spark, src)
        qn = _drain_to_memory(stream)
        out = spark.sql(f"select * from {qn}")
        dels = {
            r["id"]
            for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == {i for i in range(12) if i % 3 == 2}


class TestStreamDeletionVectors:
    """Streaming exactness through merge-on-read commits: DV deletes
    always carry materialized change rows, and snapshot replays
    (overwrite/restore, predicate-delete replay) apply the replayed
    version's deletion vectors before tagging."""

    def test_dv_delete_streams_exact(self, spark, tmp_path):
        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 12))
        vt_delete(spark, src, ("id", "=", 5), mode="dv")
        stream = vt_change_stream(spark, src)
        qn = _drain_to_memory(stream)
        out = spark.sql(f"select * from {qn}")
        dels = {
            r["id"]
            for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == {5}
        # signed fold equals the live snapshot
        assert _signed_state(out) == _signed_state(
            vt_read(spark, src)
            .withColumn("_change_type", F.lit("insert"))
        )

    def test_restore_replay_applies_dvs(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_restore

        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 12))
        vt_delete(spark, src, ("id", "=", 5), mode="dv")          # v2
        vt_write(spark, src, _df(spark, 12).filter("id = 0")
                 .selectExpr("id + 100 as id", "g", "x"),
                 mode="append")                                    # v3
        vt_restore(spark, src, 2)                                  # v4
        stream = vt_change_stream(spark, src)
        qn = _drain_to_memory(stream)
        out = spark.sql(f"select * from {qn}")
        # the restore's delete-all(v3) + insert-all(v4) replay reads the
        # DV'd snapshots: id=5 must appear in NEITHER side
        v4 = out.filter("_commit_version = 4")
        assert v4.filter("id = 5").count() == 0
        # and the net fold still matches the live table (which lacks 5)
        assert _signed_state(out) == _signed_state(
            vt_read(spark, src)
            .withColumn("_change_type", F.lit("insert"))
        )

    def test_predicate_delete_replay_skips_dv_rows(self, spark, tmp_path):
        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 12))
        vt_delete(spark, src, ("g", "=", "g1"), mode="dv")  # ids 1,4,7,10
        # plain predicate delete WITHOUT change feed over a snapshot that
        # has DVs: the replay must not re-emit the DV'd rows as deletes
        vt_delete(spark, src, ("id", "<", 6))
        stream = vt_change_stream(spark, src)
        qn = _drain_to_memory(stream)
        out = spark.sql(f"select * from {qn}")
        d3 = {
            r["id"]
            for r in out.filter(
                "_change_type = 'delete' AND _commit_version = 3"
            ).collect()
        }
        assert d3 == {0, 2, 3, 5}  # 1 and 4 were already DV-deleted
        # group g1 is fully deleted: the fold carries it at n=0, the
        # live snapshot has no such group — drop zeroed groups
        fold = {
            t for t in _signed_state(out) if t[1] != 0
        }
        assert fold == _signed_state(
            vt_read(spark, src)
            .withColumn("_change_type", F.lit("insert"))
        )

    def test_out_of_range_dv_position_raises_named_error(
        self, spark, tmp_path
    ):
        """ADVICE r11: a corrupt/stale sidecar carrying a position past
        the file's row count must raise a descriptive error naming the
        file, not an opaque executor-side numpy IndexError."""
        import json as _json

        from dynamicqueryengine_spark.sources.versioned import (
            _dv_dir,
            _read_manifest,
            vt_versions,
        )

        src = str(tmp_path / "src")
        vt_write(spark, src, _df(spark, 12))
        vt_delete(spark, src, ("g", "=", "g1"), mode="dv")
        # rewrite the sidecar's positions far past any file's row count
        m = _read_manifest(src, vt_versions(src)[-1])
        refs = {e["ref"] for fm in m["dv"].values() for e in fm.values()}
        for ref in refs:
            full = os.path.join(_dv_dir(src), ref)
            with open(full) as f:
                payload = _json.load(f)
            corrupt = {
                d: {fn: [10**7] for fn in fm} for d, fm in payload.items()
            }
            with open(full, "w") as f:
                _json.dump(corrupt, f)
        # predicate-delete replay over the DV'd snapshot reads the
        # corrupted vectors on an executor
        vt_delete(spark, src, ("id", "<", 6))
        with pytest.raises(Exception, match="out of range"):
            _drain_to_memory(vt_change_stream(spark, src))


class TestStreamReplayRetentionContract:
    """r11 verdict ask #7 — the replay-vs-retention contract, pinned:
    a predicate-recorded delete (plain predicate, or a skip-exact rule,
    committed without ``change_feed``) replays against the PREVIOUS
    snapshot, so vacuuming that snapshot's manifest away makes a stream
    that still needs the delete fail LOUDLY (named version, no silent
    wrong results). Either remedy decouples streaming from retention:
    ``change_feed=True`` (explicitly materialized change rows) or
    ``mode="dv"`` (DV deletes always materialize). The contract is
    documented in README's streaming section and vt_vacuum's docstring."""

    def _history(self, spark, tmp_path, **delete_kw):
        # v1 write -> v2 delete -> v3 append; vacuum(keep_last=2)
        # expires v1, the snapshot a predicate replay of v2 needs
        from dynamicqueryengine_spark.sources.versioned import vt_vacuum

        src = str(tmp_path / "src")
        df = _df(spark, 12)
        vt_write(spark, src, df)
        vt_delete(spark, src, ("g", "=", "g1"), **delete_kw)
        vt_write(
            spark,
            src,
            spark.createDataFrame([(100, "g9", 1.0)], "id long, g string, x double"),
            mode="append",
        )
        vt_vacuum(spark, src, keep_last=2, grace_seconds=0)
        return src

    def test_vacuumed_predecessor_fails_loudly(self, spark, tmp_path):
        src = self._history(spark, tmp_path)
        with pytest.raises(Exception, match="was vacuumed"):
            _drain_to_memory(
                vt_change_stream(spark, src, starting_version=1)
            )

    def test_change_feed_materialization_survives_vacuum(
        self, spark, tmp_path
    ):
        src = self._history(spark, tmp_path, change_feed=True)
        qn = _drain_to_memory(
            vt_change_stream(spark, src, starting_version=1)
        )
        out = spark.sql(f"select * from {qn}")
        dels = {
            r["id"] for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == {i for i in range(12) if i % 3 == 1}
        assert {
            r["id"] for r in out.filter("_change_type = 'insert'").collect()
        } == {100}

    def test_dv_delete_survives_vacuum(self, spark, tmp_path):
        src = self._history(spark, tmp_path, mode="dv")
        qn = _drain_to_memory(
            vt_change_stream(spark, src, starting_version=1)
        )
        out = spark.sql(f"select * from {qn}")
        dels = {
            r["id"] for r in out.filter("_change_type = 'delete'").collect()
        }
        assert dels == {i for i in range(12) if i % 3 == 1}


class TestStreamMappedRename:
    """ADVICE r12: the stream's fixed logical schema must resolve to
    PHYSICAL file columns via the stream-era mapping, not the emitting
    version's map — a mid-stream rename keys the later map by the new
    logical name, so a per-version lookup would miss and serve silent
    typed NULLs for every row appended after the rename."""

    def _reader(self, spark, path, schema_fields):
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from dynamicqueryengine_spark.streaming.source import (
            _ChangesStreamReader,
        )

        types = {
            "id": LongType(),
            "g": StringType(),
        }
        fields = [
            StructField(n, types.get(n, DoubleType()), True)
            for n in schema_fields
        ] + [
            StructField("_change_type", StringType(), False),
            StructField("_commit_version", IntegerType(), False),
        ]
        # startingversion pinned at 0: these tests exercise the
        # full-history era walk (the r14 no-option default is instead
        # an initial snapshot at the head era)
        return _ChangesStreamReader(
            StructType(fields), {"path": path, "startingversion": "0"}
        )

    def _rows(self, reader, parts):
        out = []
        for p in parts:
            for batch in reader.read(p):
                out.extend(batch.to_pylist())
        return out

    def test_mid_stream_rename_serves_values_not_nulls(
        self, spark, tmp_path
    ):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_rename_column,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6))           # v1: id, g, x
        vt_rename_column(path, "x", "y")               # v2: maps y -> x
        # stream schema fixed HERE (head=2): id, g, y
        reader = self._reader(spark, path, ["id", "g", "y"])
        reader.initialOffset()
        # mid-stream: rename AGAIN and append under the new logical name
        vt_rename_column(path, "y", "z")               # v3: maps z -> x
        vt_write(
            spark,
            path,
            spark.createDataFrame(
                [(100, "g0", 7.5)], "id long, g string, z double"
            ),
            mode="append",
        )                                              # v4
        rows = self._rows(
            reader, reader.partitions({"version": 3}, {"version": 4})
        )
        assert len(rows) == 1
        # the appended row's value must arrive under the stream's
        # logical name — physical identity bridges the renames
        assert rows[0]["y"] == 7.5 and rows[0]["id"] == 100

    def test_drop_readd_era_ambiguity_fails_loudly(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_add_column,
            vt_drop_column,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))           # v1: id, g, x
        vt_drop_column(path, "x")                      # v2: id, g
        vt_add_column(path, "x", "double")             # v3: id, g, x (fresh physical)
        # two committed eras share the field names (v1 identity vs v3
        # fresh-physical) but disagree on physical identity — without
        # schema tracking the stream cannot tell which era its schema
        # belongs to
        with pytest.raises(ValueError, match="dropped and re-added"):
            self._reader(spark, path, ["id", "g", "x"])

    def test_rename_roundtrip_is_not_ambiguous(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import (
            vt_rename_column,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))           # v1: id, g, x
        vt_rename_column(path, "x", "y")               # v2
        vt_rename_column(path, "y", "x")               # v3: back to x
        # v1 (identity) and v3 (explicit x -> x map) are physically the
        # same era — must not trip the ambiguity guard
        reader = self._reader(spark, path, ["id", "g", "x"])
        reader.initialOffset()
        rows = self._rows(
            reader, reader.partitions({"version": 0}, {"version": 1})
        )
        assert len(rows) == 4 and all(r["x"] is not None for r in rows)


class TestFormatStreamRead:
    """r14: spark.readStream.format("vt") — the read half of the
    streaming matrix. Default = the TABLE as an append stream (initial
    snapshot at query start, then appends; Delta's source contract);
    option("readChangeFeed","true") = the row-level change feed, the
    same reader the vt_changes format exposes."""

    @staticmethod
    def _register(spark):
        from dynamicqueryengine_spark.sources.datasource import (
            vt_register,
        )

        vt_register(spark)

    @staticmethod
    def _run_to_parquet(spark, reader_df, out, ck, timeout=120):
        q = (
            reader_df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout)

    def test_snapshot_then_incremental_appends(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = _df(spark, 6)
        vt_write(spark, path, df.filter("id < 3"))
        vt_write(spark, path, df.filter("id >= 3"), mode="append")
        self._register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        src = (
            spark.readStream.format("vt").option("path", path).load()
        )
        # no metadata columns on the table stream
        assert set(src.columns) == {"id", "g", "x"}
        self._run_to_parquet(spark, src, out, ck)
        assert sorted(
            r["id"] for r in spark.read.parquet(out).collect()
        ) == list(range(6))
        # restart from the same checkpoint: ONLY the new append
        vt_write(
            spark,
            path,
            spark.createDataFrame([(100, "g0", 1.0)], _df(spark).schema),
            mode="append",
        )
        src = (
            spark.readStream.format("vt").option("path", path).load()
        )
        self._run_to_parquet(spark, src, out, ck)
        assert sorted(
            r["id"] for r in spark.read.parquet(out).collect()
        ) == list(range(6)) + [100]

    def test_change_commit_fails_loudly_by_default(
        self, spark, tmp_path
    ):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6))
        vt_delete(spark, path, ("id", "=", 2))
        self._register(spark)
        src = (
            spark.readStream.format("vt")
            .option("path", path)
            .option("startingVersion", "1")
            .load()
        )
        q = (
            src.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(
            StreamingQueryException, match="skipChangeCommits"
        ):
            q.awaitTermination(120)

    def test_skip_change_commits_serves_later_appends(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6))            # v1
        vt_delete(spark, path, ("id", "=", 2))          # v2 (change)
        vt_merge(                                        # v3 (change)
            spark,
            path,
            spark.createDataFrame([(0, "g0", 99.0)], _df(spark).schema),
            ["id"],
            change_feed=True,
        )
        vt_write(                                        # v4 (append)
            spark,
            path,
            spark.createDataFrame([(7, "g1", 7.0)], _df(spark).schema),
            mode="append",
        )
        self._register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        src = (
            spark.readStream.format("vt")
            .option("path", path)
            .option("startingVersion", "1")
            .option("skipChangeCommits", "true")
            .load()
        )
        self._run_to_parquet(spark, src, out, ck)
        # v2/v3 skipped wholesale; v4's append delivered
        assert sorted(
            r["id"] for r in spark.read.parquet(out).collect()
        ) == [7]

    def test_starting_version_skips_snapshot(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))            # v1
        vt_write(                                        # v2
            spark,
            path,
            spark.createDataFrame([(50, "g2", 5.0)], _df(spark).schema),
            mode="append",
        )
        self._register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        src = (
            spark.readStream.format("vt")
            .option("path", path)
            .option("startingVersion", "1")
            .load()
        )
        self._run_to_parquet(spark, src, out, ck)
        assert sorted(
            r["id"] for r in spark.read.parquet(out).collect()
        ) == [50]

    def test_snapshot_honors_deletion_vectors(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 6))
        vt_delete(spark, path, ("id", "=", 3), mode="dv")
        self._register(spark)
        out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
        src = (
            spark.readStream.format("vt").option("path", path).load()
        )
        self._run_to_parquet(spark, src, out, ck)
        got = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert got == [0, 1, 2, 4, 5]

    def test_cdf_stream_matches_vt_change_stream(self, spark, tmp_path):
        path = str(tmp_path / "t")
        df = _df(spark, 10)
        vt_write(spark, path, df.filter("id < 5"))
        vt_write(spark, path, df.filter("id >= 5"), mode="append")
        vt_merge(
            spark,
            path,
            df.filter("id = 3").withColumn("x", F.col("x") * 2),
            ["id"],
            change_feed=True,
        )
        vt_delete(spark, path, ("id", "=", 8))
        self._register(spark)
        fmt = (
            spark.readStream.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .option("startingVersion", "0")
            .load()
        )
        qn_fmt = _drain_to_memory(fmt)
        qn_pkg = _drain_to_memory(vt_change_stream(spark, path))
        cols = "id, g, x, _change_type, _commit_version"
        a = {
            tuple(r)
            for r in spark.sql(f"select {cols} from {qn_fmt}").collect()
        }
        b = {
            tuple(r)
            for r in spark.sql(f"select {cols} from {qn_pkg}").collect()
        }
        assert a == b and len(a) > 0

    def test_cdf_default_is_snapshot_as_inserts(self, spark, tmp_path):
        from dynamicqueryengine_spark.sources.versioned import vt_head

        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))
        vt_delete(spark, path, ("id", "=", 1))
        head = vt_head(path)
        self._register(spark)
        src = (
            spark.readStream.format("vt")
            .option("path", path)
            .option("readChangeFeed", "true")
            .load()
        )
        qn = _drain_to_memory(src)
        rows = spark.sql(
            f"select id, _change_type, _commit_version from {qn}"
        ).collect()
        # the CURRENT table (post-delete) as inserts stamped with the
        # snapshot's version — history before query start not replayed
        assert sorted(r["id"] for r in rows) == [0, 2, 3]
        assert {(r["_change_type"], r["_commit_version"]) for r in rows} == {
            ("insert", head)
        }

    def test_batch_options_refused_on_stream(self, spark, tmp_path):
        path = str(tmp_path / "t")
        vt_write(spark, path, _df(spark, 4))
        self._register(spark)
        for opts in (
            {"versionAsOf": "1"},
            {"timestampAsOf": "2026-01-01"},
            {"endingVersion": "1", "readChangeFeed": "true",
             "startingVersion": "0"},
        ):
            reader = spark.readStream.format("vt").option("path", path)
            for k, v in opts.items():
                reader = reader.option(k, v)
            with pytest.raises(Exception, match="batch"):
                _drain_to_memory(reader.load())


class _ConditionError(Exception):
    """Stand-in for a Spark error: a condition plus free message text."""

    def __init__(self, condition, message):
        super().__init__(message)
        self._condition = condition

    def getCondition(self):
        return self._condition


class TestRegistrationRace:
    """vt_change_stream tolerates losing the data-source registration
    race; the refusal is recognized by its error condition, not by the
    wording of its message."""

    @pytest.mark.parametrize(
        "exc, expected",
        [
            (_ConditionError("DATA_SOURCE_ALREADY_EXISTS", "refused"), True),
            (
                _ConditionError(
                    "DATA_SOURCE_NOT_FOUND",
                    "not DATA_SOURCE_ALREADY_EXISTS",
                ),
                False,
            ),
            (_ConditionError(None, "[DATA_SOURCE_ALREADY_EXISTS] x"), True),
            (RuntimeError("[DATA_SOURCE_ALREADY_EXISTS] x"), True),
            (RuntimeError("boom"), False),
        ],
    )
    def test_already_registered_matches_condition_first(self, exc, expected):
        from dynamicqueryengine_spark.streaming.source import (
            _already_registered,
        )

        assert _already_registered(exc) is expected
