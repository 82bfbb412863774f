"""Streaming exact-dedup tests (streaming/dedup.py): memory-sink runs
checked against batch DISTINCT twins, plus the watermarked variant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynamicqueryengine_spark.streaming.dedup import (
    stream_dedup_exact,
    stream_dedup_within_watermark,
)
from dynamicqueryengine_spark.streaming.rules import (
    run_stream_to_memory,
    stream_events,
)

SF_DIR = "/root/testdata/sf0.001"


class TestStreamDedup:
    def test_matches_batch_distinct_counts(self, spark):
        from dynamicqueryengine_spark.sources.registry import load_table

        deduped = stream_dedup_exact(
            stream_events(spark, SF_DIR), ["user_id", "event_type"]
        )
        counts = deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        run_stream_to_memory(counts, "t_sd_counts", output_mode="complete")
        got = {
            r["event_type"]: r["n"]
            for r in spark.table("t_sd_counts").collect()
        }

        batch = (
            load_table(spark, SF_DIR, "events")
            .select("user_id", "event_type")
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        want = {r["event_type"]: r["n"] for r in batch.collect()}
        assert got == want and got

    def test_watermarked_dedup_drops_in_horizon_duplicates(self, spark):
        deduped = stream_dedup_within_watermark(
            stream_events(spark, SF_DIR),
            ["user_id", "event_type"],
            event_time_col="ts",
            delay="10 days",  # horizon covers the whole finite fixture
        )
        run_stream_to_memory(deduped, "t_sd_wm", output_mode="append")
        n = spark.table("t_sd_wm").count()
        from dynamicqueryengine_spark.sources.registry import load_table

        want = (
            load_table(spark, SF_DIR, "events")
            .select("user_id", "event_type")
            .distinct()
            .count()
        )
        assert n == want


class TestStreamMinhashIndex:
    """streaming/minhash.py (r9): batch-decomposition invariance and
    at-least-once replay idempotence of the index maintenance loop."""

    def _run_batches(self, spark, tmp_path, docs, batches):
        import os

        from dynamicqueryengine_spark.streaming.minhash import (
            minhash_index_batch,
        )

        paths = {
            n: os.path.join(str(tmp_path), n)
            for n in ("docs", "sigs", "pairs")
        }
        for bid, cond in enumerate(batches):
            minhash_index_batch(
                spark, docs.filter(cond), bid,
                paths["docs"], paths["sigs"], paths["pairs"],
            )
        return paths

    def test_flagged_set_equals_batch_miner(self, spark, tmp_path):
        from dynamicqueryengine_spark.functions import dedup as D
        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.sources.versioned import vt_read

        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text"
        )
        paths = self._run_batches(
            spark, tmp_path, docs,
            [F.col("doc_id") % 3 == i for i in range(3)],
        )
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in vt_read(spark, paths["pairs"]).collect()
        }
        want = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in D.minhash_lsh_pairs(docs, k=5, threshold=0.7).collect()
        }
        assert got == want and got

    def test_replayed_batch_is_a_no_op(self, spark, tmp_path):
        import os

        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.sources.versioned import (
            vt_head,
            vt_read,
        )
        from dynamicqueryengine_spark.streaming.minhash import (
            minhash_index_batch,
        )

        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text"
        )
        paths = self._run_batches(
            spark, tmp_path, docs,
            [F.col("doc_id") % 2 == i for i in range(2)],
        )
        before = {
            n: (vt_head(p), vt_read(spark, p).count())
            for n, p in paths.items()
        }
        # at-least-once: batch 1 fires again after a "crash"
        minhash_index_batch(
            spark, docs.filter(F.col("doc_id") % 2 == 1), 1,
            paths["docs"], paths["sigs"], paths["pairs"],
        )
        after = {
            n: (vt_head(p), vt_read(spark, p).count())
            for n, p in paths.items()
        }
        assert after == before  # no new versions, no new rows anywhere
        assert os.path.exists(paths["pairs"])

    @pytest.fixture(scope="class")
    def clean_run(self, spark, tmp_path_factory):
        """Paths of a clean two-batch run and its flagged pair set."""
        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.sources.versioned import vt_read

        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text"
        )
        clean = self._run_batches(
            spark, tmp_path_factory.mktemp("clean"), docs,
            [F.col("doc_id") % 2 == i for i in range(2)],
        )
        want = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in vt_read(spark, clean["pairs"]).collect()
        }
        return clean, want

    @pytest.mark.parametrize(
        "landed",
        [(), ("pairs",), ("docs",), ("sigs",), ("pairs", "docs"),
         ("pairs", "sigs"), ("docs", "sigs")],
        ids=lambda landed: "+".join(landed) or "none",
    )
    def test_partially_committed_batch_replays_exactly(
        self, spark, tmp_path, clean_run, landed
    ):
        """r15 (concurrent appends): a crash after any proper subset of
        batch 1's three appends (pairs, docs, sigs) landed replays to the
        exact clean-run pair set — the probe is insensitive to its own
        signatures being in the base, the verifier skips the doc union
        when the docs append landed, and the already-committed appends
        no-op via their markers."""
        import os

        from dynamicqueryengine_spark.functions import dedup as D
        from dynamicqueryengine_spark.sources.registry import load_table
        from dynamicqueryengine_spark.sources.versioned import (
            vt_head,
            vt_read,
            vt_read_delta,
            vt_write,
        )
        from dynamicqueryengine_spark.streaming import minhash as mh

        docs = load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text"
        )
        clean, want = clean_run

        # crashed run: batch 0 completes; of batch 1's appends only the
        # ``landed`` ones commit (with their txn markers)
        paths = self._run_batches(
            spark, os.path.join(str(tmp_path), "crash"), docs,
            [F.col("doc_id") % 2 == 0],
        )
        b1 = docs.filter(F.col("doc_id") % 2 == 1)
        h = vt_head(clean["pairs"])
        appends = {
            "pairs": (
                vt_read_delta(spark, clean["pairs"], h - 1, h), mh._APP_PAIRS
            ),
            "docs": (b1, mh._APP_DOCS),
            "sigs": (D.minhash_signatures(b1), mh._APP_SIGS),
        }
        for name in landed:
            df, app = appends[name]
            vt_write(spark, paths[name], df, mode="append", txn=(app, 1))
        heads = {n: vt_head(p) for n, p in paths.items()}

        mh.minhash_index_batch(  # at-least-once replay of batch 1
            spark, b1, 1,
            paths["docs"], paths["sigs"], paths["pairs"],
        )
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in vt_read(spark, paths["pairs"]).collect()
        }
        assert got == want and got
        # the already-committed appends were no-ops; the rest advanced
        for name, p in paths.items():
            assert vt_head(p) == heads[name] + (name not in landed), name
