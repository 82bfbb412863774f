"""Streaming near-duplicate flagging — the online twin of the batch
incremental MinHash index (``functions/dedup.py minhash_lsh_pairs_delta``
× ``sources/versioned.py``): as document micro-batches arrive, each is
signed ONCE, probed against the persisted signature index by LSH
banding, exact-verified, and the index advanced — the continuous form
of a 100-TB pipeline's "dedup today's crawl against the accumulated
corpus" job.

State bounds (the property that survives 100 TB):

* **No Spark state-store state at all** — the loop is ``foreachBatch``
  over stateless batch plans; the only accumulated state is the
  signature index itself, a versioned TABLE on storage (num_perm longs
  per document — 32 × 8 bytes at the defaults, ~0.3% of a 10 KB doc),
  never driver or executor memory.
* **Per-batch work is |batch|-proportional**: the batch is shingled and
  signed once; the band join probes batch signatures against the index
  (cost |batch| × bucket sizes, never |corpus|²); exact verification
  re-shingles only the bounded candidate set.

Exactly-once under at-least-once replay: each of the three table
appends (pairs, docs, signatures) carries a ``txn=(app, batch_id)``
SetTransaction marker committed atomically with its manifest, so a
crash between any two appends replays as per-table no-ops — the same
guard ``events_stream_upsert_totals`` pins for the upsert sink. The
three appends are INDEPENDENT, so their order carries no correctness
weight; they run one after the other (running them on three threads
measured no gain beyond the run-to-run spread):

* a batch is skipped wholesale only when ALL THREE markers cover it;
  any partially-committed batch re-runs, and each table's own marker
  turns its already-landed append into a no-op;
* the replayed PROBE is insensitive to its own signatures having
  committed: probing the delta against a base that already contains it
  only duplicates candidate rows the post-join ``distinct`` collapses,
  so the flagged pair set is bit-identical (pinned by
  ``test_partially_committed_batch_replays_exactly``);
* the verification side skips the batch union when the docs append
  already landed, so replayed candidates are never re-shingled against
  duplicated document rows.

A permanently-failing append stops the batch with the appends before
it landed and the ones after it not — visible in the markers,
converged by the next successful replay.

Flagged-set completeness: a pair (a, b) is emitted by exactly one
batch — the one where the LATER document arrives (both-in-one-batch
pairs come from the delta×delta side of the band join) — so the final
pairs table over any batch decomposition of a corpus equals the one-shot
batch miner's pair list, which is what the contract query's value
oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["minhash_index_batch", "stream_minhash_index"]

_APP_PAIRS = "mh_index_pairs"
_APP_DOCS = "mh_index_docs"
_APP_SIGS = "mh_index_sigs"


def minhash_index_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    docs_path: str,
    sigs_path: str,
    pairs_path: str,
    k: int = 5,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Apply ONE micro-batch of documents to the index: probe for
    near-dups against everything seen so far, append the flagged pairs,
    the batch documents, and the batch signatures (in that order — see
    module docstring for the replay argument). Module-level so the
    replay contract is directly testable outside a streaming query."""
    from ..functions import dedup as D
    from ..sources.versioned import vt_last_txn, vt_read, vt_versions, vt_write

    batch = batch_df.select(id_col, text_col)

    def _done(path: str, app: str) -> bool:
        last = vt_last_txn(path, app)
        return last is not None and last >= batch_id

    docs_done = _done(docs_path, _APP_DOCS)
    if (
        _done(sigs_path, _APP_SIGS)
        and docs_done
        and _done(pairs_path, _APP_PAIRS)
    ):
        return  # full replay of an already-completed batch
    sig_delta = D.minhash_signatures(
        batch, k=k, text_col=text_col, id_col=id_col
    ).persist()
    has_base = bool(vt_versions(sigs_path))
    base_sigs = (
        vt_read(spark, sigs_path) if has_base else sig_delta.limit(0)
    )
    base_docs = (
        vt_read(spark, docs_path) if vt_versions(docs_path) else batch.limit(0)
    )
    # replay of a partially-committed batch whose DOCS append already
    # landed: the base table contains the batch, so unioning it again
    # would re-shingle duplicated rows in the verifier (module docstring)
    all_docs = base_docs if docs_done else base_docs.unionByName(batch)
    pairs = D.minhash_lsh_pairs_delta(
        all_docs,
        base_sigs,
        batch,
        k=k,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        delta_sigs=sig_delta,
    )
    # all three appends land on INDEPENDENT tables: each is individually
    # replay-idempotent via its own txn marker, and the skip gate above
    # requires all three markers, so no inter-append ordering is needed
    # for exactly-once (module docstring's replay argument)
    vt_write(
        spark, pairs_path, pairs, mode="append", txn=(_APP_PAIRS, batch_id)
    )
    vt_write(spark, docs_path, batch, mode="append", txn=(_APP_DOCS, batch_id))
    vt_write(
        spark, sigs_path, sig_delta, mode="append", txn=(_APP_SIGS, batch_id)
    )
    sig_delta.unpersist()
    D.release_internal_caches()  # per-batch miner caches must not outlive


def stream_minhash_index(
    stream_docs: DataFrame,
    docs_path: str,
    sigs_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    k: int = 5,
    threshold: float = 0.7,
) -> None:
    """Run the index-maintenance loop over a streaming documents frame
    to completion of the available data (``availableNow`` — the
    batch-equivalent trigger; a service would use a processing-time
    trigger with the identical body)."""
    (
        stream_docs.writeStream.foreachBatch(
            lambda bdf, bid: minhash_index_batch(
                bdf.sparkSession,
                bdf,
                bid,
                docs_path,
                sigs_path,
                pairs_path,
                k=k,
                threshold=threshold,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
