"""Beyond-reference workloads: LLM-training-data pipeline operators over the
``documents`` / ``embeddings`` / ``events`` tables (SURVEY.md §7 Phase 4;
BASELINE.json north star).

Each workload is a named (spark_fn, oracle_sql) pair like the reference
workloads; oracle SQL is omitted only where the computation is inherently
hash-engine-specific (MinHash/SimHash/LSH bucketing) — there the EXACT
twin (same output schema, portable math) carries the oracle and the
approximate variant is checked rows-only.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import dedup as D
from ..functions import multimodal as M
from ..functions import sampling as SM
from ..functions import sessions as SS
from ..functions import similarity as S
from ..functions import text as T
from ..util import bind_columns
from ..operators.aggregate import apply_aggregation
from ..plans.model import AggregationDefinition
from ..sources.registry import load_table
from ..util import spread
from .reference import _EVENTS_ORACLE_SOURCE, TESTDATA_SCHEMAS

# --------------------------------------------------------------- plumbing --


@dataclass
class FnWorkload:
    """A named query backed by an arbitrary DataFrame pipeline."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle_sql: str | None = None

    def spark_fn(self) -> Callable[[SparkSession, str], DataFrame]:
        return self.fn

    def oracle(self) -> str | None:
        return self.oracle_sql


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file input → spread before the regex/explode-heavy projections
    return spread(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


_SCRATCH_REGISTERED: set[str] = set()
_SCRATCH_GEN: dict[str, int] = {}


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-INVOCATION scratch dir for queries that STAGE a table
    (versioned-table demos): a fresh ``gen{N}`` subdir under a
    per-(tag, pid, sf_dir) base on every call, the base registered for
    atexit removal the first time THIS PROCESS hands the key out.
    Registration keys off the module-level set, not filesystem existence
    (r7 advisor: a stale dir left by a crashed earlier process with a
    recycled pid was wiped but never registered, leaking at exit).
    Nothing is deleted during the process lifetime — the r8 advisor
    found the previous wipe-and-rebuild scheme rmtree'd the parquet/
    checkpoint files backing an EARLIER invocation's still-lazy returned
    DataFrame; generations make reruns safe by construction. Disk is
    bounded by invocations × staged-table size (the demo tables are
    megabytes) and the whole base is removed at exit."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(
        tempfile.gettempdir(), f"dqe_{tag}_{os.getpid()}_{key}"
    )
    if base not in _SCRATCH_REGISTERED:
        # a crashed earlier process with a recycled pid may have left the
        # base behind: wipe ONCE before this process's first generation
        # (no live DataFrame of ours can reference it yet)
        if os.path.exists(base):
            shutil.rmtree(base, ignore_errors=True)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        _SCRATCH_REGISTERED.add(base)
    gen = _SCRATCH_GEN.get(base, 0)
    _SCRATCH_GEN[base] = gen + 1
    return os.path.join(base, f"gen{gen}")


# Driver-side memo of the mined jaccard≥threshold pair list over the full
# documents table — the SAME (k=5, threshold=0.7) edge list feeds the
# pagerank and cluster-assign queries, and re-mining it per query was the
# dominant cost of both (~4 s of a 6.7 s pagerank at sf0.1). The survivor
# pair set is tiny by construction (only near-dup pairs), so the memo is a
# bounded list of plain tuples keyed by the input files' identity
# (path+mtime+size — a regenerated corpus invalidates it) that survives
# `spark.catalog.clearCache()` and session swaps. Oversized pair lists
# skip the memo and stay fully distributed. `dedup_ngram_jaccard` itself
# does NOT read the memo — the mining query keeps paying its real cost.
# TIMING PROTOCOL: bench.py's scrub() clears this memo before every
# timed query, so benchmark numbers always include the mining work each
# query semantically performs — the memo is a production-session
# optimization only, never a way to pre-pay benchmarked computation.
_PAIR_MEMO: dict = {}
_PAIR_MEMO_MAX_ROWS = 500_000


def _pair_memo_key(sf_dir: str, k: int, threshold: float):
    import os

    p = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    try:
        sig = (p, os.path.getmtime(p), os.path.getsize(p))
    except OSError:
        sig = (p, None, None)
    return (sig, k, threshold)


def _shared_jaccard_pairs(
    spark: SparkSession, sf_dir: str, k: int = 5, threshold: float = 0.7
) -> DataFrame:
    schema = "id_a long, id_b long, jaccard double"
    key = _pair_memo_key(sf_dir, k, threshold)
    hit = _PAIR_MEMO.get(key)
    if hit is not None:
        return spark.createDataFrame(hit, schema=schema)
    pairs = D.ngram_jaccard_pairs(_docs(spark, sf_dir), k=k, threshold=threshold)
    rows = pairs.select("id_a", "id_b", "jaccard").limit(
        _PAIR_MEMO_MAX_ROWS + 1
    ).collect()
    if len(rows) > _PAIR_MEMO_MAX_ROWS:
        return pairs  # too big to hold on the driver — stay distributed
    _PAIR_MEMO[key] = [(r[0], r[1], r[2]) for r in rows]
    return spark.createDataFrame(_PAIR_MEMO[key], schema=schema)


# ------------------------------------------------------------ text profile --


def _text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("text")
    pad = F.col("_pad")  # one padded pass feeds all seven word-set scans
    return bind_columns(_docs(spark, sf_dir), _pad=T._padded(text)).select(
        "doc_id",
        T.token_count_ws(text).alias("tok_ws"),
        T.token_count_bpe(text).alias("tok_bpe"),
        F.round(T.stopword_ratio(text, padded=pad), 6).alias("stopword_ratio"),
        T.quality_score(text, padded=pad).alias("quality"),
        T.detect_language(text, padded=pad).alias("lang_pred"),
        T.fingerprint_md5(text).alias("fp_md5"),
        T.fingerprint_rolling(text).alias("fp_roll"),
    )


_TEXT_PROFILE_SQL = f"""
SELECT doc_id,
  {T.token_count_ws_sql('text')} AS tok_ws,
  {T.token_count_bpe_sql('text')} AS tok_bpe,
  round({T.stopword_ratio_sql('text')}, 6) AS stopword_ratio,
  {T.quality_score_sql('text')} AS quality,
  {T.detect_language_sql('text')} AS lang_pred,
  {T.fingerprint_md5_sql('text')} AS fp_md5,
  {T.fingerprint_rolling_sql('text')} AS fp_roll
FROM documents
""".strip()


def _quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typical pre-training filter: keep docs above a quality floor with a
    confident language prediction."""
    text = F.col("text")
    # Two-level bind: the padded normal form once for all six word-set
    # scans, then the scores once so the filter can't re-inline them (a
    # plain select+filter would evaluate both regex batteries twice).
    return (
        bind_columns(
            bind_columns(_docs(spark, sf_dir), _pad=T._padded(text)),
            quality=T.quality_score(text, padded=F.col("_pad")),
            lang_pred=T.detect_language(text, padded=F.col("_pad")),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
        .select("doc_id", "lang", "quality", "lang_pred")
    )


_QUALITY_FILTER_SQL = f"""
SELECT doc_id, lang,
  {T.quality_score_sql('text')} AS quality,
  {T.detect_language_sql('text')} AS lang_pred
FROM documents
WHERE {T.quality_score_sql('text')} >= 0.5 AND {T.detect_language_sql('text')} <> 'und'
""".strip()


# -------------------------------------------------------------- sampling --

_STRATA_FRACTIONS = {"en": 0.25, "de": 0.8, "fr": 0.8, "es": 0.8, "zh": 0.8}


def _docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix subsampling: deterministically downsample the dominant
    language, keep most of the rest — reproducible across engines because
    the per-row coin is an md5-derived hash, not rand()."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return SM.sample_stratified(docs, _STRATA_FRACTIONS)


_SAMPLE_STRATIFIED_SQL = SM.sample_stratified_sql(
    "(SELECT doc_id, lang FROM documents) AS documents", _STRATA_FRACTIONS
)


def _docs_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature rebalancing across languages: rate_g =
    sqrt(c_min/c_g), so the dominant language is squashed toward the
    rarest one — the standard multilingual-pretraining mix smoothing."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return SM.sample_temperature(docs).select("doc_id", "lang")


_SAMPLE_TEMPERATURE_SQL = SM.sample_temperature_sql(
    "documents", columns="t.doc_id, t.lang"
)


def _docs_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-to-budget: per source, take documents in deterministic hash
    order until 800 whitespace tokens — the final token-budget recipe step.
    Bucketed two-level prefix sum, so no stratum ever sorts in one task."""
    return SM.sample_token_budget(_docs(spark, sf_dir), budget=800)


_SAMPLE_TOKEN_BUDGET_SQL = SM.sample_token_budget_sql("documents", budget=800)


def _docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: linear-classifier margin over engineered
    text features (fastText-style plumbing — swap in trained weights and
    the plan is unchanged). Scan-time projection, zero shuffles."""
    from ..functions.classifier import classify_quality

    return classify_quality(_docs(spark, sf_dir))


def _docs_quality_classifier_sql() -> str:
    from ..functions.classifier import classify_quality_sql

    return classify_quality_sql("documents")


def _docs_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language difficulty quartiles via broadcast percentile cuts —
    curriculum ordering without any per-stratum global sort."""
    from ..functions.classifier import curriculum_buckets

    return curriculum_buckets(_docs(spark, sf_dir))


def _docs_curriculum_sql() -> str:
    from ..functions.classifier import curriculum_buckets_sql

    return curriculum_buckets_sql("documents")


def _tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (monotone tf*N/df score —
    single IEEE division keeps the oracle exact; see functions/keywords)."""
    from ..functions.keywords import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _tfidf_keywords_sql() -> str:
    from ..functions.keywords import tfidf_top_terms_sql

    return tfidf_top_terms_sql("documents", k=3)


def _corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training-style corpus stats: the 100 most document-frequent
    character 5-grams. orderBy+limit compiles to TakeOrdered (per-partition
    top-k then a 100-row driver merge — no global sort shuffle); ties at the
    cut break deterministically on the shingle string."""
    sh = D.shingles(_docs(spark, sf_dir), k=5)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("shingle").asc())
        .limit(100)
    )


_VOCAB_TOPK_SQL = f"""
WITH sh AS ({D._shingles_sql('documents', 5, 'text', 'doc_id')})
SELECT shingle, count(*) AS doc_freq FROM sh GROUP BY shingle
ORDER BY doc_freq DESC, shingle ASC LIMIT 100
""".strip()


def _embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64→16 dims
    (functions/embeddings.py) — the cheap width-reduction step before
    sketching/ANN; seeded plane literals make it bit-exact vs the oracle."""
    from ..functions.embeddings import random_projection

    return random_projection(_embs(spark, sf_dir), out_dim=16, in_dim=64)


def _embed_random_projection_sql() -> str:
    from ..functions.embeddings import random_projection_sql

    return random_projection_sql("embeddings", out_dim=16, in_dim=64)


def _corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank token-length percentiles per source
    (functions/quantiles.py) — the per-stratum length profile a
    length-filter threshold is tuned against."""
    from ..functions.quantiles import group_quantiles

    base = _docs(spark, sf_dir).select(
        "source", T.token_count_ws(F.col("text")).cast("long").alias("tok_ws")
    )
    return group_quantiles(base, value_col="tok_ws", group_col="source")


def _corpus_length_quantiles_sql() -> str:
    from ..functions.quantiles import group_quantiles_sql

    inner = (
        f"SELECT source, CAST({T.token_count_ws_sql('text')} AS BIGINT)"
        f" AS tok_ws FROM documents"
    )
    return group_quantiles_sql(inner, value_col="tok_ws", group_col="source")


def _corpus_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state approximate-quantile path (percentile_approx, GK
    sketch) run for real and verified against its rank-error guarantee,
    with the exact nearest-rank values carrying the value oracle
    (functions/quantiles.py group_quantiles_approx_check)."""
    from ..functions.quantiles import group_quantiles_approx_check

    base = _docs(spark, sf_dir).select(
        "source", T.token_count_ws(F.col("text")).cast("long").alias("tok_ws")
    )
    return group_quantiles_approx_check(
        base, value_col="tok_ws", group_col="source", accuracy=100
    )


def _corpus_length_quantiles_approx_sql() -> str:
    from ..functions.quantiles import group_quantiles_approx_check_sql

    inner = (
        f"SELECT source, CAST({T.token_count_ws_sql('text')} AS BIGINT)"
        f" AS tok_ws FROM documents"
    )
    return group_quantiles_approx_check_sql(
        inner, value_col="tok_ws", group_col="source"
    )


def _corpus_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: exact top-20 corpus words with their
    bounded-memory sketch estimates side by side (functions/cms.py) —
    estimate ≥ truth by construction, the one-sided CMS guarantee."""
    from ..functions.cms import cms_topk_estimates

    return cms_topk_estimates(_docs(spark, sf_dir), k=20, depth=4, width=256)


def _corpus_cms_heavyhitters_sql() -> str:
    from ..functions.cms import cms_topk_estimates_sql

    return cms_topk_estimates_sql("documents", k=20, depth=4, width=256)


def _docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: which fixed-length training
    window does each document start in, at what offset, spanning how many
    windows (functions/packing.py — two-level prefix sum, no global
    window)."""
    from ..functions.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=2048)


def _docs_pack_sequences_sql() -> str:
    from ..functions.packing import pack_sequences_sql

    return pack_sequences_sql("documents", seq_len=2048)


def _corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE pair counting — the distributed aggregation at the
    heart of byte-pair-encoding tokenizer training (functions/bpe.py). Row 1
    of the total-ordered top-50 is deterministically the first merge rule."""
    from ..functions.bpe import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), k=50)


def _corpus_bpe_merges_sql() -> str:
    from ..functions.bpe import bpe_pair_counts_sql

    return bpe_pair_counts_sql("documents", k=50)


# ----------------------------------------------------------------- dedup --


def _dedup_exact_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_assign(_docs(spark, sf_dir))


def _dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_keep(_docs(spark, sf_dir))


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), k=5, threshold=0.7)


def _dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), k=5, threshold=0.7)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → duplicate clusters: transitive closure of the exact-jaccard
    near-dup graph via distributed min-label propagation; every doc gets
    its cluster exemplar (min member id) and cluster size."""
    from ..functions.cluster import cluster_assign

    docs = _docs(spark, sf_dir)
    pairs = _shared_jaccard_pairs(spark, sf_dir, k=5, threshold=0.7)
    return cluster_assign(docs, pairs)


def _dedup_clusters_sql() -> str:
    from ..functions.cluster import cluster_assign_sql

    return cluster_assign_sql(
        D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    )


def _docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC EPOCH SHUFFLE (functions/sampling.py epoch_order,
    r14): the corpus's epoch-1 permutation keyed by md5('1:' || id) —
    reproducible across engines, reruns and cluster sizes, the
    data-order contract order-sensitive training needs. Returns the
    first 20 positions of the epoch-1 order (pos, doc_id, key prefix)
    with two properties pinned INSIDE the value hash: ``reproducible``
    (two independent evaluations of the ordering agree on the whole
    prefix) and ``seed_decorrelated`` (epoch 2's first-20 id SEQUENCE
    differs from epoch 1's — different seeds give different orders).
    The LIMIT plans as TakeOrdered, so this query never materializes a
    full sort; the operator's write path (no LIMIT) is a
    range-partitioned sort that balances by sampling the hash keys."""
    def prefix(seed: int):
        ordered = SM.epoch_order(_docs(spark, sf_dir), seed)
        return [
            (r["doc_id"], r["epoch_key"])
            for r in ordered.select("doc_id", "epoch_key")
            .limit(20)
            .collect()
        ]

    p1 = prefix(1)
    reproducible = prefix(1) == p1
    seed_decorrelated = [d for d, _ in prefix(2)] != [
        d for d, _ in p1
    ]
    rows = [
        (i + 1, int(doc), key[:8]) for i, (doc, key) in enumerate(p1)
    ]
    return (
        spark.createDataFrame(
            rows, "pos int, doc_id long, key8 string"
        )
        .select(
            "pos",
            "doc_id",
            "key8",
            F.lit(bool(reproducible)).alias("reproducible"),
            F.lit(bool(seed_decorrelated)).alias("seed_decorrelated"),
        )
    )


def _docs_epoch_shuffle_sql() -> str:
    key = SM.epoch_order_sql(1)
    return f"""
SELECT ROW_NUMBER() OVER (ORDER BY {key}, doc_id) AS pos,
       doc_id,
       substr({key}, 1, 8) AS key8,
       TRUE AS reproducible,
       TRUE AS seed_decorrelated
FROM documents
ORDER BY pos
LIMIT 20
""".strip()


def _docs_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split (functions/sampling.py
    split_leakage_safe): near-dup clusters (transitive closure of the
    jaccard≥0.7 graph) pick a side as a UNIT via the deterministic hash
    of their exemplar id, so no near-duplicate pair can straddle the
    split — the contamination failure a per-document random split
    causes. The ``violations`` column is not asserted but COMPUTED: the
    pair list is re-joined against the split sides and cross-side pairs
    counted (0 by construction, verified by the oracle too)."""
    docs = _docs(spark, sf_dir)
    pairs = _shared_jaccard_pairs(spark, sf_dir, k=5, threshold=0.7)
    split = SM.split_leakage_safe(docs, pairs, 0.1)
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    viol = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    out = split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_clustered_docs"),
    )
    return out.crossJoin(F.broadcast(viol))


def _docs_split_leakage_safe_sql() -> str:
    pairs_sql = D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    split_sql = SM.split_leakage_safe_sql(pairs_sql, 0.1)
    return f"""
WITH split AS ({split_sql}),
pairs AS ({pairs_sql}),
viol AS (
  SELECT count(*) AS violations
  FROM pairs p
  JOIN split a ON p.id_a = a.doc_id
  JOIN split b ON p.id_b = b.doc_id
  WHERE a.split <> b.split
)
SELECT s.split, count(*) AS n_docs,
       count(DISTINCT s.cluster_id) AS n_clusters,
       CAST(sum(CASE WHEN s.cluster_size > 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clustered_docs,
       viol.violations
FROM split s, viol
GROUP BY s.split, viol.violations
""".strip()


def _decontaminate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every corpus doc sharing any
    5-word n-gram with the 'benchmark' slice (deterministic doc_id%97
    sample standing in for an eval set — broadcast-sized, like a real
    benchmark vs a 100 TB corpus)."""
    from ..functions.decontaminate import contamination_flags

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return contamination_flags(docs, benchmark, n=5)


def _decontaminate_sql() -> str:
    from ..functions.decontaminate import contamination_flags_sql

    return contamination_flags_sql(
        "documents",
        "SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0",
        n=5,
    )


def _embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (long form) — cluster-center primitive;
    decimal-exact sums make the shuffle-order-blind mean oracle-exact."""
    from ..functions.embeddings import group_centroids

    return group_centroids(_embs(spark, sf_dir))


def _embed_label_centroids_sql() -> str:
    from ..functions.embeddings import group_centroids_sql

    return group_centroids_sql("embeddings")


def _docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: 64-token chunks with a 48-token stride (25%
    overlap) — the corpus→training-sequences conversion."""
    from ..functions.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=64, stride=48)


def _docs_chunked_sql() -> str:
    from ..functions.chunking import chunk_documents_sql

    return chunk_documents_sql("documents", chunk_tokens=64, stride=48)


def _docs_pii_redacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a deterministic synthetic enrichment: the test
    corpus contains no PII, so each doc gets an appended contact line
    derived from its id (identical expression in the oracle) and the
    redactor must find and replace exactly those spans."""
    from ..functions.redact import redact_pii

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    return redact_pii(docs)


def _docs_pii_redacted_sql() -> str:
    from ..functions.redact import redact_pii_sql

    enriched = (
        "SELECT doc_id, substr(text, 1, 40) || ' contact user' || "
        "CAST(doc_id AS VARCHAR) || '@example.com or 555-867-5309 at 10.0.' "
        "|| CAST(doc_id % 256 AS VARCHAR) || '.1' AS text FROM documents"
    )
    return redact_pii_sql(f"({enriched})")


def _corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus card: per (lang, source) document counts, corpus share,
    and exact length percentiles (p10/p50/p90 of n_chars, linear
    interpolation — Spark `percentile` and DuckDB `quantile_cont` share
    the (n-1)p formula). Share is one IEEE division; percentiles are
    rounded to 6dp. One shuffle on the (lang, source) key."""
    docs = _docs(spark, sf_dir)
    total = docs.select(F.count(F.lit(1)).alias("_t"))
    pct = F.percentile(F.col("n_chars"), F.lit([0.1, 0.5, 0.9]))
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(pct[0], 6).alias("p10_chars"),
            F.round(pct[1], 6).alias("p50_chars"),
            F.round(pct[2], 6).alias("p90_chars"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("_t")).alias("share"),
            "p10_chars",
            "p50_chars",
            "p90_chars",
        )
    )


_CORPUS_MIX_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM documents) AS share,
       round(quantile_cont(n_chars, 0.1), 6) AS p10_chars,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
FROM documents GROUP BY lang, source
""".strip()


def _corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl bookkeeping: diff the corpus against a previous
    snapshot by content fingerprint — per doc_id, status ∈ {added,
    unchanged, changed}. The 'previous snapshot' is a deterministic slice
    (doc_id % 3 != 0 keeps 2/3) with every 7th surviving doc's text
    perturbed, so all three statuses occur. Fingerprint equijoin on
    doc_id — one broadcast-or-shuffle join keyed by id, no content
    comparison beyond the md5."""
    docs = _docs(spark, sf_dir)
    fp = T.fingerprint_md5(F.col("text"))
    cur = docs.select("doc_id", fp.alias("fp"))
    prev = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                T.fingerprint_md5(F.concat(F.col("text"), F.lit(" edited"))),
            )
            .otherwise(fp)
            .alias("fp"),
        )
    )
    joined = cur.alias("c").join(
        prev.alias("p"), F.col("c.doc_id") == F.col("p.doc_id"), "left"
    )
    return joined.select(
        F.col("c.doc_id").alias("doc_id"),
        F.when(F.col("p.fp").isNull(), F.lit("added"))
        .when(F.col("c.fp") == F.col("p.fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


_SNAPSHOT_DIFF_SQL = f"""
WITH cur AS (
  SELECT doc_id, {T.fingerprint_md5_sql('text')} AS fp FROM documents
),
prev AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN {T.fingerprint_md5_sql("text || ' edited'")}
              ELSE {T.fingerprint_md5_sql('text')} END AS fp
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT c.doc_id,
       CASE WHEN p.fp IS NULL THEN 'added'
            WHEN c.fp = p.fp THEN 'unchanged'
            ELSE 'changed' END AS status
FROM cur c LEFT JOIN prev p ON c.doc_id = p.doc_id
""".strip()


def _docs_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style per-language length-tail trimming: drop docs outside the
    [p10, p90] n_chars band OF THEIR LANGUAGE. The per-lang band table is
    |languages| rows — broadcast back; the corpus is filtered in one
    scan after one small aggregate."""
    docs = _docs(spark, sf_dir)
    pct = F.percentile(F.col("n_chars"), F.lit([0.1, 0.9]))
    bands = docs.groupBy("lang").agg(
        pct[0].alias("_lo"), pct[1].alias("_hi")
    )
    return (
        docs.join(F.broadcast(bands), "lang")
        .filter(
            (F.col("n_chars") >= F.col("_lo"))
            & (F.col("n_chars") <= F.col("_hi"))
        )
        .select("doc_id", "lang", "n_chars")
    )


_LENGTH_TRIM_SQL = """
WITH bands AS (
  SELECT lang, quantile_cont(n_chars, 0.1) AS lo,
         quantile_cont(n_chars, 0.9) AS hi
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN bands USING (lang)
WHERE d.n_chars >= bands.lo AND d.n_chars <= bands.hi
""".strip()


def _docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: dup-word and top-bigram fractions
    per doc, with the Table-A1 keep verdict."""
    from ..functions.repetition import repetition_profile

    return repetition_profile(_docs(spark, sf_dir))


def _ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (functions/pq.py) with the
    deterministic codebook seeding (subspace slices of the 16 lowest-id
    vectors) so the result — quantization error included — is exactly
    reproducible by the SQL oracle."""
    from ..functions.pq import pq_topk

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return pq_topk(embs, queries, k=10, n_sub=8, n_codes=16)


def _ann_topk_pq_sql() -> str:
    from ..functions.pq import pq_topk_sql

    return pq_topk_sql(
        "embeddings", "__ID__ < 5", k=10, n_sub=8, n_codes=16, dim=64
    )


def _docs_repetition_sql() -> str:
    from ..functions.repetition import repetition_profile_sql

    return repetition_profile_sql("documents")


def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-containment (|A∩B|/|A| over 5-shingle sets) — the
    quote/boilerplate/superset detector jaccard misses (functions/dedup.py
    containment_pairs)."""
    return D.containment_pairs(_docs(spark, sf_dir), k=5, threshold=0.8)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def _embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_neardup_pairs(_embs(spark, sf_dir), threshold=0.4)


def _embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: the scale path for embedding near-dup — within-cell pairs
    only (Σ|cell|² vs n²); same keep-lowest-id policy as exact dedup."""
    from ..functions.semdedup import semantic_dedup

    return semantic_dedup(_embs(spark, sf_dir), n_cells=8, threshold=0.4)


def _embed_semdedup_sql() -> str:
    from ..functions.semdedup import semantic_dedup_sql

    return semantic_dedup_sql("embeddings", n_cells=8, threshold=0.4)


# ------------------------------------------------------------- similarity --


def _ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.cosine_topk(embs, queries, k=10)


def _ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.lsh_topk(embs, queries, k=10, bits=8)


def _ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with deterministic centroid seeding (the 16 lowest-id vectors) so
    the result — recall loss included — is exactly reproducible by the SQL
    oracle. ann_topk_ivf_lloyd refines these same seeds with engine-exact
    Lloyd's iterations; this entry pins the fixed-centroid baseline."""
    embs = _embs(spark, sf_dir)
    cents_rows = (
        embs.orderBy(F.col("vec_id").asc()).limit(16).select("embedding").collect()
    )
    centroids = [[float(x) for x in r[0]] for r in cents_rows]
    queries = embs.filter(F.col("vec_id") < 5)
    return S.ivf_topk(
        embs, queries, k=10, n_cells=16, n_probe=4, centroids=centroids
    )


def _ann_topk_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over Lloyd's-REFINED centroids, fully value-oracle-checked: two
    fixed k-means iterations with element-order L2 assignment and
    DECIMAL(38,12) mean updates produce centroids DuckDB reproduces
    bit-for-bit (similarity.kmeans_centroids_exact), so the refined index's
    search result — including which neighbors its recall loss drops — is
    hash-matched, not just recall-tested."""
    embs = _embs(spark, sf_dir)
    cents = S.kmeans_centroids_exact(embs, k=16, iterations=2)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.ivf_topk(
        embs, queries, k=10, n_cells=16, n_probe=4, centroids=cents
    )


# ------------------------------------------------------------- multimodal --


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    blobs = M.attach_blob(_docs(spark, sf_dir))
    return M.extract_blob_features(M.filter_by_metadata(blobs, max_size_bytes=10_000))


def _multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real binary round trip: synthesize a valid PNG per document
    (dimensions derived from the row, pixels from md5(text)), then decode it
    back with the chunk-walking parser — CRCs verified against the actual
    bytes. The oracle predicts every parsed field from the source table, so
    a broken encoder OR parser breaks the value hash."""
    docs = _docs(spark, sf_dir)
    return M.parse_png_metadata(M.synthesize_png(docs))


# width = 1 + n_chars % 16, height = 1 + doc_id % 16 (synthesize_png);
# 3 chunks = IHDR + IDAT + IEND; grayscale-8 → bit_depth 8, color_type 0.
_MULTIMODAL_PNG_SQL = """
SELECT doc_id,
       CAST(1 + n_chars % 16 AS INT) AS width,
       CAST(1 + doc_id % 16 AS INT) AS height,
       CAST(8 AS INT) AS bit_depth,
       CAST(0 AS INT) AS color_type,
       CAST(3 AS INT) AS n_chunks,
       'ok' AS crc_ok
FROM documents
""".strip()


def _docs_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level span duplication profile (Lee et al. span-dedup
    signal): per document, the fraction of its distinct word 5-grams that
    appear in ≥2 documents. Complements docs_repetition_filter (within-doc
    repetition) — this one needs corpus state: one int64 groupBy for
    document frequency, one join back, no strings shuffled."""
    from ..functions.spans import repeated_span_profile

    return repeated_span_profile(_docs(spark, sf_dir), n=5, min_df=2)


def _docs_repeated_spans_sql() -> str:
    from ..functions.spans import repeated_span_profile_sql

    return repeated_span_profile_sql("documents", n=5, min_df=2)


def _multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG twin of the PNG round trip: synthesize a structurally valid
    JFIF marker stream per document, then decode it back with the genuine
    marker walk (dimensions from SOF0, segment count, EOI framing)."""
    docs = _docs(spark, sf_dir)
    return M.parse_jpeg_metadata(M.synthesize_jpeg(docs))


# width = 1 + n_chars % 32, height = 1 + id % 24, comps = 1 + 2*(id % 2),
# precision 8; segments APP0 + [DQT iff id%3=0] + SOF0 + SOS.
_MULTIMODAL_JPEG_SQL = """
SELECT doc_id,
       CAST(1 + n_chars % 32 AS INT) AS width,
       CAST(1 + doc_id % 24 AS INT) AS height,
       CAST(8 AS INT) AS precision,
       CAST(1 + 2 * (doc_id % 2) AS INT) AS n_components,
       CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
         AS n_segments,
       'ok' AS framing
FROM documents
""".strip()


def _multimodal_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of the PNG round trip: synthesize a valid PCM WAV per
    document, then decode the RIFF/fmt/data headers back. Every field —
    including duration_ms, a single IEEE division both engines perform
    bit-identically — is predicted by the oracle from the source row."""
    docs = _docs(spark, sf_dir)
    return M.parse_wav_metadata(M.synthesize_wav(docs))


# channels = 1 + id % 2, rate = 8000·(1 + id % 3), n_samples = 16 + n_chars
# % 241 (synthesize_wav); PCM → audio_format 1, 16-bit.
_MULTIMODAL_WAV_SQL = """
SELECT doc_id,
       CAST(1 AS INT) AS audio_format,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
       CAST(16 AS INT) AS bits_per_sample,
       CAST(16 + n_chars % 241 AS INT) AS n_samples,
       CAST((16 + n_chars % 241) * 1000 AS DOUBLE)
           / (8000 * (1 + doc_id % 3)) AS duration_ms,
       'ok' AS status
FROM documents
""".strip()


def _multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a deterministic multi-frame container: parse the
    header, slice every-2nd frame, emit one row per sampled frame with its
    md5 — the fan-out shape (1 row → ceil(n_frames/N) rows inside one Arrow
    batch, no shuffle) a real ffmpeg-backed sampler would keep."""
    docs = _docs(spark, sf_dir)
    return M.sample_video_frames(M.synthesize_video(docs), every_n=2)


# n_frames = 1 + doc_id % 8; frame i bytes = ascii md5-hex(text:i) × 4
# (synthesize_video) — so each sampled frame's md5 is md5(repeat(hex, 4)).
_MULTIMODAL_VIDEO_SQL = """
SELECT doc_id, frame_idx, n_frames,
       md5(repeat(md5(text || ':' || frame_idx), 4)) AS frame_md5
FROM (
  SELECT doc_id, text,
         CAST(1 + doc_id % 8 AS INT) AS n_frames,
         CAST(unnest(range(0, 1 + doc_id % 8)) AS INT) AS frame_idx
  FROM documents
)
WHERE frame_idx % 2 = 0
""".strip()


# The payload is the utf-8 encoding of ``text``, so every stub feature is
# SQL-derivable — the Arrow mapInPandas plumbing gets a full value oracle.
_MULTIMODAL_SQL = """
SELECT doc_id,
       'text/plain' AS format,
       octet_length(encode(text)) AS size_bytes,
       md5(text) AS payload_md5,
       CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) END AS head_byte,
       'stub' AS decoded
FROM documents
WHERE octet_length(encode(text)) <= 10000
""".strip()


# -------------------------------------------------- windowed event counts --


def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming windowed-rule-count pipeline
    (streaming/rules.py::windowed_rule_counts) — same tumbling-window
    semantics, oracle-checkable via DuckDB time_bucket."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("value") > 100)
        .groupBy(F.window(F.col("ts"), "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("matches"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "matches",
            "avg_value",
        )
    )


_EVENTS_HOURLY_SQL = """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type, count(*) AS matches, round(avg(value), 6) AS avg_value
FROM events WHERE value > 100
GROUP BY 1, 2
""".strip()


def _events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding/hopping windows (width 2h, slide 1h) — each event lands in
    two windows; batch twin of windowed_rule_counts(slide=...)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("value") > 100)
        .groupBy(F.window(F.col("ts"), "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("matches"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "matches"
        )
    )


_EVENTS_SLIDING_SQL = """
SELECT window_start, event_type, count(*) AS matches FROM (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
           - (i * INTERVAL '1 hour') AS window_start,
         event_type
  FROM events, UNNEST([0, 1]) AS u(i)
  WHERE value > 100)
GROUP BY 1, 2
""".strip()


_STREAM_COUNTER = [0]


def _events_stream_rule_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution inside the driver contract: the
    events parquet is consumed via readStream, a nontrivial compiled rule
    filters the stream, watermarked tumbling windows aggregate per the
    rule's GroupBy keys, and the availableNow-triggered query drains into a
    memory sink whose table is returned as an ordinary batch DataFrame.
    Complete output mode flushes every window on the finite stream, so the
    batch SQL oracle sees the same totals."""
    from ..streaming.rules import stream_events, windowed_rule_counts

    rule = {
        "Name": "hot-events-with-double-seven",
        "Conditions": {
            "LogicalOperator": "AND",
            "Conditions": [
                {"Property": "value", "Operator": "GreaterThan", "Value": 50},
                {
                    "Property": "props",
                    "Operator": "ContainIfCountIsGreater",
                    "Value": {"Target": "7", "Threshold": "1"},
                },
            ],
        },
        "GroupBy": ["event_type"],
    }
    stream = stream_events(spark, sf_dir)
    windowed = windowed_rule_counts(
        stream,
        {"Conditions": rule["Conditions"]},
        window="1 hour",
        keys=rule["GroupBy"],
    )
    _STREAM_COUNTER[0] += 1
    name = f"stream_rule_windows_{_STREAM_COUNTER[0]}"
    from ..streaming.rules import run_stream_to_memory, scoped_state_partitions

    with scoped_state_partitions(spark, 8):  # small keyspace: (window, type)
        run_stream_to_memory(windowed, name, output_mode="complete")
    return spark.table(name)


_EVENTS_STREAM_RULE_SQL = """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour'
         AS window_end,
       event_type, count(*) AS matches
FROM events
WHERE value > 50 AND len(regexp_extract_all(props, '7')) > 1
GROUP BY 1, 2, 3
""".strip()


def _events_stream_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch executed for real: readStream over
    events, each event explodes into ``depth`` (row, slot) counter
    increments, and a streaming groupBy maintains the counters
    incrementally — the canonical BOUNDED-STATE streaming aggregation
    (state = at most depth × width rows at ANY stream length, the whole
    point of sketching a firehose). Complete mode flushes the finite
    stream's final counter table, which equals the batch sketch the
    DuckDB mirror computes — sketches are order-insensitive, so
    micro-batch boundaries cannot change the result."""
    from ..functions.cms import cms_build
    from ..streaming.rules import (
        run_stream_to_memory,
        scoped_state_partitions,
        stream_events,
    )

    stream = stream_events(spark, sf_dir).select(
        F.col("event_type").alias("w")
    )
    sketch = cms_build(stream, "w", depth=4, width=64)
    _STREAM_COUNTER[0] += 1
    name = f"stream_cms_{_STREAM_COUNTER[0]}"
    with scoped_state_partitions(spark, 8):  # keyspace ≤ depth×width
        run_stream_to_memory(sketch, name, output_mode="complete")
    return spark.table(name)


def _events_stream_cms_sql() -> str:
    from ..functions.cms import cms_topk_estimates_sql  # noqa: F401 (doc link)
    from ..functions.dedup import _hex_int_sql

    width, depth = 64, 4
    parts = []
    for j in range(depth):
        h = _hex_int_sql(
            f"substr(md5(CAST({j} AS VARCHAR) || '|' || "
            f"CAST(event_type AS VARCHAR)), 1, 15)"
        )
        parts.append(
            f"SELECT {j} AS row, CAST(({h}) % {width} AS INT) AS slot "
            f"FROM events"
        )
    union = " UNION ALL ".join(parts)
    return f"""
SELECT row, slot, count(*) AS cnt
FROM ({union}) GROUP BY row, slot
""".strip()


def _events_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup executed for real: readStream over events,
    first-arrival-wins dropDuplicates on the (user_id, event_type, value)
    identity, then per-type counts of the deduped stream — a
    deterministic aggregate of a nondeterministic-survivor operator, so
    the batch oracle (COUNT over DISTINCT) checks it exactly. Complete
    mode flushes the finite stream's final counts."""
    from ..streaming.dedup import stream_dedup_exact
    from ..streaming.rules import stream_events

    deduped = stream_dedup_exact(
        stream_events(spark, sf_dir), ["user_id", "event_type", "value"]
    )
    counted = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("distinct_events")
    )
    _STREAM_COUNTER[0] += 1
    name = f"stream_dedup_counts_{_STREAM_COUNTER[0]}"
    from ..streaming.rules import run_stream_to_memory, scoped_state_partitions

    with scoped_state_partitions(spark, 8):  # dedup keys ≪ batch parallelism
        run_stream_to_memory(counted, name, output_mode="complete")
    return spark.table(name)


_EVENTS_STREAM_DEDUP_SQL = """
SELECT event_type, count(*) AS distinct_events
FROM (SELECT DISTINCT user_id, event_type, value FROM events)
GROUP BY event_type
""".strip()


def _events_stream_enrich_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join executed for real: the events readStream is
    enriched with the (static, broadcast) customer dimension on
    user_id = c_custkey — stateless in Structured Streaming, the canonical
    "enrich a firehose with a dim table" pattern — then aggregated into
    watermarked 1-hour windows per market segment. The value sum goes
    through decimal(38,12) so microbatch accumulation order can't drift
    from the oracle's one-shot sum; complete mode flushes every window of
    the finite stream."""
    from ..streaming.rules import scoped_state_partitions, stream_events

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = stream_events(spark, sf_dir).join(
        F.broadcast(customers), F.col("user_id") == F.col("c_custkey")
    )
    windowed = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window(F.col("ts"), "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(38,12)")), 6)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    _STREAM_COUNTER[0] += 1
    name = f"stream_enrich_segment_{_STREAM_COUNTER[0]}"
    from ..streaming.rules import run_stream_to_memory

    with scoped_state_partitions(spark, 8):  # keyspace: (window, 5 segments)
        run_stream_to_memory(windowed, name, output_mode="complete")
    return spark.table(name)


def _events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM join executed for real — the hardest Structured
    Streaming join shape: purchases joined to each user's clicks from the
    preceding 6 hours. Both sides carry watermarks and the join condition
    bounds event time on both, which is exactly what lets Spark expire
    state (clicks older than the bound can never match a future purchase).
    Inner-join matches emit as soon as both sides arrive, so append mode
    drains the complete pair set on a finite replay. Oracle: the batch
    interval theta-join."""
    from ..streaming.rules import scoped_state_partitions, stream_events

    ev = stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "7 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id", "p_ts", "c_ts")
    _STREAM_COUNTER[0] += 1
    name = f"stream_stream_join_{_STREAM_COUNTER[0]}"
    from ..streaming.rules import run_stream_to_memory

    with scoped_state_partitions(spark, 8):
        run_stream_to_memory(joined, name, output_mode="append")
    return spark.table(name)


_EVENTS_STREAM_STREAM_SQL = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS p_ts, CAST(c.ts AS TIMESTAMP) AS c_ts
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 6 HOUR
 AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
""".strip()


_EVENTS_STREAM_ENRICH_SQL = """
SELECT time_bucket(INTERVAL '1 hour', CAST(e.ts AS TIMESTAMP)) AS window_start,
       time_bucket(INTERVAL '1 hour', CAST(e.ts AS TIMESTAMP)) + INTERVAL '1 hour'
         AS window_end,
       c.c_mktsegment, count(*) AS n_events,
       CAST(round(sum(CAST(e.value AS DECIMAL(38,12))), 6) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2, 3
""".strip()


def _sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — batch twin of the applyInPandasWithState
    streaming operator (streaming/sessionize.py)."""
    return SS.session_stats(load_table(spark, sf_dir, "events"), gap_seconds=1800)


_SESSIONS_SQL = SS.session_stats_sql(_EVENTS_ORACLE_SOURCE, gap_seconds=1800)


def _agg_argmax_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy always-aggregate path: empty GroupBy → one global group
    (AggregationEngine.cs:12-14, RuleEvaluator.cs:12)."""
    agg = AggregationDefinition.from_dict(
        {"AggregateProperty": "o_totalprice", "AggregateFunction": "Max"}
    )
    return apply_aggregation(load_table(spark, sf_dir, "orders"), [], agg)


def _argmax_global_sql() -> str:
    from ..plans.sqlgen import SqlGenerator

    schema = TESTDATA_SCHEMAS["orders"]
    gen = SqlGenerator(schema)
    return gen.arg_extreme_sql(
        "SELECT * FROM orders", [], schema["o_totalprice"], descending=True
    )


def _pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-corpus pipeline — the composition story:
    quality/language filter → exact dedup (keep min id per normalized
    content) → near-dup removal (drop the higher id of every jaccard≥0.7
    pair) → per-doc token/quality stats. Every stage is one of the engine's
    operators; the oracle composes the same stages as SQL CTEs."""
    from pyspark.sql.window import Window

    text = F.col("text")
    # Two-level bind (see _quality_filter): the padded normal form is
    # bound ONCE and shared by all six word-set scans of the quality +
    # language battery, then the two scores are bound once so the filter
    # can't re-inline them — the regex battery was the largest single cost
    # of this pipeline at sf0.1, ahead of the pair mining itself.
    padded = bind_columns(_docs(spark, sf_dir), _pad=T._padded(text))
    q = (
        bind_columns(
            padded,
            quality=T.quality_score(text, padded=F.col("_pad")),
            lang_pred=T.detect_language(text, padded=F.col("_pad")),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
        .select("doc_id", "text", "quality", "lang_pred")
    )
    fp = F.md5(T.normalize_text(F.col("text")))
    keep = (
        q.withColumn("_cid", F.min("doc_id").over(Window.partitionBy(fp)))
        .filter(F.col("doc_id") == F.col("_cid"))
        .drop("_cid")
        .persist()  # consumed by pair-mining, the anti-join, and the output
    )
    pairs = D.ngram_jaccard_pairs(keep.select("doc_id", "text"), k=5, threshold=0.7)
    removed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    final = keep.join(removed, "doc_id", "left_anti")
    return final.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("tok_ws"),
        "quality",
    )


def _pretraining_pipeline_sql() -> str:
    q = (
        f"SELECT doc_id, text, {T.quality_score_sql('text')} AS quality "
        f"FROM documents WHERE {T.quality_score_sql('text')} >= 0.5 "
        f"AND {T.detect_language_sql('text')} <> 'und'"
    )
    keep = (
        f"SELECT doc_id, text, quality FROM ("
        f"SELECT doc_id, text, quality, "
        f"min(doc_id) OVER (PARTITION BY md5({T.normalize_text_sql('text')})) AS cid "
        f"FROM ({q})) WHERE doc_id = cid"
    )
    pairs = D.ngram_jaccard_pairs_sql(f"({keep}) AS keep_t", k=5, threshold=0.7)
    return f"""
WITH keep AS ({keep}),
pairs AS ({pairs})
SELECT doc_id, {T.token_count_ws_sql('text')} AS tok_ws, quality
FROM keep WHERE doc_id NOT IN (SELECT id_b FROM pairs)
""".strip()


LLM_QUERIES: dict[str, FnWorkload] = {
    "pipeline_pretraining_corpus": FnWorkload(
        _pretraining_pipeline, _pretraining_pipeline_sql()
    ),
    "text_profile": FnWorkload(_text_profile, _TEXT_PROFILE_SQL),
    "docs_sample_stratified": FnWorkload(
        _docs_sample_stratified, _SAMPLE_STRATIFIED_SQL
    ),
    "docs_sample_temperature": FnWorkload(
        _docs_sample_temperature, _SAMPLE_TEMPERATURE_SQL
    ),
    "docs_sample_token_budget": FnWorkload(
        _docs_sample_token_budget, _SAMPLE_TOKEN_BUDGET_SQL
    ),
    "corpus_vocab_topk": FnWorkload(_corpus_vocab_topk, _VOCAB_TOPK_SQL),
    "corpus_bpe_merges": FnWorkload(_corpus_bpe_merges, _corpus_bpe_merges_sql()),
    "docs_pack_sequences": FnWorkload(
        _docs_pack_sequences, _docs_pack_sequences_sql()
    ),
    "corpus_cms_heavyhitters": FnWorkload(
        _corpus_cms_heavyhitters, _corpus_cms_heavyhitters_sql()
    ),
    "corpus_length_quantiles": FnWorkload(
        _corpus_length_quantiles, _corpus_length_quantiles_sql()
    ),
    "corpus_length_quantiles_approx": FnWorkload(
        _corpus_length_quantiles_approx, _corpus_length_quantiles_approx_sql()
    ),
    "embed_random_projection": FnWorkload(
        _embed_random_projection, _embed_random_projection_sql()
    ),
    "docs_quality_classifier": FnWorkload(
        _docs_quality_classifier, _docs_quality_classifier_sql()
    ),
    "docs_curriculum_buckets": FnWorkload(
        _docs_curriculum, _docs_curriculum_sql()
    ),
    "tfidf_keywords": FnWorkload(_tfidf_keywords, _tfidf_keywords_sql()),
    "embed_label_centroids": FnWorkload(
        _embed_label_centroids, _embed_label_centroids_sql()
    ),
    "text_quality_filter": FnWorkload(_quality_filter, _QUALITY_FILTER_SQL),
    "dedup_exact_assign": FnWorkload(
        _dedup_exact_assign, D.exact_dedup_assign_sql("documents")
    ),
    "dedup_exact_keep": FnWorkload(
        _dedup_exact_keep, D.exact_dedup_keep_sql("documents")
    ),
    "dedup_ngram_jaccard": FnWorkload(
        _dedup_ngram, D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    ),
    "dedup_containment": FnWorkload(
        _dedup_containment,
        D.containment_pairs_sql("documents", k=5, threshold=0.8),
    ),
    # LSH banding at recall≈1 for this corpus's ≥0.92-jaccard dup cluster:
    # the exact-twin SQL is a valid full oracle (verified at sf0.001/sf0.01;
    # deterministic data + deterministic hashes → stable across rounds)
    "dedup_minhash_lsh": FnWorkload(
        _dedup_minhash, D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    ),
    "dedup_cluster_assign": FnWorkload(_dedup_clusters, _dedup_clusters_sql()),
    "docs_split_leakage_safe": FnWorkload(
        _docs_split_leakage_safe, _docs_split_leakage_safe_sql()
    ),
    "docs_epoch_shuffle": FnWorkload(
        _docs_epoch_shuffle, _docs_epoch_shuffle_sql()
    ),
    "decontaminate_flags": FnWorkload(_decontaminate_flags, _decontaminate_sql()),
    "docs_repetition_filter": FnWorkload(_docs_repetition, _docs_repetition_sql()),
    "docs_repeated_spans": FnWorkload(
        _docs_repeated_spans, _docs_repeated_spans_sql()
    ),
    "docs_chunk_sequences": FnWorkload(_docs_chunked, _docs_chunked_sql()),
    "docs_pii_redact": FnWorkload(_docs_pii_redacted, _docs_pii_redacted_sql()),
    "corpus_mix_report": FnWorkload(_corpus_mix_report, _CORPUS_MIX_SQL),
    "corpus_snapshot_diff": FnWorkload(_corpus_snapshot_diff, _SNAPSHOT_DIFF_SQL),
    "docs_length_trim": FnWorkload(_docs_length_trim, _LENGTH_TRIM_SQL),
    "dedup_simhash": FnWorkload(
        _dedup_simhash, D.simhash_pairs_sql("documents", max_hamming=3)
    ),
    "embed_semantic_dedup": FnWorkload(_embed_semdedup, _embed_semdedup_sql()),
    "embed_neardup_cosine": FnWorkload(
        _embed_neardup, D.embedding_neardup_pairs_sql("embeddings", threshold=0.4)
    ),
    "ann_topk_bruteforce": FnWorkload(
        _ann_topk_brute, S.cosine_topk_sql("embeddings", "__ID__ < 5", k=10)
    ),
    "ann_topk_lsh": FnWorkload(
        _ann_topk_lsh, S.lsh_topk_sql("embeddings", "__ID__ < 5", k=10, bits=8)
    ),
    "ann_topk_ivf_lloyd": FnWorkload(
        _ann_topk_ivf_lloyd,
        S.ivf_topk_lloyd_sql(
            "embeddings", "__ID__ < 5", k=10, n_cells=16, n_probe=4, iterations=2
        ),
    ),
    "ann_topk_ivf": FnWorkload(
        _ann_topk_ivf,
        S.ivf_topk_sql("embeddings", "__ID__ < 5", k=10, n_cells=16, n_probe=4),
    ),
    "ann_topk_pq": FnWorkload(_ann_topk_pq, _ann_topk_pq_sql()),
    "events_stream_cms_sketch": FnWorkload(
        _events_stream_cms_sketch, _events_stream_cms_sql()
    ),
    "multimodal_features": FnWorkload(_multimodal_features, _MULTIMODAL_SQL),
    "multimodal_png_metadata": FnWorkload(_multimodal_png, _MULTIMODAL_PNG_SQL),
    "multimodal_jpeg_metadata": FnWorkload(_multimodal_jpeg, _MULTIMODAL_JPEG_SQL),
    "multimodal_wav_metadata": FnWorkload(_multimodal_wav, _MULTIMODAL_WAV_SQL),
    "multimodal_video_frames": FnWorkload(
        _multimodal_video_frames, _MULTIMODAL_VIDEO_SQL
    ),
    "events_stream_rule_windows": FnWorkload(
        _events_stream_rule_windows, _EVENTS_STREAM_RULE_SQL
    ),
    "events_stream_dedup": FnWorkload(
        _events_stream_dedup_counts, _EVENTS_STREAM_DEDUP_SQL
    ),
    "events_stream_enrich_segment": FnWorkload(
        _events_stream_enrich_segment, _EVENTS_STREAM_ENRICH_SQL
    ),
    "events_stream_stream_join": FnWorkload(
        _events_stream_stream_join, _EVENTS_STREAM_STREAM_SQL
    ),
    "events_hourly_rule_counts": FnWorkload(_events_hourly, _EVENTS_HOURLY_SQL),
    "events_sliding_windows": FnWorkload(_events_sliding, _EVENTS_SLIDING_SQL),
    "events_sessionize": FnWorkload(_sessions, _SESSIONS_SQL),
    "agg_argmax_global": FnWorkload(_agg_argmax_global, _argmax_global_sql()),
}


def _corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-style inverted index over word bigrams: token → document
    frequency + a CAPPED posting list (first 20 doc_ids ascending).

    Scale shape: the cap is applied BEFORE collection — a row_number
    window over (token, doc_id) marks the first 20 postings, so no task
    ever materializes a hot token's full posting list (the classic
    inverted-index skew trap); df still counts all postings in the same
    single aggregation. Window and groupBy share the token key, so
    Catalyst reuses one exchange."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(t, i + 2)))"
    )
    pairs = (
        docs.select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(bigrams).alias("token"))
        .distinct()
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    idx = (
        pairs.withColumn("rn", F.row_number().over(w))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(
                F.collect_list(F.when(F.col("rn") <= 20, F.col("doc_id")))
            ).alias("postings"),
        )
    )
    # long form (token, df, pos, doc_id): the driver's pandas canonicalizer
    # cannot hash a top-level array column (the embed_quantize_int8 lesson)
    return idx.select(
        "token", "df", F.posexplode("postings").alias("pos", "doc_id")
    ).withColumn("pos", F.col("pos").cast("long"))


_INVERTED_INDEX_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bi AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS token
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
),
pairs AS (SELECT DISTINCT doc_id, token FROM bi),
rn AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS r,
         count(*) OVER (PARTITION BY token) AS df
  FROM pairs
)
SELECT token, CAST(df AS BIGINT) AS df, r - 1 AS pos, doc_id
FROM rn WHERE r <= 20
""".strip()


LLM_QUERIES["corpus_inverted_index"] = FnWorkload(
    _corpus_inverted_index, _INVERTED_INDEX_SQL
)


def _docs_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state decontamination: the same benchmark slice as
    decontaminate_flags, checked through a 2 KiB Bloom bitmap instead of
    the broadcast n-gram set (functions/bloom.py) — executor state is
    constant in benchmark size; the (deterministic, md5-mirrored) false
    positives hash-match the oracle bit-for-bit."""
    from ..functions.bloom import bloom_contamination_flags

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return bloom_contamination_flags(docs, benchmark, n=5)


def _docs_bloom_decontaminate_sql() -> str:
    from ..functions.bloom import bloom_contamination_flags_sql

    return bloom_contamination_flags_sql(
        "documents",
        "SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0",
        n=5,
    )


LLM_QUERIES["docs_bloom_decontaminate"] = FnWorkload(
    _docs_bloom_decontaminate, _docs_bloom_decontaminate_sql()
)


def _graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority ranking over the near-dup similarity graph: PageRank
    (d=0.85, 5 power iterations, functions/pagerank.py) over the exact
    jaccard≥0.7 pair list — the keep-the-canonical signal after near-dup
    detection. Every iteration's contribution sum is decimal-exact, so
    the 5-step fixpoint is bit-identical to the DuckDB mirror. The edge
    list comes from the cross-query pair memo (_shared_jaccard_pairs) —
    pagerank and cluster-assign consume the identical mined list, so it
    is mined once per corpus, not once per query (bench.py clears the
    memo before every TIMED run, so benchmark numbers include mining).
    The iteration is SIZE-GATED (r14, guide §1.2/§5): near-dup pair
    graphs are tiny relative to the corpus by construction (only
    jaccard≥0.7 survivors), so below DRIVER_PAGERANK_MAX_EDGES the
    exact driver loop replaces ~15 tiny exchanges of the 5-iteration
    distributed plan — the same measured gate cluster_assign's
    union-find has carried since r9; ranks are bit-identical on both
    routes (tests/test_pagerank.py) and graphs past the gate take the
    distributed power iteration unchanged."""
    from ..functions.pagerank import DRIVER_PAGERANK_MAX_EDGES, pagerank

    pairs = _shared_jaccard_pairs(spark, sf_dir, k=5, threshold=0.7)
    return pagerank(
        pairs,
        damping=0.85,
        iterations=5,
        driver_max_edges=DRIVER_PAGERANK_MAX_EDGES,
    )


def _graph_pagerank_sql() -> str:
    from ..functions.pagerank import pagerank_sql

    return pagerank_sql(
        D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7),
        damping=0.85,
        iterations=5,
    )


LLM_QUERIES["graph_pagerank_neardup"] = FnWorkload(
    _graph_pagerank_neardup, _graph_pagerank_sql()
)


def _docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY (the other half of corpus_bpe_merges' training
    stats): encode every document with a frozen 16-entry BPE merge table
    as pure scan-time regex replaces — zero shuffles, whole-stage
    codegen, the shape a 100 TB tokenize pass needs (functions/bpe.py
    bpe_encode_counts)."""
    from ..functions.bpe import bpe_encode_counts

    return bpe_encode_counts(_docs(spark, sf_dir))


def _docs_bpe_encode_sql() -> str:
    from ..functions.bpe import bpe_encode_counts_sql

    return bpe_encode_counts_sql("documents")


LLM_QUERIES["docs_bpe_encode"] = FnWorkload(
    _docs_bpe_encode, _docs_bpe_encode_sql()
)


def _embed_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label separability: nearest-centroid confusion
    matrix (functions/embeddings.py centroid_confusion) — broadcast
    |labels|·dims centroid table, decimal-exact distances, argmin via
    the single-pass struct-min."""
    from ..functions.embeddings import centroid_confusion

    return centroid_confusion(_embs(spark, sf_dir))


def _embed_centroid_confusion_sql() -> str:
    from ..functions.embeddings import centroid_confusion_sql

    return centroid_confusion_sql("embeddings")


LLM_QUERIES["embed_centroid_confusion"] = FnWorkload(
    _embed_centroid_confusion, _embed_centroid_confusion_sql()
)


def _profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of the documents table
    (functions/profile.py): one scan computes every column's null and
    exact-distinct counts via a single multi-distinct aggregation, then
    a stack unpivot — no per-column rescan."""
    from ..functions.profile import profile_table

    return profile_table(
        load_table(spark, sf_dir, "documents"),
        dtypes={
            "doc_id": "bigint",
            "text": "varchar",
            "lang": "varchar",
            "source": "varchar",
            "n_chars": "bigint",
        },
    )


def _profile_documents_sql() -> str:
    from ..functions.profile import profile_table_sql

    return profile_table_sql(
        "documents",
        [
            ("doc_id", "bigint"),
            ("text", "varchar"),
            ("lang", "varchar"),
            ("source", "varchar"),
            ("n_chars", "bigint"),
        ],
    )


LLM_QUERIES["profile_documents"] = FnWorkload(
    _profile_documents, _profile_documents_sql()
)


def _events_stream_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialized view, EXECUTED: readStream over events
    → foreachBatch keyed merge/upsert into a parquet totals table
    (streaming/upsert.py) → read the final state back. Cross-batch sums
    accumulate in DECIMAL(38,12), so the incrementally-maintained table
    hash-matches the one-shot batch aggregation the oracle runs."""
    from ..streaming.rules import stream_events
    from ..streaming.upsert import stream_upsert_totals

    base = _scratch_dir("upsert", sf_dir)
    path = f"{base}/totals"
    stream_upsert_totals(
        stream_events(spark, sf_dir), path, f"{base}/ckpt"
    )
    t = spark.read.parquet(path)
    return t.select(
        "user_id",
        "n_events",
        F.round(F.col("sum_value"), 6).cast("double").alias("sum_value"),
    )


_EVENTS_STREAM_UPSERT_SQL = f"""
SELECT user_id, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,12))), 6) AS DOUBLE)
         AS sum_value
FROM {_EVENTS_ORACLE_SOURCE}
GROUP BY user_id
""".strip()


LLM_QUERIES["events_stream_upsert_totals"] = FnWorkload(
    _events_stream_upsert_totals, _EVENTS_STREAM_UPSERT_SQL
)


def _corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source: unique word bigrams / total word
    bigrams — the standard repetition/diversity signal for a corpus
    slice (low ratio ⇒ templated or repetitive text). One explode + one
    aggregation per source; the distinct count is the only wide state
    and is vocabulary-bounded."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(t, i + 2)))"
    )
    grams = docs.select("source", toks.alias("t")).select(
        "source", F.explode(bigrams).alias("g")
    )
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
        (
            F.countDistinct("g").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("diversity"),
    )


_CORPUS_DIVERSITY_SQL = """
WITH toks AS (
  SELECT source, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT source, t[i] || ' ' || t[i + 1] AS g
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
)
SELECT source,
       count(*) AS n_grams,
       count(DISTINCT g) AS n_distinct,
       CAST(count(DISTINCT g) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS diversity
FROM grams
GROUP BY source
""".strip()


LLM_QUERIES["corpus_ngram_diversity"] = FnWorkload(
    _corpus_ngram_diversity, _CORPUS_DIVERSITY_SQL
)


def _docs_stream_quality_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming text-quality gate, EXECUTED: readStream over the
    documents parquet → the SAME compiled quality/language Column
    battery the batch filter uses (pure scan-time expressions — they
    run unchanged on a stream) → per-language pass counts, complete-
    mode memory sink. Pins that the text-pipeline operators are
    stream-ready, not batch-only."""
    import uuid

    from ..streaming.rules import run_stream_to_memory

    raw = (
        spark.readStream.schema(
            "doc_id LONG, text STRING, lang STRING, source STRING,"
            " n_chars LONG"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    text = F.col("text")
    passed = (
        bind_columns(
            bind_columns(raw, _pad=T._padded(text)),
            quality=T.quality_score(text, padded=F.col("_pad")),
            lang_pred=T.detect_language(text, padded=F.col("_pad")),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_passed"))
    )
    table = f"docs_stream_quality_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(passed, table, output_mode="complete")
    return spark.table(table)


_DOCS_STREAM_QUALITY_SQL = f"""
SELECT lang, count(*) AS n_passed
FROM documents
WHERE {T.quality_score_sql('text')} >= 0.5
  AND {T.detect_language_sql('text')} <> 'und'
GROUP BY lang
""".strip()


LLM_QUERIES["docs_stream_quality_counts"] = FnWorkload(
    _docs_stream_quality_counts, _DOCS_STREAM_QUALITY_SQL
)


def _pipeline_semantic_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table curation pipeline: quality-gate the documents, join
    their embeddings (vec_id = doc_id), SemDeDup the surviving vectors,
    and emit per-doc keep/dup verdicts with the quality score attached —
    the docs⋈embeddings composition a semantic curation pass actually
    runs. The embedding join is keyed by id (no shuffle of vectors
    beyond it); SemDeDup stays cell-partitioned sub-quadratic."""
    from ..functions.semdedup import semantic_dedup

    text = F.col("text")
    q = (
        bind_columns(
            bind_columns(_docs(spark, sf_dir), _pad=T._padded(text)),
            quality=T.quality_score(text, padded=F.col("_pad")),
            lang_pred=T.detect_language(text, padded=F.col("_pad")),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
        .select("doc_id", "quality")
    )
    corpus = (
        _embs(spark, sf_dir)
        .join(q, F.col("vec_id") == F.col("doc_id"))
        .select("vec_id", "embedding")
    )
    sd = semantic_dedup(corpus)
    return sd.join(q, sd.vec_id == q.doc_id).select(
        "vec_id", "cell", "dup_of", "is_kept", "quality"
    )


def _pipeline_semantic_curation_sql() -> str:
    from ..functions.semdedup import semantic_dedup_sql

    q = (
        f"SELECT doc_id, {T.quality_score_sql('text')} AS quality "
        f"FROM documents WHERE {T.quality_score_sql('text')} >= 0.5 "
        f"AND {T.detect_language_sql('text')} <> 'und'"
    )
    sub = (
        f"(SELECT v.vec_id, v.embedding FROM embeddings v "
        f"JOIN ({q}) q ON v.vec_id = q.doc_id)"
    )
    sd = semantic_dedup_sql(sub)
    return f"""
SELECT sd.vec_id, sd.cell, sd.dup_of, sd.is_kept, q.quality
FROM ({sd}) sd JOIN ({q}) q ON sd.vec_id = q.doc_id
""".strip()


LLM_QUERIES["pipeline_semantic_curation"] = FnWorkload(
    _pipeline_semantic_curation, _pipeline_semantic_curation_sql()
)


def _ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified ANN quality as a CHECKED result: recall@10 of each
    approximate search path (LSH / IVF / PQ) against the brute-force
    exact top-k, as one report row per method. Every path is
    deterministic, so the recall numbers themselves are value-oracled —
    a quality regression in any index (bucketing, probing, codebooks)
    becomes a hash mismatch, not a silent degradation."""
    methods = {
        "lsh": _ann_topk_lsh,
        "ivf": _ann_topk_ivf,
        "pq": _ann_topk_pq,
    }
    # ONE brute-force pass, persisted (r14 — it used to be recomputed by
    # the distinct-count AND inside each of the three per-method join
    # jobs), and ONE method-tagged join+aggregate job instead of three
    # separate join-count jobs: the three approx frames union with a
    # method label and share a single broadcast of the exact top-k.
    brute = (
        _ann_topk_brute(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .persist()
    )
    n_q = brute.select("query_id").distinct().count()  # bounded scalar
    tagged = None
    for name, fn in methods.items():
        approx = (
            fn(spark, sf_dir)
            .select("query_id", "neighbor_id")
            .withColumn("method", F.lit(name))
        )
        tagged = approx if tagged is None else tagged.unionByName(approx)
    hit_rows = (
        tagged.join(brute, ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
        .collect()
    )
    brute.unpersist()
    by_method = {r["method"]: int(r["hits"]) for r in hit_rows}
    reports = [
        (name, by_method.get(name, 0), n_q,
         float(by_method.get(name, 0)) / float(n_q * 10))
        for name in methods
    ]
    return spark.createDataFrame(
        reports, "method string, hits long, n_queries long, recall_at_10 double"
    )


def _ann_recall_report_sql() -> str:
    brute = S.cosine_topk_sql("embeddings", "__ID__ < 5", k=10)
    lsh = S.lsh_topk_sql("embeddings", "__ID__ < 5", k=10, bits=8)
    ivf = S.ivf_topk_sql("embeddings", "__ID__ < 5", k=10, n_cells=16, n_probe=4)
    pq = _ann_topk_pq_sql()
    return f"""
WITH brute AS ({brute}),
lshq AS ({lsh}), ivfq AS ({ivf}), pqq AS ({pq}),
nq AS (SELECT count(DISTINCT query_id) AS n FROM brute),
m AS (
  SELECT 'lsh' AS method, count(*) AS hits
  FROM lshq JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'ivf', count(*) FROM ivfq JOIN brute USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'pq', count(*) FROM pqq JOIN brute USING (query_id, neighbor_id)
)
SELECT method, CAST(hits AS BIGINT) AS hits,
       CAST(nq.n AS BIGINT) AS n_queries,
       CAST(hits AS DOUBLE) / CAST(nq.n * 10 AS DOUBLE) AS recall_at_10
FROM m CROSS JOIN nq
""".strip()


LLM_QUERIES["ann_recall_report"] = FnWorkload(
    _ann_recall_report, _ann_recall_report_sql()
)


def _dedup_fuzzy_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) near-dup pairs — the dedup family
    member for SMALL edits (typo/OCR variants) that shingle-set jaccard
    under-weights: pairs in the same block with levenshtein(a,b) ≤ 25%
    of the longer text.

    Blocking is what makes edit distance feasible at scale — levenshtein
    is O(len²) per pair, so all-pairs is unthinkable; the standard move
    is a cheap equality block (here: language + first 16 normalized
    chars, docs ≤ 600 chars) so the quadratic work runs only inside
    blocks (Σ|block|² pairs; measured max block = 2 on this corpus).
    The block join is a plain equijoin on the derived key — fully
    distributed, no driver involvement; levenshtein itself is a JVM
    codegen'd builtin both engines implement identically (unit edit
    costs over codepoints)."""
    docs = _docs(spark, sf_dir).filter(F.col("n_chars") <= 600)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.lower(F.col("text")).alias("t"),
        F.concat_ws(
            "|", "lang", F.substring(F.lower(F.col("text")), 1, 16)
        ).alias("blk"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    lev = F.levenshtein(F.col("a.t"), F.col("b.t"))
    return (
        a.join(b, "blk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            lev.cast("long").alias("edit_dist"),
            F.greatest(F.col("a.n_chars"), F.col("b.n_chars"))
            .cast("long")
            .alias("max_len"),
        )
        .filter(
            F.col("edit_dist").cast("double")
            <= F.lit(0.25) * F.col("max_len").cast("double")
        )
    )


_FUZZY_EDIT_SQL = """
WITH keyed AS (
  SELECT doc_id, n_chars, lower(text) AS t,
         lang || '|' || substring(lower(text), 1, 16) AS blk
  FROM documents WHERE n_chars <= 600
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
       CAST(greatest(a.n_chars, b.n_chars) AS BIGINT) AS max_len
FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE CAST(levenshtein(a.t, b.t) AS DOUBLE)
      <= 0.25 * CAST(greatest(a.n_chars, b.n_chars) AS DOUBLE)
""".strip()


LLM_QUERIES["dedup_fuzzy_edit_distance"] = FnWorkload(
    _dedup_fuzzy_edit_distance, _FUZZY_EDIT_SQL
)


def _graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the near-dup similarity graph — the
    clustering-coefficient numerator, the standard "is this dup cluster
    a clique or a chain?" diagnostic after pair mining.

    Triangles enumerate via the classic two-join ordered-edge plan:
    with edges kept as id_a < id_b, (a,b)⋈(b,c)⋈(a,c) finds each
    triangle exactly once (a<b<c). Both joins are equi-joins on node
    ids; at scale this is the degree-ordered edge-iterator algorithm
    (join input Σdeg², bounded by the LSH-banded pair mining upstream
    — the edge list here is already only jaccard≥0.7 survivors from
    the shared cross-query pair memo). Each triangle credits all three
    corners through one explode + equi-groupBy."""
    pairs = _shared_jaccard_pairs(spark, sf_dir, k=5, threshold=0.7)
    e = pairs.select("id_a", "id_b")  # invariant: id_a < id_b
    tri = (
        e.alias("e1")
        .join(
            e.alias("e2"),
            F.col("e1.id_b") == F.col("e2.id_a"),
        )
        .join(
            e.alias("e3"),
            (F.col("e1.id_a") == F.col("e3.id_a"))
            & (F.col("e2.id_b") == F.col("e3.id_b")),
            "leftsemi",
        )
        .select(
            F.col("e1.id_a").alias("a"),
            F.col("e1.id_b").alias("b"),
            F.col("e2.id_b").alias("c"),
        )
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def _graph_triangle_counts_sql() -> str:
    pairs = D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    return f"""
WITH pairs AS ({pairs}),
e AS (SELECT id_a, id_b FROM pairs),
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM e e1 JOIN e e2 ON e1.id_b = e2.id_a
  WHERE EXISTS (SELECT 1 FROM e e3
                WHERE e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
),
corners AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY doc_id
""".strip()


LLM_QUERIES["graph_triangle_counts"] = FnWorkload(
    _graph_triangle_counts, _graph_triangle_counts_sql()
)


def _multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the distributed path (r5): synthesize a PCM
    WAV per document, then run the stdlib ``wave`` decoder
    (functions/multimodal.decode_audio — no external media library) in
    the Arrow batch stream and report what came back. Unlike
    multimodal_wav_metadata (a header walk), this decodes the PCM frames
    themselves: n_samples counts DECODED frames and pcm_sum sums the
    actual int16 sample values — proof the bytes round-tripped, not
    just the RIFF envelope. The oracle predicts the structural fields
    from the synthesis spec (rate = 8000·(1+id%3), channels = 1+id%2,
    frames = 16+n_chars%241); pcm_sum is engine-computed on both sides
    from the same md5-tiled bytes via the unit-tested encoder/decoder
    pair, and travels as an exact integer."""
    import pandas as pd

    def decode(batches):
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = M.decode_audio(bytes(payload), "wav")
                frames = len(d["samples"]) // d["channels"]
                out.append(
                    (
                        int(doc_id),
                        d["rate"],
                        d["channels"],
                        d["sample_width"],
                        frames,
                        int(sum(d["samples"])),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "rate", "channels", "sample_width",
                    "n_frames", "pcm_sum",
                ],
            )

    docs = _docs(spark, sf_dir)
    wavs = M.synthesize_wav(docs)
    decoded = wavs.mapInPandas(
        decode,
        schema=(
            "doc_id long, rate int, channels int, sample_width int, "
            "n_frames long, pcm_sum long"
        ),
    )
    return decoded


_MULTIMODAL_WAV_DECODE_SQL = """
WITH spec AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS INT) AS rate,
         CAST(1 + doc_id % 2 AS INT) AS channels,
         16 + n_chars % 241 AS frames,
         md5(text) AS h
  FROM documents
),
bytes AS (
  SELECT doc_id,
         list_transform(range(1, 17),
           i -> CAST(
             (strpos('0123456789abcdef', substring(h, 2*i - 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(h, 2*i, 1)) - 1)
             AS BIGINT)
         ) AS d16,
         rate, channels, frames
  FROM spec
),
pcm AS (
  -- samples tile the 16-byte digest; each int16 is little-endian
  -- lo + 256*hi with two's complement sign
  SELECT doc_id, rate, channels, frames,
         (SELECT sum(
            CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)
          FROM (
            SELECT d16[1 + (2*k) % 16] + 256 * d16[1 + (2*k + 1) % 16] AS v
            FROM unnest(range(0, frames * channels)) AS t(k)
          )
         ) AS pcm_sum
  FROM bytes
)
SELECT doc_id, rate, channels, CAST(2 AS INT) AS sample_width,
       CAST(frames AS BIGINT) AS n_frames, CAST(pcm_sum AS BIGINT) AS pcm_sum
FROM pcm
""".strip()


LLM_QUERIES["multimodal_wav_decode"] = FnWorkload(
    _multimodal_wav_decode, _MULTIMODAL_WAV_DECODE_SQL
)


def _corpus_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus dedup report — the summary a curation run logs
    before/after each stage: document count, exact-duplicate rows
    (non-canonical members of md5 fingerprint groups), near-dup pairs at
    jaccard ≥ 0.7 (from the shared cross-query pair memo — mined once
    per corpus), and blocked fuzzy edit-distance pairs, with the exact
    dup fraction as one shared IEEE division.

    Each input is an already-bounded aggregate (counts over the dedup
    family's own outputs), combined with cross joins of single-row
    frames — no data movement beyond the upstream operators' own."""
    docs = _docs(spark, sf_dir)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    exact = D.exact_dedup_assign(docs).filter(
        F.col("doc_id") != F.col("canonical_id")
    ).agg(F.count(F.lit(1)).alias("n_exact_dup_rows"))
    near = _shared_jaccard_pairs(spark, sf_dir, k=5, threshold=0.7).agg(
        F.count(F.lit(1)).alias("n_near_pairs")
    )
    fuzzy = _dedup_fuzzy_edit_distance(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_fuzzy_pairs")
    )
    return (
        n_docs.crossJoin(exact)
        .crossJoin(near)
        .crossJoin(fuzzy)
        .select(
            "n_docs",
            "n_exact_dup_rows",
            "n_near_pairs",
            "n_fuzzy_pairs",
            (
                F.col("n_exact_dup_rows").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_frac"),
        )
    )


def _corpus_dedup_rate_report_sql() -> str:
    near = D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    exact = D.exact_dedup_assign_sql("documents")
    return f"""
WITH nd AS (SELECT count(*) AS n_docs FROM documents),
ex AS (
  SELECT count(*) AS n_exact_dup_rows FROM ({exact})
  WHERE doc_id <> canonical_id
),
np AS (SELECT count(*) AS n_near_pairs FROM ({near})),
fz AS (SELECT count(*) AS n_fuzzy_pairs FROM ({_FUZZY_EDIT_SQL}))
SELECT n_docs, n_exact_dup_rows, n_near_pairs, n_fuzzy_pairs,
       CAST(n_exact_dup_rows AS DOUBLE) / CAST(n_docs AS DOUBLE)
         AS exact_dup_frac
FROM nd, ex, np, fz
""".strip()


LLM_QUERIES["corpus_dedup_rate_report"] = FnWorkload(
    _corpus_dedup_rate_report, _corpus_dedup_rate_report_sql()
)


def _ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (functions/pq.py ivfpq_topk) — cell-pruned
    candidate set × 8-byte ADC codes, the FAISS-style production
    combination. Deterministic seeding (lowest-id centroids AND
    codebooks) makes the full composition — probe-miss recall loss and
    quantization error included — value-exact against the SQL mirror."""
    from ..functions.pq import ivfpq_topk

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return ivfpq_topk(
        embs, queries, k=10, n_cells=16, n_probe=4, n_sub=8, n_codes=16
    )


def _ann_topk_ivfpq_sql() -> str:
    from ..functions.pq import ivfpq_topk_sql

    return ivfpq_topk_sql(
        "embeddings",
        "__ID__ < 5",
        k=10,
        n_cells=16,
        n_probe=4,
        n_sub=8,
        n_codes=16,
        dim=64,
    )


LLM_QUERIES["ann_topk_ivfpq"] = FnWorkload(_ann_topk_ivfpq, _ann_topk_ivfpq_sql())


def _docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the n-gram language detector
    (functions/text.py detect_language) scored against the corpus's
    labeled lang column — (labeled, predicted, n, recall share of the
    labeled row). The quality report every heuristic classifier ships
    with; one scan + one aggregation onto the |langs|² matrix, recall
    as an exact-integer IEEE division."""
    docs = _docs(spark, sf_dir)
    pred = T.detect_language(F.col("text"))
    cells = docs.select(
        F.col("lang").alias("labeled"), pred.alias("predicted")
    ).groupBy("labeled", "predicted").agg(F.count(F.lit(1)).alias("n"))
    row_tot = Window.partitionBy("labeled")
    return cells.select(
        "labeled",
        "predicted",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(row_tot).cast("double")
        ).alias("row_share"),
    )


def _docs_lang_confusion_sql() -> str:
    pred = T.detect_language_sql("text")
    return f"""
WITH cells AS (
  SELECT lang AS labeled, {pred} AS predicted, count(*) AS n
  FROM documents GROUP BY 1, 2
)
SELECT labeled, predicted, n,
       CAST(n AS DOUBLE)
         / CAST(sum(n) OVER (PARTITION BY labeled) AS DOUBLE) AS row_share
FROM cells
""".strip()


LLM_QUERIES["docs_lang_confusion"] = FnWorkload(
    _docs_lang_confusion, _docs_lang_confusion_sql()
)


def _ann_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-k (functions/similarity.py
    mips_topk) — the un-normalized retrieval objective cosine misses;
    the docstring there covers the [x; sqrt(M²−‖x‖²)] augmentation that
    reduces MIPS to the IVF/PQ cell-pruned path at 10⁹ vectors."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 5)
    return S.mips_topk(embs, queries, k=10)


LLM_QUERIES["ann_topk_mips"] = FnWorkload(
    _ann_topk_mips, S.mips_topk_sql("embeddings", "__ID__ < 5", k=10)
)


def _docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the whitespace-token distribution per source —
    the corpus-diversity diagnostic (a source whose token entropy
    collapses is template spam; one whose entropy explodes is noise).
    Two bounded shuffles: explode→count per (source, token), then the
    per-source fold H = log2(N) − Σ c·log2(c) / N — the count-form
    identity avoids a per-term division and keeps every aggregate a
    plain sum, so the key space is vocab-bounded, never corpus-bounded.
    Both engines sum c·log2(c) in double and round 6."""
    docs = _docs(spark, sf_dir)
    tok_counts = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tok_counts.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(F.col("c").cast("double") * F.log2(F.col("c").cast("double"))).alias("_clogc"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct_tokens",
            F.round(
                F.log2(F.col("n_tokens").cast("double"))
                - F.col("_clogc") / F.col("n_tokens").cast("double"),
                6,
            ).alias("token_entropy_bits"),
        )
    )


_DOCS_TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT source, tok, count(*) AS c FROM (
    SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
  GROUP BY source, tok
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_distinct_tokens,
       round(log2(CAST(sum(c) AS DOUBLE))
             - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
               / CAST(sum(c) AS DOUBLE), 6) AS token_entropy_bits
FROM toks
GROUP BY source
""".strip()


LLM_QUERIES["docs_token_entropy"] = FnWorkload(
    _docs_token_entropy, _DOCS_TOKEN_ENTROPY_SQL
)


def _events_stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k trending: REAL readStream → watermarked SLIDING
    windows (6h width, 3h slide) counting events per type, drained
    complete-mode into a memory sink; the top-3 rank per window is a
    BATCH window over the final state (rank is not an incremental
    streaming op — maintaining counts incrementally and ranking the
    materialized state is exactly how a trending dashboard serves this).
    State note: COMPLETE mode (needed so the finite fixture flushes every
    window for the batch oracle) retains all windows — the watermark does
    not evict under it. The production shape for an unbounded stream is
    UPDATE mode + an external keyed sink, where this same watermark
    bounds state to the in-horizon windows × |event types|.
    Deterministic ties: count desc, event_type asc."""
    from ..streaming.rules import (
        run_stream_to_memory,
        scoped_state_partitions,
        stream_events,
    )

    stream = stream_events(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "12 hours")
        .groupBy(F.window(F.col("ts"), "6 hours", "3 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
    _STREAM_COUNTER[0] += 1
    name = f"stream_topk_trending_{_STREAM_COUNTER[0]}"
    with scoped_state_partitions(spark, 8):  # keyspace: windows × 5 types
        run_stream_to_memory(windowed, name, output_mode="complete")
    state = spark.table(name)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        state.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "event_type", "n", "rank")
    )


_EVENTS_STREAM_TOPK_SQL = """
WITH counts AS (
  SELECT window_start, event_type, count(*) AS n FROM (
    SELECT time_bucket(INTERVAL '3 hours', CAST(ts AS TIMESTAMP))
             - (i * INTERVAL '3 hours') AS window_start,
           event_type
    FROM events, UNNEST([0, 1]) AS u(i))
  GROUP BY 1, 2
)
SELECT window_start, event_type, n, rank FROM (
  SELECT window_start, event_type, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                 ORDER BY n DESC, event_type ASC) AS INT)
           AS rank
  FROM counts)
WHERE rank <= 3
""".strip()


LLM_QUERIES["events_stream_topk_trending"] = FnWorkload(
    _events_stream_topk_trending, _EVENTS_STREAM_TOPK_SQL
)


def _corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: OLS of
    ln(freq) on ln(rank) for the top-2000 tokens — the one-number
    linguistic health check (natural text slopes ≈ −1; template spam
    flattens the head, noise steepens the tail). Same distributed OLS
    shape as the grouped trend regression (trends.py): token counts are
    one explode→count shuffle, ranks one window over the 2000-row
    TOP-K (count desc, token asc — deterministic ties in both
    engines), and the five moments reduce in a single scalar
    aggregate. Log terms are irrational, so moments sum in double;
    the final round(6) absorbs the ≤1-ulp libm spread.

    Scale shape: the top-2000 extraction is orderBy+limit, which Spark
    plans as TakeOrderedAndProject (per-partition top-K, tiny driver
    merge) — the VOCAB-sized count table is never globally sorted; the
    rank window then runs over the 2000-row bounded result, where a
    single partition is the design, not a bottleneck."""
    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = counts.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(2000)
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    top = topk.withColumn("rank", F.row_number().over(w)).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = top.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return m.select(
        n.cast("long").alias("n_tokens_fit"),
        F.round(cov / varx, 6).alias("zipf_slope"),
        F.round((sy - (cov / varx) * sx) / n, 6).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r_squared"),
    )


_CORPUS_ZIPF_SQL = r"""
WITH counts AS (
  SELECT tok, count(*) AS c FROM (
    SELECT unnest(regexp_split_to_array(text, '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
  GROUP BY tok
),
top AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS rank
    FROM counts)
  WHERE rank <= 2000
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM top
)
SELECT CAST(n AS BIGINT) AS n_tokens_fit,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r_squared
FROM m
""".strip()


LLM_QUERIES["corpus_zipf_slope"] = FnWorkload(
    _corpus_zipf_slope, _CORPUS_ZIPF_SQL
)


def _multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image pixel decode in the distributed path, stdlib-only
    (functions/multimodal.decode_bmp, r7): synthesize a 24-bpp BMP per
    document and decode the actual pixel array back in the Arrow batch
    stream — the image twin of multimodal_wav_decode, and the proof the
    physical DIB layout was truly undone: ``px_sum`` sums every decoded
    logical pixel byte (row padding must be EXCLUDED or the value is
    wrong), and ``row_weighted_sum`` weights each row's sum by its
    top-down index (a decoder that forgets the bottom-up flip gets a
    different value whenever row content differs). The oracle recomputes
    both from the synthesis spec's md5 tiling — exact integers."""
    import pandas as pd

    def decode(batches):
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = M.decode_bmp(bytes(payload))
                w, h, px = d["width"], d["height"], d["pixels"]
                row_bytes = w * 3
                rw = sum(
                    (r + 1) * sum(px[r * row_bytes : (r + 1) * row_bytes])
                    for r in range(h)
                )
                out.append(
                    (int(doc_id), w, h, d["bpp"], sum(px), rw)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "width", "height", "bpp",
                    "px_sum", "row_weighted_sum",
                ],
            )

    docs = _docs(spark, sf_dir)
    bmps = M.synthesize_bmp(docs)
    return bmps.mapInPandas(
        decode,
        schema=(
            "doc_id long, width int, height int, bpp int, "
            "px_sum long, row_weighted_sum long"
        ),
    )


_MULTIMODAL_BMP_DECODE_SQL = """
WITH spec AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INT) AS w,
         CAST(3 + n_chars % 7 AS INT) AS h,
         md5(text) AS hx
  FROM documents
),
bytes AS (
  SELECT doc_id, w, h,
         list_transform(range(1, 17),
           i -> CAST(
             (strpos('0123456789abcdef', substring(hx, 2*i - 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(hx, 2*i, 1)) - 1)
             AS BIGINT)
         ) AS d16
  FROM spec
),
px AS (
  SELECT doc_id, w, h,
         (SELECT sum(d16[1 + p % 16])
          FROM unnest(range(0, w * h * 3)) AS t(p)) AS px_sum,
         (SELECT sum((1 + p // (w * 3)) * d16[1 + p % 16])
          FROM unnest(range(0, w * h * 3)) AS t(p)) AS row_weighted_sum
  FROM bytes
)
SELECT doc_id, w AS width, h AS height, CAST(24 AS INT) AS bpp,
       CAST(px_sum AS BIGINT) AS px_sum,
       CAST(row_weighted_sum AS BIGINT) AS row_weighted_sum
FROM px
""".strip()


LLM_QUERIES["multimodal_bmp_decode"] = FnWorkload(
    _multimodal_bmp_decode, _MULTIMODAL_BMP_DECODE_SQL
)


def _dedup_canonical_by_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SURVIVORSHIP policy for near-dup clusters: keep the BEST document
    per cluster, not the lowest id — the policy production dedup
    actually ships (min-id keeps whatever crawled first; quality-argmax
    keeps the cleanest copy). Clusters come from the shared jaccard pair
    memo (the same edge list pagerank/triangles consume); the canonical
    pick is a single struct-max per cluster — (quality, -doc_id) max, so
    ties prefer the LOWER id deterministically — the same single-pass
    argmax shape as the reference aggregation engine, no window sort.
    Output: one row per cluster with the kept doc, its quality, cluster
    size, and how many duplicates were dropped."""
    from ..functions.cluster import cluster_assign
    from ..functions.text import quality_score

    docs = _docs(spark, sf_dir)
    pairs = _shared_jaccard_pairs(spark, sf_dir, k=5, threshold=0.7)
    assigned = cluster_assign(docs, pairs)
    scored = assigned.join(
        docs.select("doc_id", quality_score(F.col("text")).alias("q")),
        "doc_id",
    )
    best = scored.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("q").alias("_q"),
                (-F.col("doc_id")).alias("_negid"),
                F.col("doc_id").alias("keep_id"),
            )
        ).alias("_best"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return best.select(
        "cluster_id",
        F.col("_best.keep_id").alias("keep_id"),
        F.col("_best._q").alias("keep_quality"),
        "cluster_size",
        (F.col("cluster_size") - F.lit(1)).alias("n_dropped"),
    )


def _dedup_canonical_by_quality_sql() -> str:
    from ..functions.cluster import cluster_assign_sql
    from ..functions.text import quality_score_sql

    assigned = cluster_assign_sql(
        D.ngram_jaccard_pairs_sql("documents", k=5, threshold=0.7)
    )
    q = quality_score_sql("text")
    return f"""
WITH assigned AS ({assigned}),
scored AS (
  SELECT a.cluster_id, a.doc_id, {q} AS q
  FROM assigned a JOIN documents USING (doc_id)
),
ranked AS (
  SELECT cluster_id, doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY q DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM scored
)
SELECT cluster_id, doc_id AS keep_id, q AS keep_quality,
       cluster_size, cluster_size - 1 AS n_dropped
FROM ranked WHERE rn = 1
""".strip()


LLM_QUERIES["dedup_canonical_by_quality"] = FnWorkload(
    _dedup_canonical_by_quality, _dedup_canonical_by_quality_sql()
)


def _docs_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular dedup signal (functions/dedup.paragraph_dedup_stats):
    disjoint 10-word chunks, corpus-wide duplicated-paragraph char fraction
    per document plus the RefinedWeb keep/drop flag. Composes the chunking
    operator with the dedup family; fully SQL-expressible → value oracle."""
    return D.paragraph_dedup_stats(
        _docs(spark, sf_dir), chunk_tokens=10, keep_threshold=0.3
    )


LLM_QUERIES["docs_paragraph_dedup"] = FnWorkload(
    _docs_paragraph_dedup,
    D.paragraph_dedup_stats_sql("documents", chunk_tokens=10, keep_threshold=0.3),
)


def _docs_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM fluency filter (functions/lm.bigram_lm_scores): an
    add-k word-bigram model trained on the English slice scores every
    document's mean negative log-likelihood; micro-nat quantization makes
    the per-doc sum order-insensitive, so the score is value-oracled."""
    from ..functions.lm import bigram_lm_scores

    return bigram_lm_scores(
        _docs(spark, sf_dir), train_filter=F.col("lang") == "en"
    )


def _docs_lm_perplexity_sql() -> str:
    from ..functions.lm import bigram_lm_scores_sql

    return bigram_lm_scores_sql("documents", "lang = 'en'")


LLM_QUERIES["docs_lm_perplexity"] = FnWorkload(
    _docs_lm_perplexity, _docs_lm_perplexity_sql()
)


def _docs_hashed_embedding_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Model-free semantic near-dup, EXECUTED end-to-end
    (functions/feature_hash.py → functions/dedup.embedding_neardup_pairs):
    hash every token to a signed slot (the ICML'09 hashing trick), build
    64-dim integer term-frequency vectors entirely in one hash aggregate,
    and run the embedding family's exact cosine miner over them — the
    text→vector bridge that lets a corpus with no embedding column run
    the whole vector stack. Integer-valued vectors make every dot
    product/norm exact below 2^53, so the full pipeline value-oracles
    (unlike learned float embeddings, whose accumulation order is the
    documented caveat)."""
    from ..functions.feature_hash import feature_hash_embeddings

    vecs = feature_hash_embeddings(_docs(spark, sf_dir), dim=64)
    return D.embedding_neardup_pairs(
        vecs, threshold=0.95, vec_col="embedding", id_col="doc_id"
    )


def _docs_hashed_embedding_neardup_sql() -> str:
    from ..functions.feature_hash import feature_hash_embeddings_sql

    vecs = feature_hash_embeddings_sql("documents", dim=64)
    return D.embedding_neardup_pairs_sql(
        f"({vecs})", threshold=0.95, vec_col="embedding", id_col="doc_id"
    )


LLM_QUERIES["docs_hashed_embedding_neardup"] = FnWorkload(
    _docs_hashed_embedding_neardup, _docs_hashed_embedding_neardup_sql()
)


def _events_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing, EXECUTED (functions/aqp.py r9 —
    BlinkDB's pattern): per-event-type COUNT and SUM(value) estimated
    from a deterministic 1/4 hash-Bernoulli sample with Horvitz-Thompson
    standard errors. The oracle recomputes the SAME estimator (portable
    md5 hash cut, exact-decimal accumulation, one decimal→double step
    for the variance terms) — pinning the estimator arithmetic, not just
    the sample. At 100 TB this is the exploratory-query answer: scan 25%
    (or 1%) of the data, return every group's estimate with its CI."""
    from ..functions.aqp import approx_groupby

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return approx_groupby(
        ev, "event_id", "value", ["event_type"], fraction=0.25
    )


def _events_approx_aggregates_sql() -> str:
    from ..functions.aqp import approx_groupby_sql

    src = _EVENTS_ORACLE_SOURCE.removesuffix(" AS events")
    return approx_groupby_sql(
        src, "event_id", "value", ["event_type"], fraction=0.25
    )


LLM_QUERIES["events_approx_aggregates"] = FnWorkload(
    _events_approx_aggregates, _events_approx_aggregates_sql()
)


def _events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar operators over the semi-structured ``props`` column
    (SURVEY.md §2.5 declared-absent scalar family, beyond-reference):
    ``get_json_object`` path extraction with typed cast, missing-path →
    NULL semantics, and a grouped aggregate over the extracted value —
    the log-analytics shape where the group key lives INSIDE a JSON
    payload. JVM-side Catalyst JSON path evaluation (no UDF); the scan
    reads only (props, value)."""
    ev = load_table(spark, sf_dir, "events").select("props", "value")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    missing = F.get_json_object(F.col("props"), "$.absent")
    return (
        ev.select(
            (k % 7).alias("k_bucket"),
            k.alias("k"),
            missing.alias("m"),
            F.col("value"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("k").alias("n_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum(F.col("value").cast("decimal(38,12)")), 6)
            .cast("double")
            .alias("sum_value"),
            F.sum(F.col("m").isNull().cast("long")).alias("n_missing"),
        )
    )


_EVENTS_JSON_SQL = f"""
WITH ev AS ({_EVENTS_ORACLE_SOURCE.removesuffix(" AS events")}),
x AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         json_extract_string(props, '$.absent') AS m, value
  FROM ev
)
SELECT k % 7 AS k_bucket, count(*) AS n,
       count(DISTINCT k) AS n_k,
       min(k) AS min_k, max(k) AS max_k,
       CAST(round(sum(CAST(value AS DECIMAL(38,12))), 6) AS DOUBLE)
         AS sum_value,
       CAST(sum(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing
FROM x GROUP BY k % 7
""".strip()


LLM_QUERIES["events_json_extract"] = FnWorkload(
    _events_json_extract, _EVENTS_JSON_SQL
)


def _events_approx_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified AQP, EXECUTED (functions/aqp.py r9): per-event-type
    sampling rates — 'error' events kept at 1/2 (the rare class whose
    CI must stay tight), 'purchase' at 1/4, everything else at 1/8 —
    with per-stratum Horvitz-Thompson estimates and standard errors.
    The oracle recomputes the same per-stratum estimator; a rate mixup
    between strata (the classic stratified-sampling bug) shifts every
    estimate and hash-mismatches."""
    from ..functions.aqp import approx_groupby_stratified

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return approx_groupby_stratified(
        ev,
        "event_id",
        "value",
        "event_type",
        {"error": 0.5, "purchase": 0.25},
        default_fraction=0.125,
    )


def _events_approx_stratified_sql() -> str:
    from ..functions.aqp import approx_groupby_stratified_sql

    src = _EVENTS_ORACLE_SOURCE.removesuffix(" AS events")
    return approx_groupby_stratified_sql(
        src,
        "event_id",
        "value",
        "event_type",
        {"error": 0.5, "purchase": 0.25},
        default_fraction=0.125,
    )


LLM_QUERIES["events_approx_stratified"] = FnWorkload(
    _events_approx_stratified, _events_approx_stratified_sql()
)


def _rule_nested_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOTTED RULE PROPERTIES over struct columns, EXECUTED (r13,
    beyond-reference — the reference's RuleValidator resolves flat
    property names only, RuleValidator.cs:10-13): ``Condition.Property
    = "payload.v"`` resolves case-insensitively INTO StructType
    children (operators/predicates.resolve_field), compiles to the
    nested Catalyst column, and the generated ANSI mirror renders the
    same dotted access — which DuckDB evaluates over a genuine STRUCT
    column here, so the oracle exercises the nested path end to end
    (not a flattened rewrite)."""
    from ..operators.executor import apply_rule
    from ..plans.model import RuleDefinition

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.struct(
            F.col("event_type").alias("tag"),
            F.col("value").alias("v"),
        ).alias("payload"),
    )
    rule = RuleDefinition.from_dict(_NESTED_RULE_DOC)
    out = apply_rule(ev, rule)
    return out.select(
        "event_id",
        F.col("payload.tag").alias("tag"),
        F.col("payload.v").alias("v"),
    )


_NESTED_RULE_DOC = {
    "Name": "nested-property-rule",
    "Conditions": {
        "LogicalOperator": "AND",
        "Conditions": [
            {
                "Property": "Payload.V",  # case-insensitive at every level
                "Operator": "GreaterThan",
                "Value": 320,
            },
            {
                "Property": "payload.tag",
                "Operator": "Contains",
                "Value": "c",
            },
        ],
    },
}


def _rule_nested_property_sql() -> str:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..plans.model import RuleDefinition
    from ..plans.sqlgen import SqlGenerator

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField(
                "payload",
                StructType(
                    [
                        StructField("tag", StringType()),
                        StructField("v", DoubleType()),
                    ]
                ),
            ),
        ]
    )
    where = SqlGenerator(schema).group_sql(
        RuleDefinition.from_dict(_NESTED_RULE_DOC).conditions
    )
    return f"""
WITH ev AS ({_EVENTS_ORACLE_SOURCE.removesuffix(" AS events")}),
t AS (
  SELECT event_id,
         {{'tag': event_type, 'v': value}} AS payload
  FROM ev
)
SELECT event_id, payload.tag AS tag, payload.v AS v
FROM t
WHERE {where}
""".strip()


LLM_QUERIES["rule_nested_property"] = FnWorkload(
    _rule_nested_property, _rule_nested_property_sql()
)
