"""llm_pairs: five contract queries from the package's query catalogue
(the ones ``__spark_entry__.queries()`` exposes) over seeded synthetic
``documents``/``embeddings``/``customer``/``orders`` tables with the row
counts of the TPC-H-style sf0.1 data set, each forced with ``.count()``.
Row counts are checked against an untimed reference run of the same query
in the same process."""

from __future__ import annotations

import itertools
import os
import random
from datetime import datetime, timedelta
from typing import Iterator

from core import Op, Record, timed_window

QUERIES = (
    "dedup_minhash_lsh",
    "corpus_dedup_rate_report",
    "embed_neardup_cosine",
    "window_customer_ltv_deciles_approx",
    "dedup_exact_keep",
)
WARM_OPS = len(QUERIES)
# sf0.1's row counts, so per-query fixed overhead does not dominate
TABLE_ROWS = {"documents": 5_000, "embeddings": 2_000, "customer": 15_000, "orders": 150_000}
SOURCES = 20
LABELS = 10
WORDS = (
    "spark query table join scan sort hash group filter window stream batch "
    "row column key value data order part line merge vector agg fast slow big "
    "small customer index shuffle plan rule event cache file page token model"
).split()
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def ends_rotation(op: Op) -> bool:
    return op.kind == QUERIES[-1]


def write_tables(seed: int, data_dir: str) -> None:
    """Seeded tables in the schemas the queries read: a document corpus
    with exact and near duplicates, clustered 64-d embeddings with
    near-duplicate vectors, and a customer/orders star."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(data_dir, exist_ok=True)

    texts: list[str] = []
    for i in range(TABLE_ROWS["documents"]):
        roll = rng.random()
        if texts and roll < 0.05:
            texts.append(rng.choice(texts))
        elif texts and roll < 0.15:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 80))))
    docs = {
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % SOURCES}" for i in range(len(texts))],
        "n_chars": [len(t) for t in texts],
    }
    pq.write_table(pa.table(docs), os.path.join(data_dir, "documents.parquet"))

    centroids = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(LABELS)]
    vecs, labels = [], []
    for i in range(TABLE_ROWS["embeddings"]):
        if vecs and rng.random() < 0.05:
            base = vecs[rng.randrange(len(vecs))]
            vecs.append([x + rng.gauss(0, 0.01) for x in base])
            labels.append(labels[vecs.index(base)])
            continue
        label = rng.randrange(LABELS)
        vecs.append([c + rng.gauss(0, 0.8) for c in centroids[label]])
        labels.append(label)
    emb = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(data_dir, "embeddings.parquet"))

    n_cust = TABLE_ROWS["customer"]
    cust = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
        }
    )
    pq.write_table(cust, os.path.join(data_dir, "customer.parquet"))

    n_ord = TABLE_ROWS["orders"]
    day0 = datetime(1995, 1, 1)
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
            "o_orderstatus": [rng.choice("OFP") for _ in range(n_ord)],
            "o_totalprice": [round(rng.uniform(900, 500_000), 2) for _ in range(n_ord)],
            "o_orderdate": pa.array(
                [day0 + timedelta(days=rng.randrange(2400)) for _ in range(n_ord)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)],
        }
    )
    pq.write_table(orders, os.path.join(data_dir, "orders.parquet"))


class LlmPairs:
    def __init__(self, spark, seed: int, work_dir: str) -> None:
        from dynamicqueryengine_spark.workloads import ALL_QUERIES

        self.spark = spark
        self.data_dir = os.path.join(work_dir, "llm_data")
        write_tables(seed, self.data_dir)
        self.fns = {q: ALL_QUERIES[q].spark_fn() for q in QUERIES}
        self.tracer = None
        self.reference: dict[str, int] = {}

    def count(self, query: str) -> int:
        if self.tracer is None:
            return self.fns[query](self.spark, self.data_dir).count()
        self.tracer.next_op()
        with self.tracer.span(f"llm.{query}", jobs=True):
            return self.fns[query](self.spark, self.data_dir).count()

    def ops(self) -> Iterator[Op]:
        for q in itertools.cycle(QUERIES):
            yield Op(q, lambda q=q: self.count(q))

    def check(self, records: list[Record]) -> list[str]:
        """Row counts must equal an untimed reference run of each query."""
        self.run_reference({r.op.kind for r in records})
        for r in records:
            want = self.reference[r.op.kind]
            if r.error is None and r.output != want:
                r.wrong = f"{r.output} rows, reference run gave {want}"
        return []

    def run_reference(self, queries) -> None:
        tracer, self.tracer = self.tracer, None
        for q in queries:
            if q not in self.reference:
                self.reference[q] = self.count(q)
        self.tracer = tracer

    def traced_window(self, tracer, ops: Iterator[Op], seconds: float) -> list[Record]:
        self.tracer = tracer
        return timed_window(ops, seconds, len(QUERIES), ends_rotation)[0]

    def leg(self, tracer) -> list[Record]:
        """An untimed reference run of each query, then one traced run."""
        self.run_reference(QUERIES)
        return self.traced_window(tracer, self.ops(), 0)

    def exec_spans(self, tracer) -> list:
        return [s for s in tracer.spans if s.name.startswith("llm.")]

    def layer_metrics(self, tracer) -> dict:
        out = {}
        for q in QUERIES:
            out[f"llm.{q}_ms"] = tracer.median_ms(f"llm.{q}")
            out[f"llm.{q}_jobs"] = tracer.median_of(f"llm.{q}", "jobs")
        return out
