"""Local replica of the driver's correctness gate: run each query from
``__spark_entry__.queries()`` and its ``oracle_sql()`` DuckDB mirror at
sf0.01, compare row counts, sorted schemas, and an order-insensitive
value hash. Usage::

    python scripts/check_correctness.py [query ...]   # default: all
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import sys
import time

import os

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Queries whose DuckDB mirrors are intentionally naive-quadratic (exact
# all-pairs jaccard equijoin, recursive-CTE reachability) — correct but
# infeasible at sf0.1's shingle-frequency profile (Σ freq² ≈ 1.5e9 joined
# rows). `CHECK_SF_DIR=/root/testdata/sf0.1 python scripts/check_correctness.py`
# skips them; at the default sf0.01 everything runs.
QUADRATIC_ORACLES = {
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_cluster_assign",
    "dedup_canonical_by_quality",
    "dedup_fuzzy_edit_distance",
    "dedup_vt_incremental_index",
    "docs_split_leakage_safe",
    "graph_pagerank_neardup",
    "graph_triangle_counts",
    "corpus_dedup_rate_report",
    "pipeline_pretraining_corpus",
    "pipeline_semantic_curation",
    "embed_neardup_cosine",
    "embed_semantic_dedup",
    "docs_hashed_embedding_neardup",
    "decontaminate_flags",
    "docs_bloom_decontaminate",
}


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver-style: stabilize float formatting
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(str(_norm(x)) for x in v) + "]"
    return v


def value_hash(cols, rows):
    lines = sorted(
        "|".join(str(_norm(r[c])) for c in cols) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(names):
    import duckdb
    from pyspark.sql import SparkSession

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from dynamicqueryengine_spark.functions.dedup import (
        release_internal_caches,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-correctness")
        # CHECK_SHUFFLE_PARTITIONS: adversarial values (3, 1, 17) catch
        # partition-count dependence — any query whose VALUES change with
        # partitioning is nondeterministic and will flake under the
        # driver's own config someday
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("CHECK_SHUFFLE_PARTITIONS", "8"),
        )
        # CHECK_AQE=false: results must not depend on adaptive planning.
        # CHECK_ARROW_BATCH=7: tiny Arrow batches shake out batch-boundary
        # bugs in the mapInPandas/applyInPandas operators (computations
        # must be per-row/per-group, never per-chunk).
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("CHECK_AQE", "true"),
        )
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("CHECK_ARROW_BATCH", "10000"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    if names:
        queries = {k: v for k, v in queries.items() if k in names}
    if SF_DIR != "/root/testdata/sf0.01" and not names:
        skipped = sorted(set(queries) & QUADRATIC_ORACLES)
        queries = {
            k: v for k, v in queries.items() if k not in QUADRATIC_ORACLES
        }
        print(
            f"  [{SF_DIR}] skipping {len(skipped)} quadratic-oracle "
            "queries (run them at sf0.01)"
        )

    results = {}
    failures = 0
    for name, fn in queries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            cols = sorted(sdf.columns)
            # Driver-hostility check 1: the real driver canonicalizes rows
            # through pandas factorize, which cannot hash list/dict cells —
            # a top-level complex column ERRORs its whole comparison even
            # though this replica (Arrow to_pylist) would sail through.
            complex_cols = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if complex_cols:
                raise RuntimeError(
                    f"driver-hostile output: complex top-level columns "
                    f"{complex_cols} (posexplode to long form)"
                )
            srows = sdf.collect()
            if name not in oracles:
                results[name] = {"err": "no_oracle", "spark_rows": len(srows)}
                print(f"  {name}: NO_ORACLE rows={len(srows)}")
                continue
            orel = con.sql(oracles[name])
            # Driver-hostility check 2: DuckDB HUGEINT (uncast integer SUM)
            # reaches the driver's pandas as float64 and hash-mismatches
            # Spark's bigint; Arrow to_pylist hides it here.
            hugeints = [
                c
                for c, t in zip(orel.columns, orel.types)
                if str(t) in ("HUGEINT", "INT128")
            ]
            if hugeints:
                raise RuntimeError(
                    f"driver-hostile oracle: HUGEINT columns {hugeints} "
                    f"(CAST the aggregate AS BIGINT in the mirror)"
                )
            orows = orel.fetch_arrow_table().to_pylist()
            ocols = sorted(orel.columns)
            rows_match = len(srows) == len(orows)
            schema_match = cols == ocols
            sh = value_hash(cols, [r.asDict() for r in srows])
            oh = value_hash(cols, orows) if schema_match else None
            hash_match = schema_match and sh == oh
            results[name] = {
                "rows_match": rows_match,
                "schema_match": schema_match,
                "hash_match": hash_match,
                "spark_rows": len(srows),
                "oracle_rows": len(orows),
            }
            ok = rows_match and schema_match and hash_match
            failures += 0 if ok else 1
            status = "OK" if ok else "FAIL"
            print(
                f"  {name}: {status} rows={len(srows)}/{len(orows)} "
                f"schema={schema_match} hash={hash_match} ({time.time()-t0:.1f}s)"
            )
            if not schema_match:
                print(f"    spark cols: {cols}\n    oracle cols: {ocols}")
        except Exception as e:  # noqa: BLE001
            failures += 1
            results[name] = {"err": str(e)[:500]}
            print(f"  {name}: ERROR {str(e)[:300]}")
        spark.catalog.clearCache()
        release_internal_caches()

    print(json.dumps({"failures": failures, "n": len(results)}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
