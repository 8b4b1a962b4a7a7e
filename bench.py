"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "docs_per_sec": ...}

The headline metric is the full dedup pipeline (signatures -> LSH ->
verify -> connected components -> classification) over the synthetic pages
corpus derived from documents.parquet; per-stage queries are timed
individually as well.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    expand = int(os.environ.get("SPARK_GRAFT_EXPAND", "1"))
    # Per-query best-of-N: the sandbox host steals CPU slices sporadically
    # and steal is strictly additive, so the minimum is the least-noisy
    # sample of the same deterministic job (BENCH.md measurement protocol;
    # round-2's e2e +3.7% "regression" was exactly this noise). First
    # repeat also warms the JIT for the rest.
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

    from lasvdedup_spark.config import DedupConfig
    from lasvdedup_spark.operators import exact, minhash, simhash
    from lasvdedup_spark.pipeline import dedup
    from lasvdedup_spark.session import get_spark
    from lasvdedup_spark.sources.pages import synth_pages_with_dups

    spark = get_spark(
        app_name="lasvdedup_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 32),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
            # Same broadcast sizing bench_scaling.py uses (and a real
            # deployment tunes to its executor memory): the narrow int32
            # signature table broadcasts into the verify joins instead of
            # shuffling — measured ~9% off e2e at sf0.1/32c. AQE still
            # decides per runtime stats.
            "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Production hash family: xxhash64 (native Spark expression). The md5
    # family exists for DuckDB-oracle portability, but JDK MessageDigest
    # serializes on the JCA provider lock — md5 map stages do NOT scale with
    # threads in one JVM (measured flat 20s at 8 and 32 cores; xxhash64:
    # 14.7s -> 5.3s). Correctness of the md5 path is covered by the oracle
    # parity suite; throughput is measured on what production would run.
    cfg = DedupConfig(hash_family="xxhash64")

    pages, _ = synth_pages_with_dups(spark, sf_dir, expand=expand)
    # repartition to real-ingest granularity (single-file parquet reads give
    # ~5 partitions, capping task parallelism); excluded from timings
    pages = pages.repartition(3 * cpus, "url").localCheckpoint(eager=True)
    n_docs = pages.count()
    narrow = pages.select("url", "text")

    timings: dict[str, float] = {}

    def run_full(df):
        """Force FULL materialization: a bare count() lets Catalyst prune
        expensive output columns (a pruned MinHash 'benchmark' times an
        empty projection), the noop sink computes every output column."""
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn):
        best = None
        for _ in range(repeats):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    timed(
        "exact_dedup",
        lambda: run_full(
            exact.exact_dup_clusters(narrow, hash_family=cfg.hash_family)
        ),
    )
    timed("minhash_signatures", lambda: run_full(minhash.signatures(narrow, cfg)))
    timed(
        "lsh_verified_pairs",
        lambda: run_full(minhash.minhash_dup_pairs(narrow, cfg, eager=True)),
    )
    # simhash_dup_pairs takes no eager=: the simhash value rides through the
    # salted join (carry), so the fold is referenced once
    timed(
        "simhash_pairs",
        lambda: run_full(simhash.simhash_dup_pairs(narrow, cfg)),
    )

    from lasvdedup_spark.operators import substring

    timed(
        "substring_pairs",
        lambda: run_full(substring.substring_dup_pairs(narrow, cfg)),
    )

    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.exists(emb_path):
        from lasvdedup_spark.operators.ann import cosine_dup_pairs, plane_tables

        emb = spark.read.parquet(emb_path)
        dim = len(emb.select("embedding").first()["embedding"])
        tables = plane_tables(4, 8, dim)
        timed(
            "ann_cosine_pairs",
            lambda: run_full(cosine_dup_pairs(emb, tables, threshold=0.8)),
        )

    n_classified = None

    def run_e2e():
        nonlocal n_classified
        out = dedup(spark, pages, cfg)
        run_full(out)
        if n_classified is None:
            n_classified = out.count()  # heavy stages cached by dedup()

    timed("dedup_pipeline_e2e", run_e2e)
    pipeline_sec = timings["dedup_pipeline_e2e"]

    total = round(sum(timings.values()), 3)
    result = json.dumps(
        {
            "metric": "dedup_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf_dir,
            "n_docs": n_docs,
            "n_classified": n_classified,
            "docs_per_sec": round(n_docs / pipeline_sec, 1),
            "cpus": cpus,
            "repeats": repeats,
        }
    )
    # stop BEFORE printing: benign JVM teardown noise (e.g. the AQE
    # accumulator-GC race's SparkException log) must never trail the one
    # JSON line the driver parses
    spark.stop()
    print(result)


if __name__ == "__main__":
    main()
