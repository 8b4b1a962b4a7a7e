"""Long-shared-span (substring) tier.

Semantics: two docs are substring-duplicates iff they share a contiguous
span of >= L tokens. Key identity making this exact AND distributed:

    shared span of >= L tokens  <=>  shared at least one token L-gram.

So membership is an equi-join on L-gram hashes — no suffix array needed for
the *decision*. The suffix-array machinery appears in ``span_lengths``:
an applyInPandas grouped-map that, for each candidate pair, computes the
actual longest common token span (sorted-suffix scan), for reporting and
threshold tuning. That is the engine's only UDTF-shaped operator (SURVEY
§2.9), replacing the reference's external alignment tools as the "expensive
verification kernel".
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.functions.hashing import fast_lgram_hashes_expr, portable_hash60
from lasvdedup_spark.functions.text import lgrams_expr, tokens_expr


def lgram_hashes(pages: DataFrame, cfg: DedupConfig, id_col: str = "url") -> DataFrame:
    """(id, gh) — one row per distinct L-gram hash per doc.

    Hash family follows cfg.hash_family:
      * "md5" — gram STRINGS (concat_ws over L-token slices) through the
        60-bit md5-prefix hash: the form the DuckDB oracle replicates
        byte-for-byte. Scale-hostile twice over (L× token volume of
        transient string garbage + the JCA provider lock, BENCH.md) —
        correctness checking only.
      * "xxhash64" (production) — string-free arithmetic window combine
        over per-token xxhash64 values, 62-bit keys
        (functions/hashing.py::fast_lgram_hashes_expr). Same candidate
        semantics: two docs collide iff they share an L-token window
        (modulo 62-bit hash collisions, the same exactness class as the
        md5 path's 60-bit keys).
    """
    base = pages.select(
        F.col(id_col).alias("id"), tokens_expr("text").alias("tokens")
    )
    if cfg.hash_family == "xxhash64":
        return base.select(
            "id",
            F.explode(
                fast_lgram_hashes_expr(cfg.substring_min_tokens)
            ).alias("gh"),
        )
    return (
        base.withColumn("lgrams", lgrams_expr(cfg.substring_min_tokens))
        .select("id", F.explode("lgrams").alias("lgram"))
        .select("id", portable_hash60("lgram").alias("gh"))
    )


def substring_dup_pairs(pages: DataFrame, cfg: DedupConfig, id_col: str = "url") -> DataFrame:
    """(id_a, id_b, n_shared_grams) for docs sharing >= 1 L-gram.

    Same join shape — and the same boilerplate-gram skew hazard — as the
    LSH band join (a 16-token legal footer shared by m pages is one gram
    key with m members = m^2/2 pairs in one task), so it routes through
    the identical salted_pair_join machinery."""
    from lasvdedup_spark.operators.pairs import salted_pair_join

    g = lgram_hashes(pages, cfg, id_col)
    return salted_pair_join(
        g,
        "gh",
        cfg.salt_buckets,
        cfg.skew_bucket_cutoff,
        count_alias="n_shared_grams",
    )


def _lcs_tokens_kernel(a, b) -> int:
    """Longest common token span via binary search on the span length with
    a rolling-hash L-gram table + exact slice verification on hash hits:
    O((n+m) log min(n,m)) time, O(n+m) memory. (The naive
    sorted(range(n), key=lambda i: seq[i:]) suffix sort materializes O(n^2)
    slice keys — quadratic MEMORY per pair, fatal for long documents even
    though this kernel only ever sees candidate pairs.) Property-tested
    against a naive DP oracle (tests/test_composition.py) and against a
    brute-force all-substrings SQL join (substring_span_lengths oracle)."""
    if len(a) == 0 or len(b) == 0:  # Arrow hands numpy arrays, not lists
        return 0
    # token -> small int so slice comparisons are int comparisons
    vocab: dict = {}

    def enc(seq):
        out = []
        for t in seq:
            v = vocab.get(t)
            if v is None:
                v = len(vocab)
                vocab[t] = v
            out.append(v)
        return out

    ea, eb = enc(a), enc(b)
    MOD = (1 << 61) - 1
    BASE = 1_000_003

    def grams(seq, L):
        # rolling polynomial hash of every L-token window
        pw = pow(BASE, L, MOD)
        h = 0
        for i, v in enumerate(seq):
            h = (h * BASE + v + 1) % MOD
            if i >= L:
                h = (h - (seq[i - L] + 1) * pw) % MOD
            if i >= L - 1:
                yield h, i - L + 1

    def has_common(L: int) -> bool:
        table: dict = {}
        for h, i in grams(ea, L):
            table.setdefault(h, []).append(i)
        for h, j in grams(eb, L):
            for i in table.get(h, ()):
                if ea[i : i + L] == eb[j : j + L]:  # collision guard
                    return True
        return False

    lo, hi = 0, min(len(ea), len(eb))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if has_common(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def span_lengths(
    pages: DataFrame,
    pairs: DataFrame,
    id_col: str = "url",
    num_partitions: int | None = None,
) -> DataFrame:
    """For each candidate pair, the exact longest common token-span length.

    mapInPandas over a hash-repartition of the enriched candidate rows
    (both token arrays joined in beforehand, so the Python worker never
    sees the corpus — only candidate rows). Two scale properties the
    round-2 fixed-64-bucket applyInPandas lacked:

      * parallelism = num_partitions (default: the session's
        spark.sql.shuffle.partitions), not a hard-coded 64 — at 100x the
        candidate volume the fan-out follows the cluster, tunable without
        code change;
      * peak Python memory is bounded by the ARROW BATCH
        (spark.sql.execution.arrow.maxRecordsPerBatch), not by the whole
        hash group: applyInPandas materializes each group as one pandas
        frame (pairs/64 x two token arrays per worker), mapInPandas streams
        batches through the same kernel.
    """
    toks = pages.select(
        F.col(id_col).alias("id"), tokens_expr("text").alias("tokens")
    )
    enriched = (
        pairs.select("id_a", "id_b")
        .join(toks.select(F.col("id").alias("id_a"), F.col("tokens").alias("toks_a")), "id_a")
        .join(toks.select(F.col("id").alias("id_b"), F.col("tokens").alias("toks_b")), "id_b")
    )
    if num_partitions is None:
        n = int(
            pages.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    else:
        n = num_partitions
    enriched = enriched.repartition(n, "id_a", "id_b")

    def compute(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "span_len": [
                        _lcs_tokens_kernel(ta, tb)
                        for ta, tb in zip(pdf["toks_a"], pdf["toks_b"])
                    ],
                }
            )

    return enriched.mapInPandas(
        compute, schema="id_a string, id_b string, span_len int"
    )
