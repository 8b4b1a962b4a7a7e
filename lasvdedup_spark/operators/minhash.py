"""MinHash signatures + LSH band-bucket candidate generation + verification.

This replaces the reference's dense n x n distance matrix
(/root/reference/lasvdedup/utils/distance_matrix.py:10-20) — the O(n^2)
wall — with near-linear candidate generation: only pairs that collide in
some LSH band ever exist as rows.

Scale notes (the parts that matter at 10^12 docs):
  * signatures/bands are narrow projections — the wide html/text columns are
    pruned before any shuffle (column pruning does this, but we .select()
    explicitly so a future schema change can't regress it);
  * the band self-join shuffles on the band key; boilerplate mega-buckets are
    the skew hazard -> optional max_bucket_size cap (logged, deterministic
    keep-lowest-hash) + AQE skew-join as backstop;
  * candidate pairs are deduped with groupBy on (a,b) — one shuffle, map-side
    combinable — rather than distinct() on the full exploded row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.functions.hashing import (
    band_keys_expr,
    minhash_sig_expr,
    sig_jaccard_expr,
)
from lasvdedup_spark.functions.text import shingles_expr, tokens_expr


def signatures(pages: DataFrame, cfg: DedupConfig, id_col: str = "url") -> DataFrame:
    """(id, sig: array<int>) — one row per doc, JVM-side end to end.

    minhash_sig_expr is a collapse-proof aggregate fold: the shingle
    hashing runs once per shingle even after Catalyst merges all these
    projections into one (see functions/hashing.py for the full story —
    the naive nested-transform form pays num_perms x the hashing cost).

    The production family additionally skips shingle-STRING construction:
    token hashes combine arithmetically per window
    (fast_shingle_hashes_expr) — same signature semantics (min over the
    doc's shingle hashes), different hash family, no per-shingle string
    garbage. The md5 family keeps the string form the DuckDB oracle can
    replicate byte-for-byte."""
    base = pages.select(F.col(id_col).alias("id"), "text").withColumn(
        "tokens", tokens_expr("text")
    )
    if cfg.hash_family == "xxhash64":
        from lasvdedup_spark.functions.hashing import (
            fast_shingle_hashes_expr,
            minhash_sig_from_hashes_expr,
        )

        return base.withColumn(
            "sh_hashes", fast_shingle_hashes_expr(cfg)
        ).select("id", minhash_sig_from_hashes_expr(cfg).alias("sig"))
    return base.withColumn("shingles", shingles_expr(cfg.shingle_k)).select(
        "id", minhash_sig_expr(cfg).alias("sig")
    )


def band_buckets(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, bucket) — one row per (doc, band). bucket = int64 hash of the
    band's 'band_id:rows_csv' string (see band_keys_expr)."""
    return sigs.select(
        "id", F.explode(band_keys_expr(cfg, "sig")).alias("bucket")
    )


def capped_buckets(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Optionally cap bucket size (skew control). Deterministic: keep the
    max_bucket_size lowest-(xxhash64(id, bucket), id) rows per bucket — a
    uniform sample, selected WITHOUT a single-task sort of the mega-bucket
    (see pairs.capped_by_key for the distributed threshold selection).
    Dropped rows are *counted* into the returned DataFrame's companion
    metric (see pipeline.py) — never silently truncated."""
    from lasvdedup_spark.operators.pairs import capped_by_key

    return capped_by_key(buckets, "bucket", cfg.max_bucket_size)


def candidate_pairs(buckets: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct unordered candidate pairs (id_a < id_b, n_bands) from band
    collisions, with explicit salting of skewed buckets (the north rule's
    "salted band-bucket joins to kill skew"). Delegates to the shared
    salted_pair_join (operators/pairs.py) — fully lazy: no job runs at
    plan-composition time, so the operator composes onto streaming
    DataFrames and StageRunner's pass-through mode stays pure."""
    from lasvdedup_spark.operators.pairs import salted_pair_join

    return salted_pair_join(
        buckets,
        "bucket",
        cfg.salt_buckets,
        cfg.skew_bucket_cutoff,
        count_alias="n_bands",
    )


def verified_pairs(
    pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """Attach signature-estimated Jaccard and filter >= threshold (inclusive,
    matching the reference's <= on distance, sequence_grouping.py:51-53).

    Two hash joins against the narrow sigs table; Catalyst broadcasts when
    sigs is small, shuffles when not — no hint needed, AQE decides from
    runtime stats.
    """
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", sig_jaccard_expr("sig_a", "sig_b"))
        .where(F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    pairs: DataFrame,
    shingle_sets: DataFrame,
    threshold: float,
    id_col: str = "id",
    set_col: str = "sh",
) -> DataFrame:
    """Asymmetric containment verify over candidate pairs:
    c_a = |A∩B| / |A| (how much of A lies inside B), c_b = |A∩B| / |B|.
    Keeps pairs where EITHER direction >= threshold (inclusive).

    Symmetric Jaccard misses subset duplication — a page quoted wholesale
    inside a longer page scores J = |A|/|B| (small for |B| >> |A|) but
    c_a = 1.0. Containment is the standard web-dedup signal for
    quote/boilerplate/subset dups (Broder's containment sketches).

    Same scale shape as verified_pairs: candidates come from LSH banding
    (never all-pairs), the shingle-set table joins in per side (AQE
    broadcasts when small), and the set ops are JVM built-ins
    (array_intersect/size) — no UDF. Empty shingle sets are excluded
    before the division (containment is undefined for an empty doc).
    -> (id_a, id_b, containment_a, containment_b)."""
    a = shingle_sets.select(
        F.col(id_col).alias("id_a"), F.col(set_col).alias("_sh_a")
    )
    b = shingle_sets.select(
        F.col(id_col).alias("id_b"), F.col(set_col).alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where((F.size("_sh_a") > 0) & (F.size("_sh_b") > 0))
        .withColumn("containment_a", inter / F.size("_sh_a"))
        .withColumn("containment_b", inter / F.size("_sh_b"))
        .where(
            F.greatest("containment_a", "containment_b") >= F.lit(threshold)
        )
        .select(
            "id_a",
            "id_b",
            F.round("containment_a", 6).alias("containment_a"),
            F.round("containment_b", 6).alias("containment_b"),
        )
    )


def shingle_sets(
    pages: DataFrame, cfg: DedupConfig, id_col: str = "url"
) -> DataFrame:
    """(id, sh) — each doc's DISTINCT shingle set, for exact set-overlap
    verification (containment / exact Jaccard). Family-matched to
    signatures(): the md5 family keeps string shingles (byte-portable to
    the DuckDB oracle), the production xxhash64 family uses the string-free
    28-bit arithmetic shingle hashes (array_distinct of
    fast_shingle_hashes_expr) — int arrays, no per-shingle string garbage;
    a 28-bit within-doc collision perturbs a containment estimate by
    ~1/|set|, noise at the 0.8-threshold scale."""
    base = pages.select(F.col(id_col).alias("id"), "text").withColumn(
        "tokens", tokens_expr("text")
    )
    if cfg.hash_family == "xxhash64":
        from lasvdedup_spark.functions.hashing import fast_shingle_hashes_expr

        return base.select(
            "id", F.array_distinct(fast_shingle_hashes_expr(cfg)).alias("sh")
        )
    return base.select("id", shingles_expr(cfg.shingle_k).alias("sh"))


def containment_dup_pairs(
    pages: DataFrame,
    cfg: DedupConfig,
    sigs: DataFrame,
    bands: DataFrame,
    id_col: str = "url",
) -> DataFrame:
    """End-to-end containment tier: pages -> subset-duplicate edges
    (id_a, id_b, containment_a, containment_b). LSH banding generates the
    candidates from the signatures/bands the minhash tier already built
    (``bands`` = capped_buckets(band_buckets(sigs, cfg), cfg)), then the
    asymmetric containment verify keeps pairs where EITHER direction >=
    cfg.containment_threshold. Catches a doc quoted wholesale inside a
    longer one, which symmetric Jaccard scores at only |A|/|B| (reference
    cascade-analog: the staged-filter ordering of
    /root/reference/lasvdedup/utils/sequence_grouping.py:209-254)."""
    cand = candidate_pairs(bands, cfg)
    return containment_pairs(
        cand, shingle_sets(pages, cfg, id_col), cfg.containment_threshold
    )


def minhash_dup_pairs(
    pages: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    eager: bool = False,
) -> DataFrame:
    """End-to-end: pages -> verified duplicate edges (id_a, id_b, jaccard).

    Signatures feed BOTH the band side and the verify side, and Spark has
    no cross-subtree common-subexpression reuse — an un-materialized sigs
    subtree executes twice per action.

    eager=True materializes the signatures NOW (localCheckpoint): the band
    side and both verify joins are SIBLING stages of the same downstream
    job, so without materialization each computes the full signature
    subtree (a lazy cache races — measured as 2x the signature map work in
    the scaling profile, BENCH.md round 3). Default False keeps the
    operator lazy — no Spark job at plan-composition time, so it composes
    onto streaming DataFrames and pure-plan callers; batch callers on hot
    paths (bench) opt in."""
    sigs = signatures(pages, cfg, id_col)
    if eager:
        sigs = sigs.localCheckpoint(eager=True)
    bkts = capped_buckets(band_buckets(sigs, cfg), cfg)
    cand = candidate_pairs(bkts, cfg)
    return verified_pairs(cand, sigs, cfg)
