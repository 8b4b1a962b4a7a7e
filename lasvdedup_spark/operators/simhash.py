"""SimHash tier — near-identical fast path.

60-bit SimHash (not 64: the portable md5-prefix hash gives 60 non-negative
bits that fit int64 in both Spark and DuckDB; see functions/hashing.py).

simhash(doc): bit j is 1 iff sum over distinct tokens t of
  w(t) * (+1 if bit j of h60(t) else -1) > 0,  w = in-doc term frequency
— computed as the equivalent per-INSTANCE sum (each occurrence contributes
its ±1, which totals w(t) * ±1), so no term-frequency grouping is needed.

Token hashing and the 60-counter fold are one pure-SQL aggregate
expression (exact integer counting, order-independent; zero Python in the
plan). Zero shuffle (the earlier explode -> groupBy(id, token)
formulation shuffled one row per token instance — measured 5x slower at
sf0.1 locally, and unboundedly worse at cluster scale); the whole
operator stays a pure projection, so it composes onto streaming
DataFrames.

Pairing uses the pigeonhole banding trick: split 60 bits into 4 x 15-bit
bands; any pair with hamming distance <= 3 must agree on at least one full
band, so a 4-way band equi-join finds ALL such pairs — never an n^2 scan.
(General rule: k+1 bands guarantee recall for hamming <= k.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.functions.text import tokens_expr

SIMHASH_BITS = 60
N_BANDS = 4          # guarantees recall for hamming <= 3
BAND_BITS = 15


def simhash(
    pages: DataFrame,
    id_col: str = "url",
    hash_family: str = "md5",
) -> DataFrame:
    """(id, simhash: bigint) — token hashes and counter fold JVM-side.

    hash_family picks the per-token 60-bit hash:
      * "md5" (default) — portable to the DuckDB oracle byte-for-byte; the
        oracle-parity queries pin it (entry_queries.CFG). Does NOT scale
        across executor threads in one JVM (JDK MessageDigest serializes
        on the JCA provider lock — measured flat ~20 s at 8 AND 32 cores,
        BENCH.md), so it is for correctness checking only.
      * "xxhash64" — production: native Spark expression, no lock, folded
        to the same non-negative 60-bit range so banding/Hamming code is
        family-agnostic. Different bits than md5, same near-dup semantics.

    Spark evaluates the fold's higher-order-function lambdas interpreted
    (CodegenFallback): ~60 lambda evals + one 60-long array allocation per
    token instance.
    """
    if hash_family == "xxhash64":
        h = f"pmod(xxhash64(t), {1 << SIMHASH_BITS}L)"
    else:
        h = "cast(conv(substr(md5(t),1,15),16,10) as bigint)"
    b = SIMHASH_BITS
    base = pages.select(
        F.col(id_col).alias("id"), tokens_expr("text").alias("tokens")
    )
    fold = (
        f"aggregate("
        f"  transform(tokens, t -> {h}), "
        f"  array_repeat(0L, {b}), "
        f"  (acc, h) -> transform(sequence(0, {b - 1}), "
        f"    j -> element_at(acc, j + 1) + if((shiftright(h, j) & 1) = 1, 1L, -1L)), "
        f"  acc -> aggregate(sequence(0, {b - 1}), 0L, "
        f"    (a, j) -> a + if(element_at(acc, j + 1) > 0, shiftleft(1L, j), 0L)))"
    )
    return base.select("id", F.expr(fold).alias("simhash"))


def simhash_bands(sh: DataFrame) -> DataFrame:
    """(id, simhash, band_id, band_val) — 4 rows per doc."""
    bands = F.explode(
        F.expr(
            f"transform(sequence(0, {N_BANDS - 1}), "
            f"  i -> struct(i as band_id, "
            f"       (shiftright(simhash, i * {BAND_BITS}) & {(1 << BAND_BITS) - 1}) as band_val))"
        )
    ).alias("band")
    return sh.select("id", "simhash", bands).select(
        "id", "simhash", "band.band_id", "band.band_val"
    )


def simhash_dup_pairs(
    pages: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
) -> DataFrame:
    """(id_a, id_b, hamming) for all pairs with hamming <= cfg.simhash_hamming.

    Exact (not approximate) for hamming <= 3 by the banding guarantee.
    Token hashing follows cfg.hash_family (md5 = oracle-portable,
    xxhash64 = production; see simhash()).

    Pair generation routes through the shared salted_pair_join on the
    combined (band_id << BAND_BITS) | band_val key — SimHash's skew hazard
    is WORSE than minhash's: a boilerplate cluster of m near-identical
    pages shares all 4 band values, so the naive band self-join puts
    4 * m^2/2 pair rows in four tasks. The salted join spreads each hot
    band key over cfg.salt_buckets tasks.

    Unlike minhash (64-int signatures -> candidates first, values joined
    back to verify), the simhash value is ONE int64, so it rides THROUGH
    the salted join (carry=) and the bit_count verify is a plain filter —
    no verify joins at all. Better yet, the carried fingerprints make the
    pair-dedup EXCHANGE unnecessary: a pair that collides in k of the 4
    bands would emit k duplicate rows, and the generic fix (groupBy on the
    pair) shuffles every candidate row — near-identical boilerplate
    clusters agree on ALL 4 bands, so that exchange carries ~4x the
    (already quadratic) matching-pair volume. Instead each joined row
    checks whether ITS band is the pair's FIRST agreeing band — derivable
    from simhash_a ^ simhash_b alone, since band values are literal
    fingerprint slices (no hashing), so band j collides iff the XOR's j-th
    15-bit slice is zero. Exactly one band passes per pair: a pure
    map-side filter replaces the full shuffle, and the whole operator is
    fold -> band explode -> salted join -> filter with ZERO pair-set
    exchanges (only the skew census + broadcast probes remain). Measured
    at sf0.1 x10 expansion (87.5M result pairs): the dedup exchange
    carried ~350M rows; the filter removes it outright.
    """
    if cfg.simhash_hamming > N_BANDS - 1:
        raise ValueError(
            f"simhash_hamming={cfg.simhash_hamming} exceeds the recall "
            f"guarantee of {N_BANDS} bands (max {N_BANDS - 1})"
        )
    from lasvdedup_spark.operators.pairs import salted_pair_join

    sh = simhash(pages, id_col, hash_family=cfg.hash_family)
    keyed = simhash_bands(sh).select(
        "id",
        (
            (F.col("band_id").cast("long") * F.lit(1 << BAND_BITS))
            + F.col("band_val")
        ).alias("band_key"),
        "simhash",
    )
    cand = salted_pair_join(
        keyed, "band_key", cfg.salt_buckets, cfg.skew_bucket_cutoff,
        carry="simhash", dedup=False,
    )
    mask = (1 << BAND_BITS) - 1
    x = F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    first_agree = F.when(x.bitwiseAND(F.lit(mask)) == 0, F.lit(0))
    for j in range(1, N_BANDS):
        first_agree = first_agree.when(
            F.shiftright(x, j * BAND_BITS).bitwiseAND(F.lit(mask)) == 0,
            F.lit(j),
        )
    # no otherwise(): a joined row's own band always agrees, so some WHEN
    # always fires; a null here would mean the join matched without band
    # agreement, which the filter below correctly drops
    return (
        cand.where(
            F.shiftright(F.col("band_key"), BAND_BITS)
            == first_agree.cast("long")
        )
        .withColumn("hamming", F.expr("bit_count(simhash_a ^ simhash_b)"))
        .where(F.col("hamming") <= F.lit(cfg.simhash_hamming))
        .select("id_a", "id_b", "hamming")
    )
