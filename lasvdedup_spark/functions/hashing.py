"""Portable hash expression builders (Spark Column side).

The reference outsources all content hashing to external alignment tools;
here hashing IS the engine, so it must be (a) fast — JVM-side, inside
whole-stage codegen — and (b) reproducible in a second engine for the
correctness oracle.

Portable family: ``bigint(conv(substr(md5(s), 1, N), 16, 10))``.
  * N=15 -> 60-bit non-negative hash (general purpose, simhash bit source)
  * N=7  -> 28-bit hash (minhash input: keeps a*h+b < 2^60, see config.py)
DuckDB spells the same thing ``('0x' || substr(md5(s),1,N))::BIGINT`` —
verified bit-identical (see tests/test_hashing.py).

Production family: xxhash64 (Spark built-in, ~10x faster than md5) — same
call shapes, not oracle-checkable. Selected by DedupConfig.hash_family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lasvdedup_spark.config import MINHASH_PRIME, DedupConfig


def portable_hash60(col: Column | str) -> Column:
    """60-bit non-negative portable hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash28_sql(expr: str) -> str:
    """SQL-fragment form of the 28-bit hash, for use inside lambda exprs."""
    return f"cast(conv(substr(md5({expr}),1,7),16,10) as bigint)"


def shingle_hash_sql(cfg: DedupConfig, expr: str) -> str:
    """Hash fragment applied to each shingle string (inside transform())."""
    if cfg.hash_family == "md5":
        return portable_hash28_sql(expr)
    # xxhash64 is signed; fold into the same non-negative 28-bit range so the
    # minhash overflow guarantee (a*h+b < 2^60) still holds.
    return f"pmod(xxhash64({expr}), 268435456)"


def minhash_sig_expr(cfg: DedupConfig, shingles_col: str = "shingles") -> Column:
    """MinHash signature as array<int>, fully JVM-side.

    sig[j] = min over shingles s of (a_j * h28(s) + b_j) mod P — computed as
    a single fold:

        aggregate(hashed_shingles, [P]*num_perms,
                  (acc, h) -> zip_with(acc, perms, least(acc_j, affine_j(h))))

    WHY a fold and not the naive transform(perms, p -> array_min(transform(
    shingles, s -> ...))): the naive form evaluates the md5 shingle hash
    inside the per-permutation lambda — num_perms x the hashing work — and
    factoring the hash into its own projection does NOT survive Catalyst
    (CollapseProject inlines single-use aliases back into the lambda; the
    whole tokenize->shingle->hash chain then re-executes per permutation —
    measured 44s vs 6s for 5k docs at sf0.1). An aggregate's INPUT argument,
    by contrast, is evaluated exactly once per row no matter how the plan
    collapses, so the hash cost is structurally once-per-shingle.

    pmod values lie in [0, P), so P is the fold's +infinity; the result is
    element-wise identical to the naive min.

    Replaces the reference's PhyloDM Rust distance kernel
    (/root/reference/lasvdedup/utils/distance_matrix.py:15) as the
    "vectorized native compute" — Catalyst higher-order functions inside
    whole-stage codegen, no Python worker hop at all.
    """
    h = shingle_hash_sql(cfg, "s")
    return minhash_sig_from_hashes_expr(cfg, f"transform({shingles_col}, s -> {h})")


# NOTE on an optimization that BACKFIRED (kept as a warning): replacing
# pmod(x, P) with Mersenne bit-folding ((x&P)+(x>>31), twice, + conditional
# subtract) is value-identical but 10x SLOWER here — SQL lambdas have no
# let-binding, so the folded expression repeats `x` twelve times textually
# and codegen does not CSE inside lambda bodies. int64 division is cheap
# relative to that expansion. Measured: 17s (pmod) vs 172s (fold) for the
# signature stage at expand=100/concat=8 on local[16].


def fast_shingle_hashes_expr(cfg: DedupConfig, tokens_col: str = "tokens") -> Column:
    """28-bit shingle hashes WITHOUT building shingle strings — production
    xxhash64 family only. Each token is hashed ONCE; a window's hash is the
    position-weighted multiply-add of its k token hashes (mod 2^28, so the
    minhash overflow bound a*h+b < 2^60 still holds: terms < 2^28 * 2^28 * k
    < 2^58 inside the sum).

    Two structural tricks:
      * let-binding via single-element array: transform(array(TH), th ->
        ...) evaluates the token-hash array exactly once per row; a plain
        column alias would be re-inlined into the window lambda by
        CollapseProject, recomputing the whole array per shingle position
        (the round-1 44s-vs-6s trap, see minhash_sig_expr).
      * try_element_at + coalesce(…, 0): docs shorter than k still produce
        one well-defined shingle hash (ANSI element_at would throw on the
        out-of-range positions).

    vs the string path (concat_ws over slice per window): no per-shingle
    string allocation (~25 bytes x 4x token volume of transient garbage).
    MinHash's min() is duplicate-insensitive, so the distinct pass the
    string path needs for its shingle SET is skipped too.
    """
    k = cfg.shingle_k
    M = 1 << 28
    mults = [pow(31, k - 1 - j, M) for j in range(k)]
    th_expr = f"transform({tokens_col}, t -> pmod(xxhash64(t), {M}))"
    combine = " + ".join(
        f"coalesce(try_element_at(th, i + {j + 1}), 0L) * {mults[j]}L"
        for j in range(k)
    )
    return F.expr(
        f"element_at(transform(array({th_expr}), th -> "
        f"  transform(sequence(0, greatest(size({tokens_col}) - {k}, 0)), "
        f"    i -> pmod({combine}, {M}))), 1)"
    )


def fast_lgram_hashes_expr(length: int, tokens_col: str = "tokens") -> Column:
    """Distinct 62-bit L-gram hashes WITHOUT building gram strings —
    production xxhash64 family for the substring tier (the md5 path hashes
    ``concat_ws`` gram strings, which is both ~L× token volume of transient
    string garbage and the JCA provider lock, see BENCH.md).

    Construction: each token is hashed TWICE (xxhash64 with two different
    salts, folded to 31 bits); a window's hash is, per family, the
    position-weighted multiply-add of its L token hashes mod 2^31, and the
    final key concatenates the two independent 31-bit combines into one
    62-bit value (h1 * 2^31 + h2). A collision therefore requires BOTH
    families to collide simultaneously — 62-bit effective space, matching
    the md5 path's 60-bit keys, while every intermediate stays inside
    int64: term = th(<2^31) * mult(<2^31) < 2^62, pmod'd per term before
    the <= 16-term sum (< 2^36).

    Same structural tricks as fast_shingle_hashes_expr: single-element
    array let-binding (CollapseProject-proof) and try_element_at+coalesce
    so docs shorter than L still produce one well-defined gram hash.
    Output is array_distinct'ed (one row per distinct gram per doc, like
    the md5 path's distinct gram strings).
    """
    M = 1 << 31
    m1 = [pow(31, length - 1 - j, M) for j in range(length)]
    m2 = [pow(1_000_003, length - 1 - j, M) for j in range(length)]
    th1 = f"transform({tokens_col}, t -> pmod(xxhash64(t), {M}L))"
    th2 = f"transform({tokens_col}, t -> pmod(xxhash64(t, 7), {M}L))"
    c1 = " + ".join(
        f"pmod(coalesce(try_element_at(th.h1, i + {j + 1}), 0L) * {m1[j]}L, {M}L)"
        for j in range(length)
    )
    c2 = " + ".join(
        f"pmod(coalesce(try_element_at(th.h2, i + {j + 1}), 0L) * {m2[j]}L, {M}L)"
        for j in range(length)
    )
    return F.expr(
        f"element_at(transform(array(struct({th1} as h1, {th2} as h2)), th -> "
        f"  array_distinct(transform("
        f"    sequence(0, greatest(size({tokens_col}) - {length}, 0)), "
        f"    i -> pmod({c1}, {M}L) * {M}L + pmod({c2}, {M}L)))), 1)"
    )


def minhash_sig_from_hashes_expr(
    cfg: DedupConfig, hashes_col: str = "sh_hashes"
) -> Column:
    """Signature fold over already-hashed shingles: ``hashes_col`` is an
    array<bigint> column or SQL expression. minhash_sig_expr passes its
    hashing transform() here, so it stays the aggregate's input (evaluated
    once per row; see minhash_sig_expr)."""
    perms = ", ".join(f"struct({a}L as a, {b}L as b)" for a, b in cfg.permutations)
    # finish lambda narrows to array<int>: every value is < 2^31-1 (pmod by
    # the Mersenne prime), and signatures are the widest column shuffled by
    # the verify join — int32 halves that shuffle's bytes at zero cost.
    return F.expr(
        f"aggregate({hashes_col}, "
        f"  array_repeat({MINHASH_PRIME}L, {cfg.num_perms}), "
        f"  (acc, h) -> zip_with(acc, array({perms}), "
        f"    (m, p) -> least(m, pmod(p.a * h + p.b, {MINHASH_PRIME}))), "
        f"  acc -> transform(acc, x -> cast(x as int)))"
    )


def band_keys_expr(cfg: DedupConfig, sig_col: str = "sig") -> Column:
    """LSH band bucket keys as array<bigint>: hash of 'band_id:csv(rows)'.

    Banding b x r: two docs collide iff some band's r signature rows are all
    equal — the standard S-curve with threshold ~ (1/b)^(1/r).

    The bucket is the HASH of the band string, not the string itself: the
    band self-join shuffles one row per (doc, band), and hashing/comparing
    ~50-char strings dominates that shuffle at scale; int64 keys are several
    times cheaper. Hash collisions merely create spurious candidate pairs
    that the signature-jaccard verify filters — and under the md5 family the
    oracle applies the identical hash, so even collisions replicate exactly
    across engines."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    if cfg.hash_family == "md5":
        # string form is what the DuckDB oracle can replicate byte-for-byte
        band_str = (
            f"concat(cast(i as string), ':', "
            f"concat_ws(',', slice({sig_col}, i*{r}+1, {r})))"
        )
        key = f"cast(conv(substr(md5({band_str}),1,15),16,10) as bigint)"
    else:
        # production: hash (band_id, rows-slice) directly — xxhash64 takes
        # the array argument natively, no per-band string building
        key = f"xxhash64(i, slice({sig_col}, i*{r}+1, {r}))"
    return F.expr(f"transform(sequence(0, {b - 1}), i -> {key})")


def sig_jaccard_expr(a: str = "sig_a", b: str = "sig_b") -> Column:
    """Estimated Jaccard from two MinHash signatures: fraction of agreeing
    positions. This is the graft's pairwise-distance replacement (distance =
    1 - jaccard) for the reference's patristic distance
    (/root/reference/lasvdedup/utils/distance_matrix.py:35-43)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> if(x = y, 1, 0)), "
        f"0, (acc, v) -> acc + v) / size({a})"
    ).cast("double")

