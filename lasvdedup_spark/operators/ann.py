"""Similarity search over embedding columns (array<float>).

Not in the reference (its similarity space is phylogenetic distance); this is
the embedding-cosine near-dup / ANN family a training-data pipeline needs
(task brief), built the same two-tier way as the text dedup:

  * brute-force top-k cosine — the exactness baseline (quadratic; fine for
    a bounded query set, never for all-pairs at scale);
  * random-hyperplane LSH (SimHash-for-vectors, Charikar'02) — deterministic
    sign planes derived from md5 parity, so buckets are portable to the
    DuckDB oracle exactly like the text hashes.

Cosine is computed JVM-side with higher-order functions (zip_with +
aggregate), summing in array order so both engines produce bit-identical
doubles before the defensive rounding.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def plane_signs(n_planes: int, dim: int, seed: str = "ann") -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix from md5 parity — shared verbatim
    by the Spark exprs and the DuckDB oracle SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            row.append(1 if int(h[:2], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def plane_tables(
    n_tables: int, n_planes: int, dim: int, seed: str = "ann"
) -> list[list[list[int]]]:
    """B independent banding tables of P planes each — the vector analog of
    MinHash's b×r banding. One table of P planes partitions space into 2^P
    fixed buckets, so within-bucket candidates grow ~n²/2^P (quadratic at
    scale); B smaller tables keep buckets selective while the OR over
    tables keeps recall (candidate iff colliding in ANY table)."""
    return [plane_signs(n_planes, dim, f"{seed}:t{t}") for t in range(n_tables)]


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-to-right double dot product of two array columns."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


def cosine_expr(a: str, b: str):
    return F.expr(f"{_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)})")


def knn_bruteforce(
    queries: DataFrame,   # (qid, qvec)
    targets: DataFrame,   # (tid, tvec)
    k: int,
) -> DataFrame:
    """Exact top-k cosine per query. The query side is expected small
    (broadcast); targets stream through — one pass, no shuffle of targets.
    -> (qid, tid, pos, score)."""
    j = targets.crossJoin(F.broadcast(queries))
    scored = j.withColumn("score", cosine_expr("qvec", "tvec"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("tid"))
    return (
        scored.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select("qid", "tid", F.col("pos").cast("long").alias("pos"),
                F.round("score", 6).alias("score"))
    )


def hyperplane_bucket_expr(planes: list[list[int]], vec_col: str = "embedding"):
    """Bucket id = bits of sign(plane . vec), bit p worth 2^p.

    Each plane's signs live in ONE constant array literal and the dot is a
    zip_with + aggregate loop (same left-to-right double summation as the
    oracle's textual sum, so the sign decisions agree bit-for-bit: the
    only difference is the leading 0.0 + x0, exact in IEEE). The earlier
    textually-unrolled form emitted dim x planes element_at terms into a
    single generated method — past ~2k terms janino aborts with "Code
    grows beyond 64 KB" and the whole stage silently falls back to
    interpreted evaluation.

    The expression is assembled as ONE SQL string parsed by a single
    F.expr call: the Column-API form (a Python loop of F.lit(array) +
    zip_with/aggregate lambdas) costs ~30 ms of py4j round-trips PER
    plane-literal — ~3 s of driver time for 4x8 planes at ANY data scale,
    which dominated the whole ann bench query. Parsing the equivalent
    ~10 KB SQL text server-side is one call and milliseconds; the parsed
    plan (and therefore the float summation order and every sign
    decision) is identical."""
    if not planes:
        # zero planes = one bucket; without the guard the SQL assembly
        # below emits malformed 'CAST( AS BIGINT)' and throws at parse
        return F.lit(0).cast("long")
    terms = []
    for p, row in enumerate(planes):
        # repr() keeps full double precision — '%.1f' silently truncated
        # any non-integral plane weight a caller might pass, changing
        # buckets vs the Column-API form this string claims to replicate
        arr = ",".join(f"{float(s)!r}D" for s in row)
        dot = (
            f"aggregate(zip_with(`{vec_col}`, array({arr}), "
            f"(x, s) -> CAST(x AS DOUBLE) * s), "
            f"CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        )
        terms.append(f"(CASE WHEN {dot} > CAST(0.0 AS DOUBLE) THEN {1 << p}L ELSE 0L END)")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def ann_buckets(vectors: DataFrame, planes: list[list[int]],
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return vectors.select(
        F.col(id_col).alias("id"),
        hyperplane_bucket_expr(planes, vec_col).alias("bucket"),
    )


def _as_tables(planes_or_tables) -> list[list[list[int]]]:
    """Accept a single plane table (list of ±1 rows) or a list of tables."""
    if planes_or_tables and isinstance(planes_or_tables[0][0], list):
        return planes_or_tables
    return [planes_or_tables]


def ann_buckets_multi(
    vectors: DataFrame,
    tables: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) — one row per (vector, table); bucket id spaces are
    disjoint across tables (bucket = t * 2^P + table_bucket), so downstream
    pair generation is a single equi-join on one int64 key. One pass over
    the vectors, all JVM-side."""
    n_planes = len(tables[0])
    entries = F.array(
        *[
            (
                hyperplane_bucket_expr(planes, vec_col)
                + F.lit(t * (1 << n_planes)).cast("long")
            ).alias(f"t{t}")
            for t, planes in enumerate(tables)
        ]
    )
    return vectors.select(
        F.col(id_col).alias("id"), F.explode(entries).alias("bucket")
    )


def cosine_dup_pairs(
    vectors: DataFrame,
    planes: list[list[int]] | list[list[list[int]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_buckets: int = 8,
    skew_cutoff: int = 1024,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: unordered pairs that collide
    in ANY banding table's bucket AND score cosine >= threshold (inclusive,
    same convention as the text tiers). The embedding analog of
    minhash_dup_pairs — same structure too: multi-table banding for recall,
    salted bucket join for skew, verify on the candidate set only. The
    wide vector columns join in AFTER pair dedup, so vectors are never
    shuffled through the bucket join. -> (id_a, id_b, cosine)."""
    from lasvdedup_spark.operators.pairs import capped_by_key, salted_pair_join

    tables = _as_tables(planes)
    b = capped_by_key(
        ann_buckets_multi(vectors, tables, id_col, vec_col), "bucket", max_bucket_size
    )
    cand = salted_pair_join(b, "bucket", salt_buckets, skew_cutoff, "n_tables")
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    va = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_expr("vec_a", "vec_b"))
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def ivf_centroids(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic seed centroids: the n lowest-id vectors (a
    TakeOrderedAndProject — no full sort). A production deployment would
    Lloyd-iterate these seeds; the INDEX STRUCTURE (inverted lists, probe
    search, broadcast centroid table) is the Spark-side deliverable, and
    seeded centroids keep every downstream row oracle-checkable.
    -> (cid, cvec)."""
    return (
        vectors.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )


# Max |embedding component| the Lloyd fixed-point mean tolerates: scaled by
# 2^30 and summed as int64 per cluster, 100 * 2^30 * 8e7 rows ~ 2^62.9.
LLOYD_MAX_ABS = 100.0


def ivf_lloyd_centroids(
    vectors: DataFrame,
    n_centroids: int,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd refinement of the seeded centroids: n_iters
    rounds of (assign every vector to its nearest centroid, recentre each
    centroid at the element-wise mean of its list). Everything that could
    break determinism is pinned: seeds are the n lowest-id vectors,
    assignment ties break by cid ascending (ivf_assign's window), the mean
    accumulates in FIXED-POINT int64 (values scaled by 2^30, summed as
    longs — integer addition is associative, so the partial-aggregate
    merge order Spark picks per partitioning cannot change the result;
    a float64 F.avg here would drift in final ULPs across shuffle
    layouts), and an emptied centroid keeps its previous position instead
    of being resampled. So the same input always trains BIT-IDENTICAL
    centroids on any partitioning — the same property the minhash
    permutation seeding guarantees (config.py:30-43). Fixed-point bounds:
    |component| * 2^30 per row, summed per cluster — safe to |v|~100 at
    ~8e7 vectors per cluster; ANSI mode makes an overflow loud, never a
    silent wrap. Resolution 2^-30 ~ 1e-9 per component, far below any
    assignment decision boundary of interest.

    Shuffle shape per round: the narrow (cid, pos, val) explode —
    n_vectors * dim rows of 3 scalar columns — aggregated by (cid, pos)
    with map-side partial averages; the wide vector column itself never
    shuffles. Driver loop of n_iters (1-2 in practice) eager-checkpointed
    rounds, mirroring the CC fixpoint pattern (components.py).
    -> (cid, cvec: array<double>)."""
    # Fixed-point range guard: the int64 accumulator is safe only while
    # sum(|component|) * 2^30 per (cluster, position) stays < 2^63 — i.e.
    # |component| <= LLOYD_MAX_ABS at up to ~8e7 member vectors per
    # cluster. Checked HERE, loudly, instead of relying on the session's
    # ANSI setting to surface a wrap mid-aggregation (round-3 advice: the
    # bound was config-silent). One cheap narrow agg over the input.
    row = vectors.select(
        F.max(
            F.expr(
                f"aggregate(transform({vec_col}, x -> abs(cast(x as double))), "
                f"cast(0 as double), (a, b) -> greatest(a, b))"
            )
        ).alias("m")
    ).collect()[0]
    max_abs = row["m"] or 0.0
    if max_abs > LLOYD_MAX_ABS:
        raise ValueError(
            f"ivf_lloyd_centroids: embedding magnitude {max_abs:g} exceeds "
            f"the fixed-point accumulator bound ({LLOYD_MAX_ABS:g}); "
            f"normalize the vectors (e.g. unit-norm) before training"
        )
    cents = ivf_centroids(vectors, n_centroids, id_col, vec_col).select(
        "cid", F.expr("transform(cvec, x -> cast(x as double))").alias("cvec")
    )
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    for _ in range(n_iters):
        assign = ivf_assign(vectors, cents, 1, id_col, vec_col).select("id", "cid")
        means = (
            assign.join(v, "id")
            .select("cid", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("val") * F.lit(float(1 << 30))).cast("long"))
                    .cast("double")
                    / F.count("*")
                    / F.lit(float(1 << 30))
                ).alias("m")
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cid",
                F.expr("transform(pm, x -> cast(x.m as double))").alias("new_cvec"),
            )
        )
        cents = (
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce("new_cvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its n_probe nearest centroid lists (n_probe=1
    = the inverted-file insert side; n_probe>1 = the query/probe side).
    Centroids broadcast (tiny); the cross product is n_vectors x
    n_centroids rows of narrow (id, cid, score) — the wide vector column
    never shuffles. -> (id, cid, probe_rank)."""
    c = centroids.select("cid", "cvec")
    j = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).crossJoin(
        F.broadcast(c)
    )
    scored = j.select(
        "id", "cid", cosine_expr("vec", "cvec").alias("score")
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= n_probe)
        .select("id", "cid", F.col("probe_rank").cast("long").alias("probe_rank"))
    )


def ivf_topk(
    vectors: DataFrame,
    n_centroids: int,
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 0,
    salt_buckets: int = 8,
    skew_cutoff: int = 1024,
) -> DataFrame:
    """IVF-flat approximate top-k self-search: every vector is indexed in
    its nearest centroid's list; each query probes its n_probe nearest
    lists and scores only those candidates. The equi-join on cid replaces
    the brute-force cross join — candidates/query ~ n_probe * n / K.
    lloyd_iters > 0 trains the centroids first (deterministic Lloyd,
    production path — recall at equal n_probe only improves when lists
    follow the data); 0 keeps the raw seeds the DuckDB oracle replicates.
    -> (qid, tid, pos, score)."""
    if lloyd_iters > 0:
        cents = ivf_lloyd_centroids(
            vectors, n_centroids, lloyd_iters, id_col, vec_col
        )
    else:
        cents = ivf_centroids(vectors, n_centroids, id_col, vec_col)
    index = ivf_assign(vectors, cents, 1, id_col, vec_col).select(
        F.col("id").alias("tid"), "cid"
    )
    probes = ivf_assign(vectors, cents, n_probe, id_col, vec_col).select(
        F.col("id").alias("qid"), "cid"
    )
    # Salted probe-vs-list join: clustered data makes hot inverted lists by
    # construction (that is what Lloyd optimizes for) — an unsalted join on
    # cid lands a hot list's |list| x |probes| pair space in the tasks
    # keyed by that cid. salted_cross_join spreads each over-cutoff list
    # over the salt buckets (probes replicate, list members keep one salt).
    # dedup=False: each target lives in exactly ONE list (index is
    # n_probe=1), so a (qid, tid) pair can only arise via that single cid —
    # the pair groupBy would be a full extra exchange deduplicating nothing.
    from lasvdedup_spark.operators.pairs import salted_cross_join

    cand = salted_cross_join(
        probes.select(F.col("qid").alias("id"), "cid"),
        index.select(F.col("tid").alias("id"), "cid"),
        "cid",
        salt_buckets,
        skew_cutoff,
        out_left="qid",
        out_right="tid",
        dedup=False,
    ).where(F.col("qid") != F.col("tid"))
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    scored = (
        cand.join(v.select(F.col("id").alias("qid"), F.col("vec").alias("qvec")), "qid")
        .join(v.select(F.col("id").alias("tid"), F.col("vec").alias("tvec")), "tid")
        .withColumn("score", cosine_expr("qvec", "tvec"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("tid"))
    return (
        scored.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select("qid", "tid", F.col("pos").cast("long").alias("pos"),
                F.round("score", 6).alias("score"))
    )


def ann_lsh_topk(
    vectors: DataFrame,
    planes: list[list[int]] | list[list[list[int]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    salt_buckets: int = 8,
    skew_cutoff: int = 1024,
) -> DataFrame:
    """Approximate top-k neighbors per vector among candidates colliding in
    ANY banding table (OR over tables = the recall knob; bucket cap = the
    worst-case cost knob). Candidates are deduped on the narrow (qid, tid)
    pairs BEFORE the wide vectors join in for scoring.

    Pair generation routes through the shared salted_pair_join (a
    boilerplate hyperplane bucket of m near-identical vectors otherwise
    enumerates its m^2 directional candidates in the tasks keyed by that
    bucket — the same hazard class every dedup tier salts); the top-k
    window needs BOTH orientations of each pair, so the unordered pairs
    are expanded with a union of the swap afterwards. Collision counts
    are orientation-symmetric, so the expansion is exact."""
    from lasvdedup_spark.operators.pairs import capped_by_key, salted_pair_join

    tables = _as_tables(planes)
    b = capped_by_key(
        ann_buckets_multi(vectors, tables, id_col, vec_col), "bucket", max_bucket_size
    )

    # lazy checkpoint: the orientation expansion references the unordered
    # pairs twice; without it the whole salted-join subtree executes twice
    und = salted_pair_join(
        b, "bucket", salt_buckets, skew_cutoff, count_alias="n_tables"
    ).localCheckpoint(eager=False)
    cand = und.select(
        F.col("id_a").alias("qid"), F.col("id_b").alias("tid"), "n_tables"
    ).unionByName(
        und.select(
            F.col("id_b").alias("qid"), F.col("id_a").alias("tid"), "n_tables"
        )
    )
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    scored = (
        cand.join(v.select(F.col("id").alias("qid"), F.col("vec").alias("qvec")), "qid")
        .join(v.select(F.col("id").alias("tid"), F.col("vec").alias("tvec")), "tid")
        .withColumn("score", cosine_expr("qvec", "tvec"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("tid"))
    return (
        scored.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= k)
        .select("qid", "tid", F.col("pos").cast("long").alias("pos"),
                F.round("score", 6).alias("score"))
    )
