"""ANN multi-table banding: recall vs brute force, multi-table semantics,
bucket-cap determinism. (Single-table parity vs DuckDB lives in
test_oracle_parity.py; these tests pin the SCALE path's quality.)"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.operators.ann import (
    ann_buckets_multi,
    cosine_dup_pairs,
    knn_bruteforce,
    plane_tables,
)
from lasvdedup_spark.operators.pairs import capped_by_key

DIM = 32


@pytest.fixture(scope="module")
def planted(spark):
    """200 quasi-orthogonal base vectors + 60 perturbed near-dups
    (cosine ~0.98 to their base). Deterministic seed."""
    rng = np.random.default_rng(42)
    base = rng.standard_normal((200, DIM))
    rows = [(i, base[i].tolist()) for i in range(200)]
    for j in range(60):
        src = j * 3  # every 3rd base vector gets a near-dup
        noise = rng.standard_normal(DIM)
        noise *= 0.2 * np.linalg.norm(base[src]) / np.linalg.norm(noise)
        rows.append((1000 + j, (base[src] + noise).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def _brute_pairs(spark, vectors, threshold):
    v = vectors.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    from lasvdedup_spark.operators.ann import cosine_expr

    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("va", "vb"))
        .where(F.col("cosine") >= threshold)
    )


def test_cosine_dup_recall_vs_bruteforce(spark, planted):
    """The multi-table scale path must recover >= 0.95 of all true pairs at
    cosine >= 0.9 — the config (8 tables x 6 planes) is one where a SINGLE
    6-plane table would both miss pairs (p ~ 0.67 per pair) and degrade to
    ~n^2/64 within-bucket candidates at scale."""
    truth = {
        (r["id_a"], r["id_b"]) for r in _brute_pairs(spark, planted, 0.9).collect()
    }
    assert len(truth) >= 50  # the planted near-dups are really there
    tables = plane_tables(8, 6, DIM)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_dup_pairs(planted, tables, threshold=0.9).collect()
    }
    assert got <= truth  # verify step guarantees precision 1.0
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 ({len(got)}/{len(truth)})"


def test_multi_table_is_union_of_tables(spark, planted):
    """Pairs from the multi-table path == union over single-table runs."""
    tables = plane_tables(3, 4, DIM)
    multi = {
        (r["id_a"], r["id_b"])
        for r in cosine_dup_pairs(planted, tables, threshold=0.5).collect()
    }
    single = set()
    for t in tables:
        single |= {
            (r["id_a"], r["id_b"])
            for r in cosine_dup_pairs(planted, t, threshold=0.5).collect()
        }
    assert multi == single


def test_bucket_ids_disjoint_across_tables(spark, planted):
    tables = plane_tables(3, 4, DIM)
    b = ann_buckets_multi(planted, tables)
    # every vector appears once per table; buckets of table t live in
    # [t*2^P, (t+1)*2^P)
    n = planted.count()
    assert b.count() == 3 * n
    spans = (
        b.withColumn("tbl", (F.col("bucket") / (1 << 4)).cast("int"))
        .groupBy("tbl")
        .count()
        .collect()
    )
    assert {r["tbl"] for r in spans} == {0, 1, 2}
    assert all(r["count"] == n for r in spans)


def test_capped_buckets_deterministic_and_bounded(spark, planted):
    tables = plane_tables(2, 2, DIM)  # tiny buckets -> guaranteed overflow
    b = ann_buckets_multi(planted, tables)
    capped = capped_by_key(b, "bucket", 10)
    sizes = capped.groupBy("bucket").count().agg(F.max("count")).collect()[0][0]
    assert sizes <= 10
    one = sorted(map(tuple, capped.collect()))
    two = sorted(map(tuple, capped_by_key(b.repartition(7), "bucket", 10).collect()))
    assert one == two  # keep-lowest-ids rule is partitioning-independent


def test_ivf_topk_finds_planted_neighbors(spark, planted):
    """IVF probe search must place each planted near-dup (cosine ~0.98)
    in its base vector's top-k: a near-identical vector lands in the same
    centroid list with overwhelming probability, and n_probe=2 covers the
    boundary cases. Recall measured against brute-force 1-NN."""
    from lasvdedup_spark.operators.ann import ivf_topk

    top = ivf_topk(planted, n_centroids=8, k=1, n_probe=2).collect()
    by_q = {r["qid"]: r["tid"] for r in top}
    hits = sum(1 for j in range(60) if by_q.get(1000 + j) == j * 3)
    assert hits / 60 >= 0.9, f"IVF 1-NN recall {hits}/60"


def test_ivf_assign_exactly_n_probe_lists(spark, planted):
    from lasvdedup_spark.operators.ann import ivf_assign, ivf_centroids

    cents = ivf_centroids(planted, 8)
    assert cents.count() == 8
    a = ivf_assign(planted, cents, n_probe=2)
    per = a.groupBy("id").count().select(F.min("count"), F.max("count")).collect()[0]
    assert per[0] == per[1] == 2


def test_knn_bruteforce_exact_topk(spark, planted):
    q = planted.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    t = planted.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("tid"), F.col("embedding").alias("tvec")
    )
    top = knn_bruteforce(q, t, 3).orderBy("pos").collect()
    assert len(top) == 3
    assert top[0]["tid"] == 1000  # vec 0's planted near-dup is its 1-NN
    assert top[0]["score"] > 0.9


def test_ivf_lloyd_rejects_out_of_range_magnitude(spark):
    """The int64 fixed-point mean is only safe to a documented magnitude
    bound; an out-of-range embedding must raise a clear error up front
    instead of relying on session ANSI mode to surface an overflow
    mid-aggregation (round-3 advice: the bound was config-silent)."""
    import pytest

    from lasvdedup_spark.operators.ann import LLOYD_MAX_ABS, ivf_lloyd_centroids

    rows = [(0, [1.0, 2.0]), (1, [0.5, LLOYD_MAX_ABS * 10]), (2, [0.1, 0.2])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="fixed-point accumulator bound"):
        ivf_lloyd_centroids(vecs, 2, 1)


def test_ivf_lloyd_recall_ge_seeded(spark):
    """Deterministic Lloyd training must not lose recall vs raw seeds at
    equal n_probe — and on clustered data with off-centre seeds it should
    gain. Fixture: 8 well-separated gaussian clusters, ids round-robin so
    the 8 lowest-id seeds land one-per-cluster but offset from the centres."""
    from lasvdedup_spark.operators.ann import ivf_lloyd_centroids, ivf_topk

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, DIM)) * 10.0
    rows = []
    for i in range(400):
        c = i % 8  # round-robin: seeds (ids 0..7) span all clusters
        rows.append((i, (centers[c] + rng.standard_normal(DIM)).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    truth = {
        (r["qid"], r["tid"])
        for r in knn_bruteforce(
            vecs.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")),
            vecs.select(F.col("vec_id").alias("tid"), F.col("embedding").alias("tvec")),
            6,
        ).where(F.col("qid") != F.col("tid")).collect()
    }

    def recall(lloyd_iters):
        got = {
            (r["qid"], r["tid"])
            for r in ivf_topk(vecs, 8, 5, n_probe=1, lloyd_iters=lloyd_iters).collect()
        }
        return len(got & truth) / len(truth)

    r_seed, r_lloyd = recall(0), recall(2)
    assert r_lloyd >= r_seed, (r_lloyd, r_seed)
    assert r_lloyd >= 0.9

    # training is deterministic: same input -> identical centroids twice
    c1 = sorted(ivf_lloyd_centroids(vecs, 8, 2).collect())
    c2 = sorted(ivf_lloyd_centroids(vecs.repartition(5), 8, 2).collect())
    assert [r["cid"] for r in c1] == [r["cid"] for r in c2]
    for a, b in zip(c1, c2):
        # fixed-point accumulation: BIT-identical across partitionings,
        # not merely approx (float avg would drift in final ULPs)
        assert list(a["cvec"]) == list(b["cvec"])
    # and the centroids actually moved off the seeds
    seeds = {r["cid"]: r["cvec"] for r in spark.createDataFrame(
        rows[:8], "vec_id long, embedding array<double>"
    ).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")).collect()}
    moved = sum(1 for r in c1 if list(r["cvec"]) != list(seeds[r["cid"]]))
    assert moved == 8


def test_hyperplane_bucket_codegen_compiles_at_real_dim(spark):
    """Regression: the bucket expression must stay COMPILABLE at production
    embedding widths. The old textually-unrolled dot product emitted
    dim x planes element_at terms into one generated method; at
    dim=768 x 32 planes janino aborted with "Code grows beyond 64 KB" and
    the whole stage silently fell back to ~2.4x-slower interpreted eval.
    codegen.fallback=false turns that silent fallback into a hard error,
    and the numpy cross-check pins the sign semantics."""
    import numpy as np

    dim = 768
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(dim).tolist()) for i in range(8)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tables = plane_tables(4, 8, dim)

    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows_out = ann_buckets_multi(vecs, tables).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)

    got = {}
    for r in rows_out:
        got.setdefault(r["id"], []).append(r["bucket"])
    for vid, emb in rows:
        v = np.array(emb)
        want = []
        for t, planes in enumerate(tables):
            b = sum(
                (1 << p) for p, row in enumerate(planes)
                if float(np.array(row, dtype=float) @ v) > 0
            )
            want.append(t * (1 << len(planes)) + b)
        assert sorted(got[vid]) == sorted(want), vid


def test_hyperplane_empty_planes_is_single_bucket(spark):
    """Zero planes = one bucket (bucket 0) — the SQL-string assembly must
    not emit malformed 'CAST( AS BIGINT)' for the degenerate input."""
    from lasvdedup_spark.operators.ann import hyperplane_bucket_expr

    vecs = spark.createDataFrame(
        [(1, [0.5, -0.5]), (2, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    out = vecs.select(hyperplane_bucket_expr([]).alias("b")).collect()
    assert [r["b"] for r in out] == [0, 0]


def test_hyperplane_real_valued_weights_full_precision(spark):
    """Plane weights embed at full double precision (repr), not '%.1f':
    a 0.25 weight must flip the sign decision it implies, matching numpy."""
    import numpy as np

    from lasvdedup_spark.operators.ann import hyperplane_bucket_expr

    planes = [[0.25, -0.3], [1.0, -1.0]]
    rows = [(1, [1.0, 1.0]), (2, [1.0, 0.5]), (3, [-2.0, 1.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["b"]
        for r in vecs.select(
            "vec_id", hyperplane_bucket_expr(planes).alias("b")
        ).collect()
    }
    for vid, emb in rows:
        v = np.array(emb)
        want = sum(
            (1 << p)
            for p, row in enumerate(planes)
            if float(np.array(row) @ v) > 0
        )
        assert got[vid] == want, vid
