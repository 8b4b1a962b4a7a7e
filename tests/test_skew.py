"""Salted band-bucket join (north rule: skew handling is explicit, not
hoped-for): the salted path must yield the IDENTICAL candidate-pair set as
the plain self-join, while splitting mega-bucket pair enumeration across
salt partitions."""

import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.operators.minhash import band_buckets, candidate_pairs, signatures


@pytest.fixture(scope="module")
def skewed_buckets(spark):
    """120 copies of one boilerplate text (a guaranteed mega-bucket in every
    band) + 40 distinct docs (small buckets)."""
    boiler = [(f"u/b{i:03d}", "login page please enter your username and password to continue")
              for i in range(120)]
    distinct = [(f"u/d{i:03d}", f"unique document number {i} " + " ".join(f"tok{i}x{j}" for j in range(30)))
                for i in range(40)]
    pages = spark.createDataFrame(boiler + distinct, "url string, text string")
    cfg = DedupConfig()
    return band_buckets(signatures(pages, cfg), cfg).cache()


def _pairs(buckets, cfg):
    return {
        (r["id_a"], r["id_b"], r["n_bands"])
        for r in candidate_pairs(buckets, cfg).collect()
    }


def test_salted_equals_plain(skewed_buckets):
    plain = _pairs(skewed_buckets, DedupConfig(salt_buckets=1))
    # cutoff=16 forces the boilerplate buckets (size 120) onto the salted
    # path; one salt must still return the full pair set
    for s in (4, 1):
        salted = _pairs(
            skewed_buckets, DedupConfig(salt_buckets=s, skew_bucket_cutoff=16)
        )
        assert plain == salted, s
    # sanity: the mega-bucket really produced its full pair set
    boiler_pairs = {p for p in plain if p[0].startswith("u/b") and p[1].startswith("u/b")}
    assert len(boiler_pairs) == 120 * 119 // 2


def test_salted_joins_reject_zero_salts(spark):
    """salt_buckets=0 would reach pmod(..., 0) and sequence(0, -1) mid-job;
    both salted joins must refuse it at plan-composition time."""
    from lasvdedup_spark.operators.pairs import salted_cross_join, salted_pair_join

    df = spark.createDataFrame([("a", 1), ("b", 1)], "id string, bucket long")
    with pytest.raises(ValueError, match="salt_buckets"):
        salted_pair_join(df, "bucket", 0, 16)
    with pytest.raises(ValueError, match="salt_buckets"):
        salted_cross_join(df, df, "bucket", 0, 16)


def test_salt_splits_left_side(skewed_buckets):
    """Each unordered pair must appear exactly once (n_bands counts bands,
    not salt duplicates): identical docs collide in all 32 bands."""
    salted = candidate_pairs(
        skewed_buckets, DedupConfig(salt_buckets=4, skew_bucket_cutoff=16)
    )
    bad = salted.where(
        F.col("id_a").startswith("u/b") & (F.col("n_bands") != 32)
    ).count()
    assert bad == 0


def test_fingerprint_ignores_salt_knobs():
    a = DedupConfig(salt_buckets=1).fingerprint()
    b = DedupConfig(salt_buckets=8, skew_bucket_cutoff=16).fingerprint()
    assert a == b  # physical knobs never invalidate checkpoints
    assert DedupConfig(jaccard_threshold=0.6).fingerprint() != a


def test_exact_star_edges_linear_in_cluster_size(spark):
    """A 10k-copy boilerplate cluster must yield O(m) star edges (one per
    duplicate member, all anchored at the min id), never the O(m^2)
    all-pairs enumeration — and the components those edges induce are the
    same."""
    from lasvdedup_spark.operators.exact import exact_dup_pairs

    m = 10_000
    pages = spark.range(m).select(
        F.format_string("u/%05d", F.col("id")).alias("url"),
        F.lit("identical boilerplate login page text").alias("text"),
    )
    pairs = exact_dup_pairs(pages)
    assert pairs.count() == m - 1  # star, not C(m,2) ~ 5e7
    rows = pairs.select(F.min("id_a"), F.max("id_a")).collect()[0]
    assert rows[0] == rows[1] == "u/00000"  # all anchored at cluster min


def test_substring_join_salted_equals_plain(spark):
    """A 200-copy boilerplate span (one mega L-gram bucket) must produce the
    identical pair set on the salted path as on the plain join."""
    from lasvdedup_spark.operators.substring import substring_dup_pairs

    boiler = "terms of service apply to all users of this site always"
    rows = [(f"u/b{i:03d}", f"page {i} intro {boiler} footer {i}") for i in range(200)]
    rows += [(f"u/d{i}", f"distinct {i} " + " ".join(f"w{i}x{j}" for j in range(20)))
             for i in range(10)]
    pages = spark.createDataFrame(rows, "url string, text string")
    cfg_plain = DedupConfig(substring_min_tokens=8, salt_buckets=1)
    cfg_salted = DedupConfig(substring_min_tokens=8, salt_buckets=4, skew_bucket_cutoff=16)
    plain = {(r["id_a"], r["id_b"], r["n_shared_grams"])
             for r in substring_dup_pairs(pages, cfg_plain).collect()}
    salted = {(r["id_a"], r["id_b"], r["n_shared_grams"])
              for r in substring_dup_pairs(pages, cfg_salted).collect()}
    assert plain == salted
    boiler_pairs = {p for p in plain if p[0].startswith("u/b") and p[1].startswith("u/b")}
    assert len(boiler_pairs) == 200 * 199 // 2


def test_xxhash_family_end_to_end(spark):
    """The production hash family (bench path: numeric band keys, no oracle)
    must find the same kinds of duplicates as the portable md5 family."""
    rows = [("u/a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("u/b", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("u/c", "totally different content with nothing shared at all here")]
    pages = spark.createDataFrame(rows, "url string, text string")
    from lasvdedup_spark.operators.minhash import minhash_dup_pairs

    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_dup_pairs(pages, DedupConfig(hash_family="xxhash64")).collect()}
    assert ("u/a", "u/b") in pairs
    assert not any("u/c" in p for p in pairs)


def test_simhash_salted_equals_plain(spark):
    """A 200-copy near-identical cluster shares ALL simhash band values —
    the worst skew shape (round-2's unsalted band join put 4*m^2/2 rows in
    four tasks). The salted path must return the identical pair set."""
    from lasvdedup_spark.operators.simhash import simhash_dup_pairs

    boiler = "terms of service apply to all users of this site always and forever"
    rows = [(f"u/b{i:03d}", boiler) for i in range(200)]
    rows += [(f"u/d{i}", f"distinct {i} " + " ".join(f"w{i}x{j}" for j in range(20)))
             for i in range(10)]
    pages = spark.createDataFrame(rows, "url string, text string")
    plain = {(r["id_a"], r["id_b"], r["hamming"])
             for r in simhash_dup_pairs(pages, DedupConfig(salt_buckets=1)).collect()}
    salted = {(r["id_a"], r["id_b"], r["hamming"])
              for r in simhash_dup_pairs(
                  pages, DedupConfig(salt_buckets=4, skew_bucket_cutoff=16)
              ).collect()}
    assert plain == salted
    boiler_pairs = {p for p in plain if p[0].startswith("u/b") and p[1].startswith("u/b")}
    assert len(boiler_pairs) == 200 * 199 // 2
    assert all(p[2] == 0 for p in boiler_pairs)


def test_simhash_pair_join_is_salted_union(spark):
    """Plan pin: simhash pair generation routes through salted_pair_join —
    the physical plan contains the salted-union shape (a Union of the
    left_anti small path and the salt-exploded big path), not a bare
    band self-join."""
    pages = spark.createDataFrame(
        [("u/a", "alpha beta gamma delta"), ("u/b", "alpha beta gamma delta")],
        "url string, text string",
    )
    from lasvdedup_spark.operators.simhash import simhash_dup_pairs

    plan = (
        simhash_dup_pairs(pages, DedupConfig(salt_buckets=4))
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Union" in plan
    assert "_salt" in plan


def test_span_lengths_fanout_follows_config(spark):
    """The span kernel's parallelism must follow num_partitions (round-2's
    fixed 64-bucket grouped map capped parallelism and made per-group
    memory proportional to pairs/64)."""
    from pyspark.sql import functions as F  # noqa: F811
    from lasvdedup_spark.operators.substring import span_lengths

    pages = spark.createDataFrame(
        [(f"u/{i}", f"alpha beta gamma delta tail{i}") for i in range(40)],
        "url string, text string",
    )
    pairs = spark.createDataFrame(
        [(f"u/{i}", f"u/{i+1}") for i in range(0, 38, 2)], "id_a string, id_b string"
    )
    wide = span_lengths(pages, pairs, num_partitions=96)
    assert wide.rdd.getNumPartitions() == 96
    # default pulls the session's shuffle partitions, not a hard-coded 64
    dflt = span_lengths(pages, pairs)
    expected = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert dflt.rdd.getNumPartitions() == expected
    # results identical across fan-outs
    a = {(r["id_a"], r["id_b"], r["span_len"]) for r in wide.collect()}
    b = {(r["id_a"], r["id_b"], r["span_len"]) for r in dflt.collect()}
    assert a == b and len(a) == 19


def test_capped_by_key_exact_deterministic_no_window(spark):
    """The bucket cap must (a) keep exactly cap rows per over-cap key,
    (b) pass under-cap keys through untouched, (c) be deterministic across
    partitionings, (d) contain NO window in the plan — the old row_number()
    form sorted the entire mega-bucket (the very key being mitigated) in
    one task — and (e) keep a hash-uniform sample, not a lexicographic id
    prefix (ids are URLs: a prefix is one domain)."""
    from lasvdedup_spark.operators.pairs import capped_by_key

    rows = [(f"u/{i:04d}", 1) for i in range(200)] + [(f"v/{i}", 2) for i in range(3)]
    df = spark.createDataFrame(rows, "id string, bucket long")
    capped = capped_by_key(df, "bucket", 10)
    got = sorted((r["id"], r["bucket"]) for r in capped.collect())
    sizes = {}
    for _id, b in got:
        sizes[b] = sizes.get(b, 0) + 1
    assert sizes == {1: 10, 2: 3}
    again = sorted(
        (r["id"], r["bucket"])
        for r in capped_by_key(df.repartition(7), "bucket", 10).collect()
    )
    assert got == again
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    kept_big = [i for i, b in got if b == 1]
    assert kept_big != [f"u/{i:04d}" for i in range(10)]
    # None = exact passthrough
    assert capped_by_key(df, "bucket", None) is df


def test_salted_cross_join_equals_plain_bipartite(spark):
    """Bipartite salted join: identical pair set as the plain equi-join,
    with the hot RIGHT key (the accumulated-index side in streaming) spread
    across salts; plan shows the salted union."""
    from lasvdedup_spark.operators.pairs import salted_cross_join

    left = spark.createDataFrame(
        [(f"n{i}", 1) for i in range(5)] + [("n9", 3)], "id string, bucket long"
    )
    right = spark.createDataFrame(
        [(f"o{i}", 1) for i in range(50)] + [("o9", 3), ("oz", 4)],
        "id string, bucket long",
    )
    plain = {
        (r["id_l"], r["id_r"])
        for r in salted_cross_join(left, right, "bucket", 8, 1_000_000).collect()
    }
    salted_df = salted_cross_join(left, right, "bucket", 8, 10)
    salted = {(r["id_l"], r["id_r"]) for r in salted_df.collect()}
    assert plain == salted
    assert len(plain) == 5 * 50 + 1
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan and "Union" in plan


def test_capped_by_key_matches_bruteforce_rule(spark):
    """The distributed threshold selection must implement EXACTLY the
    documented rule: keep the cap smallest (xxhash64(id, key), id) per
    over-cap key. Brute-force the expected kept set from the same hashes
    and compare, across several keys straddling the cap."""
    import random

    from lasvdedup_spark.operators.pairs import capped_by_key

    rng = random.Random(7)
    rows = []
    for b in range(6):
        for i in range(rng.randint(1, 40)):
            rows.append((f"u/{b}/{i:03d}", b))
    df = spark.createDataFrame(rows, "id string, bucket long")
    cap = 12

    hashed = df.select(
        "id", "bucket", F.xxhash64("id", "bucket").alias("h")
    ).collect()
    by_key = {}
    for r in hashed:
        by_key.setdefault(r["bucket"], []).append((r["h"], r["id"]))
    want = set()
    for b, members in by_key.items():
        keep = sorted(members)[:cap] if len(members) > cap else members
        want |= {(i, b) for _, i in keep}

    got = {
        (r["id"], r["bucket"])
        for r in capped_by_key(df, "bucket", cap).collect()
    }
    assert got == want


def test_ann_lsh_topk_salted_equals_plain(spark):
    """The ANN top-k serving path routes its bucket self-join through
    salted_pair_join (r5 verdict: the last unsalted quadratic-per-key
    self-join). A hot hyperplane bucket (many near-identical vectors) must
    yield IDENTICAL top-k rows on the salted and unsalted paths, and the
    salted plan must show the salted-union shape."""
    import random

    from lasvdedup_spark.operators.ann import ann_lsh_topk, plane_tables

    rng = random.Random(3)
    rows = [
        # 60 near-identical vectors -> one hot bucket in every table
        (i, [1.0 + rng.random() * 1e-3 for _ in range(8)])
        for i in range(60)
    ] + [
        (100 + i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(20)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tables = plane_tables(2, 4, 8)

    def rows_of(df):
        return {(r["qid"], r["tid"], r["pos"], r["score"]) for r in df.collect()}

    plain = rows_of(ann_lsh_topk(emb, tables, k=3, salt_buckets=1))
    salted_df = ann_lsh_topk(emb, tables, k=3, salt_buckets=4, skew_cutoff=16)
    assert plain == rows_of(salted_df)
    # the salted-union shape sits behind the lazy checkpoint of the
    # unordered pairs (invisible in the downstream executed plan), so pin
    # it on the candidate subtree ann_lsh_topk builds: the same
    # salted_pair_join over the same capped multi-table buckets
    from lasvdedup_spark.operators.ann import ann_buckets_multi
    from lasvdedup_spark.operators.pairs import salted_pair_join

    cand = salted_pair_join(
        ann_buckets_multi(emb, tables), "bucket", 4, 16, "n_tables"
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan and "Union" in plan


def test_ivf_topk_salted_equals_plain(spark):
    """The IVF probe-vs-list join routes through salted_cross_join:
    clustered data makes hot inverted lists by construction. A dominant
    list must yield IDENTICAL top-k rows salted and unsalted."""
    import random

    from lasvdedup_spark.operators.ann import ivf_topk

    rng = random.Random(5)
    rows = [
        # 70 vectors clustered near one point -> one hot inverted list
        (i, [2.0 + rng.random() * 1e-2 for _ in range(8)])
        for i in range(70)
    ] + [
        (200 + i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def rows_of(df):
        return {(r["qid"], r["tid"], r["pos"], r["score"]) for r in df.collect()}

    plain = rows_of(ivf_topk(emb, 6, k=3, n_probe=2, salt_buckets=1))
    salted_df = ivf_topk(emb, 6, k=3, n_probe=2, salt_buckets=4, skew_cutoff=16)
    assert plain == rows_of(salted_df)
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan and "Union" in plan


def test_simhash_first_band_dedup_equals_group_dedup(spark):
    """r6: simhash emits each pair from its FIRST agreeing band (map-side
    filter) instead of a pair groupBy — the full exchange of the candidate
    set. The row set must equal the generic groupBy dedup exactly, on a
    corpus with multi-band collisions (identical docs agree on all 4)."""
    from lasvdedup_spark.operators.pairs import salted_pair_join
    from lasvdedup_spark.operators import simhash as S

    boiler = [(f"u/b{i:02d}", "enter your username and password to continue")
              for i in range(25)]
    near = [(f"u/n{i:02d}", f"enter your username and passcode {i} to continue")
            for i in range(10)]
    distinct = [(f"u/d{i:02d}", " ".join(f"tok{i}x{j}" for j in range(25)))
                for i in range(10)]
    pages = spark.createDataFrame(boiler + near + distinct, "url string, text string")
    cfg = DedupConfig(salt_buckets=4, skew_bucket_cutoff=8)

    new = {(r["id_a"], r["id_b"], r["hamming"])
           for r in S.simhash_dup_pairs(pages, cfg).collect()}

    sh = S.simhash(pages, hash_family=cfg.hash_family)
    keyed = S.simhash_bands(sh).select(
        "id",
        ((F.col("band_id").cast("long") * F.lit(1 << S.BAND_BITS))
         + F.col("band_val")).alias("band_key"),
        "simhash",
    )
    cand = salted_pair_join(
        keyed, "band_key", cfg.salt_buckets, cfg.skew_bucket_cutoff,
        count_alias="n_bands", carry="simhash",
    )
    old = {(r["id_a"], r["id_b"], r["hamming"])
           for r in cand.withColumn(
               "hamming", F.expr("bit_count(simhash_a ^ simhash_b)"))
           .where(F.col("hamming") <= cfg.simhash_hamming)
           .select("id_a", "id_b", "hamming").collect()}
    assert new == old
    # identical docs really did collide in all 4 bands (the dedup matters)
    assert any(a.startswith("u/b") and b.startswith("u/b") for a, b, _ in new)


def test_simhash_pairs_plan_has_no_pair_exchange(spark):
    """r6 guard: the simhash pair plan must contain NO hashpartitioning
    exchange of the pair set (the first-band filter replaced the groupBy
    dedup); only the skew census aggregation may shuffle."""
    from lasvdedup_spark.operators import simhash as S

    pages = spark.createDataFrame(
        [(f"u/{i}", f"text number {i} with some shared words") for i in range(20)],
        "url string, text string",
    )
    df = S.simhash_dup_pairs(pages, DedupConfig())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id_a" not in plan, plan
