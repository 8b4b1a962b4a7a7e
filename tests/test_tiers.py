"""SimHash / substring tiers + text extraction invariants."""

import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.functions.text import extract_text_sql, extract_text_udf
from lasvdedup_spark.operators.simhash import simhash, simhash_dup_pairs
from lasvdedup_spark.operators.substring import (
    span_lengths,
    substring_dup_pairs,
)
from lasvdedup_spark.sources.pages import pages_from_documents


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_simhash_banding_equals_bruteforce(spark):
    """The 4-band pigeonhole join must find EXACTLY the pairs brute-force
    hamming <= 3 finds (banding guarantees recall; the hamming filter
    guarantees precision)."""
    cfg = DedupConfig(simhash_hamming=3)
    texts = [
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "the quick brown fox jumps over the lazy dog again and again"),  # exact
        ("c", "the quick brown fox leaps over the lazy dog again and again"),  # 1 token
        ("d", "completely different content about spark dataframes and shuffles"),
        ("e", "another unrelated document mentioning catalyst and tungsten"),
    ]
    df = spark.createDataFrame(texts, ["url", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(df, cfg).collect()
    }
    sh = simhash(df, hash_family=cfg.hash_family)
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r["id_a"], r["id_b"]): r["h"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.expr("bit_count(sh_a ^ sh_b)"))
        .where(F.col("h") <= cfg.simhash_hamming)
        .collect()
    }
    assert got == brute
    assert ("a", "b") in got and got[("a", "b")] == 0


def test_simhash_deterministic(spark, docs):
    one = {r["id"]: r["simhash"] for r in simhash(docs.limit(50), "doc_id").collect()}
    two = {
        r["id"]: r["simhash"]
        for r in simhash(docs.limit(50).repartition(7), "doc_id").collect()
    }
    assert one == two


def test_substring_pairs_iff_shared_lgram(spark):
    cfg = DedupConfig(substring_min_tokens=4)
    shared = "alpha beta gamma delta"  # the 4-token shared span
    df = spark.createDataFrame(
        [
            ("a", f"one two {shared} three four"),
            ("b", f"five six seven {shared} eight"),
            ("c", "totally disjoint text with nothing in common here"),
        ],
        ["url", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in substring_dup_pairs(df, cfg).collect()}
    assert pairs == {("a", "b")}


def test_span_lengths_exact(spark):
    cfg = DedupConfig(substring_min_tokens=3)
    df = spark.createDataFrame(
        [
            ("a", "x1 x2 alpha beta gamma delta y1 y2"),
            ("b", "z1 alpha beta gamma delta z2 z3 z4"),
        ],
        ["url", "text"],
    )
    pairs = substring_dup_pairs(df, cfg)
    got = span_lengths(df, pairs).collect()
    assert len(got) == 1
    assert got[0]["span_len"] == 4  # alpha beta gamma delta


def test_span_lengths_long_docs_bounded(spark):
    """Two 5k-token documents sharing a 512-token span: the rolling-hash
    binary-search kernel must return the exact span without materializing
    O(n^2) suffix keys (the old sorted-suffix kernel OOM'd/stalled here)."""
    import time

    cfg = DedupConfig(substring_min_tokens=16)
    shared = " ".join(f"s{i}" for i in range(512))
    a = " ".join(f"a{i}" for i in range(2500)) + " " + shared + " " + " ".join(
        f"aa{i}" for i in range(2000)
    )
    b = " ".join(f"b{i}" for i in range(1000)) + " " + shared + " " + " ".join(
        f"bb{i}" for i in range(3500)
    )
    df = spark.createDataFrame([("a", a), ("b", b)], ["url", "text"])
    pairs = substring_dup_pairs(df, cfg)
    t0 = time.time()
    got = span_lengths(df, pairs).collect()
    assert time.time() - t0 < 60
    assert len(got) == 1
    assert got[0]["span_len"] == 512


def test_simhash_xxhash64_family(spark):
    """Production family: banding == brute force under xxhash64 token
    hashes too (the banding/Hamming machinery is family-agnostic), exact
    copies land at hamming 0, and the families genuinely differ (the
    xxhash64 path must not silently fall back to md5)."""
    cfg = DedupConfig(simhash_hamming=3, hash_family="xxhash64")
    texts = [
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "the quick brown fox jumps over the lazy dog again and again"),
        ("c", "the quick brown fox leaps over the lazy dog again and again"),
        ("d", "completely different content about spark dataframes and shuffles"),
    ]
    df = spark.createDataFrame(texts, ["url", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dup_pairs(df, cfg).collect()
    }
    sh = simhash(df, hash_family="xxhash64")
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r["id_a"], r["id_b"]): r["h"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.expr("bit_count(sh_a ^ sh_b)"))
        .where(F.col("h") <= cfg.simhash_hamming)
        .collect()
    }
    assert got == brute
    assert got[("a", "b")] == 0
    md5_vals = {r["id"]: r["simhash"] for r in simhash(df).collect()}
    xx_vals = {r["id"]: r["simhash"] for r in sh.collect()}
    assert md5_vals != xx_vals


def test_lgram_families_same_pairs(spark, docs):
    """The string-free xxhash64 L-gram path must produce the SAME candidate
    pair set as the md5 gram-string path (collisions are negligible at this
    scale, so both are exactly 'share an L-token window')."""
    cfg_md5 = DedupConfig(hash_family="md5")
    cfg_xx = DedupConfig(hash_family="xxhash64")
    d = docs.limit(300)
    p_md5 = {
        (r["id_a"], r["id_b"])
        for r in substring_dup_pairs(d, cfg_md5, id_col="doc_id").collect()
    }
    p_xx = {
        (r["id_a"], r["id_b"])
        for r in substring_dup_pairs(d, cfg_xx, id_col="doc_id").collect()
    }
    assert p_md5 == p_xx


def test_lgram_xxhash64_short_docs(spark):
    """Docs shorter than L still hash to one well-defined gram under the
    arithmetic path (try_element_at+coalesce guard): exact short copies
    pair up, different short docs do not."""
    cfg = DedupConfig(substring_min_tokens=16, hash_family="xxhash64")
    df = spark.createDataFrame(
        [("a", "tiny shared doc"), ("b", "tiny shared doc"), ("c", "other text")],
        ["url", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in substring_dup_pairs(df, cfg).collect()}
    assert pairs == {("a", "b")}


def test_extract_text_byte_identical(spark, docs):
    """BASELINE.json per-row invariant: extract_text(html) == text,
    byte-identical per url, via BOTH the Arrow UDF and the SQL twin."""
    pages = pages_from_documents(docs)
    ext = pages.select(
        "url",
        "text",
        extract_text_udf()(F.col("html")).alias("via_udf"),
        extract_text_sql("html").alias("via_sql"),
    )
    bad = ext.where(
        (F.col("via_udf") != F.col("text")) | (F.col("via_sql") != F.col("text"))
    ).count()
    assert bad == 0
    assert ext.count() == docs.count()


def test_extract_text_real_world_html(spark):
    """Beyond the synthetic template: nested tags, entities, script/style
    blocks, comments, and broken markup must extract non-empty,
    deterministic text (round-2 gap: anything off-template extracted to ""
    — violating the per-url byte-identical invariant for real HTML)."""
    cases = [
        ("u/nested",
         b"<html><body><div><p>Hello <b>bold</b> world</p><p>second para</p></div></body></html>",
         "Hello bold world second para"),
        # escaped markup resurfaced by entity decoding strips like real
        # markup (second tag-strip pass); plain &amp; survives as text
        ("u/entities",
         b"<html><body>fish &amp; chips &lt;tag&gt; &#233;t&#233;</body></html>",
         "fish & chips \xe9t\xe9"),
        ("u/escaped-script",
         b"<html><body>before &lt;script&gt;var x=1;&lt;/script&gt; after</body></html>",
         "before after"),
        ("u/script",
         b"<html><head><script>var x = '<p>no</p>';</script><style>p{color:red}</style></head><body>real content</body></html>",
         "real content"),
        ("u/comment",
         b"<html><body><!-- hidden <p>no</p> -->visible text</body></html>",
         "visible text"),
        ("u/broken",
         b"<html><body><p>unclosed paragraph <div>and <b>nested",
         "unclosed paragraph and nested"),
        ("u/attrs",
         b'<html><body><a href="http://x.com/a?b=c&d=e">link text</a> tail</body></html>',
         "link text tail"),
    ]
    df = spark.createDataFrame(
        [(u, h) for u, h, _ in cases], "url string, html binary"
    )
    got = {
        r["url"]: r["txt"]
        for r in df.select("url", extract_text_udf()(F.col("html")).alias("txt")).collect()
    }
    for u, _, want in cases:
        assert got[u] == want, (u, got[u], want)
    # deterministic: identical bytes under two urls extract byte-identically
    df2 = spark.createDataFrame(
        [("a", cases[0][1]), ("b", cases[0][1])], "url string, html binary"
    ).repartition(2)
    vals = [r["t"] for r in df2.select(extract_text_udf()(F.col("html")).alias("t")).collect()]
    assert vals[0] == vals[1]


def test_extract_text_template_path_unchanged(spark, docs):
    """The fallback must not perturb the template fast path: synthetic pages
    still extract byte-identical to the original text."""
    pages = pages_from_documents(docs.limit(200))
    bad = (
        pages.select("text", extract_text_udf()(F.col("html")).alias("got"))
        .where(F.col("got") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_simhash_fold_matches_exact_count_reference(spark):
    """The SQL counter fold must equal the exact-count rule computed in
    plain Python from the same token hashes: bit j is set iff
    2 * count(hashes with bit j) > n_tokens; NULL text gives NULL and an
    empty hash array gives 0. Both hash families, on empty, null,
    single-token, repeated-token, very long and unicode documents."""
    from lasvdedup_spark.functions.text import tokens_expr
    from lasvdedup_spark.operators.simhash import SIMHASH_BITS

    rows = [
        ("empty", ""),
        ("null", None),
        ("one", "solo"),
        ("dup", "alpha beta alpha beta alpha"),
        ("long", " ".join(f"tok{i % 97}" for i in range(20000))),
        ("uni", "pagé ☃ tëst wörds"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    token_hash = {
        "md5": "cast(conv(substr(md5(t),1,15),16,10) as bigint)",
        "xxhash64": f"pmod(xxhash64(t), {1 << SIMHASH_BITS}L)",
    }

    def reference(hashes):
        if hashes is None:
            return None
        n = len(hashes)
        return sum(
            1 << j for j in range(SIMHASH_BITS)
            if 2 * sum((h >> j) & 1 for h in hashes) > n
        )

    assert reference([]) == 0
    tokens = docs.select("doc_id", tokens_expr("text").alias("tokens"))
    for fam, h in token_hash.items():
        want = {
            r["doc_id"]: reference(r["th"])
            for r in tokens.select(
                "doc_id", F.expr(f"transform(tokens, t -> {h})").alias("th")
            ).collect()
        }
        got = {r["id"]: r["simhash"]
               for r in simhash(docs, "doc_id", hash_family=fam).collect()}
        assert got == want, fam
    assert want["null"] is None and want["long"] != 0


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc quoted wholesale inside a much longer one: Jaccard
    ~= |A|/|B| (low), containment_a = 1.0 — the asymmetric verify keeps it
    at a threshold the symmetric one fails."""
    from pyspark.sql import functions as F

    from lasvdedup_spark.functions.text import shingles_expr, tokens_expr
    from lasvdedup_spark.operators.minhash import containment_pairs

    quote = " ".join(f"quoted{i}" for i in range(12))
    filler = " ".join(f"filler{i}" for i in range(120))
    df = spark.createDataFrame(
        [("a", quote), ("b", f"{filler} {quote}"), ("c", "nothing related")],
        "doc_id string, text string",
    )
    sh = df.withColumn("tokens", tokens_expr("text")).select(
        "doc_id", shingles_expr(4).alias("sh")
    )
    cand = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1)], "id_a string, id_b string, n_bands int"
    )
    out = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in containment_pairs(cand, sh, 0.8, id_col="doc_id").collect()
    }
    assert ("a", "b") in out and out[("a", "b")][0] == 1.0
    assert out[("a", "b")][1] < 0.5  # the symmetric signal containment beats
    assert ("a", "c") not in out
