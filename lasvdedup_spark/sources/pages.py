"""Synthetic Common-Crawl-style ``pages`` source.

BASELINE.json input_hint fixes the input shape:
  pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

No external data is allowed, so pages are *derived deterministically* from
the driver-provided documents.parquet (doc_id, text, lang, source, n_chars):
url/warc_ts/html are pure functions of the row. The same derivation is
reproduced in DuckDB oracle SQL (see entry module), so every downstream
stage stays oracle-checkable.

``synth_pages_with_dups`` additionally *injects* known duplicate clusters
(exact copies, near-dup token edits, transitive chains, shared-span pairs)
with the ground truth kept in a side ``truth`` DataFrame — the recall >= 0.99
target (BASELINE.md) is measured against this, mirroring how the reference's
tests pin clustering semantics with explicit synthetic matrices
(/root/reference/tests/utils/test_sequence_grouping.py:247-327).

All randomness is md5-based (hash of doc_id + salt), never an RNG — identical
across runs, partitionings, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lasvdedup_spark.functions.hashing import portable_hash60
from lasvdedup_spark.functions.text import HTML_SUFFIX

# Epoch of 2024-01-01T00:00:00 UTC; warc_ts spreads over the following year.
_WARC_EPOCH = 1_704_067_200
_YEAR = 31_536_000


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic documents -> pages derivation (1:1 rows)."""
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    d = docs.withColumn("url", url)
    d = d.withColumn(
        "warc_ts",
        F.timestamp_seconds(F.lit(_WARC_EPOCH) + F.pmod(portable_hash60("url"), F.lit(_YEAR))),
    )
    d = d.withColumn(
        "html",
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc "),
                F.col("doc_id").cast("string"),
                F.lit("</title></head><body><p>"),
                F.col("text"),
                F.lit(HTML_SUFFIX),
            ),
            "UTF-8",
        ),
    )
    return d.select("url", "warc_ts", "html", "text", "lang")


def synth_pages_with_dups(
    spark: SparkSession,
    sf_dir: str,
    exact_rate: int = 10,     # 1 in N docs gets an exact copy
    near_rate: int = 10,      # 1 in N docs gets a near-dup (small token edits)
    chain_rate: int = 20,     # 1 in N docs gets a 3-link near-dup chain A~B~C
    expand: int = 1,          # replicate the base corpus this many times (bench scale)
    concat: int = 1,          # merge K consecutive base docs into one page
) -> tuple[DataFrame, DataFrame]:
    """Returns (pages, truth). truth(url, cluster_id, kind) is ground truth
    for recall measurement and is never read by the engine itself.

    Near-dups are built by deterministically dropping ~2% of tokens (those
    whose position-hash falls in a band) — a 2% token edit perturbs <= ~8%
    of word-4-shingles, keeping true jaccard >= ~0.85, well above the
    default 0.5 threshold even for short docs, so every injected pair is a
    true positive at the configured shingle/signature settings.
    """
    docs = load_documents(spark, sf_dir)
    if concat > 1:
        # The driver-provided documents average ~55 tokens — 10-100x smaller
        # than real Common-Crawl pages. Merging K consecutive docs yields
        # design-point-sized pages (same total token volume, 1/K the rows),
        # so benchmarks exercise the real CPU:shuffle ratio instead of an
        # overhead-dominated one. Deterministic: grouped by doc_id // K,
        # concatenated in doc_id order.
        docs = (
            docs.withColumn("_grp", F.floor(F.col("doc_id") / concat))
            .groupBy("_grp")
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.expr("transform(sort_array(collect_list(struct(doc_id, text))), x -> x.text)"),
                ).alias("text"),
                F.min_by("lang", "doc_id").alias("lang"),
                F.min_by("source", "doc_id").alias("source"),
            )
            .drop("_grp")
            .withColumn("n_chars", F.length("text"))
        )
    if expand > 1:
        reps = spark.range(expand).select(F.col("id").alias("rep"))
        # Stride must exceed the LARGEST duplicate-injection offset below
        # (+400M for chain_c): with the old 10M stride and expand > 10, an
        # injected copy of replica r collided with the base doc_id (hence
        # url) of replica r+10/20/30/40, silently contaminating everything
        # keyed by url in the scaling corpus.
        docs = docs.crossJoin(reps).withColumn(
            "doc_id", F.col("doc_id") + F.col("rep") * 1_000_000_000
        ).withColumn(
            # Replicas must be genuinely DISTINCT documents, not near-dups of
            # each other: replacing every 3rd token with a replica marker
            # leaves no shared 4-shingle across replicas (every 4-token
            # window spans >= 1 replaced position). A mere prefix would keep
            # cross-replica jaccard ~0.85 — above threshold — turning every
            # base doc into an expand-sized mega-cluster and inflating pair
            # volume quadratically with expand (unrealistic dup density).
            "text",
            F.when(F.col("rep") == 0, F.col("text")).otherwise(
                F.expr(
                    "concat_ws(' ', transform(split(text, ' '), "
                    "(t, i) -> if(i % 3 = 2, concat('r', cast(rep as string)), t)))"
                )
            ),
        ).drop("rep")

    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang", "source"
    ).withColumn("cluster_id", F.col("doc_id")).withColumn("kind", F.lit("base"))

    h = F.pmod(portable_hash60(F.concat(F.lit("inj:"), F.col("doc_id").cast("string"))), F.lit(1000))

    exact = (
        base.where(F.pmod(h, F.lit(exact_rate)) == 0)
        .withColumn("doc_id", F.col("doc_id") + 100_000_000)
        .withColumn("kind", F.lit("exact_dup"))
    )

    def near_variant(src: DataFrame, salt: str, offset: int) -> DataFrame:
        # drop tokens whose (position, doc, salt) hash lands in a ~5% band
        return (
            src.withColumn("tokens", F.split(F.col("text"), " "))
            .withColumn(
                "text",
                F.expr(
                    "concat_ws(' ', filter(tokens, (t, i) -> "
                    f"pmod(cast(conv(substr(md5(concat('{salt}', cast(doc_id as string), ':', cast(i as string))),1,7),16,10) as bigint), 50) != 0))"
                ),
            )
            .drop("tokens")
            .withColumn("doc_id", F.col("doc_id") + offset)
            .withColumn("kind", F.lit("near_dup"))
        )

    # Near-dup/chain injections only target docs with >= 60 tokens: a ~2%
    # token edit on a short doc legitimately falls below the jaccard
    # threshold (dropping 2 of 18 tokens kills half its 4-shingles), which
    # would make the injected "truth" false at the configured settings.
    long_enough = F.size(F.split(F.col("text"), " ")) >= 60

    near_src = base.where((F.pmod(h, F.lit(near_rate)) == 1) & long_enough)
    near = near_variant(near_src, "n1:", 200_000_000)

    chain_src = base.where((F.pmod(h, F.lit(chain_rate)) == 2) & long_enough)
    chain_b = near_variant(chain_src, "c1:", 300_000_000)
    chain_c = near_variant(chain_b, "c2:", 100_000_000)  # edit of the edit: A~B~C, A maybe !~ C
    chain_b = chain_b.withColumn("kind", F.lit("chain"))
    chain_c = chain_c.withColumn("kind", F.lit("chain"))

    all_rows = base.unionByName(exact).unionByName(near).unionByName(chain_b).unionByName(chain_c)

    pages = pages_from_documents(
        all_rows.select("doc_id", "text", "lang", "source")
    )
    truth = all_rows.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "cluster_id",
        "kind",
    )
    return pages, truth
