"""Incremental (streaming) near-duplicate detection.

The reference is strictly batch (SURVEY §2.10) — this module is the
forward-looking extension the LSH design makes cheap: because candidate
generation is an equi-join on band buckets, a *stream* of new pages can be
deduplicated against everything already indexed without ever recomputing
old signatures:

    new micro-batch ──► signatures ──► band keys ──► join vs persisted
    band index  +  self-join within the batch ──► verified pairs (append)
    └──────────────► new band rows appended to the index

Pattern: ``readStream`` → same JVM-side signature/band expressions as batch
(they are pure Column expressions, legal on streaming DataFrames) →
``foreachBatch`` for the parts streaming can't express declaratively (the
self-join against the growing index and the index append). Exactly-once:
foreachBatch epochs are idempotent via batch_id-suffixed output dirs +
Spark's checkpointLocation tracking of committed epochs.

The index is PARTITIONED BY part = pmod(bucket, N_INDEX_PARTS) (on Iceberg:
``bucket(N, band_key)``), so the per-batch join against it reads only the
partitions whose band buckets actually occur in the micro-batch — the scan
per batch is bounded by the batch's bucket spread, not by the total index
size. Index presence is probed THROUGH Spark (read + AnalysisException),
never via driver-local os.listdir: the index lives on whatever filesystem
Spark writes to (HDFS/S3 at scale), where a local listdir would silently
report "absent" and drop every cross-batch pair.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.functions.hashing import sig_jaccard_expr
from lasvdedup_spark.operators.minhash import signatures

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# index partition fan-out; at 10^12 docs this would be an Iceberg
# bucket(4096, band_key) spec — the pruning logic is identical
N_INDEX_PARTS = 64


def _with_part(bands: DataFrame) -> DataFrame:
    return bands.withColumn("part", F.pmod(F.col("bucket"), F.lit(N_INDEX_PARTS)))


def read_index_pruned(
    spark: SparkSession, index_dir: str, parts: list[int] | None
) -> DataFrame | None:
    """The accumulated band index, pruned to the given part values (None =
    full read). Returns None when no index exists yet — detected via Spark
    (AnalysisException on read), valid on any Hadoop filesystem."""
    try:
        idx = spark.read.option("basePath", index_dir).parquet(index_dir)
    except AnalysisException:
        return None
    # Legacy-layout fallback: an index written by the pre-partitioned
    # layout has no 'part' column — pruning would raise AnalysisException
    # on every micro-batch after a resume. Full-scan instead (correct,
    # just unpruned) until compact_index() rewrites it.
    if parts is not None and "part" in idx.columns:
        idx = idx.where(F.col("part").isin(parts))
    return idx


def sig_bands(pages: DataFrame, cfg: DedupConfig, id_col: str = "url") -> DataFrame:
    """(id, sig, bucket) — streaming-safe: pure expressions (projection +
    explode), no aggregate or join, so it composes onto readStream as-is."""
    from lasvdedup_spark.functions.hashing import band_keys_expr

    sigs = signatures(pages, cfg, id_col)
    return sigs.select(
        "id", "sig", F.explode(band_keys_expr(cfg, "sig")).alias("bucket")
    )


def _verify(pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    return (
        pairs.withColumn("jaccard", sig_jaccard_expr("sig_a", "sig_b"))
        .where(F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )


def batch_pairs(
    batch_bands: DataFrame, old_idx: DataFrame | None, cfg: DedupConfig
) -> DataFrame:
    """Verified duplicate pairs for one micro-batch: new-vs-new within the
    batch plus new-vs-index, BOTH through the salted skew machinery the
    batch tiers use (operators/pairs.py) — a boilerplate band bucket in the
    accumulated index must not put m_old x m_new pair enumerations in one
    task, and the within-batch self-join is literally salted_pair_join's
    shape. Candidates-then-verify discipline throughout: only narrow
    (id, bucket) rows ride the salted joins; the wide signature arrays join
    back onto the deduped candidate set (jaccard is symmetric, so the
    cross pairs need no sig_a/sig_b orientation swap).

    Pure plan composition — no job runs here (salted joins are lazy by
    construction), so the within-batch plan is unit-testable outside
    foreachBatch. -> (id_a, id_b, jaccard), distinct."""
    from lasvdedup_spark.operators.pairs import salted_cross_join, salted_pair_join

    # lazy checkpoint (r6): sigs_new feeds three subtrees (sa, sb, and the
    # cross-pair new-side lookup) and Spark has no cross-subtree CSE — the
    # dedup exchange over the batch would otherwise run once per reference
    sigs_new = (
        batch_bands.select("id", "sig")
        .dropDuplicates(["id"])
        .localCheckpoint(eager=False)
    )
    sa = sigs_new.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs_new.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))

    within = (
        salted_pair_join(
            batch_bands.select("id", "bucket"),
            "bucket",
            cfg.salt_buckets,
            cfg.skew_bucket_cutoff,
        )
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    pairs = within
    if old_idx is not None:
        # the index is the unbounded side -> it takes the census + per-row
        # salt; the (trigger-bounded) batch replicates across salts
        cross = salted_cross_join(
            batch_bands.select("id", "bucket"),
            old_idx.select("id", "bucket"),
            "bucket",
            cfg.salt_buckets,
            cfg.skew_bucket_cutoff,
            out_left="id_new",
            out_right="id_old",
        ).where(F.col("id_new") != F.col("id_old"))
        # sig lookup for the old side: dedup only the PRUNED partitions the
        # batch touched, then join onto the (small) candidate set
        sigs_old = old_idx.select("id", "sig").dropDuplicates(["id"])
        cross = (
            cross.join(
                sigs_new.select(
                    F.col("id").alias("id_new"), F.col("sig").alias("sig_a")
                ),
                "id_new",
            )
            .join(
                sigs_old.select(
                    F.col("id").alias("id_old"), F.col("sig").alias("sig_b")
                ),
                "id_old",
            )
            .select(
                F.least("id_new", "id_old").alias("id_a"),
                F.greatest("id_new", "id_old").alias("id_b"),
                "sig_a",
                "sig_b",
            )
        )
        pairs = pairs.unionByName(cross)
    return _verify(pairs, cfg)


def _index_write_partitions(spark: SparkSession) -> int:
    """Tasks that write one index epoch or the compacted tree:
    min(N_INDEX_PARTS, spark.sql.shuffle.partitions)."""
    return min(N_INDEX_PARTS, int(spark.conf.get("spark.sql.shuffle.partitions")))


def capped_index_append(
    batch_bands: DataFrame, old_idx: DataFrame | None, cap: int | None
) -> DataFrame:
    """This batch's index rows, hash-partitioned by ``part`` into
    _index_write_partitions() tasks, so each writer task owns whole
    ``part=P`` directories (one file each) and the epoch is written on
    every core. The task count is explicit: AQE may coalesce a
    column-only repartition of a small batch back into one task.

    Under the bucket cap a new row is kept iff existing-members(bucket) +
    its rank within the batch <= cap, ranked by the same deterministic
    (xxhash64(id, bucket), id) order capped_by_key uses. Without the cap
    the accumulated index's boilerplate buckets grow without bound and
    batch-N join latency degrades exactly the way the batch path was
    engineered not to. The rank window is partitioned by (part, bucket):
    the same groups as by bucket, because part is a function of bucket,
    and it runs on the part exchange instead of adding its own. The
    existing-members census aggregates only the old-index rows whose
    bucket occurs in the batch (a left-semi probe against the broadcast
    distinct batch buckets) and joins back by broadcast, which keeps the
    part partitioning.

    The window IS a per-bucket sort, but over ONE micro-batch — bounded
    by the stream trigger (maxFilesPerTrigger), not by corpus size — so
    the mega-bucket-in-one-task hazard the batch path's capped_by_key
    eliminates cannot arise. Callers count the dropped rows (never a
    silent truncation). cap=None = every row kept."""
    rows = batch_bands.repartition(
        _index_write_partitions(batch_bands.sparkSession), "part"
    )
    if cap is None:
        return rows
    from pyspark.sql import Window

    w = Window.partitionBy("part", "bucket").orderBy(
        F.xxhash64(F.col("id"), F.col("bucket")), F.col("id")
    )
    ranked = rows.withColumn("_rn", F.row_number().over(w))
    if old_idx is not None:
        batch_buckets = F.broadcast(batch_bands.select("bucket").distinct())
        old_counts = (
            old_idx.select("bucket")
            .join(batch_buckets, "bucket", "left_semi")
            .groupBy("bucket")
            .agg(F.count("*").alias("_old"))
        )
        ranked = ranked.join(F.broadcast(old_counts), "bucket", "left").fillna(
            0, subset=["_old"]
        )
    else:
        ranked = ranked.withColumn("_old", F.lit(0))
    return ranked.where(F.col("_rn") + F.col("_old") <= cap).drop("_rn", "_old")


def incremental_dedup_query(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    cfg: DedupConfig,
    trigger_available_now: bool = True,
):
    """Start the incremental dedup stream over a file source of pages.

    Layout under work_dir:
      index/   — persisted (id, sig, bucket) band rows of everything seen
      pairs/   — appended verified duplicate pairs (id_a < id_b, jaccard)
      _chk/    — streaming checkpoint (restart-safe)

    Returns the StreamingQuery. Caller awaits termination (availableNow
    drains all pending files, then stops — the batch-job-over-a-stream mode).
    """
    index_dir = os.path.join(work_dir, "index")
    pairs_dir = os.path.join(work_dir, "pairs")
    chk_dir = os.path.join(work_dir, "_chk")

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per file drop
        .parquet(input_dir)
        .select("url", "text")
    )
    batch_bands_stream = sig_bands(stream, cfg)

    def process_batch(batch_bands: DataFrame, batch_id: int) -> None:
        s = batch_bands.sparkSession
        batch_bands = _with_part(batch_bands).localCheckpoint(eager=True)

        # one census over the checkpointed batch gives both the index
        # partitions this batch touches (<= N_INDEX_PARTS values; the
        # pruned read below scans only those) and its band-row count
        census = batch_bands.groupBy("part").count().collect()
        parts = [r["part"] for r in census]
        rows_in = sum(r["count"] for r in census)
        old_idx = read_index_pruned(s, index_dir, parts)
        # within-batch + new-vs-index pairs, both through the salted skew
        # machinery (operators/pairs.py) — see batch_pairs
        verified = batch_pairs(batch_bands, old_idx, cfg)
        # idempotent per-epoch outputs: overwrite the batch's own subdir, so
        # an epoch replay after a crash never duplicates rows
        verified.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch_id={batch_id}")
        )
        # index rows land under batch_id=N/part=P: the batch_id level keeps
        # epoch replays idempotent, the part level is what the next batch's
        # pruned read needs. EXCEPT when resuming over a legacy
        # (un-partitioned) index: parquet partition discovery rejects a
        # tree whose leaves sit at two different depths, so a partitioned
        # epoch written next to legacy epochs would crash every LATER
        # batch's read. Stay un-partitioned (full-scan reads, correct)
        # until compact_index() migrates the whole tree. Detection is
        # Spark-side (the columns of the index we just read), never a
        # driver-local listdir.
        legacy = old_idx is not None and "part" not in old_idx.columns
        # one part exchange feeds the cap's window and the write; each
        # writer task owns whole part directories. Under max_bucket_size a
        # boilerplate bucket saturates at the cap and stops growing, so
        # the per-batch join cost against it stays bounded across the
        # stream's life.
        to_append = capped_index_append(batch_bands, old_idx, cfg.max_bucket_size)
        if cfg.max_bucket_size is not None:
            # the kept rows are counted on the index write itself
            kept = Observation()
            to_append = to_append.observe(kept, F.count(F.lit(1)).alias("rows"))
        w = to_append.drop("part") if legacy else to_append
        w = w.write.mode("overwrite")
        if not legacy:
            w = w.partitionBy("part")
        w.parquet(os.path.join(index_dir, f"batch_id={batch_id}"))
        if cfg.max_bucket_size is not None:
            # dropped rows are counted into metrics/ — never silent. The
            # one row is built on the JVM: no Python worker, one job.
            rows_kept = kept.get["rows"]
            s.range(1).select(
                F.lit("index_append").alias("stage"),
                F.lit(rows_in).cast("long").alias("rows_in"),
                F.lit(rows_kept).cast("long").alias("rows_kept"),
                F.lit(rows_in - rows_kept).cast("long").alias("rows_dropped"),
            ).write.mode("overwrite").parquet(
                os.path.join(work_dir, "metrics", f"batch_id={batch_id}")
            )

    writer = (
        batch_bands_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", chk_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index(spark: SparkSession, work_dir: str) -> dict:
    """Rewrite the accumulated band index from its per-epoch layout
    (``batch_id=N/part=P`` — one directory tree per micro-batch) into a
    single ``batch_id=-K/part=P`` tree (negative = compaction epoch; a
    fresh K each run so the swap is an atomic rename, never an in-place
    overwrite).

    The per-epoch layout is what makes epoch replays idempotent, but its
    file-listing cost grows linearly with batch count; after compaction the
    next batch's pruned read lists one tree plus whatever epochs arrived
    since. Crash-safe by ordering: (1) write the compacted tree to a temp
    dir, (2) atomically rename it INTO the index as the new compaction
    epoch, (3) only then delete the source epoch dirs. At every crash
    point the union of live directories still covers every index row — a
    crash between (2) and (3) leaves duplicates, which the pair verify
    de-duplicates (``_verify`` ends in distinct()) and the next
    compaction folds away; a crash before (2) leaves only a stale temp
    dir that the next run overwrites. (The earlier order — delete sources,
    then rename — lost the whole index if the driver died in between.)
    Run it between stream runs, not concurrently with one. On Iceberg this
    whole function is ``rewrite_data_files`` (compaction) — the
    driver-side fs calls below are the parquet-directory stand-in for that
    table service, routed through the Hadoop FileSystem API (fsio) so they
    see the SAME filesystem Spark writes the index to: a driver-local
    listdir/rename against an HDFS/S3 index would silently no-op.

    The compacted tree is written by _index_write_partitions() tasks after
    one exchange on ``part``, which also carries the duplicate fold; each
    ``part=P`` directory holds one file.

    Returns {"batches_compacted": int, "rows": int}.
    """
    from lasvdedup_spark import fsio

    index_dir = os.path.join(work_dir, "index")
    idx = read_index_pruned(spark, index_dir, None)
    if idx is None:
        return {"batches_compacted": 0, "rows": 0}
    all_dirs = [
        d for d in fsio.listdir(spark, index_dir) if d.startswith("batch_id=")
    ]
    ids = [int(d.split("=", 1)[1]) for d in all_dirs]
    # nothing to fold: no positive epochs and at most one compaction tree
    if not any(i >= 0 for i in ids) and sum(1 for i in ids if i < 0) <= 1:
        return {"batches_compacted": 0, "rows": 0}
    new_id = min([0, *ids]) - 1

    tmp = os.path.join(work_dir, "_index_compact_tmp")
    fsio.delete(spark, tmp)  # stale tmp from a prior crash
    cols = [c for c in idx.columns if c != "batch_id"]
    out = idx.select(*cols)
    if "part" not in out.columns:  # legacy un-partitioned layout: add it
        out = _with_part(out)
    # (id, bucket) identifies a band row (same id+bucket => same sig);
    # the dedup folds away crash-remnant duplicates instead of carrying
    # them forward forever. Keying it on (part, id, bucket) is the same
    # dedup (part is a function of bucket) and runs on the part
    # exchange, so each writer task owns whole part directories: one
    # file per part, written on every core.
    out = out.repartition(_index_write_partitions(spark), "part").dropDuplicates(
        ["part", "id", "bucket"]
    )
    # the row count is observed on the write, not re-read from tmp
    obs = Observation()
    out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
    out.write.mode("overwrite").partitionBy("part").parquet(tmp)
    rows = obs.get["rows"]

    fsio.rename(spark, tmp, os.path.join(index_dir, f"batch_id={new_id}"))
    for d in all_dirs:
        fsio.delete(spark, os.path.join(index_dir, d))
    return {"batches_compacted": len(all_dirs), "rows": rows}


def read_pairs(spark: SparkSession, work_dir: str) -> DataFrame:
    """All verified pairs found so far (batch view over the stream output)."""
    return (
        spark.read.option("basePath", os.path.join(work_dir, "pairs"))
        .parquet(os.path.join(work_dir, "pairs"))
        .select("id_a", "id_b", "jaccard")
        .distinct()
    )
