"""Index epochs of the incremental stream (streaming/incremental.py): each
micro-batch writes its epoch once, through one part exchange, from several
tasks that each own whole part directories; the capped append's metrics
row is counted on that write."""

import os
import re

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.streaming.incremental import (
    compact_index,
    incremental_dedup_query,
    read_index_pruned,
    sig_bands,
)
from test_streaming import TEXT_A, TEXT_B, TEXT_C, _page, _write_batch

# jobs of the two-batch capped drain below. Per batch: the eager batch
# checkpoint, the part census, the pairs write, the index write (the kept
# rows observed on it) and the metrics row, each with the query stages
# AQE runs as jobs of their own; no separate count() of either frame.
CAPPED_DRAIN_JOBS = 38


def _part_files(tree: str) -> dict[str, list[str]]:
    """part=P directory -> its parquet files."""
    return {
        d: [f for f in os.listdir(os.path.join(tree, d)) if f.endswith(".parquet")]
        for d in os.listdir(tree)
        if d.startswith("part=")
    }

def _writer_tasks(files: dict[str, list[str]]) -> set[str]:
    """Distinct writer partition ids (part-NNNNN-...) over the files."""
    return {re.match(r"part-(\d+)-", f).group(1) for fs in files.values() for f in fs}

def test_index_epochs_and_compacted_tree_hold_one_file_per_part(spark, tmp_path):
    """Every part=P directory of a batch epoch, and of the compacted tree,
    holds exactly one parquet file, and the files come from more than one
    writer task (the epoch is not written from one task)."""
    input_dir = str(tmp_path / "in")
    work_dir = str(tmp_path / "work")
    texts = [TEXT_A, TEXT_B, TEXT_C]
    _write_batch(spark, input_dir, "b1",
                 [_page(f"u/a{i}", f"{texts[i % 3]} {i}") for i in range(6)])
    _write_batch(spark, input_dir, "b2",
                 [_page(f"u/b{i}", f"{texts[i % 3]} {i} more") for i in range(6)])
    for cfg in (DedupConfig(), DedupConfig(max_bucket_size=5)):
        wd = os.path.join(work_dir, str(cfg.max_bucket_size))
        q = incremental_dedup_query(spark, input_dir, wd, cfg)
        q.awaitTermination(120)
        index_dir = os.path.join(wd, "index")
        for epoch in ("batch_id=0", "batch_id=1"):
            files = _part_files(os.path.join(index_dir, epoch))
            assert files and all(len(fs) == 1 for fs in files.values()), files
            assert len(_writer_tasks(files)) > 1
        rows = read_index_pruned(spark, index_dir, None).count()
        res = compact_index(spark, wd)
        assert res["batches_compacted"] == 2 and res["rows"] == rows
        files = _part_files(os.path.join(index_dir, "batch_id=-1"))
        assert files and all(len(fs) == 1 for fs in files.values()), files
        assert len(_writer_tasks(files)) > 1

def test_capped_append_metrics_values_and_jobs(spark, tmp_path):
    """The capped fixture of test_index_append_cap_bounds_bucket_growth:
    per batch, rows_in is the batch's band rows, rows_kept the epoch's
    index rows and rows_dropped their difference; the two-batch drain runs
    a pinned number of jobs (counted in the query's job group, runId)."""
    input_dir = str(tmp_path / "in")
    work_dir = str(tmp_path / "work")
    cfg = DedupConfig(max_bucket_size=5)
    batches = [
        [_page(f"u/a{i:02d}", TEXT_A) for i in range(4)],
        [_page(f"u/b{i:02d}", TEXT_A) for i in range(4)],
    ]
    for i, rows in enumerate(batches):
        _write_batch(spark, input_dir, f"b{i + 1}", rows)
    q = incremental_dedup_query(spark, input_dir, work_dir, cfg)
    q.awaitTermination(120)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    metrics = {
        r["batch_id"]: r
        for r in spark.read.parquet(os.path.join(work_dir, "metrics")).collect()
    }
    assert sorted(metrics) == [0, 1]
    index_dir = os.path.join(work_dir, "index")
    for batch_id, rows in enumerate(batches):
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        band_rows = sig_bands(pages, cfg).count()
        epoch_rows = spark.read.parquet(
            os.path.join(index_dir, f"batch_id={batch_id}")
        ).count()
        m = metrics[batch_id]
        assert m["stage"] == "index_append"
        assert m["rows_in"] == band_rows
        assert m["rows_kept"] == epoch_rows
        assert m["rows_dropped"] == band_rows - epoch_rows
    assert metrics[1]["rows_dropped"] > 0
    assert jobs == CAPPED_DRAIN_JOBS, jobs
