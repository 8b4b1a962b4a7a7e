"""Stage checkpoints cost only their write: row counts observed on the
write, read-backs with a known schema, metrics and lineage appended once
per run — and still appended when a later stage fails."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.pipeline import StageRunner, checkpoint_root, dedup

BASE = ("the quick brown fox jumps over the lazy dog while birds "
        "keep singing softly in the warm afternoon sunshine today")


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"stage-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpointed_stage_runs_only_its_write(spark, tmp_path):
    """Job counts do not depend on host speed: a fresh stage runs its
    write job and nothing else (no schema inference, no re-count), and a
    resumed stage runs no job at all."""
    cfg = DedupConfig(checkpoint_dir=str(tmp_path))
    frame = spark.range(0, 50, 1, 1).withColumn("t", F.col("id").cast("string"))

    fresh = StageRunner(spark, cfg)
    out, jobs = _jobs(spark, lambda: fresh.stage("s", lambda: frame))
    assert jobs == 1
    assert fresh.metrics[0]["rows"] == 50 and not fresh.metrics[0]["skipped"]

    resumed = StageRunner(spark, cfg)
    back, jobs = _jobs(spark, lambda: resumed.stage("s", lambda: frame))
    assert jobs == 0
    assert resumed.metrics[0]["skipped"]

    inferred = spark.read.parquet(os.path.join(checkpoint_root(cfg), "s")).schema
    assert out.schema == back.schema == inferred
    assert sorted(back.collect()) == sorted(frame.collect())


def test_empty_stage_checkpoints_and_resumes(spark, tmp_path):
    """All-distinct pages: the exact tier's edge stage is empty. It still
    records rows == 0, has no lineage row (no file holds a row), and a
    fully resumed call reads it back and returns the same rows."""
    pages = spark.createDataFrame(
        [(f"u/{i}", " ".join(f"w{i}x{j}" for j in range(30))) for i in range(6)],
        "url string, text string",
    )
    tiers = ("exact", "minhash")
    cfg = DedupConfig(checkpoint_dir=str(tmp_path))
    first = sorted(dedup(spark, pages, cfg, tiers=tiers).collect())
    assert len(first) == 6

    root = checkpoint_root(cfg, tiers)
    metrics = spark.read.parquet(os.path.join(root, "_metrics"))
    exact = metrics.where(F.col("stage") == "edges_exact").collect()
    assert [(m["skipped"], m["rows"]) for m in exact] == [(False, 0)]
    lineage = spark.read.parquet(os.path.join(root, "_lineage"))
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert "edges_exact" not in stages and "signatures" in stages

    second = sorted(dedup(spark, pages, cfg, tiers=tiers).collect())
    assert second == first
    metrics = spark.read.parquet(os.path.join(root, "_metrics"))
    resumed = metrics.where(F.col("skipped")).select("stage").collect()
    assert "edges_exact" in {m["stage"] for m in resumed}


def test_metrics_and_lineage_flushed_when_a_stage_fails(spark, tmp_path, monkeypatch):
    """A stage that raises must not lose the metrics and lineage of the
    stages that finished before it."""
    from lasvdedup_spark.operators import classify

    def boom(*args, **kwargs):
        raise RuntimeError("classify failed")

    monkeypatch.setattr(classify, "classify", boom)
    pages = spark.createDataFrame(
        [("u/a", BASE), ("u/b", BASE + " extra"), ("u/c", "other words")],
        "url string, text string",
    )
    cfg = DedupConfig(checkpoint_dir=str(tmp_path))
    with pytest.raises(RuntimeError, match="classify failed"):
        dedup(spark, pages, cfg)

    root = checkpoint_root(cfg)
    lineage = spark.read.parquet(os.path.join(root, "_lineage"))
    sig = lineage.where(F.col("stage") == "signatures").collect()
    assert sum(r["rows"] for r in sig) == 3
    assert all(r["logged_at"] is not None for r in sig)
    metrics = spark.read.parquet(os.path.join(root, "_metrics"))
    assert {m["stage"] for m in metrics.collect()} == {
        "narrow", "signatures", "bands", "pairs", "edges", "components",
    }


def test_parquet_schema_without_data_file_is_none(spark, tmp_path):
    """No part file to read a footer from: the caller falls back to
    spark.read.parquet's own inference."""
    from lasvdedup_spark import fsio

    assert fsio.parquet_schema(spark, str(tmp_path / "absent")) is None
    (tmp_path / "only_marker").mkdir()
    (tmp_path / "only_marker" / "_SUCCESS").write_text("")
    assert fsio.parquet_schema(spark, str(tmp_path / "only_marker")) is None
