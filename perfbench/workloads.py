"""The benchmark workloads, driven through the library's public functions.

Each workload owns its generated inputs under a work directory and offers:

* ``make_inputs()``: generate the pages from the seed (part of set-up);
* ``warmup(spark, store)``: the untimed run, one full pass over the
  measured input, so JIT and code generation are done before anything is
  timed (part of set-up). It records ``shuffle_bytes`` and runs the
  generator's edge-count check;
* ``run_pass(spark)``: one timed end-to-end pass plus its resume, with
  every output checked by the correctness gates;
* ``plain_pass(spark)`` and ``traced_pass(spark, tracer)``: the traced
  run's pair, the same work untraced, then with each layer's public
  function called on its own, in the order ``dedup()`` composes them.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from lasvdedup_spark import sinks
from lasvdedup_spark.config import DedupConfig
from lasvdedup_spark.operators import classify as C
from lasvdedup_spark.operators import components, exact, minhash, simhash, substring
from lasvdedup_spark.pipeline import checkpoint_root, dedup
from lasvdedup_spark.streaming.incremental import compact_index, incremental_dedup_query
from spans import job_group

MIN_RECALL = 0.99


class Gates:
    """Correctness gates over every output a run produces."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.recalls: list[float] = []
        self.errors: list[str] = []

    def check(self, what: str, problems: list[str], recall: float) -> None:
        self.attempted += 1
        self.recalls.append(recall)
        if recall < MIN_RECALL:
            problems = [*problems, f"dup_recall {recall:.4f} < {MIN_RECALL}"]
        if problems:
            self.failed += 1
            self.errors.append(f"{what}: {'; '.join(problems)}")


def component_recall(truth: list[tuple[str, str]], component: dict) -> float:
    """Share of injected duplicate pairs whose two pages share a component."""
    hit = sum(1 for a, b in truth if component.get(a, a) == component.get(b, b))
    return hit / len(truth)


def pair_components(pairs) -> dict:
    """url -> component root of the graph the output pairs form."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class Workload:
    name = ""
    n_pages = 0
    n_files = 4

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.gates = Gates()
        self.pages_dir = os.path.join(work, "pages")
        self.shuffle_bytes = 0
        self._n = 0

    def make_corpus(self) -> gen.Corpus:
        raise NotImplementedError

    def make_inputs(self) -> None:
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        self.corpus = self.make_corpus()
        gen.write_pages(self.corpus, self.pages_dir, self.n_files)

    def fresh(self, label: str) -> str:
        """A new, empty directory for one pass's outputs."""
        self._n += 1
        path = os.path.join(self.work, "out", f"{label}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def clean_outputs(self) -> None:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)


class BatchWorkload(Workload):
    """A ``dedup()`` call whose classifications go through
    ``sinks.write_classifications``."""

    tiers: tuple[str, ...] = ("minhash",)
    checkpointed = False
    cfg = DedupConfig()

    def _config(self, ckpt: str | None) -> DedupConfig:
        return self.cfg.with_overrides(checkpoint_dir=ckpt) if ckpt else self.cfg

    def _dedup_to(self, spark, out: str, ckpt: str | None, metrics_sink=None) -> float:
        """Seconds from the input DataFrame to written classifications."""
        pages = spark.read.parquet(self.pages_dir)
        t0 = time.perf_counter()
        result = dedup(spark, pages, self._config(ckpt), tiers=self.tiers,
                       metrics_sink=metrics_sink)
        sinks.write_classifications(result, path=out)
        return time.perf_counter() - t0

    def _resume(self, spark, ckpt: str) -> tuple[float, str]:
        """Delete the last two stage checkpoints, then finish the run."""
        root = checkpoint_root(self._config(ckpt), self.tiers)
        for stage in ("components", "classifications"):
            shutil.rmtree(os.path.join(root, stage))
        out = self.fresh("resume")
        return self._dedup_to(spark, out, ckpt), out

    def _gate(self, what: str, out: str) -> None:
        """One output row per input url, and the injected pairs clustered."""
        t = pq.read_table(out, columns=["url", "component"])
        urls = t.column("url").to_pylist()
        component = dict(zip(urls, t.column("component").to_pylist()))
        problems = []
        if len(urls) != len(self.corpus.urls) or component.keys() != set(self.corpus.urls):
            problems.append(
                f"{len(urls)} output rows for {len(component)} distinct urls; "
                f"expected one row per each of {len(self.corpus.urls)} input urls"
            )
        self.gates.check(what, problems, component_recall(self.corpus.truth, component))

    def warmup(self, spark, store) -> None:
        """The untimed run: ``dedup()`` in memory over the measured input.
        It gives ``shuffle_bytes`` and checks the merged edge count against
        the generator's truth before anything is timed. In a cold JVM a
        checkpointed pass costs twice as much, and warms little more."""
        out = self.fresh("warm")
        stages: list[dict] = []
        g = job_group(spark, "untimed")
        self._dedup_to(spark, out, None, metrics_sink=stages)
        self.shuffle_bytes = store.group_totals(g)["shuffle_write_bytes"]
        self._gate("untimed run", out)
        edges = next(m["rows"] for m in stages if m["stage"] == "edges")
        gen.check_edges(self.corpus, "+".join(self.tiers), edges)
        self.clean_outputs()

    def check_checkpoints(self, root: str) -> None:
        """Checks of a checkpointed pass's stages, after it is timed."""
        raise NotImplementedError

    def run_pass(self, spark) -> dict:
        ckpt = self.fresh("ckpt") if self.checkpointed else None
        out = self.fresh("pass")
        wall = self._dedup_to(spark, out, ckpt)
        self._gate("pass", out)
        # nothing is checkpointed: a lost output costs a full pass
        resume_s = wall
        if ckpt:
            resume_s, out = self._resume(spark, ckpt)
            self._gate("resume", out)
            self.check_checkpoints(checkpoint_root(self._config(ckpt), self.tiers))
        self.clean_outputs()
        return {"wall_s": wall, "batch_s": [wall], "resume_s": resume_s}

    def plain_pass(self, spark) -> float:
        """The untraced twin of ``traced_pass``: ``dedup()`` in memory."""
        wall = self._dedup_to(spark, self.fresh("plain"), None)
        self.clean_outputs()
        return wall

    def traced_pass(self, spark, tracer) -> float:
        """``dedup()``'s composition, one traced layer at a time, without
        stage checkpoints: each layer's output is materialized once."""
        cfg = self.cfg
        tiers = self.tiers
        root = tracer.start_pass()
        t0 = time.time()
        narrow = spark.read.parquet(self.pages_dir).select(
            "url", "text", F.length("text").alias("n_chars")
        )
        tag = "exact" in tiers

        def edge_cols(e, transitive: bool):
            e = e.select("id_a", "id_b", "jaccard")
            return e.withColumn("transitive", F.lit(transitive)) if tag else e

        frames = []
        if "exact" in tiers:
            e = tracer.layer("exact.pairs", lambda: exact.exact_dup_pairs(
                narrow, hash_family=cfg.hash_family).withColumn("jaccard", F.lit(1.0)))
            frames.append(edge_cols(e, True))
        sigs = tracer.layer("minhash.signatures", lambda: minhash.signatures(narrow, cfg))
        bands = tracer.layer("minhash.bands", lambda: minhash.capped_buckets(
            minhash.band_buckets(sigs, cfg), cfg))
        cand = tracer.layer("minhash.candidates", lambda: minhash.candidate_pairs(bands, cfg))
        verified = tracer.layer("minhash.verify", lambda: minhash.verified_pairs(cand, sigs, cfg))
        frames.append(edge_cols(verified, False))
        if "simhash" in tiers:
            e = tracer.layer("simhash.pairs", lambda: simhash.simhash_dup_pairs(
                narrow, cfg).withColumn("jaccard", 1.0 - F.col("hamming") / F.lit(60.0)))
            frames.append(edge_cols(e, False))
        if "substring" in tiers:
            e = tracer.layer("substring.pairs", lambda: substring.substring_dup_pairs(
                narrow, cfg).withColumn("jaccard", F.lit(1.0)))
            frames.append(edge_cols(e, False))

        def merge():
            if len(frames) == 1:
                return frames[0]
            union = frames[0]
            for f in frames[1:]:
                union = union.unionByName(f)
            aggs = [F.max("jaccard").alias("jaccard")]
            if tag:
                aggs.append(F.max("transitive").alias("transitive"))
            return union.groupBy("id_a", "id_b").agg(*aggs)

        edges = tracer.layer("pipeline.merge", merge)
        assignments = tracer.layer("components.assign", lambda: components.assign_components(
            narrow, edges, assume_distinct=True, input_cached=True, assume_unique_ids=True))
        stats = narrow.select(F.col("url").alias("id"), "n_chars")
        classes = tracer.layer("classify.classify", lambda: C.classify(
            assignments, edges, stats, cfg).withColumnRenamed("id", "url"))
        out = self.fresh("traced")
        tracer.action(
            "sinks.write",
            lambda: sinks.write_classifications(classes, path=out),
            lambda: pq.read_table(out, columns=["url"]).num_rows,
        )
        t1 = time.time()
        tracer.span("pass", t0, t1, None, span_id=root)
        self._gate("traced pass", out)
        self.clean_outputs()
        return t1 - t0


class CrawlMinhash(BatchWorkload):
    """Production shape: long pages, low duplicate rate, the default
    minhash tier in memory (no checkpoint_dir). Not listed in
    BENCHMARK.json, whose run budget fits two workloads; run it by hand."""

    name = "crawl-minhash"
    # large enough that signatures, not the fixed per-job cost of
    # components and classify, dominate the pass
    n_pages = 3000

    def make_corpus(self) -> gen.Corpus:
        return gen.crawl_pages(self.seed, self.n_pages)


# Lower than the default 1024 so the largest template's band buckets (about
# 60 pages) take the salted path; a bucket past 1024 members would mean over
# a million candidate rows per band, more than one run's time allows.
SKEW_CUTOFF = 48
TEMPLATES = (100, 24, 20, 16)


class BoilerplateMultitier(BatchWorkload):
    """Resumable CLI shape: short template-heavy pages through the exact,
    minhash, simhash and substring tiers with stage checkpoints."""

    name = "boilerplate-multitier"
    n_pages = 600
    tiers = ("exact", "minhash", "simhash", "substring")
    checkpointed = True
    cfg = DedupConfig(skew_bucket_cutoff=SKEW_CUTOFF)

    def make_corpus(self) -> gen.Corpus:
        return gen.boilerplate_pages(self.seed, self.n_pages, TEMPLATES)

    def check_checkpoints(self, root: str) -> None:
        """Edge counts per tier and the hottest band bucket."""
        for tier, stage in (("exact", "edges_exact"), ("minhash", "pairs"),
                            ("simhash", "edges_simhash"), ("substring", "edges_substring")):
            rows = pq.read_table(os.path.join(root, stage), columns=["id_a"]).num_rows
            gen.check_edges(self.corpus, tier, rows)
        buckets = pq.read_table(os.path.join(root, "bands"), columns=["bucket"])
        hottest = max(buckets.column("bucket").value_counts().field("counts").to_pylist())
        if hottest <= SKEW_CUTOFF:
            raise ValueError(
                f"hottest LSH bucket has {hottest} members, not past the "
                f"skew cutoff {SKEW_CUTOFF}: the salted path would not run"
            )


class StreamIncremental(Workload):
    """Crawl-shaped pages dropped as parquet files: the incremental query
    (availableNow, one micro-batch per file, capped index appends), then
    index compaction."""

    name = "stream-incremental"
    n_pages = 400
    n_files = 2
    cfg = DedupConfig(max_bucket_size=64)

    def make_corpus(self) -> gen.Corpus:
        return gen.crawl_pages(self.seed, self.n_pages)

    def _drain(self, spark, wd: str):
        q = incremental_dedup_query(spark, self.pages_dir, wd, self.cfg)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q

    def _resume(self, spark, wd: str) -> float:
        """Forget the last micro-batch's commit, as a crash before the
        commit would, and time the query's restart until it has finished."""
        commits = os.path.join(wd, "_chk", "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, f)):
                os.remove(os.path.join(commits, f))
        t0 = time.perf_counter()
        self._drain(spark, wd)
        return time.perf_counter() - t0

    def _gate(self, what: str, wd: str) -> None:
        """Every url indexed; the verified pairs equal the batch
        ``minhash_dup_pairs`` on the same input and config."""
        t = pq.read_table(os.path.join(wd, "pairs"), columns=["id_a", "id_b"])
        pairs = set(zip(t.column("id_a").to_pylist(), t.column("id_b").to_pylist()))
        indexed = set(pq.read_table(os.path.join(wd, "index"), columns=["id"]).column("id").to_pylist())
        problems = []
        if indexed != set(self.corpus.urls):
            problems.append(f"{len(indexed)} urls indexed of {len(self.corpus.urls)}")
        if pairs != self.reference:
            problems.append(
                f"{len(pairs)} stream pairs differ from {len(self.reference)} batch "
                f"pairs ({len(pairs ^ self.reference)} mismatched)"
            )
        self.gates.check(what, problems, component_recall(self.corpus.truth, pair_components(pairs)))

    def warmup(self, spark, store) -> None:
        """The untimed run, drain and compaction over the measured input,
        which gives ``shuffle_bytes``; then the batch reference pairs the
        gates compare against."""
        wd = self.fresh("warm")
        q = self._drain(spark, wd)
        g = job_group(spark, "untimed-compact")
        compact_index(spark, wd)
        self.shuffle_bytes = (store.group_totals(str(q.runId))["shuffle_write_bytes"]
                              + store.group_totals(g)["shuffle_write_bytes"])
        job_group(spark, "reference")
        pages = spark.read.parquet(self.pages_dir).select("url", "text")
        self.reference = {
            (r["id_a"], r["id_b"])
            for r in minhash.minhash_dup_pairs(pages, self.cfg).select("id_a", "id_b").collect()
        }
        gen.check_edges(self.corpus, "minhash", len(self.reference))
        self._gate("untimed run", wd)
        self.clean_outputs()

    def run_pass(self, spark) -> dict:
        wd = self.fresh("stream")
        t0 = time.perf_counter()
        q = self._drain(spark, wd)
        compact_index(spark, wd)
        wall = time.perf_counter() - t0
        batches = [p["batchDuration"] / 1000 for p in q.recentProgress if p["numInputRows"] > 0]
        self._gate("pass", wd)
        resume_s = self._resume(spark, wd)
        self._gate("resume", wd)
        self.clean_outputs()
        return {"wall_s": wall, "batch_s": batches, "resume_s": resume_s}

    def plain_pass(self, spark) -> float:
        wd = self.fresh("plain")
        t0 = time.perf_counter()
        self._drain(spark, wd)
        compact_index(spark, wd)
        wall = time.perf_counter() - t0
        self.clean_outputs()
        return wall

    def traced_pass(self, spark, tracer) -> float:
        root = tracer.start_pass()
        wd = self.fresh("traced")
        t0 = time.time()
        q = self._drain(spark, wd)
        t1 = time.time()
        n_pairs = pq.read_table(os.path.join(wd, "pairs"), columns=["id_a"]).num_rows
        layer_id = tracer.record("streaming.microbatch", str(q.runId), t0, t1, n_pairs)["span_id"]
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                start = datetime.datetime.fromisoformat(p["timestamp"]).timestamp()
                tracer.span(f"microbatch {p['batchId']}", start,
                            start + p["batchDuration"] / 1000, layer_id)
        result = {}
        tracer.action(
            "streaming.compact_index",
            lambda: result.update(compact_index(spark, wd)),
            lambda: result["rows"],
        )
        t2 = time.time()
        tracer.span("pass", t0, t2, None, span_id=root)
        self._gate("traced pass", wd)
        self.clean_outputs()
        return t2 - t0


WORKLOADS = {w.name: w for w in (CrawlMinhash, BoilerplateMultitier, StreamIncremental)}
