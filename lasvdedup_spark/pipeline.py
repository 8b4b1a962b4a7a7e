"""Staged pipeline runner: checkpoints, resume, per-stage metrics.

Mirrors the reference's Snakemake incremental DAG
(/root/reference/lasvdedup/pipeline.py:70-78: skip rules whose outputs
exist, --force to rerun) as a driver-side orchestration pattern:

  * every stage writes parquet under <checkpoint_dir>/<config_fingerprint>/<stage>,
    and that write is the only job the stage adds: its row count is
    observed on the write itself and the read-back reuses the written
    schema, so nothing re-scans the stage;
  * a finished stage (parquet _SUCCESS present) is read back instead of
    recomputed — resume after a crash costs only the unfinished stages —
    with the schema taken from one part file's footer, so a resumed stage
    runs no job at all;
  * the fingerprint covers every semantics-affecting config field, so a
    changed config never reuses stale checkpoints (Snakemake gets this from
    file timestamps; we get it from content addressing, which also survives
    clock skew across a cluster);
  * per-stage metrics rows (stage, rows, seconds, skipped) and per-output-file
    lineage rows append to the _metrics and _lineage parquets once per run,
    also when a later stage fails — the north rule's per-partition lineage
    + metrics analog of the reference's elapsed-time logging
    (determine_duplicates.py:107,149-150).

On a real deployment the writes target Iceberg tables
(``writeTo(...).createOrReplace()``); in this sandbox the Iceberg runtime
jar is unavailable, so the same IO goes through parquet paths behind this
one module — the stage logic never knows the difference.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lasvdedup_spark import fsio
from lasvdedup_spark.config import DedupConfig

# Persisted-stage FORMAT version, folded into every checkpoint address.
# Bump whenever any stage's persisted schema or meaning changes (e.g. round
# 3 added the 'transitive' column to the edges stage): a resume over
# checkpoints written by older code must MISS — with an unversioned address
# the old parquet would load cleanly and downstream logic would silently
# degrade (classify's `"transitive" in edges.columns` fallback re-introduces
# the exact under-counted pair accounting the column was added to fix).
CHECKPOINT_FORMAT_VERSION = 2


class StageRunner:
    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        force: bool = False,
        tiers: tuple[str, ...] = ("minhash",),
        quality_cols: tuple[str, ...] = (),
        collect_metrics: bool = False,
    ):
        """force=True recomputes every stage even when a finished checkpoint
        exists — the reference's ``--force`` rerun semantics
        (/root/reference/lasvdedup/cli.py:42-43, Snakemake --forceall).

        tiers/quality_cols are the dedup() call's arguments: they extend
        the content address beyond DedupConfig (see checkpoint_root)."""
        self.spark = spark
        self.cfg = cfg
        self.force = force
        self.collect_metrics = collect_metrics
        self.root = checkpoint_root(cfg, tiers, quality_cols)
        self.metrics: list[dict] = []
        # stage -> logged_at of each stage this runner wrote; write_metrics()
        # logs their lineage in one go (a rewritten stage: its last write)
        self._written: dict[str, float] = {}

    def _path(self, stage: str) -> str:
        assert self.root is not None
        return os.path.join(self.root, stage)

    def _done(self, stage: str) -> bool:
        if self.force:
            return False
        if self.root is None:
            return False
        # Hadoop-FS probe, not os.path: the checkpoint root lives on
        # whatever filesystem Spark writes to (HDFS/S3 at scale); a local
        # probe there reports "absent" and resume silently recomputes
        # every stage (round-3 'What's missing' #1).
        return fsio.exists(
            self.spark, os.path.join(self._path(stage), "_SUCCESS")
        )

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        heavy: bool = False,
        eager: bool = False,
    ) -> DataFrame:
        """Run-or-resume one stage. Without a checkpoint_dir this is a
        pass-through (pure lazy DataFrame composition) — except heavy=True
        stages, which get a localCheckpoint: they are consumed by several
        downstream subtrees (components AND classification both read
        edges), and without truncation every downstream action re-executes
        the whole signature/band/join pipeline once per reference.

        eager=True additionally materializes the checkpoint NOW. Use it
        when the stage is consumed by SIBLING stages of one downstream job:
        a lazy cache only dedups work across SEQUENTIAL actions — two
        concurrent stages of the same job (the band-bucket side and the
        verify-join side both hang off signatures) race on the cold cache
        and each computes the full subtree (~2x the dominant map work;
        measured as two concurrent 96-task stages of equal duration in the
        scaling profile, BENCH.md round 3). Eager materialization runs the
        subtree exactly once, and the sibling stages then read the cache.

        With a checkpoint_dir a computed stage costs exactly its parquet
        write: the row count comes from an Observation on that write, and
        the read-back passes the written schema, so no inference job or
        count re-scans the stage. A finished stage is read back with the
        schema from its footer and runs no job. Metrics and lineage rows
        are buffered and written once per run by write_metrics()."""
        t0 = time.time()
        if self.root is None:
            df = fn()
            if heavy:
                df = df.localCheckpoint(eager=eager)
            # Pass-through metrics (north rule: the metrics story must not
            # require a checkpoint_dir). Eagerly-materialized stages DO run
            # a job here, so their wall time is real; when the caller asked
            # for metrics (collect_metrics), their row count comes from one
            # cheap count over the fresh cache. Purely lazy stages have no
            # job to time — they are flagged lazy with composition-time
            # seconds, never fake numbers.
            rows = -1
            if heavy and eager and self.collect_metrics:
                rows = df.count()
            self.metrics.append(
                {
                    "stage": name,
                    "skipped": False,
                    "seconds": time.time() - t0,
                    "rows": rows,
                    "lazy": not (heavy and eager),
                }
            )
            return df
        path = self._path(name)
        if self._done(name):
            schema = fsio.parquet_schema(self.spark, path)
            reader = self.spark.read if schema is None else self.spark.read.schema(schema)
            df = reader.parquet(path)
            self.metrics.append(
                {"stage": name, "skipped": True, "seconds": time.time() - t0, "rows": -1, "lazy": False}
            )
            return df
        df = fn()
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(path)
        # file sources read every field back as nullable, so the frame's
        # schema is exactly what inference would find — without its job
        out = self.spark.read.schema(df.schema).parquet(path)
        self.metrics.append(
            {"stage": name, "skipped": False, "seconds": time.time() - t0, "rows": obs.get["rows"], "lazy": False}
        )
        self._written[name] = time.time()
        return out

    def _lineage(self) -> DataFrame:
        """Per-partition lineage rows (north rule): per OUTPUT FILE row
        counts of every stage this runner wrote, keyed by stage + config
        fingerprint. Each parquet file was written by exactly one producer
        task, so the written files' row counts expose the PRODUCER's
        partition skew — a stage whose max/mean file-row ratio blows up is
        the one to salt. (spark_partition_id() over a re-read frame would
        instead reflect the reader's ~128MB splits, hiding the writer's
        skew.)

        One scan over all the stage directories with an empty read schema
        decodes no column; a part file's stage is its parent directory."""
        files = self.spark.read.schema(StructType()).parquet(
            *[self._path(stage) for stage in self._written]
        )
        logged_at = F.create_map(
            *[F.lit(x) for kv in self._written.items() for x in kv]
        )
        stage = F.element_at(F.split("output_file", "/"), -2)
        return (
            files.groupBy(F.input_file_name().alias("output_file"))
            .count()
            .select(
                stage.alias("stage"),
                F.lit(self.cfg.fingerprint()).alias("config_fingerprint"),
                "output_file",
                F.col("count").alias("rows"),
                logged_at[stage].alias("logged_at"),
            )
        )

    def write_metrics(self) -> None:
        """Append the buffered per-stage rows to _metrics and the lineage
        of every stage written so far to _lineage: two appends per run,
        however many stages ran. The metrics rows are literals built on the
        JVM, so no Python worker is involved."""
        if self.root is None:
            return
        if self.metrics:
            rows = [
                F.struct(
                    F.lit(m["stage"]).alias("stage"),
                    F.lit(bool(m["skipped"])).alias("skipped"),
                    F.lit(float(m["seconds"])).alias("seconds"),
                    F.lit(int(m["rows"])).cast("long").alias("rows"),
                    F.lit(time.time()).alias("logged_at"),
                )
                for m in self.metrics
            ]
            metrics = self.spark.range(1).select(F.inline(F.array(*rows)))
            metrics.write.mode("append").parquet(os.path.join(self.root, "_metrics"))
        if self._written:
            self._lineage().write.mode("append").parquet(os.path.join(self.root, "_lineage"))


def validate_pages_schema(
    pages: DataFrame, required: tuple[str, ...]
) -> None:
    """Fail-fast input validation (reference io_utils.py:39-42 raises
    ValueError on missing table columns before any work starts; without
    this Spark fails lazily mid-job with an AnalysisException after
    upstream stages already ran)."""
    missing = [c for c in required if c not in pages.columns]
    if missing:
        raise ValueError(
            f"input pages table is missing required column(s) {missing}; "
            f"has {pages.columns}"
        )


KNOWN_TIERS = (
    "exact",
    "minhash",
    "simhash",
    "substring",
    "embedding",
    "containment",
)


def validate_tiers(tiers: tuple[str, ...]) -> None:
    """Fail fast on unknown tier names. Without this a typo
    (tiers=("minhash","simhsh")) silently drops the tier — the run
    completes with fewer edges and no error, the worst failure mode for a
    dedup pipeline. Mirrors the reference's choices= enforcement on its
    CLI enums (/root/reference/lasvdedup/cli.py:13-100)."""
    unknown = [t for t in tiers if t not in KNOWN_TIERS]
    if unknown:
        raise ValueError(
            f"unknown tier(s) {unknown}; valid tiers are {list(KNOWN_TIERS)}"
        )


def _call_key(tiers: tuple[str, ...], quality_cols: tuple[str, ...]) -> str:
    """Checkpoint-address suffix for call-level (non-DedupConfig) semantics.
    tiers/quality_cols change stage outputs: two dedup() calls with the same
    config but different tiers MUST NOT share checkpoints — the edge set
    differs. Part of checkpoint_root, which dedup() (through StageRunner)
    and stage_plan() share, so --dry-run reports done-ness from the
    directory the real run will actually use."""
    if tiers != ("minhash",) or quality_cols:
        blob = json.dumps([sorted(tiers), list(quality_cols)]).encode()
        return "-" + hashlib.md5(blob).hexdigest()[:8]
    return ""


def checkpoint_root(
    cfg: DedupConfig,
    tiers: tuple[str, ...] = ("minhash",),
    quality_cols: tuple[str, ...] = (),
) -> str | None:
    if not cfg.checkpoint_dir:
        return None
    return os.path.join(
        cfg.checkpoint_dir,
        cfg.fingerprint()
        + _call_key(tiers, quality_cols)
        + f"-f{CHECKPOINT_FORMAT_VERSION}",
    )


def stage_plan(
    cfg: DedupConfig,
    tiers: tuple[str, ...] = ("minhash",),
    quality_cols: tuple[str, ...] = (),
    force: bool = False,
    spark: SparkSession | None = None,
) -> list[dict]:
    """Dry-run plan (reference --dry-run / snakemake -n,
    /root/reference/lasvdedup/cli.py:42-43): the stages dedup() would run
    for this config, with done-ness read from existing checkpoints. Pure
    driver-side metadata — no Spark job runs. Uses the SAME checkpoint
    address as dedup() (fingerprint + call_key over tiers/quality_cols),
    and force=True reports every stage as to-run, mirroring dedup(force).

    Pass ``spark`` to probe done-ness through the Hadoop FileSystem API —
    required whenever checkpoint_dir is not plain local disk (hdfs:, s3a:,
    file:-URI); without a session the probe falls back to os.path and only
    sees local paths."""
    validate_tiers(tiers)
    names = ["narrow"]
    if "exact" in tiers:
        names.append("edges_exact")
    if "minhash" in tiers or "containment" in tiers:
        names += ["signatures", "bands"]
    if "minhash" in tiers:
        names.append("pairs")
    if "containment" in tiers:
        names.append("edges_containment")
    if "simhash" in tiers:
        names.append("edges_simhash")
    if "substring" in tiers:
        names.append("edges_substring")
    if "embedding" in tiers:
        names.append("edges_embedding")
    names += ["edges", "components", "classifications"]
    root = checkpoint_root(cfg, tiers, quality_cols)

    def _probe(p: str) -> bool:
        if spark is not None:
            return fsio.exists(spark, p)
        return os.path.exists(p)

    return [
        {
            "stage": n,
            "done": bool(
                not force
                and root
                and _probe(os.path.join(root, n, "_SUCCESS"))
            ),
            "fingerprint": cfg.fingerprint(),
        }
        for n in names
    ]


def refine_edges_by_lang(
    edges: DataFrame,
    pages: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-language threshold refinement: an edge stands iff its jaccard
    clears the threshold of BOTH endpoints' languages (greatest), unlisted
    languages falling back to cfg.jaccard_threshold — the web analog of the
    reference's segment-specific THRESHOLDS overrides
    (/root/reference/lasvdedup/utils/config_setup.py:154-184, where each
    segment's PWD replaces the global one). Callers verify candidates at
    the FLOOR (min) of all thresholds first so lower-than-global languages
    lose no pairs (see dedup()).

    The lang lookup is a narrow (id, threshold) projection — broadcastable
    when small; the join keys are the ids the edges already shuffle on.
    """
    thr_map = F.create_map(
        *[F.lit(x) for kv in cfg.lang_thresholds.items() for x in kv]
    )
    thr = F.coalesce(
        thr_map[F.col("lang")], F.lit(cfg.jaccard_threshold)
    ).alias("_thr")
    langs = pages.select(F.col(id_col), thr)
    la = langs.select(F.col(id_col).alias("id_a"), F.col("_thr").alias("_thr_a"))
    lb = langs.select(F.col(id_col).alias("id_b"), F.col("_thr").alias("_thr_b"))
    return (
        edges.join(la, "id_a")
        .join(lb, "id_b")
        .where(F.col("jaccard") >= F.greatest("_thr_a", "_thr_b"))
        .select("id_a", "id_b", "jaccard", *extra_cols)
    )


def dedup(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    tiers: tuple[str, ...] = ("minhash",),
    quality_cols: tuple[str, ...] = (),
    force: bool = False,
    embeddings: DataFrame | None = None,
    embedding_id_col: str = "url",
    embedding_vec_col: str = "embedding",
    metrics_sink: list | None = None,
) -> DataFrame:
    """Public API: pages -> classifications DataFrame (lazy unless
    checkpointing). The analog of the reference's importable
    ``determine_duplicates(config=...)`` entry point
    (/root/reference/lasvdedup/utils/determine_duplicates.py:52-153).

    tiers ⊆ {"exact", "minhash", "simhash", "substring", "embedding",
    "containment"} select which edge generators feed the shared
    connected-components + classification stages.
    "exact" edges are implied by "minhash" (identical text ⇒ identical
    signature ⇒ jaccard 1.0), so the default single tier is complete.
    "containment" finds subset duplication (a doc quoted wholesale inside
    a longer one) that symmetric Jaccard misses — same LSH candidates as
    minhash (the signatures/bands stages are shared when both are on),
    asymmetric verify at cfg.containment_threshold.

    The "embedding" tier takes a separate ``embeddings`` DataFrame
    (embedding_id_col, embedding_vec_col: array<float|double>) whose ids
    MUST be page ids (a multimodal pipeline derives them from the same
    rows); its cosine-near-dup edges (>= cfg.embedding_threshold,
    hyperplane-LSH banded with cfg.ann_tables x cfg.ann_planes) merge into
    the same component/cascade machinery — tiers=("minhash", "embedding")
    is the one-call cross-modal dedup.

    quality_cols: extra page columns ranked DESCENDING after
    dist-to-target when selecting each cluster's representative — the
    reference's configurable SELECTION_COLUMNS (io_utils.py:48-55,
    config.yaml:27-30; e.g. fetch quality / mapped-read analogs).

    metrics_sink: pass a list to receive the per-stage metrics dicts
    (stage, seconds, rows, skipped, lazy) even WITHOUT a checkpoint_dir —
    eagerly-materialized stages (signatures, edges) report real wall time
    and row counts; purely lazy stages are flagged lazy=True rather than
    given fake numbers. With a checkpoint_dir the same rows also land in
    the _metrics parquet as before.

    cfg.lang_thresholds applies per-language duplicate thresholds
    (reference's segment-specific THRESHOLDS overrides,
    config_setup.py:154-184): an edge must clear the threshold of BOTH
    endpoints' languages (greatest), unlisted languages use the global
    jaccard_threshold. Candidate verification runs at the floor (min) of
    all thresholds so lower-than-global languages lose no pairs.
    """
    cfg = cfg or DedupConfig()
    validate_tiers(tiers)
    lang_cols = ("lang",) if cfg.lang_thresholds else ()
    validate_pages_schema(pages, ("url", "text", *quality_cols, *lang_cols))
    # tiers/quality_cols change stage outputs but live outside DedupConfig:
    # fold them into the checkpoint address (shared with stage_plan) or a
    # resume with different arguments silently reuses stale stages
    r = StageRunner(
        spark,
        cfg,
        force=force,
        tiers=tiers,
        quality_cols=quality_cols,
        collect_metrics=metrics_sink is not None,
    )
    try:
        out = _stages(
            r, pages, cfg, tiers, quality_cols, lang_cols,
            embeddings, embedding_id_col, embedding_vec_col,
        )
    finally:
        # a failed stage must not lose the metrics and lineage of the
        # stages that finished before it
        r.write_metrics()
    if metrics_sink is not None:
        # checkpoint-less metrics channel (the north rule's metrics story
        # must not require a checkpoint_dir): real seconds/rows for every
        # eagerly-materialized stage, lazy=True markers for the rest
        metrics_sink.extend(r.metrics)
    return out


def _stages(
    r: StageRunner,
    pages: DataFrame,
    cfg: DedupConfig,
    tiers: tuple[str, ...],
    quality_cols: tuple[str, ...],
    lang_cols: tuple[str, ...],
    embeddings: DataFrame | None,
    embedding_id_col: str,
    embedding_vec_col: str,
) -> DataFrame:
    """dedup()'s stage sequence on runner ``r``; returns the
    classifications frame."""
    from lasvdedup_spark.operators import classify as C
    from lasvdedup_spark.operators import components, exact, minhash, simhash, substring

    # Under a checkpoint_dir the 'narrow' stage persists only the metadata
    # columns downstream stats / lang-refinement read. The text-consuming
    # tiers project straight off the INPUT table — lazily, so column pruning
    # still reaches the source scan — instead of a checkpoint that would be
    # a near-full copy of a 100 TB corpus written before any real work. On
    # resume, stages whose checkpoints exist never touch text anyway;
    # unfinished ones recompute from the input (the resume contract already
    # assumes it is unchanged). Without one, the stage passes narrow through.
    narrow = pages.select(
        "url", "text", F.length("text").alias("n_chars"),
        *quality_cols, *lang_cols,
    )
    meta = r.stage(
        "narrow", lambda: narrow if r.root is None else narrow.drop("text")
    )

    if cfg.lang_thresholds:
        # verify at the floor; the per-lang refinement filter runs on the
        # merged edge set below
        floor = min(cfg.jaccard_threshold, *cfg.lang_thresholds.values())
        cfg_verify = cfg.with_overrides(jaccard_threshold=floor)
    else:
        cfg_verify = cfg

    # "exact" edges come from hash equality — an equivalence relation — so
    # classify treats their star edges as proving all C(m,2) pairwise
    # similarities (transitive=True). Every other tier's edges are verified
    # individual pairs (substring's jaccard=1.0 span links included: sharing
    # a span with B and with C does not make B~C).
    tag_transitive = "exact" in tiers

    def _edge_cols(e: DataFrame, transitive: bool) -> DataFrame:
        e = e.select("id_a", "id_b", "jaccard")
        if tag_transitive:
            e = e.withColumn("transitive", F.lit(transitive))
        return e

    edge_frames = []
    if "exact" in tiers:
        e = r.stage(
            "edges_exact",
            lambda: exact.exact_dup_pairs(
                narrow, hash_family=cfg.hash_family
            ).withColumn("jaccard", F.lit(1.0)),
        )
        edge_frames.append(_edge_cols(e, transitive=True))
    if "minhash" in tiers or "containment" in tiers:
        # the north rule's checkpoint stages: signatures -> bands -> pairs;
        # the containment tier shares the signatures/bands stages (same LSH
        # candidates, different verify), so enabling both costs one extra
        # verify join, not a second banding pass
        sigs = r.stage(
            "signatures",
            lambda: minhash.signatures(narrow, cfg),
            heavy=True,
            eager=True,  # consumed by SIBLING stages (bands + both verify
            # joins) of the first downstream job — lazy caching would let
            # them race and compute signatures twice (see stage())
        )
        bands = r.stage(
            "bands", lambda: minhash.capped_buckets(minhash.band_buckets(sigs, cfg), cfg)
        )
        if cfg.max_bucket_size is not None and r.root is not None:
            # the cap's contract: dropped rows are COUNTED, never silent.
            # band_buckets emits exactly lsh_bands rows per NON-NULL
            # signature (a NULL-text page has sig NULL and explodes to 0
            # band rows — it must not be censused as "dropped by the
            # cap"), so the raw (pre-cap) census is
            # count(sig IS NOT NULL) * lsh_bands: one cheap single-column
            # predicate count over the already-checkpointed sigs parquet,
            # never a re-execution of the band explode.
            capped_rows = next(
                (m["rows"] for m in reversed(r.metrics) if m["stage"] == "bands"),
                -1,
            )
            if capped_rows >= 0:
                sig_rows = sigs.where(F.col("sig").isNotNull()).count()
                r.metrics.append(
                    {
                        "stage": "bands_dropped_by_cap",
                        "skipped": False,
                        "lazy": False,
                        "seconds": 0.0,
                        "rows": sig_rows * cfg.lsh_bands - capped_rows,
                    }
                )
    if "minhash" in tiers:
        e = r.stage(
            "pairs",
            lambda: minhash.verified_pairs(
                minhash.candidate_pairs(bands, cfg), sigs, cfg_verify
            ),
        )
        edge_frames.append(_edge_cols(e, transitive=False))
    if "containment" in tiers:
        # subset-dup edges: same LSH candidates, asymmetric verify; the
        # edge similarity is max(c_a, c_b) — like the embedding tier's
        # cosine, it rides the shared 'jaccard' edge column
        e = r.stage(
            "edges_containment",
            lambda: minhash.containment_dup_pairs(narrow, cfg, sigs, bands).select(
                "id_a",
                "id_b",
                F.greatest("containment_a", "containment_b").alias("jaccard"),
            ),
        )
        edge_frames.append(_edge_cols(e, transitive=False))
    if "simhash" in tiers:
        e = r.stage(
            "edges_simhash",
            lambda: simhash.simhash_dup_pairs(narrow, cfg).withColumn(
                "jaccard", 1.0 - F.col("hamming") / F.lit(60.0)
            ),
        )
        edge_frames.append(_edge_cols(e, transitive=False))
    if "substring" in tiers:
        e = r.stage(
            "edges_substring",
            lambda: substring.substring_dup_pairs(narrow, cfg).withColumn(
                "jaccard", F.lit(1.0)  # shared-span edges are hard links
            ),
        )
        edge_frames.append(_edge_cols(e, transitive=False))
    if "embedding" in tiers:
        if embeddings is None:
            raise ValueError(
                "tiers includes 'embedding' but no embeddings DataFrame "
                "was passed to dedup()"
            )
        from lasvdedup_spark.operators import ann

        def _emb_edges() -> DataFrame:
            # dim from one row (tiny limit-1 job): the deterministic
            # hyperplane tables are a function of (tables, planes, dim)
            dim = len(
                embeddings.select(embedding_vec_col).first()[embedding_vec_col]
            )
            tables = ann.plane_tables(cfg.ann_tables, cfg.ann_planes, dim)
            return ann.cosine_dup_pairs(
                embeddings,
                tables,
                cfg.embedding_threshold,
                id_col=embedding_id_col,
                vec_col=embedding_vec_col,
                salt_buckets=cfg.salt_buckets,
                skew_cutoff=cfg.skew_bucket_cutoff,
                max_bucket_size=cfg.max_bucket_size,
            ).withColumnRenamed("cosine", "jaccard")

        e = r.stage("edges_embedding", _emb_edges)
        edge_frames.append(_edge_cols(e, transitive=False))
    if not edge_frames:
        raise ValueError("at least one tier required")

    if len(edge_frames) == 1:
        # single tier: every generator already emits distinct unordered
        # pairs — the cross-tier merge would be a full extra shuffle of the
        # edge set for nothing
        merged = edge_frames[0]
    else:
        all_edges = edge_frames[0]
        for f in edge_frames[1:]:
            all_edges = all_edges.unionByName(f)
        # same pair from several tiers: keep max similarity; a pair is
        # transitive if ANY tier proved it by equality (max over booleans)
        aggs = [F.max("jaccard").alias("jaccard")]
        if tag_transitive:
            aggs.append(F.max("transitive").alias("transitive"))
        merged = all_edges.groupBy("id_a", "id_b").agg(*aggs)

    if cfg.lang_thresholds:
        refined = refine_edges_by_lang(
            merged, meta, cfg,
            extra_cols=("transitive",) if tag_transitive else (),
        )
    else:
        refined = merged

    # eager: edges are materialized HERE once (cache write or stage
    # parquet), and the CC loop is told so (input_cached) — its first round
    # then recomputes only a narrow projection per reference instead of
    # paying a second, nearly-identical cache write (the ~4.3 s edges
    # materialization item in the round-3 scaling profile, BENCH.md)
    edges = r.stage("edges", lambda: refined, heavy=True, eager=True)
    if tag_transitive and "transitive" not in edges.columns:
        # A resumed edges checkpoint missing the 'transitive' column would
        # silently degrade classify's pair accounting (every >clade_size
        # all-identical cluster kept as TrueCoinfection). The format-version
        # suffix in the address should make this unreachable; fail loudly if
        # anything (manual checkpoint surgery, future bug) gets us here.
        raise RuntimeError(
            "resumed 'edges' checkpoint lacks the 'transitive' column "
            "required when the exact tier is enabled; recompute with "
            "force=True (stale/incompatible checkpoint at "
            f"{r.root})"
        )

    assignments = r.stage(
        "components",
        # assume_distinct: every tier ends in a groupBy (or the merge is
        # one), so the defensive de-dup exchange inside CC is redundant here
        # meta, not narrow: components only needs the id universe — reading
        # it from the lean checkpoint avoids re-scanning input text
        # assume_unique_ids: url is the input's primary key (validated
        # schema) — the defensive distinct() was a full exchange of the
        # whole id universe deduplicating nothing
        lambda: components.assign_components(
            meta, edges, assume_distinct=True, input_cached=True,
            assume_unique_ids=True,
        ),
        heavy=True,
    )

    stats = meta.select(F.col("url").alias("id"), "n_chars", *quality_cols)

    def _classifications() -> DataFrame:
        df = C.classify(
            assignments, edges, stats, cfg, quality_cols=quality_cols
        ).withColumnRenamed("id", "url")
        # ORDER BY url is the *sink* contract (reference TSV output,
        # io_utils.py:111-144; cli.py re-sorts before writing). Materialize
        # it only where rows persist — the checkpoint parquet. Forcing the
        # range-shuffle + global sort into the pass-through plan would tax
        # every in-memory consumer (sample job + extra exchange) for an
        # ordering DataFrames don't guarantee across transformations anyway.
        return df.orderBy("url") if r.root is not None else df

    return r.stage("classifications", _classifications)
