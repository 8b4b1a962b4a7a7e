"""CLI — the spark-submit entry point.

Mirrors the reference's cli → api layering (/root/reference/lasvdedup/cli.py:
13-100 parse_args, :102-112 main delegating to the library): the CLI is a
thin argparse wrapper over ``lasvdedup_spark.pipeline.dedup``; every option
maps onto a DedupConfig field with the same precedence (defaults < YAML <
explicit flags, config.py:from_yaml).

Cluster launch shape (north rule; spark-submit takes an application FILE,
so ship the package via --py-files and point it at a thin launcher):

    spark-submit --py-files lasvdedup_spark.zip run_dedup.py \\
        --input ...pages_parquet_or_table --output ...dir \\
        --config conf.yaml --checkpoint-dir ...ckpt

where run_dedup.py is two lines:
    from lasvdedup_spark.cli import main
    main()

Locally the module runs directly: ``python -m lasvdedup_spark.cli ...``
(same main(), local[N] via --master).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from lasvdedup_spark.config import DedupConfig


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="lasvdedup-spark",
        description="PySpark-native near-duplicate detection + clustering",
    )
    p.add_argument("--input", required=True, help="pages parquet path (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True, help="output dir for classifications parquet")
    p.add_argument("--config", default=None, help="YAML config (keys = DedupConfig fields)")

    class _PrintDefaultConfig(argparse.Action):
        # help-style action: print the packaged default config and exit
        # before the required-args check, so `lasvdedup-spark
        # --print-default-config > my.yaml` is the copy-then-edit workflow
        # the reference's packaged config.yaml supports (utils/resources.py)
        def __call__(self, parser, namespace, values, option_string=None):
            from lasvdedup_spark.resources import get_default_config_text

            print(get_default_config_text(), end="")
            parser.exit()

    p.add_argument(
        "--print-default-config", nargs=0, action=_PrintDefaultConfig,
        help="print the packaged default config YAML and exit",
    )
    p.add_argument("--checkpoint-dir", default=None, help="stage checkpoint root (resume support)")
    p.add_argument(
        "--tiers", default="minhash",
        help="comma list from {exact,minhash,simhash,substring,embedding,"
             "containment}",
    )
    p.add_argument(
        "--embeddings", default=None,
        help="embeddings parquet (url, embedding: array<float>) — required "
             "when --tiers includes 'embedding'; its cosine-near-dup edges "
             "merge into the shared component/cascade stages",
    )
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument(
        "--containment-threshold", type=float, default=None,
        help="containment tier: keep pairs with max(c_a, c_b) >= T",
    )
    p.add_argument("--target-length", type=int, default=None)
    p.add_argument(
        "--quality-cols", default="",
        help="comma list of page columns ranked DESC for representative "
             "selection (reference SELECTION_COLUMNS)",
    )
    p.add_argument(
        "--lang-threshold", action="append", default=[], metavar="LANG=T",
        help="per-language jaccard threshold override (repeatable), e.g. "
             "--lang-threshold de=0.6 (reference segment THRESHOLDS)",
    )
    p.add_argument(
        "--partition-output", action="store_true",
        help="write output partitioned by classification verdict "
             "(per-class directories, reference io_utils.py:111-144)",
    )
    p.add_argument(
        "--dry-run", action="store_true",
        help="print the stage plan (which stages would run / resume from "
             "checkpoint) and exit without starting Spark (reference "
             "--dry-run, snakemake -n)",
    )
    p.add_argument(
        "--force", action="store_true",
        help="recompute every stage even if finished checkpoints exist "
             "(reference --force)",
    )
    p.add_argument("--master", default=None, help="override spark master (default: from environment)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def build_config(args: argparse.Namespace) -> DedupConfig:
    """defaults < YAML < CLI flags — reference precedence
    (config_setup.py:117-201)."""
    overrides = {}
    if args.checkpoint_dir:
        overrides["checkpoint_dir"] = args.checkpoint_dir
    if args.jaccard_threshold is not None:
        overrides["jaccard_threshold"] = args.jaccard_threshold
    if args.containment_threshold is not None:
        overrides["containment_threshold"] = args.containment_threshold
    if args.target_length is not None:
        overrides["target_length"] = args.target_length
    if args.shuffle_partitions is not None:
        overrides["shuffle_partitions"] = args.shuffle_partitions
    if getattr(args, "lang_threshold", None):
        lt = {}
        for spec in args.lang_threshold:
            lang, _, thr = spec.partition("=")
            if not thr:
                raise ValueError(f"--lang-threshold expects LANG=T, got {spec!r}")
            lt[lang] = float(thr)
        overrides["lang_thresholds"] = lt
    if args.config:
        return DedupConfig.from_yaml(args.config, **overrides)
    return DedupConfig(**overrides)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    cfg = build_config(args)
    tiers = tuple(t.strip() for t in args.tiers.split(",") if t.strip())
    quality_cols = tuple(c.strip() for c in args.quality_cols.split(",") if c.strip())

    # fail before Spark starts: tier typos and a missing --embeddings are
    # config errors, not mid-job surprises
    from lasvdedup_spark.pipeline import validate_tiers

    validate_tiers(tiers)
    if "embedding" in tiers and not args.embeddings:
        raise SystemExit(
            "--tiers includes 'embedding' but no --embeddings parquet "
            "path was given"
        )

    if args.dry_run:
        from lasvdedup_spark.pipeline import stage_plan

        # quality_cols/force flow through so the plan reads done-ness from
        # the SAME checkpoint address the real run would use (and a forced
        # run reports everything as to-run)
        print(
            json.dumps(
                {
                    "dry_run": True,
                    "stages": stage_plan(
                        cfg, tiers, quality_cols=quality_cols, force=args.force
                    ),
                }
            )
        )
        return 0

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from lasvdedup_spark.pipeline import dedup
    from lasvdedup_spark.session import get_spark

    spark = get_spark(
        app_name="lasvdedup_spark",
        master=args.master,
        shuffle_partitions=cfg.shuffle_partitions,
    )

    t0 = time.time()
    pages = spark.read.parquet(args.input)
    embeddings = (
        spark.read.parquet(args.embeddings) if args.embeddings else None
    )
    out = dedup(
        spark, pages, cfg, tiers=tiers, quality_cols=quality_cols,
        force=args.force, embeddings=embeddings,
    )
    # n_classified is observed on the output write, not re-read from it
    obs = Observation()
    rows = out.orderBy("url").observe(obs, F.count(F.lit(1)).alias("rows"))
    if args.partition_output:
        from lasvdedup_spark.sinks import write_classifications

        write_classifications(rows, path=args.output)
    else:
        rows.write.mode("overwrite").parquet(args.output)

    summary = {
        "n_classified": obs.get["rows"],
        "seconds": round(time.time() - t0, 3),
        "output": args.output,
        "tiers": list(tiers),
        "fingerprint": cfg.fingerprint(),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
