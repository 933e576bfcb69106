"""spark-submit entry point for the linkage engine.

The reference exposes a stdin/argv CLI protocol (S7,
``api/python/extract.py:96-244``); the Spark-native replacement is a
job CLI submitted to a cluster:

    # package the library once
    (cd <repo> && zip -qr /tmp/abap.zip ai_bangladesh_address_parser_spark)

    spark-submit --py-files /tmp/abap.zip \
        ai_bangladesh_address_parser_spark/__main__.py \
        link --input s3://bucket/pages --output s3://bucket/entities \
        --checkpoint s3://bucket/ckpt --scorer levenshtein --threshold 0.85

    # or locally, identical semantics:
    python -m ai_bangladesh_address_parser_spark link --input ... --output ...

Verbs:
  link             full extract -> block -> score -> cluster; writes entities
  extract          stage 1 only; writes the wide mention table
  split            extract + write partitioned by confidence band (D2)
  gazetteer-build  labeled records -> gazetteer dim with postal dominance (S2/A5)
  ingest           day-2: link one page batch into persistent entity state
                   (plans/incremental.py), optional on-cadence maintenance
  state-maintain   vacuum superseded state versions + compact batch dirs

No master/parallelism flags here: spark-submit (or the surrounding
session) owns cluster sizing, so the same job runs unchanged at N and
4N executors.
"""

from __future__ import annotations

import argparse
import sys


def _session(app: str):
    # Under spark-submit the submitted --master/--conf must win
    # wholesale; a bare `python -m` run gets session.get_spark's tuned
    # defaults (UTC session timezone, ansi off for oracle-deterministic
    # math, Arrow on) instead of Spark's bare defaults. Detection note:
    # `SparkConf().contains("spark.master")` does NOT work in PySpark
    # 4.x (a pre-context SparkConf has _jvm=None and an empty local
    # dict), so probe the launcher's environment instead —
    # PYSPARK_GATEWAY_PORT/SECRET are set only when the JVM launched
    # this Python driver (spark-submit of a .py), and SPARK_CONF_DIR /
    # spark.master in PYSPARK_SUBMIT_ARGS cover client-mode shells.
    import os

    submitted = (
        "PYSPARK_GATEWAY_PORT" in os.environ
        or "PYSPARK_GATEWAY_SECRET" in os.environ
        or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    )
    if submitted:
        from pyspark.sql import SparkSession

        return SparkSession.builder.appName(app).getOrCreate()
    from .session import get_spark

    return get_spark(app)


def _read(spark, path: str, fmt: str):
    return spark.read.format(fmt).load(path)


def _write(df, path: str, fmt: str):
    df.write.mode("overwrite").format(fmt).save(path)


def cmd_link(args) -> int:
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan, StageStore

    spark = _session("abap-link")
    pages = _read(spark, args.input, args.format)
    plan = LinkagePlan(
        spark,
        scorer=args.scorer,
        threshold=args.threshold,
        store=StageStore(base=args.checkpoint, resume=not args.no_resume),
        profile=args.profile,
    )
    ents = plan.run(pages)
    _write(ents, args.output, args.format)
    for stage, m in plan.metrics().items():
        print(f"metric {stage}: {m}", file=sys.stderr)
    return 0


def cmd_extract(args) -> int:
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan, StageStore

    spark = _session("abap-extract")
    pages = _read(spark, args.input, args.format)
    plan = LinkagePlan(
        spark,
        store=StageStore(base=args.checkpoint, resume=not args.no_resume),
        profile=args.profile,
    )
    _write(plan.extract(pages), args.output, args.format)
    return 0


def cmd_split(args) -> int:
    from ai_bangladesh_address_parser_spark.plans.pipeline import LinkagePlan
    from ai_bangladesh_address_parser_spark.sources.pages import write_banded

    spark = _session("abap-split")
    pages = _read(spark, args.input, args.format)
    wide = LinkagePlan(spark, profile=args.profile).extract(pages)
    write_banded(wide, args.output, fmt=args.format)
    return 0


def cmd_gazetteer_build(args) -> int:
    from ai_bangladesh_address_parser_spark.operators.gazetteer_build import build_gazetteer

    spark = _session("abap-gazetteer-build")
    labeled = _read(spark, args.input, args.format)
    _write(build_gazetteer(labeled), args.output, args.format)
    return 0


def cmd_ingest(args) -> int:
    """Link one page batch against persistent entity state (the day-2
    path): spark-submit twin of IncrementalLinker.link_batch."""
    from ai_bangladesh_address_parser_spark.plans.incremental import IncrementalLinker

    spark = _session("abap-ingest")
    pages = _read(spark, args.input, args.format)
    linker = IncrementalLinker(
        spark, args.state,
        scorer=args.scorer, threshold=args.threshold,
        collect_metrics=True,
    )
    linker.link_batch(pages)
    print(f"metric ingest: {linker.last_metrics}", file=sys.stderr)
    if args.maintain_every and linker.version % args.maintain_every == 0:
        linker.vacuum(retain=args.retain)
        linker.compact()
        print(f"metric maintenance: ran at v{linker.version}", file=sys.stderr)
    if args.output:
        _write(linker.entities(), args.output, args.format)
    return 0


def cmd_state_maintain(args) -> int:
    """Vacuum superseded state versions + compact per-batch dirs —
    the scheduled-maintenance verb (Iceberg deployments run
    expire_snapshots/rewrite_data_files instead)."""
    from ai_bangladesh_address_parser_spark.plans.incremental import IncrementalLinker

    spark = _session("abap-state-maintain")
    linker = IncrementalLinker(spark, args.state)
    if linker.version == 0:
        print("no committed state; nothing to do", file=sys.stderr)
        return 0
    linker.vacuum(retain=args.retain)
    linker.compact()
    print(f"metric maintenance: vacuumed+compacted at v{linker.version}",
          file=sys.stderr)
    return 0


def main(argv: list[str] | None = None) -> int:
    from ai_bangladesh_address_parser_spark.operators.scoring import SCORERS

    p = argparse.ArgumentParser(prog="ai_bangladesh_address_parser_spark")
    sub = p.add_subparsers(dest="verb", required=True)

    def common(sp):
        sp.add_argument("--input", required=True)
        sp.add_argument("--output", required=True)
        sp.add_argument("--format", default="parquet",
                        help="parquet (default) or iceberg")
        sp.add_argument("--checkpoint", default=None,
                        help="stage-store base dir; enables resume")
        sp.add_argument("--no-resume", action="store_true")
        sp.add_argument("--profile", default=None,
                        choices=[None, "fast", "balanced", "accurate", "minimal"])

    link = sub.add_parser("link", help="full linkage pipeline")
    common(link)
    link.add_argument("--scorer", default="levenshtein",
                      choices=list(SCORERS))
    link.add_argument("--threshold", type=float, default=0.85)
    link.set_defaults(fn=cmd_link)

    ex = sub.add_parser("extract", help="stage 1 only")
    common(ex)
    ex.set_defaults(fn=cmd_extract)

    sp = sub.add_parser("split", help="extract + partition by confidence band")
    common(sp)
    sp.set_defaults(fn=cmd_split)

    gb = sub.add_parser("gazetteer-build", help="build gazetteer dim from labeled records")
    common(gb)
    gb.set_defaults(fn=cmd_gazetteer_build)

    ing = sub.add_parser(
        "ingest", help="day-2: link one page batch into persistent entity state")
    ing.add_argument("--input", required=True)
    ing.add_argument("--state", required=True,
                     help="incremental-linker state dir")
    ing.add_argument("--output", default=None,
                     help="optionally also write the current entity table")
    ing.add_argument("--format", default="parquet",
                     help="parquet (default) or iceberg")
    ing.add_argument("--scorer", default="levenshtein",
                     choices=list(SCORERS))
    ing.add_argument("--threshold", type=float, default=0.85)
    ing.add_argument("--maintain-every", type=int, default=None,
                     help="run vacuum+compact after every Nth committed version")
    ing.add_argument("--retain", type=int, default=1,
                     help="state versions to keep when vacuuming")
    ing.set_defaults(fn=cmd_ingest)

    sm = sub.add_parser(
        "state-maintain",
        help="vacuum superseded state versions + compact per-batch dirs")
    sm.add_argument("--state", required=True)
    sm.add_argument("--retain", type=int, default=1)
    sm.set_defaults(fn=cmd_state_maintain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
