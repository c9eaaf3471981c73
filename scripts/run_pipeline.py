"""spark-submit entry point for the rollup + compression + retention job.

The north-star deployment shape: the engine ships as a zip via
``spark-submit --py-files dist/tablecloth_time_spark.zip`` onto a
multi-executor cluster; this script is the driver program. It never
imports anything outside the stdlib + pyspark + the shipped package.

Modes:
  full         one-shot rollup cascade over a parquet/snapshot input,
               tier tables written sorted by (bucket, conv_id) for
               min-max pruning, optional block compression of one tier
  incremental  fold unprocessed snapshots of a SnapshotTable into
               continuously-maintained tier state (resumable, manifest'd)
  expire       apply tier retention horizons as-of a date
  status       print the checkpoint manifest summary (runs, snapshots,
               per-tier rows, compression ratios) without starting a job

Examples:
  spark-submit --py-files dist/tablecloth_time_spark.zip \\
      scripts/run_pipeline.py full \\
      --input /data/transcripts --output /data/tiers \\
      --tiers second,minute,hour,day --compress-tier minute --salt 16

  spark-submit ... run_pipeline.py incremental \\
      --source-table /data/transcripts_snap --output /data/cagg
"""

from __future__ import annotations

import argparse
import json
import sys

from tablecloth_time_spark.operators.rollup import TIER_UNITS

DEFAULT_AGGS = {
    "n_turns": ("count", "turn_idx"),
    "sum_chars": ("sum", "text_len"),
    "min_turn": ("min", "turn_idx"),
    "max_turn": ("max", "turn_idx"),
    "first_role": ("first", "role"),
    "last_role": ("last", "role"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description="tablecloth_time_spark pipeline")
    p.add_argument("mode", choices=["full", "incremental", "expire", "status"])
    p.add_argument("--input", help="parquet dir of transcripts (full mode)")
    p.add_argument("--source-table", help="SnapshotTable root (incremental)")
    p.add_argument("--output", required=True, help="tier/aggregate root dir")
    p.add_argument("--tiers", default="second,minute,hour,day")
    p.add_argument("--key", default="conv_id")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--order-cols", default="ts,turn_idx")
    p.add_argument("--salt", type=int, default=0)
    p.add_argument("--compress-tier", default=None)
    p.add_argument(
        "--retention",
        default=None,
        help="per-tier retention days, e.g. 'second=7,minute=90,hour=365' "
        "(tiers not listed are kept forever)",
    )
    p.add_argument("--as-of", default=None, help="expire horizon date")
    p.add_argument("--master", default=None, help="override (tests only)")
    return p.parse_args(argv)


def _parse_retention(spec: str | None) -> dict[str, int]:
    if not spec:
        return {}
    out = {}
    for part in spec.split(","):
        tier, _, days = part.strip().partition("=")
        out[tier] = int(days)
    return out


def derive_text_len(df):
    """Add ``text_len`` (the ``sum_chars`` source) to raw transcripts."""
    from pyspark.sql import functions as F

    if "text_len" not in df.columns and "text" in df.columns:
        return df.withColumn("text_len", F.length("text").cast("long"))
    return df


def _continuous(spark, args, source_root, retention, tiers, order_cols):
    from tablecloth_time_spark.plans.continuous import ContinuousAggregate, TierSpec
    from tablecloth_time_spark.plans.snapshots import SnapshotTable

    return ContinuousAggregate(
        spark, SnapshotTable(spark, source_root), args.output, [args.key],
        args.ts_col, DEFAULT_AGGS,
        tiers=tuple(
            TierSpec(t, *TIER_UNITS[t], retention_days=retention.get(t))
            for t in tiers
        ),
        order_cols=order_cols,
        prepare=derive_text_len,
    )


def main(argv=None) -> None:
    args = parse_args(argv)

    if args.mode == "status":
        # manifest-only: no SparkSession, safe to run beside a live job
        # (importing the plans module is side-effect-free)
        import os

        from tablecloth_time_spark.plans.continuous import manifest_path

        path = manifest_path(args.output)
        if not os.path.exists(path):
            raise SystemExit(f"no manifest at {path}")
        with open(path) as f:
            m = json.load(f)
        runs = m.get("runs", [])
        print(
            json.dumps(
                {
                    "mode": "status",
                    "last_snapshot": m.get("last_snapshot"),
                    "n_runs": len(runs),
                    "incomplete_runs": [
                        r["run_id"] for r in runs
                        if r.get("status") != "completed"
                    ],
                    "runs": [
                        {
                            "run_id": r.get("run_id"),
                            "status": r.get("status"),
                            "snapshots": [
                                r.get("from_snapshot"), r.get("to_snapshot")
                            ],
                            "rows_in": r.get("rows_in"),
                            "tiers": {
                                t: {
                                    "rows_out": i.get("rows_out"),
                                    "dirty_partitions": len(
                                        i.get("dirty_partitions", [])
                                    ),
                                }
                                for t, i in r.get("tiers", {}).items()
                            },
                            "compression": r.get("compression"),
                        }
                        for r in runs
                    ],
                }
            )
        )
        return

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    builder = SparkSession.builder.appName("tts-pipeline").config(
        "spark.sql.session.timeZone", "UTC"
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()

    tiers = [t.strip() for t in args.tiers.split(",") if t.strip()]
    order_cols = [c.strip() for c in args.order_cols.split(",")]
    report: dict = {"mode": args.mode, "tiers": {}}

    if args.mode == "full":
        from tablecloth_time_spark.operators.compress import block_stats, compress_series
        from tablecloth_time_spark.operators.rollup import (
            finalize_partials,
            partial_cascade,
        )

        partials = partial_cascade(
            derive_text_len(spark.read.parquet(args.input)),
            [args.key],
            args.ts_col,
            DEFAULT_AGGS,
            tiers={t: TIER_UNITS[t] for t in tiers},
            order_cols=order_cols,
            salt=args.salt,
        )
        out = {
            t: finalize_partials(p, [args.key], DEFAULT_AGGS)
            for t, p in partials.items()
        }
        try:
            for tier, tdf in out.items():
                path = f"{args.output}/tiers/{tier}"
                # sorted by (bucket, key): parquet min-max stats then prune
                # slice queries on bucket ranges — the distributed analogue
                # of the reference's sorted-column binary search. No
                # partition count: AQE merges adjacent ranges, so file count
                # follows data size, not a constant (each write task has a
                # fixed cost; operators/_grouped.py has the measurement)
                (
                    tdf.repartitionByRange("bucket")
                    .sortWithinPartitions("bucket", args.key)
                    .write.mode("overwrite")
                    .parquet(path)
                )
                report["tiers"][tier] = spark.read.parquet(path).count()
            if args.compress_tier:
                blocks = compress_series(
                    out[args.compress_tier],
                    ts_col="bucket",
                    value_cols={"n_turns": "int", "sum_chars": "int"},
                    key_col=args.key,
                    block_unit="day",
                )
                bpath = f"{args.output}/blocks/{args.compress_tier}"
                blocks.write.mode("overwrite").parquet(bpath)
                s = block_stats(spark.read.parquet(bpath))
                report["compression"] = {
                    "n_blocks": s["n_blocks"],
                    "ratio": s["compression_ratio"],
                }
        finally:
            # the cascade's finest partial is cached: release it on every exit
            next(iter(partials.values())).unpersist()

    elif args.mode == "incremental":
        ca = _continuous(
            spark, args, args.source_table, _parse_retention(args.retention),
            tiers, order_cols,
        )
        run = ca.refresh()
        report["run"] = {
            "run_id": run.get("run_id"),
            "status": run.get("status"),
            "tiers": {
                t: info.get("rows_out") for t, info in run.get("tiers", {}).items()
            },
        }

    elif args.mode == "expire":
        if not args.as_of:
            raise SystemExit("expire mode requires --as-of YYYY-MM-DD")
        retention = _parse_retention(args.retention)
        if not retention:
            raise SystemExit(
                "expire mode requires --retention (e.g. 'minute=90,hour=365')"
                " — without it every tier is kept forever and expiry is a noop"
            )
        ca = _continuous(
            spark, args, args.source_table or args.output, retention, tiers,
            order_cols,
        )
        report["expired"] = ca.expire(args.as_of)

    print(json.dumps(report))
    if not preexisting:  # don't tear down a host session (in-process tests)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
