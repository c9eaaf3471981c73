"""Partition layout of the pipeline's write path, and results that do not
depend on it.

``run_pipeline.py full`` writes each tier through a range repartition on
``bucket`` with no partition count, and the Arrow stages (``compress_series``,
``grouped_apply_stream``) shuffle on their keys with no count either, so AQE
sizes them. The layout test pins what that must keep: at most
``spark.sql.shuffle.partitions`` files per tier, disjoint bucket ranges in
file order, rows sorted by (bucket, key) within each file, and plans that
show the by-column repartition read through a coalescing ``AQEShuffleRead``.
The invariance tests pin that blocks and grouped-kernel rows are the same
whatever the partitioning or the Arrow batch size.
"""

from __future__ import annotations

import contextlib
import glob
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from scripts.run_pipeline import main as pipeline_main
from tablecloth_time_spark.operators._grouped import grouped_apply_stream
from tablecloth_time_spark.operators.compress import compress_series
from tablecloth_time_spark.operators.rollup import rollup
from tests.test_tier_cascade import _sql_executions

TIERS = ("second", "minute", "hour", "day")
# four ways to lay out the same shuffle: AQE coalescing (the session's
# default), a fixed single and odd partition count with AQE off, and Arrow
# batches of 3 rows so groups straddle batch boundaries
LAYOUTS = {
    "aqe_coalesced": {},
    "aqe_off_1": {"spark.sql.adaptive.enabled": "false",
                  "spark.sql.shuffle.partitions": "1"},
    "aqe_off_7": {"spark.sql.adaptive.enabled": "false",
                  "spark.sql.shuffle.partitions": "7"},
    "arrow_batch_3": {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"},
}


@contextlib.contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set runtime SQL confs for the block, then restore the old values."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _shuffle_reads(plan: str) -> list[tuple[str, str]]:
    """(Exchange arguments, AQEShuffleRead arguments) for every shuffle in
    a formatted plan that is read through an ``AQEShuffleRead``."""
    args = {}
    for block in plan.split("\n\n"):
        head = re.match(r"\((\d+)\) ", block)
        arg = re.search(r"^Arguments: (.*)$", block, re.M)
        if head and arg:
            args[head.group(1)] = arg.group(1)
    reads = re.findall(
        r"AQEShuffleRead \((\d+)\)\n\s*\+- ShuffleQueryStage \(\d+\).*\n"
        r"\s*\+- Exchange \((\d+)\)",
        plan,
    )
    return [(args.get(ex, ""), args.get(rd, "")) for rd, ex in reads]


def _assert_coalesced_by_col(plan: str, partitioning: str) -> None:
    reads = _shuffle_reads(plan)
    assert any(
        ex.startswith(partitioning) and "REPARTITION_BY_COL" in ex
        and rd == "coalesced"
        for ex, rd in reads
    ), reads
    assert "REPARTITION_BY_NUM" not in plan


def test_full_mode_layout_is_sized_by_aqe(spark, transcripts_df, tmp_path, capsys):
    inp, out = str(tmp_path / "input"), str(tmp_path / "out")
    transcripts_df.write.parquet(inp)
    nparts = 8
    before = max((i for i, _ in _sql_executions(spark)), default=-1)
    # a tiny AQE minimum partition size so the small input still spans
    # several files, and the file-order checks below compare real ranges
    with session_conf(spark, {
        "spark.sql.shuffle.partitions": str(nparts),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
    }):
        pipeline_main(["full", "--input", inp, "--output", out,
                       "--compress-tier", "minute"])
    capsys.readouterr()
    plans = [p for i, p in _sql_executions(spark) if i > before]

    for tier in TIERS:
        files = sorted(glob.glob(f"{out}/tiers/{tier}/part-*.parquet"))
        assert 0 < len(files) <= nparts, (tier, len(files))
        prev_hi = None
        for f in files:
            pdf = pq.read_table(f, columns=["bucket", "conv_id"]).to_pandas()
            if not len(pdf):
                continue
            keys = list(zip(pdf["bucket"], pdf["conv_id"]))
            assert keys == sorted(keys), f"{f} not sorted by (bucket, conv_id)"
            lo, hi = pdf["bucket"].iloc[0], pdf["bucket"].iloc[-1]
            assert prev_hi is None or prev_hi < lo, f"{f} overlaps its predecessor"
            prev_hi = hi
        [plan] = [p for p in plans if f"{out}/tiers/{tier}," in p
                  and "InsertIntoHadoopFsRelationCommand" in p]
        _assert_coalesced_by_col(plan, "rangepartitioning(bucket")

    [plan] = [p for p in plans if f"{out}/blocks/minute," in p
              and "InsertIntoHadoopFsRelationCommand" in p]
    assert "encode_stream" in plan
    _assert_coalesced_by_col(plan, "hashpartitioning(__key")


@pytest.fixture(scope="module")
def minute_tier(spark, transcripts_df):
    src = transcripts_df.withColumn("text_len", F.length("text").cast("long"))
    tier = rollup(
        src, ["conv_id"], "ts", 1, "minute",
        {"n_turns": ("count", "turn_idx"), "sum_chars": ("sum", "text_len")},
        order_cols=["ts", "turn_idx"],
    ).withColumn("rate", F.col("n_turns").cast("double"))
    tier.cache().count()
    yield tier
    tier.unpersist()


def test_compress_blocks_invariant_to_layout(spark, minute_tier):
    results = {}
    for name, conf in LAYOUTS.items():
        with session_conf(spark, conf):
            pdf = compress_series(
                minute_tier, ts_col="bucket",
                value_cols={"n_turns": "int", "sum_chars": "int", "rate": "float"},
                key_col="conv_id", block_unit="day",
            ).toPandas()
        results[name] = (
            pdf.sort_values(["conv_id", "block_start"], kind="stable")
            .reset_index(drop=True)
        )
    base = results.pop("aqe_coalesced")
    # blocks longer than one 3-row Arrow batch exist, so groups straddled
    assert base["n_points"].max() > 3
    for name, pdf in results.items():
        pd.testing.assert_frame_equal(pdf, base, obj=name)


def test_grouped_apply_stream_invariant_to_layout(spark, transcripts_df, transcripts_pdf):
    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        # identity on rows, stamped with the group as the kernel saw it: a
        # group split across calls would show a short size or a reset pos
        return g.assign(group_rows=len(g), pos=np.arange(len(g)))

    schema = ("conv_id string, turn_idx int, ts timestamp, "
              "group_rows long, pos long")
    slim = transcripts_df.select("conv_id", "turn_idx", "ts")
    exp = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="stable")
    exp = pd.DataFrame({
        "conv_id": exp["conv_id"].to_numpy(),
        "turn_idx": exp["turn_idx"].to_numpy(),
        "group_rows": exp.groupby("conv_id")["conv_id"].transform("size").to_numpy(),
        "pos": exp.groupby("conv_id").cumcount().to_numpy(),
    })
    for name, conf in LAYOUTS.items():
        with session_conf(spark, conf):
            got = grouped_apply_stream(
                slim, ["conv_id"], ["ts", "turn_idx"], kernel, schema
            ).toPandas()
        got = (
            got.drop(columns="ts").sort_values(["conv_id", "pos"], kind="stable")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, exp, check_dtype=False, obj=name)
