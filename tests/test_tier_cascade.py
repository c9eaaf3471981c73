"""Lifecycle of the one tier cascade (operators/rollup.partial_cascade) in
its two consumers: the batch job (``run_pipeline.py full``) and
``ContinuousAggregate.refresh``.

The cascade caches the finest tier's partial; both consumers must release
it on every exit, failures included. A refresh that recompresses blocks
must run the encode kernel once, taking its stats from what it wrote.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from scripts.run_pipeline import main as pipeline_main
from tablecloth_time_spark.plans.continuous import (
    CompressSpec,
    ContinuousAggregate,
    TierSpec,
)
from tablecloth_time_spark.plans.snapshots import SnapshotTable
from tablecloth_time_spark.sources.transcripts import (
    TRANSCRIPTS_SCHEMA,
    generate_transcripts_pandas,
)

AGGS = {
    "n_turns": ("count", "turn_idx"),
    "sum_chars": ("sum", "text_len"),
    "first_role": ("first", "role"),
}
TIERS = (TierSpec("minute", 1, "minute"), TierSpec("day", 1, "day"))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _sql_executions(spark) -> list[tuple[int, str]]:
    """(execution id, physical plan text) of every retained SQL execution."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        (e.executionId(), e.physicalPlanDescription())
        for e in (execs.apply(i) for i in range(execs.size()))
    ]


@pytest.fixture()
def turns(spark):
    pdf = generate_transcripts_pandas(n_conv=20, seed=7)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def _make_ca(spark, tmp_path, compress=None):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    ca = ContinuousAggregate(
        spark, src, str(tmp_path / "agg"), ["conv_id"], "ts", AGGS,
        tiers=TIERS, order_cols=["ts", "turn_idx"], compress=compress,
        prepare=lambda df: df.withColumn("text_len", F.length("text").cast("long")),
    )
    return src, ca


def test_refresh_encodes_blocks_once(spark, tmp_path, turns):
    src, ca = _make_ca(
        spark, tmp_path, compress=CompressSpec("minute", {"n_turns": "int"})
    )
    src.append(turns)
    before = max((i for i, _ in _sql_executions(spark)), default=-1)
    run = ca.refresh()
    encodes = [
        i for i, plan in _sql_executions(spark)
        if i > before and "encode_stream" in plan
    ]
    assert len(encodes) == 1, encodes
    # the manifest stats describe the blocks that were written
    assert run["compression"]["n_blocks"] == ca.read_blocks("minute").count()


def test_failed_refresh_releases_cascade_cache(spark, tmp_path, turns):
    src, ca = _make_ca(spark, tmp_path)
    src.append(turns)

    def failing_commit(tier, info):
        raise OSError("commit failed")

    ca.store.commit = failing_commit
    spark.catalog.clearCache()
    with pytest.raises(OSError):
        ca.refresh()
    assert _cache_empty(spark)


def test_full_mode_releases_cascade_cache(spark, tmp_path, turns, capsys):
    turns.write.parquet(str(tmp_path / "input"))
    spark.catalog.clearCache()
    pipeline_main([
        "full", "--input", str(tmp_path / "input"),
        "--output", str(tmp_path / "out"),
        "--tiers", "minute,day", "--compress-tier", "minute",
    ])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["tiers"]["minute"] > report["tiers"]["day"] > 0
    assert report["compression"]["n_blocks"] > 0
    assert _cache_empty(spark)
