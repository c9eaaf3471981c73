"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

1. Plan guard. Every timed action of both workloads runs once on a tiny
   input with Spark's event log on, and the guard must pass. The same
   actions then run through ``.count()``, and the guard must fail for the
   write op and for the slice, resample and hopping reads: with
   ``.count()`` Catalyst prunes their aggregates and columns. (The blocks
   read keeps its decode under ``.count()``, since a Python UDF is never
   pruned, so only its positive case is asserted.)
2. Seam proxies change no output: two ContinuousAggregates fold the same
   snapshots, one through ``TracedSnapshotTable``/``TracedTierStore`` and
   one without, and every tier and the blocks must be identical.
3. Span arithmetic and the tail percentile, on hand-made values.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_TURNS = 1600


def check_spans_and_tail(fail) -> None:
    from perfbench.harness import tail
    from perfbench.trace import Spans

    s = Spans()
    s.spans = [
        {"id": 0, "name": "op", "parent": None, "t0": 0.0, "t1": 10.0, "attrs": {}},
        {"id": 1, "name": "a", "parent": 0, "t0": 1.0, "t1": 3.0, "attrs": {}},
        {"id": 2, "name": "b", "parent": 0, "t0": 2.0, "t1": 4.0, "attrs": {}},
        {"id": 3, "name": "c", "parent": 2, "t0": 2.5, "t1": 2.6, "attrs": {}},
    ]
    if abs(s.self_time(s.spans[0]) - 7.0) > 1e-9:
        fail(f"self_time: {s.self_time(s.spans[0])} != 7.0")
    if s.innermost_at(2.55)["name"] != "c" or s.innermost_at(5.0)["name"] != "op":
        fail("innermost_at picks the wrong span")
    if tail([1.0] * 10) is not None:
        fail("tail of 10 samples must be undefined")
    v, pct, n = tail([float(x) for x in range(1, 21)])
    if (v, pct, n) != (10.0, 50.0, 20):
        fail(f"tail of 1..20: {(v, pct, n)} != (10.0, 50.0, 20)")


def check_plan_guard(spark, work, inputs, meta, fail) -> None:
    from scripts.run_pipeline import DEFAULT_AGGS, TIER_UNITS
    from tablecloth_time_spark.operators.rollup import rollup_cascade

    from perfbench import trace
    from perfbench.harness import stop_spark
    from perfbench.workloads import (
        QUERY_KINDS, BatchFull, noop_sink, read_query, text_len,
    )

    evdir = os.path.join(work, "eventlog")
    honest, counted = trace.Spans(), trace.Spans()
    ctx = type("Ctx", (), {})()
    ctx.spark, ctx.work, ctx.inputs, ctx.meta = spark, work, inputs, meta
    ctx.seed, ctx.traced, ctx.spans = 1, False, honest
    wl = BatchFull(ctx)
    wl.input = os.path.join(inputs, "transcripts")
    wl.out = os.path.join(work, "out")

    with honest.span("op"):
        wl.write(0)
    spark.catalog.clearCache()
    frames = wl.read_frames()
    window = (dt.datetime.fromisoformat(meta["first_ts"]),
              dt.datetime.fromisoformat(meta["last_ts"]))
    for kind in QUERY_KINDS:
        with honest.span(f"query.{kind}"):
            noop_sink(read_query(kind, *frames, *window))

    # the same actions, switched back to .count()
    df = text_len(spark.read.parquet(wl.input))
    with counted.span("op"):
        tiers = rollup_cascade(
            df, ["conv_id"], "ts", DEFAULT_AGGS,
            tiers={t: TIER_UNITS[t] for t in ("second", "minute", "hour", "day")},
            order_cols=["ts", "turn_idx"],
        )
        for tdf in tiers.values():
            tdf.count()
    spark.catalog.clearCache()
    for kind in QUERY_KINDS:
        with counted.span(f"query.{kind}"):
            read_query(kind, *frames, *window).count()
    stop_spark()

    log = trace.EventLog(evdir)
    rules = wl.guard()  # the rules the traced run applies to batch_full
    ok = trace.Attribution(log, honest)
    for name, r in rules.items():
        for f in ok.plan_guard(name, r):
            fail(f"plan guard rejects an honest action: {f}")
    bad = trace.Attribution(log, counted)
    for name in ("op", "query.slice", "query.resample", "query.hopping"):
        if not bad.plan_guard(name, rules[name]):
            fail(f"plan guard accepts {name} switched to .count()")
    print("plan guard: honest actions pass, .count() versions fail")



def check_proxies(spark, work, meta, inputs, fail) -> None:
    from scripts.run_pipeline import DEFAULT_AGGS
    from tablecloth_time_spark.plans.continuous import (
        DEFAULT_TIERS, CompressSpec, ContinuousAggregate,
    )
    from tablecloth_time_spark.plans.snapshots import SnapshotTable
    from tablecloth_time_spark.plans.tier_store import ParquetTierStore

    from perfbench.trace import Spans, TracedSnapshotTable, TracedTierStore
    from perfbench.workloads import BLOCK_CODECS, text_len

    spans = Spans()
    cas = {}
    for name, traced in (("plain", False), ("traced", True)):
        src = SnapshotTable(spark, os.path.join(work, name, "snap"))
        store = ParquetTierStore(spark, os.path.join(work, name, "cagg"))
        if traced:
            src, store = TracedSnapshotTable(src, spans), TracedTierStore(store, spans)
        cas[name] = (src, ContinuousAggregate(
            spark, src, os.path.join(work, name, "cagg"), ["conv_id"], "ts",
            DEFAULT_AGGS, tiers=DEFAULT_TIERS, order_cols=["ts", "turn_idx"],
            compress=CompressSpec("minute", dict(BLOCK_CODECS)),
            prepare=text_len, store=store,
        ))
    for snap in meta["snapshots"][:3]:
        path = os.path.join(inputs, "snaps", snap["file"])
        for src, ca in cas.values():
            src.append(spark.read.parquet(path))
            ca.refresh()
            ca.expire(snap["as_of"])

    def frame(df):
        pdf = df.toPandas()
        pdf = pdf[sorted(c for c in pdf.columns if c != "p_date")]
        return pdf.sort_values(list(pdf.columns[:2])).reset_index(drop=True)

    import pandas as pd

    for t in DEFAULT_TIERS:
        a, b = (frame(cas[k][1].read_tier(t.name)) for k in ("plain", "traced"))
        if not len(a) or not a.equals(b):
            fail(f"proxies change tier {t.name}")
    a, b = (frame(cas[k][1].read_blocks("minute")) for k in ("plain", "traced"))
    try:
        pd.testing.assert_frame_equal(a, b)
    except AssertionError as e:
        fail(f"proxies change the blocks: {e}")
    if not spans.named("tier_store.stage") or not spans.named("snapshots.append"):
        fail("proxies recorded no spans")
    print("proxies: tiers and blocks identical with and without them")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import prepare_env

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    prepare_env(work)
    from perfbench.harness import start_session, stop_spark
    from perfbench.inputs import ensure_inputs

    failures: list[str] = []
    fail = failures.append
    try:
        check_spans_and_tail(fail)
        inputs, meta = ensure_inputs(os.path.join(work, "inputs"), ROOT, seed=5,
                                     target_turns=N_TURNS, snap_turns=N_TURNS // 4)
        spark = start_session(os.path.join(work, "g"), "selftest",
                              os.path.join(work, "g", "eventlog"))
        check_plan_guard(spark, os.path.join(work, "g"), inputs, meta, fail)
        spark = start_session(os.path.join(work, "p"), "selftest", None)
        check_proxies(spark, os.path.join(work, "p"), meta, inputs, fail)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print("FAIL:", f)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
