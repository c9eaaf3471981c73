"""The two workloads, batch_full and incremental_refresh, and the read mix.

Each workload has the same shape, driven by ``harness.run_phase``:

- ``build``: untimed. Derived state (snapshot tables, tier state) is built
  here by the code under test; raw inputs come from ``inputs.py``.
- ``setup``: the step ``setup_s`` times, several times per run. It opens
  the workload's tables and plans its operations on the driver (analysis,
  optimisation and physical planning of every frame a write op runs).
- ``write``: one timed write op (``write_s``). Its output lands in files.
- ``check_write``: untimed comparison of that op's output with DuckDB over
  the same input files. A mismatch makes the op count as failed.
- a read round: the four read-mix queries over the tiers and blocks the
  workload's last write op produced, each timed (``read_s``) and written
  to a ``noop`` sink, so every column is computed, never a ``.count()``.
  Each query kind is checked against DuckDB once per run
  (incremental_refresh checks every hour-tier slice).
- ``finish``: untimed checks that need the whole run.
- ``guard``: plan-guard rules per span name, regexes that must match the
  executed plan of at least one SQL execution inside every such span.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import time

import numpy as np

from perfbench.oracle import TIER_COLS, TIER_UNITS, Oracle, rollup_sql

# run_pipeline.DEFAULT_AGGS as it shows in executed plans (raw turns in)
TIER_AGG_RULES = [
    ("n_turns=count(1)", r"count\(1\)"),
    ("sum_chars=sum(text_len)", r"sum\(text_len"),
    ("min_turn=min(turn_idx)", r"min\(turn_idx"),
    ("max_turn=max(turn_idx)", r"max\(turn_idx"),
    ("first_role=min(struct)", r"min\(struct\("),
    ("last_role=max(struct)", r"max\(struct\("),
]
BLOCK_CODECS = {"n_turns": "int", "sum_chars": "int"}
DECODE_SAMPLE = 16
QUERY_KINDS = ("slice", "resample", "hopping", "blocks")
# turns covered by one batch_full read window, per query kind
READ_WINDOW_TURNS = {"slice": 2000, "resample": 2000, "hopping": 1000, "blocks": 1000}
HOP_WIDTH_MIN, HOP_MIN = 60, 15
HOP_AGGS = {
    "n_turns": ("sum", "n_turns"),
    "sum_chars": ("sum", "sum_chars"),
    "min_turn": ("min", "min_turn"),
    "max_turn": ("max", "max_turn"),
    "first_role": ("first", "first_role"),
    "last_role": ("last", "last_role"),
}
# tier columns may reach the plan under their partial-state names
_C = r"(__p_)?"
READ_GUARD = {
    "query.slice": [
        ("all tier columns read", r"ReadSchema: struct<[^\n]*sum_chars[^\n]*last_role"),
    ],
    "query.resample": [
        ("observed avg(n_turns)", rf"avg\({_C}n_turns"),
        ("linear-fill window", r"Window \(\d+\)"),
    ],
    "query.hopping": [
        ("hopping Expand", r"Expand \(\d+\)"),
        ("sum(n_turns)", rf"sum\({_C}n_turns"),
        ("sum(sum_chars)", rf"sum\({_C}sum_chars"),
        ("min(min_turn)", rf"min\({_C}min_turn"),
        ("max(max_turn)", rf"max\({_C}max_turn"),
        ("first_role/last_role", r"min\(struct\([^\n]*max\(struct\("),
    ],
    "query.blocks": [
        ("blocks decoded", r"Arguments: expand"),
    ],
}


def executed_plan(df) -> None:
    """Analyse, optimise and physically plan ``df`` without running it."""
    df._jdf.queryExecution().executedPlan()


def noop_sink(df) -> None:
    """Materialise every column of ``df`` and discard it: the sink of every
    timed read (``.count()`` would let Catalyst prune the aggregates)."""
    df.write.format("noop").mode("overwrite").save()


def text_len(df):
    from pyspark.sql import functions as F

    if "text_len" not in df.columns and "text" in df.columns:
        return df.withColumn("text_len", F.length("text").cast("long"))
    return df


def run_full(input_dir: str, out: str) -> dict:
    """``run_pipeline.py full --compress-tier minute``, in-process."""
    from scripts.run_pipeline import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main(["full", "--input", input_dir, "--output", out,
              "--compress-tier", "minute"])
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def parquet_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def block_layer(oracle: Oracle, path: str) -> dict:
    """compress.points and compress.bits_per_value.* of a blocks table."""
    files = parquet_files(path)
    if not files:
        return {}
    lst = ", ".join(f"'{f}'" for f in files)
    pts, *sizes = oracle.con.execute(
        "SELECT sum(n_points), sum(octet_length(ts_block)), "
        "sum(octet_length(n_turns_block)), sum(octet_length(sum_chars_block)) "
        f"FROM read_parquet([{lst}])"
    ).fetchone()
    out = {"compress.points": int(pts or 0)}
    for name, size in zip(("ts", "n_turns", "sum_chars"), sizes):
        out[f"compress.bits_per_value.{name}"] = 8.0 * size / pts if pts else 0.0
    return out


def read_query(kind: str, hour, minute, blocks, lo, hi):
    """DataFrame of one read-mix query."""
    from tablecloth_time_spark.operators.compress import read_blocks_slice
    from tablecloth_time_spark.operators.gapfill import resample_to_regular_grid
    from tablecloth_time_spark.operators.rollup import hopping_rollup
    from tablecloth_time_spark.operators.slice import slice_time

    if kind == "slice":
        return slice_time(hour, "bucket", lo, hi)
    if kind == "resample":
        return resample_to_regular_grid(
            slice_time(hour, "bucket", lo, hi), ["conv_id"], "bucket",
            "n_turns", 1, "hour", method="linear",
        )
    if kind == "hopping":
        return hopping_rollup(
            slice_time(minute, "bucket", lo, hi), ["conv_id"], "bucket",
            HOP_WIDTH_MIN, HOP_MIN, "minute", HOP_AGGS, order_cols=["bucket"],
        )
    return read_blocks_slice(blocks, BLOCK_CODECS, lo, hi)


def expected_read(kind: str, hour: str, minute: str, lo, hi) -> str:
    """DuckDB SQL of one query's expected result; ``hour`` and ``minute``
    are relations holding the expected tiers."""
    if kind == "slice":
        return Oracle.slice_sql(hour, lo, hi)
    if kind == "resample":
        return Oracle.resample_linear_sql(Oracle.slice_sql(hour, lo, hi))
    if kind == "hopping":
        return Oracle.hopping_sql(Oracle.slice_sql(minute, lo, hi), HOP_WIDTH_MIN, HOP_MIN)
    return Oracle.blocks_slice_sql(Oracle.slice_sql(minute, lo, hi))


class Workload:
    name = ""
    # read rounds (each kind once) after every write op
    rounds_per_write = 1
    # kinds checked on every read, not only on their first in the run
    check_every: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.layer: dict[str, float] = {}
        self.rng = np.random.default_rng(ctx.seed)
        self.checked: set[str] = set()

    def has_write(self, i: int) -> bool:
        return True

    def after_write(self) -> None:
        pass

    def finish(self) -> list[str]:
        return []

    def read_round(self) -> list[tuple]:
        """Each query kind once, in seeded order: [(kind, s, lo, hi)]."""
        out = []
        hour, minute, blocks = self.read_frames()
        for k in self.rng.permutation(len(QUERY_KINDS)):
            kind = QUERY_KINDS[int(k)]
            lo, hi = self.read_window(kind)
            with self.ctx.spans.span(f"query.{kind}"):
                t0 = time.perf_counter()
                noop_sink(read_query(kind, hour, minute, blocks, lo, hi))
                out.append((kind, time.perf_counter() - t0, lo, hi))
        return out

    def check_read(self, kind: str, lo, hi) -> list[str]:
        from pyspark.sql import functions as F

        if kind in self.checked and kind not in self.check_every:
            return []
        self.checked.add(kind)
        o = self.ctx.oracle
        df = read_query(kind, *self.read_frames(), lo, hi)
        if kind == "resample":
            df = df.withColumn("n_turns", F.round("n_turns", 6))
        pdf = df.toPandas()
        hour, minute = self.expected_tiers()
        missing, extra = o.diff(
            expected_read(kind, hour, minute, lo, hi),
            o.frame(f"q_{kind}", pdf), list(pdf.columns),
        )
        if missing or extra or not len(pdf):
            return [f"read {kind} [{lo}, {hi}]: {len(pdf)} rows, "
                    f"{missing} missing, {extra} unexpected"]
        return []

    def warm_reads(self, hour, minute, blocks) -> None:
        """Each query kind once, untimed: compiles the read plans."""
        for kind in QUERY_KINDS:
            noop_sink(read_query(kind, hour, minute, blocks, *self.read_window(kind)))

    def guard(self) -> dict[str, list[tuple[str, str]]]:
        return dict(READ_GUARD)


class BatchFull(Workload):
    """Write op = ``run_pipeline.py full --compress-tier minute`` over the
    seeded transcripts (input -> four tiers -> minute blocks): the first
    pass of a fresh session, as one spark-submit job runs it. Reads: the
    query mix over the tiers and blocks it wrote, at seeded windows."""

    name = "batch_full"
    rounds_per_write = 2

    def build(self) -> None:
        c = self.ctx
        self.input = os.path.join(c.inputs, "transcripts")
        self.out = os.path.join(c.work, "out")
        c.oracle.load_turns("turns", os.path.join(self.input, "*.parquet"))
        c.oracle.materialize_tiers("turns", "exp")
        # event times in order: read windows are drawn by turn rank, so each
        # query of a kind covers the same number of turns
        self.ts = [t for (t,) in c.oracle.con.execute(
            "SELECT ts FROM turns ORDER BY ts").fetchall()]

    def setup(self) -> None:
        from scripts.run_pipeline import DEFAULT_AGGS, TIER_UNITS as UNITS
        from tablecloth_time_spark.operators.compress import compress_series
        from tablecloth_time_spark.operators.rollup import rollup_cascade

        df = text_len(self.ctx.spark.read.parquet(self.input))
        tiers = rollup_cascade(
            df, ["conv_id"], "ts", DEFAULT_AGGS,
            tiers={t: UNITS[t] for t in TIER_UNITS},
            order_cols=["ts", "turn_idx"],
        )
        for tdf in tiers.values():
            executed_plan(tdf)
        executed_plan(compress_series(
            tiers["minute"], ts_col="bucket", value_cols=BLOCK_CODECS,
            key_col="conv_id", block_unit="day",
        ))
        self.ctx.spark.catalog.clearCache()

    def has_write(self, i: int) -> bool:
        return i == 0  # a second pass would no longer be a first pass

    def write(self, i: int) -> dict:
        report = run_full(self.input, self.out)
        return {"items": sum(report["tiers"].values())}

    def after_write(self) -> None:
        # rollup_cascade's finest-tier cache is never released by the job:
        # drop it so it neither serves the reads nor holds their memory
        self.ctx.spark.catalog.clearCache()
        self.warm_reads(*self.read_frames())

    def check_write(self, i: int, res: dict) -> list[str]:
        from pyspark.sql import functions as F
        from tablecloth_time_spark.operators.compress import decompress_blocks

        c, o = self.ctx, self.ctx.oracle
        errs = []
        for unit in TIER_UNITS:
            act = f"SELECT * FROM read_parquet('{self.out}/tiers/{unit}/*.parquet')"
            missing, extra = o.diff(f"SELECT * FROM exp_{unit}", act, TIER_COLS)
            if missing or extra:
                errs.append(f"tier {unit}: {missing} rows missing, {extra} unexpected")
        blocks = f"read_parquet('{self.out}/blocks/minute/*.parquet')"
        points = o.scalar(f"SELECT sum(n_points) FROM {blocks}")
        minute_rows = o.scalar("SELECT count(*) FROM exp_minute")
        if points != minute_rows:
            errs.append(f"blocks: sum(n_points)={points} != minute rows {minute_rows}")
        # a seeded sample of blocks, decoded by the program's own decoder
        o.con.execute(
            f"CREATE OR REPLACE TABLE sample AS SELECT conv_id, block_start "
            f"FROM {blocks} ORDER BY hash(conv_id, block_start, {c.seed * 1000 + i}) "
            f"LIMIT {DECODE_SAMPLE}"
        )
        cond = None
        for conv, start in o.con.execute("SELECT * FROM sample").fetchall():
            term = (F.col("conv_id") == conv) & (F.col("block_start") == F.lit(start))
            cond = term if cond is None else cond | term
        decoded = decompress_blocks(
            c.spark.read.parquet(f"{self.out}/blocks/minute").filter(cond),
            BLOCK_CODECS,
        ).toPandas()
        missing, extra = o.diff(
            "SELECT m.conv_id, m.bucket AS ts, m.n_turns, m.sum_chars "
            "FROM exp_minute m JOIN sample s ON m.conv_id = s.conv_id "
            "AND date_trunc('day', m.bucket) = s.block_start",
            o.frame("decoded", decoded), ["conv_id", "ts", "n_turns", "sum_chars"],
        )
        if missing or extra:
            errs.append(f"decoded blocks: {missing} points missing, {extra} unexpected")
        return errs

    def read_frames(self):
        read = self.ctx.spark.read.parquet
        return (read(f"{self.out}/tiers/hour"), read(f"{self.out}/tiers/minute"),
                read(f"{self.out}/blocks/minute"))

    def read_window(self, kind: str):
        n = READ_WINDOW_TURNS[kind]
        start = int(self.rng.integers(0, len(self.ts) - n))
        return self.ts[start], self.ts[start + n - 1]

    def expected_tiers(self):
        return "exp_hour", "exp_minute"

    def finish(self) -> list[str]:
        if self.ctx.traced:
            self.layer = block_layer(self.ctx.oracle, f"{self.out}/blocks/minute")
            self.layer["slice.hour_files"] = len(parquet_files(f"{self.out}/tiers/hour"))
        return []

    def guard(self):
        writes = [
            (f"{t} tier written", rf"Arguments: file:[^\n]*/tiers/{t},")
            for t in TIER_UNITS
        ]
        return {**READ_GUARD, "op": TIER_AGG_RULES + writes + [
            ("minute blocks encoded", r"Arguments: encode_stream"),
        ]}


class IncrementalRefresh(Workload):
    """Write op = SnapshotTable.append(next snapshot) -> refresh() (four
    tiers plus minute-block recompress) -> expire(as_of=its day). Each
    snapshot holds the next ``inputs.SNAP_TURNS`` turns in event-time order
    (about a day) plus the late share of the previous one. Reads: the query
    mix over the event-time range just committed, read back through the
    ContinuousAggregate."""

    name = "incremental_refresh"
    base_snaps = 3
    check_every = ("slice",)

    def build(self) -> None:
        from scripts.run_pipeline import DEFAULT_AGGS
        from tablecloth_time_spark.plans.continuous import (
            DEFAULT_TIERS,
            CompressSpec,
            ContinuousAggregate,
        )
        from tablecloth_time_spark.plans.snapshots import SnapshotTable
        from tablecloth_time_spark.plans.tier_store import ParquetTierStore

        from perfbench.trace import TracedSnapshotTable, TracedTierStore

        c = self.ctx
        self.snaps = c.meta["snapshots"]
        self.snap_root = os.path.join(c.work, "snap")
        self.cagg_root = os.path.join(c.work, "cagg")
        source = SnapshotTable(c.spark, self.snap_root)
        store = ParquetTierStore(c.spark, self.cagg_root)
        if c.traced:
            source = TracedSnapshotTable(source, c.spans)
            store = TracedTierStore(store, c.spans)
        self.source = source
        self.tiers = DEFAULT_TIERS
        self.ca = ContinuousAggregate(
            c.spark, source, self.cagg_root, ["conv_id"], "ts", DEFAULT_AGGS,
            tiers=DEFAULT_TIERS, order_cols=["ts", "turn_idx"],
            compress=CompressSpec("minute", dict(BLOCK_CODECS)),
            prepare=text_len, store=store,
        )
        self.manifest_commits = 0
        if c.traced:
            commit = self.ca._commit_manifest

            def counting_commit(m):
                self.manifest_commits += 1
                return commit(m)

            # an instance attribute: counts this object's manifest writes
            self.ca._commit_manifest = counting_commit
        base = [self.snap_file(k) for k in range(self.base_snaps)]
        c.oracle.load_turns("appended", base)
        source.append(c.spark.read.parquet(*base))
        self.ca.refresh()
        self.last = self.snaps[self.base_snaps - 1]
        self.ca.expire(self.last["as_of"])
        self.next_snap = self.base_snaps
        self.warm_reads(*self.read_frames())

    def snap_file(self, k: int) -> str:
        return os.path.join(self.ctx.inputs, "snaps", self.snaps[k]["file"])

    def setup(self) -> None:
        from scripts.run_pipeline import DEFAULT_AGGS
        from tablecloth_time_spark.plans.continuous import ContinuousAggregate
        from tablecloth_time_spark.plans.snapshots import SnapshotTable

        c = self.ctx
        ca = ContinuousAggregate(
            c.spark, SnapshotTable(c.spark, self.snap_root), self.cagg_root,
            ["conv_id"], "ts", DEFAULT_AGGS, tiers=self.tiers,
            order_cols=["ts", "turn_idx"], prepare=text_len,
        )
        ca.manifest()
        for t in self.tiers:
            executed_plan(ca.read_tier(t.name))

    def has_write(self, i: int) -> bool:
        return self.next_snap < len(self.snaps)

    def write(self, i: int) -> dict:
        c = self.ctx
        k = self.next_snap
        self.next_snap += 1
        self.last = self.snaps[k]
        commits = self.manifest_commits
        self.source.append(c.spark.read.parquet(self.snap_file(k)))
        with c.spans.span("continuous.refresh"):
            run = self.ca.refresh()
        with c.spans.span("continuous.expire"):
            self.ca.expire(self.last["as_of"])
        dirty = sum(len(t.get("dirty_partitions", [])) for t in run["tiers"].values())
        return {"items": int(run.get("rows_in", 0)), "run": run, "k": k,
                "counters": {
                    "continuous.dirty_partitions": dirty,
                    "continuous.manifest_commits": self.manifest_commits - commits,
                }}

    def check_write(self, i: int, res: dict) -> list[str]:
        self.ctx.oracle.append_turns("appended", self.snap_file(res["k"]))
        status = res["run"].get("status")
        return [] if status == "completed" else [f"refresh status {status}"]

    def read_frames(self):
        return (self.ca.read_tier("hour"), self.ca.read_tier("minute"),
                self.ca.read_blocks("minute"))

    def read_window(self, kind: str):
        # the event-time range of the snapshot just committed
        return (dt.datetime.fromisoformat(self.last["lo"]),
                dt.datetime.fromisoformat(self.last["hi"]))

    def expected_tiers(self):
        return tuple(
            f"({rollup_sql('SELECT * FROM appended', u)})" for u in ("hour", "minute")
        )

    def finish(self) -> list[str]:
        """After the last refresh: every tier's read_tier over the unexpired
        partitions equals a one-shot rollup of every appended row."""
        o = self.ctx.oracle
        last = dt.date.fromisoformat(self.last["as_of"])
        errs = []
        for t in self.tiers:
            horizon = (
                "DATE '0001-01-01'" if t.retention_days is None else
                f"DATE '{(last - dt.timedelta(days=t.retention_days)).isoformat()}'"
            )
            exp = (
                f"SELECT * FROM ({rollup_sql('SELECT * FROM appended', t.unit)}) "
                f"WHERE bucket::DATE >= {horizon}"
            )
            act = o.frame(f"final_{t.name}", self.ca.read_tier(t.name).toPandas())
            missing, extra = o.diff(exp, act, TIER_COLS)
            if missing or extra:
                errs.append(f"final {t.name} tier: {missing} rows missing, {extra} unexpected")
        if self.ctx.traced:
            self.layer = block_layer(o, os.path.join(self.cagg_root, "blocks", "minute"))
            self.layer["slice.hour_files"] = len(
                parquet_files(os.path.join(self.cagg_root, "tiers", "hour")))
        return errs

    def guard(self):
        return {**READ_GUARD, "continuous.refresh": TIER_AGG_RULES}


WORKLOADS = {w.name: w for w in (BatchFull, IncrementalRefresh)}
