"""Runs one workload in this process and computes its metrics.

One closed-loop client: the next op starts only when the previous one
returned. The Spark session is ``local[nproc]`` with the engine's own
configuration (``tablecloth_time_spark.session.get_session``).

Untraced run (``--trace 0``): build, then write ops and read rounds for
``--seconds``, every output checked, then ``SETUP_REPS`` timed set-ups.
Traced run (``--trace 1``): the same with ``spark.eventLog`` on and the
seam proxies installed, but no set-ups; it reports the per-layer metrics and
``trace_overhead``, the traced over the untraced median write time. The
untraced median comes from the last correct untraced run of the same
workload in this checkout; with none, ``trace_overhead`` is 0.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import traceback
from types import SimpleNamespace

from perfbench import trace
from perfbench.oracle import Oracle
from perfbench.workloads import QUERY_KINDS, WORKLOADS

SETUP_REPS = 5
DRIVER_MEMORY = "2g"

# what write_s and write_items_per_s are called on each workload
ALIASES = {
    "batch_full": ("batch_s", "tier_points_per_s", "points/s"),
    "incremental_refresh": ("refresh_s", "refresh_turns_per_s", "turns/s"),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, name: str, eventlog: str | None):
    from tablecloth_time_spark.session import get_session

    n = nproc()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_session(f"perfbench-{name}", master=f"local[{n}]", cores=n,
                       extra_conf=conf)


def stop_spark(timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM and every Python worker, and wait."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout_s
    while trace.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in trace.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while trace.descendants(os.getpid()):
        time.sleep(0.1)


def tail(lat: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, samples) of the highest percentile with at
    least ten samples beyond it; None below 11 samples."""
    n = len(lat)
    if n < 11:
        return None
    k = n - 10
    return sorted(lat)[k - 1], 100.0 * k / n, n


def run_phase(ctx, workload: str, seconds: float, setup_reps: int) -> dict:
    """Build, then loop for ``seconds``: a write op (while the workload has
    one) followed by its read rounds; then finish and time ``setup_reps``
    set-ups."""
    wl = WORKLOADS[workload](ctx)
    errors: list[str] = []
    t_build = time.perf_counter()
    wl.build()
    t_build = time.perf_counter() - t_build
    setup: list[float] = []
    ph = {"wl": wl, "setup": setup, "write": [], "read": [], "items": 0,
          "write_cpu": [], "read_cpu": [],
          "results": [], "attempted": 0, "failed": 0, "errors": errors}

    def guarded(what: str, fn) -> bool:
        ph["attempted"] += 1
        try:
            errs = fn()
        except Exception:
            errs = [traceback.format_exc()]
        if errs:
            ph["failed"] += 1
            errors.extend(f"{what}: {e}" for e in errs)
        return not errs

    t_start = time.perf_counter()
    i = rounds = 0
    while True:
        if wl.has_write(i):
            def write():
                with ctx.spans.span("op", i=i):
                    c0, t0 = trace.tree_cpu_s(), time.perf_counter()
                    res = wl.write(i)
                    dt = time.perf_counter() - t0
                ph["write"].append(dt)
                ph["write_cpu"].append(trace.tree_cpu_s() - c0)
                ph["items"] += res["items"]
                ph["results"].append(res)
                wl.after_write()
                return wl.check_write(i, res)

            if not guarded(f"write {i}", write) and not ph["write"]:
                break  # nothing written: there is nothing to read
            i += 1
        for _ in range(wl.rounds_per_write):
            with ctx.spans.span("read", round=rounds):
                c0 = trace.tree_cpu_s()
                try:
                    done = wl.read_round()
                except Exception:
                    done = []
                    guarded(f"read round {rounds}", lambda: [traceback.format_exc()])
            if done:  # one read op = one round of the query mix
                ph["read"].append(sum(dt for _, dt, _, _ in done))
                ph["read_cpu"].append(trace.tree_cpu_s() - c0)
            for kind, _, lo, hi in done:
                guarded(f"read {kind}", lambda: wl.check_read(kind, lo, hi))
            rounds += 1
        if time.perf_counter() - t_start >= seconds:
            break
    ph["window_s"] = time.perf_counter() - t_start
    t_fin = time.perf_counter()
    try:
        fin = wl.finish()
    except Exception:
        fin = [traceback.format_exc()]
    t_fin = time.perf_counter() - t_fin
    # set-up is timed after the window, on a warm JVM, so that its figure
    # is the driver-side planning cost and not JIT warm-up
    for _ in range(setup_reps):
        t0 = time.perf_counter()
        wl.setup()
        setup.append(time.perf_counter() - t0)
    ph["timings"] = {"build_s": t_build, "setup_total_s": sum(setup),
                     "window_s": ph["window_s"],
                     "finish_s": t_fin}
    if fin:
        errors.extend(f"final: {e}" for e in fin)
        ph["failed"] += 1
        ph["attempted"] += 1
    return ph


def make_ctx(spark, work, inputs, meta, seed, traced):
    return SimpleNamespace(
        spark=spark, work=work, inputs=inputs, meta=meta, seed=seed,
        traced=traced, spans=trace.Spans(), oracle=Oracle(threads=min(2, nproc())),
    )


def end_to_end(ph: dict) -> dict:
    return {
        "write_s.p50": {"value": statistics.median(ph["write"]), "unit": "s"},
        "read_s.p50": {"value": statistics.median(ph["read"]), "unit": "s"},
        "write_items_per_s": {"value": ph["items"] / sum(ph["write"]), "unit": "1/s"},
        "setup_s": {"value": statistics.median(ph["setup"]), "unit": "s"},
        "ok_ratio": {"value": 1.0 - ph["failed"] / ph["attempted"], "unit": "ratio"},
    }


def summary_lines(workload: str, ph: dict, metrics: dict, peak_mem: int) -> list[str]:
    """The end-to-end figures under the names the workloads give them."""
    lat_name, rate_name, rate_unit = ALIASES[workload]
    w, r = ph["write"], ph["read"]
    lines = [
        f"workload {workload}: {len(w)} write ops and {len(r)} read rounds in "
        f"{ph['window_s']:.1f} s, one closed-loop client, local[{nproc()}]",
        f"{lat_name}.p50: {metrics['write_s.p50']['value']:.4f} s (median of {len(w)})",
        f"{rate_name}: {metrics['write_items_per_s']['value']:.1f} {rate_unit}",
        f"query_mix_s.p50: {metrics['read_s.p50']['value']:.4f} s (median of "
        f"{len(r)} rounds of the {len(QUERY_KINDS)} query kinds)",
        f"queries_per_s: {len(QUERY_KINDS) * len(r) / sum(r):.3f} queries/s",
        f"{lat_name}_cpu_s.p50: {statistics.median(ph['write_cpu']):.3f} s "
        "(CPU time of the JVM and Python workers; not gated)",
        f"query_mix_cpu_s.p50: {statistics.median(ph['read_cpu']):.3f} s",
    ]
    for name, lat in ((lat_name, w), ("query_mix_s", r)):
        t = tail(lat)
        lines.append(
            f"{name}.tail: {t[0]:.4f} s (p{t[1]:.0f} of {t[2]} samples)" if t
            else f"{name}.tail: n/a ({len(lat)} samples; needs at least 11)")
    lines += [
        f"setup_s: {metrics['setup_s']['value']:.4f} s (median of {len(ph['setup'])})",
        f"failed_ratio: {ph['failed']}/{ph['attempted']} = "
        f"{ph['failed'] / ph['attempted']:.4f}",
        f"peak_rss_mb: {peak_mem / 2**20:.1f} MB (summed PSS of the JVM and "
        "Python-worker tree; a per-layer metric, too noisy to gate)",
    ]
    return lines


# -- per-layer metrics of a traced phase -------------------------------------------

LAYER_METRICS = [
    "rollup.input_scans", "rollup.expand_rows", "rollup.agg_s",
    "rollup.shuffle_bytes", "rollup.spill_bytes",
    "compress.python_s", "compress.arrow_bytes", "compress.points",
    "compress.bits_per_value.ts", "compress.bits_per_value.n_turns",
    "compress.bits_per_value.sum_chars",
    "tier_store.write_s", "tier_store.commit_s", "tier_store.read_state_s",
    "tier_store.files_written", "tier_store.bytes_written",
    "sink.files_written", "sink.bytes_written",
    "continuous.spark_jobs", "continuous.self_s",
    "continuous.dirty_partitions", "continuous.manifest_commits",
    "snapshots.append_s", "snapshots.files_read",
    "query.slice.s", "query.resample.s", "query.hopping.s", "query.blocks.s",
    "slice.files_read_ratio", "gapfill.python_s",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.gc_s",
    "spark.warn.total", "spark.warn.task_of_very_large_size",
    "spark.warn.no_partition_defined_for_window", "spark.warn.other",
    "session.peak_pss_mb", "plan_guard.failures", "trace_overhead",
]
_AGG = r"(Hash|ObjectHash|Sort)Aggregate"
_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_PY_TIME = "time to run Python workers"


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ratio") or name == "trace_overhead":
        return "ratio"
    if ".bits_per_value." in name:
        return "bits"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _raw_input(info: dict) -> bool:
    return "/transcripts" in info["location"] or "/snap/data/" in info["location"]


def layer_metrics(ctx, ph: dict, log: trace.EventLog, warns: tuple) -> dict:
    spans = ctx.spans
    at = trace.Attribution(log, spans)

    def in_window(s):
        return any(a["name"] in ("op", "read") for a in spans.lineage(s))

    def timed(name):
        return [s for s in spans.named(name) if in_window(s)]

    def dur(name):
        return sum(s["t1"] - s["t0"] for s in timed(name))

    window = set(at.execs_within("op|read"))

    def execs(name_re):  # executions inside the timed window only
        return [e for e in at.execs_within(name_re) if e in window]

    def total(ex, node_re, metric, where=lambda i: True):
        return sum(log.node_sum(e, node_re, metric, where) for e in ex)

    # write-side figures are per write op, read-side ones per query
    n = max(1, len(timed("op")))
    op_ex = execs("op")
    agg_ex = [e for e in op_ex if re.search(_AGG, log.execs[e]["plan"])]
    encode = (lambda i: "encode_stream" in i["simple"])
    refresh = timed("continuous.refresh")
    n_ref = max(1, len(refresh))
    op_jobs = at.jobs_within(timed("op"))
    op_job_set = set(op_jobs)
    op_tasks = [t for t in log.tasks if t["job"] in op_job_set]
    store_ex = execs(r"tier_store\.(stage|write_blocks)")
    m = {
        "rollup.input_scans": sum(
            log.node_count(e, "Scan parquet", "number of output rows", _raw_input)
            for e in op_ex) / n,
        "rollup.expand_rows": total(op_ex, "Expand", "number of output rows") / n,
        "rollup.agg_s": (
            total(op_ex, _AGG, "time in aggregation build")
            + total(op_ex, "Sort", "sort time", lambda i: i["parent"] == "SortAggregate")
        ) / n,
        "rollup.shuffle_bytes": total(agg_ex, "Exchange", "shuffle bytes written") / n,
        "rollup.spill_bytes": total(op_ex, _AGG + "|Sort", "spill size") / n,
        "compress.python_s": total(op_ex, "MapInPandas", _PY_TIME, encode) / n,
        "compress.arrow_bytes": (
            total(op_ex, "MapInPandas", "data sent to Python workers", encode)
            + total(op_ex, "MapInPandas", "data returned from Python workers", encode)
        ) / n,
        "tier_store.write_s": (dur("tier_store.stage") + dur("tier_store.write_blocks")) / n,
        "tier_store.commit_s": dur("tier_store.commit") / n,
        "tier_store.read_state_s": dur("tier_store.read_state") / n,
        "tier_store.files_written": total(store_ex, _WRITE, "number of written files") / n,
        "tier_store.bytes_written": total(store_ex, _WRITE, "written output") / n,
        "sink.files_written": total(op_ex, _WRITE, "number of written files") / n,
        "sink.bytes_written": total(op_ex, _WRITE, "written output") / n,
        "continuous.spark_jobs": len(at.jobs_within(refresh)) / n_ref if refresh else 0,
        "continuous.self_s": sum(spans.self_time(s) for s in refresh) / n_ref,
        "snapshots.append_s": dur("snapshots.append") / n,
        "snapshots.files_read": sum(
            s["attrs"].get("files", 0) for s in timed("snapshots.read_incremental")) / n,
        "spark.jobs": len(op_jobs) / n,
        "spark.tasks": len(op_tasks) / n,
        "spark.task_s": sum(t["run_s"] for t in op_tasks) / n,
        "spark.cpu_s": sum(t["cpu_s"] for t in op_tasks) / n,
        "spark.gc_s": sum(t["gc_s"] for t in op_tasks) / n,
    }
    for kind in ("slice", "resample", "hopping", "blocks"):
        m[f"query.{kind}.s"] = trace.median_or_zero(
            [s["t1"] - s["t0"] for s in timed(f"query.{kind}")])
    n_slice = len(timed("query.slice"))
    hour_files = ph["wl"].layer.get("slice.hour_files", 0)
    m["slice.files_read_ratio"] = (
        total(execs(r"query\.slice"), "Scan parquet", "number of files read")
        / (n_slice * hour_files) if n_slice and hour_files else 0.0)
    n_res = len(timed("query.resample"))
    m["gapfill.python_s"] = (
        total(execs(r"query\.resample"), r".*(Python|Pandas).*", _PY_TIME) / n_res
        if n_res else 0.0)
    for name in ("continuous.dirty_partitions", "continuous.manifest_commits"):
        vals = [r["counters"][name] for r in ph["results"] if "counters" in r]
        m[name] = sum(vals) / len(vals) if vals else 0.0
    for k, v in ph["wl"].layer.items():
        if k in LAYER_METRICS:
            m[k] = v
    named, other = warns
    m["spark.warn.total"] = sum(named.values()) + sum(other.values())
    for k, v in named.items():
        m[f"spark.warn.{k}"] = v
    m["spark.warn.other"] = sum(other.values())
    failures = []
    for span_name, rules in ph["wl"].guard().items():
        failures += at.plan_guard(span_name, rules)
    m["plan_guard.failures"] = len(failures)
    ph["guard_failures"] = failures
    return m


# -- one run ---------------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, traced: bool,
        work_root: str, inputs: str, meta: dict, log_path: str) -> tuple:
    """Returns (result, human-readable lines, error messages)."""
    work = os.path.join(work_root, f"run-{os.getpid()}")
    record = os.path.join(work_root, f"untraced-{workload}.json")
    with trace.TreeMemory() as mem:
        try:
            if not traced:
                t0 = time.perf_counter()
                spark = start_session(os.path.join(work, "a"), workload, None)
                ctx = make_ctx(spark, os.path.join(work, "a"), inputs, meta, seed, False)
                session_s = time.perf_counter() - t0
                ph = run_phase(ctx, workload, seconds, SETUP_REPS)
                ctx.oracle.close()
                stop_spark()
                metrics = end_to_end(ph)
                lines = summary_lines(workload, ph, metrics, mem.peak)
                lines.append("wall: " + ", ".join(
                    f"{k} {v:.1f}" for k, v in
                    {"session_s": session_s, **ph["timings"]}.items())
                    + "; setup reps " + " ".join(f"{v:.3f}" for v in ph["setup"]))
                if not ph["failed"]:
                    with open(record, "w") as f:
                        json.dump({"write_s.p50": statistics.median(ph["write"])}, f)
            else:
                evdir = os.path.join(work, "b", "eventlog")
                offset = os.path.getsize(log_path)
                spark = start_session(os.path.join(work, "b"), workload, evdir)
                ctx = make_ctx(spark, os.path.join(work, "b"), inputs, meta, seed, True)
                ph = run_phase(ctx, workload, seconds, 0)
                ctx.oracle.close()
                stop_spark()  # flushes the event log
                ctx.spans.dump(os.path.join(work, "spans.json"))
                warns = trace.warn_counts(log_path, offset)
                m = layer_metrics(ctx, ph, trace.EventLog(evdir), warns)
                if os.path.exists(record):
                    with open(record) as f:
                        base = json.load(f)["write_s.p50"]
                    m["trace_overhead"] = statistics.median(ph["write"]) / base
                m["session.peak_pss_mb"] = mem.peak / 2**20
                metrics = {k: {"value": m.get(k, 0), "unit": layer_unit(k)}
                           for k in LAYER_METRICS}
                if ph["guard_failures"]:
                    ph["failed"] += 1
                    ph["attempted"] += 1
                    ph["errors"] += [f"plan guard: {f}" for f in ph["guard_failures"]]
                lines = [f"{k}: {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
                if "trace_overhead" not in m:
                    lines.append("trace_overhead: n/a, reported as 0 (no untraced run "
                                 "of this workload in this checkout yet)")
                if warns[1]:
                    lines.append("other WARN classes: " + json.dumps(warns[1]))
        finally:
            stop_spark()
    result = {
        "correct": ph["failed"] == 0,
        "attempted": ph["attempted"],
        "failed": ph["failed"],
        "metrics": metrics,
    }
    return result, lines, ph["errors"]
