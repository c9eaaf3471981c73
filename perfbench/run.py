"""Benchmark of the tier pipeline. Run from the repository root:

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 10 --trace 0

Workloads: batch_full, incremental_refresh (see README.md).
Human-readable figures go to standard output first; the last line of
standard output is one JSON object with the keys correct, attempted,
failed and metrics. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: cached inputs, per-run state, Spark's local and temporary
directories, the captured Spark log and the event log. The per-run state is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("batch_full", "incremental_refresh")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Spark's Python workers must import the package, and every temporary
    file stays inside the checkout. Call before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _remove_dead_runs(work_root: str) -> None:
    """Per-run state left behind by runs that were killed."""
    if not os.path.isdir(work_root):
        return
    for e in os.listdir(work_root):
        if e.startswith(("run-", "selftest-")):
            try:
                os.kill(int(e.split("-")[1]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(work_root, e), ignore_errors=True)
            except (ValueError, PermissionError):
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [
        p for p in ("tablecloth_time_spark/__init__.py", "scripts/run_pipeline.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program sources not found: {missing}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    _remove_dead_runs(work_root)
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    prepare_env(run_dir)
    # a terminated run still stops Spark and its workers (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench import harness
    from perfbench.inputs import ensure_inputs

    inputs, meta = ensure_inputs(os.path.join(work_root, "inputs"), ROOT, args.seed)

    # the JVM inherits fds 1 and 2: capture its log (WARN classes are
    # counted from it) and keep stdout for the result alone
    log_path = os.path.join(run_dir, "spark.log")
    real_out, real_err = os.dup(1), os.dup(2)
    sys.stdout.flush()
    sys.stderr.flush()
    with open(log_path, "ab") as log:
        os.dup2(log.fileno(), 1)
        os.dup2(log.fileno(), 2)
    code = 0
    try:
        result, lines, errors = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace),
            work_root, inputs, meta, log_path)
    except Exception:
        result, lines, errors = None, [], [traceback.format_exc()]
        code = 1
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(real_out, 1)
        os.dup2(real_err, 2)
    if errors:
        print("\n".join(errors), file=sys.stderr)
    if code:
        with open(log_path, "rb") as f:
            f.seek(max(0, os.path.getsize(log_path) - 4000))
            sys.stderr.write(f.read().decode("utf-8", "replace"))
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return code
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
