"""Engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kv_lines --seed 1 --seconds 1 --trace 0

Workloads: ``kv_lines`` and ``dedup_state`` (see ``workloads.py``).
``--seconds`` is the least time the run measures; it always measures
whole units of work, at least one.

Run from the repository root. The benchmark drives the engine package
in that root only through its public entry points, on one local Spark
master with one slot per available core. It writes only under
``.perfbench/`` in the root and removes its scratch on exit.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are the per-layer metrics (see ``catalog.py``), and
the run also measures the workload untraced so that the tracing
overhead is reported. Every metric is printed by name with its unit on
the lines before, together with the host calibration, which is a
diagnostic and is never divided into a metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kinesis_alerts_consumer_spark"


def _environment(work: str) -> None:
    """Point every scratch location of Spark, its Python workers and
    the engine's temp dirs into ``work`` before the JVM starts."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": " ".join((
            # A fixed heap and young generation, so resident memory does
            # not depend on when G1 decides to resize them: with the
            # engine's defaults the peak summed PSS of one kv_lines run
            # ranged from 1.9 to 3.1 GB over three seeds (4 cores).
            "-Xms3g", "-Xmn512m",
            # C1 only: a run lasts about a minute, and with tiered C2
            # compilation an 18k-line kv_lines unit fell from 59 to 28
            # CPU-s over the first five units of a run.
            "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}")),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _stop_engine() -> None:
    """Stop the session and the driver JVM, and wait until every
    process the run started has ended. The JVM exits when its stdin
    closes, which otherwise happens only as this process exits, so the
    JVM would outlive the run."""
    from pyspark import SparkContext

    from measure import end_descendants

    context = SparkContext._active_spark_context
    if context is not None:
        try:
            context.stop()
        except Exception:  # noqa: BLE001 — the JVM is ended below anyway
            pass
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    end_descendants()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; run from "
              "a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    # imports neither the engine nor a session: both read the
    # environment that _environment sets below
    from measure import adopt_orphans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    adopt_orphans()
    # on SIGTERM, unwind so the engine is stopped and the scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = WORKLOADS[args.workload](args, work, START).run()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        _stop_engine()
        shutil.rmtree(work, ignore_errors=True)
    for line in result.pop("report"):
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
