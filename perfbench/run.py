"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One closed-loop client drives the engine
in this process on ``local[nproc]``. The last line of standard output
is the result (``correct``, ``attempted``, ``failed``, ``metrics``):
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separate traced run. The line before it is a
detail report (run stamp, workload figures under the metric names of
README.md, storage split), also written under ``.bench_out/``.
Exits non-zero when an operation fails or an output is wrong, and
before printing anything when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 4
# explicit: the engine's default heap is larger than the host
MEMORY = "2g"
#: the canary job's input rows, and canary jobs per measuring point
CANARY_ROWS = 50_000_000
CANARY_REPS = 3

#: (metric, unit) of every end-to-end metric, as BENCHMARK.json lists them
E2E_METRICS = [
    ("setup_s", "s"),
    ("op_per_canary.p50", "ratio"),
    ("read_per_canary.p50", "ratio"),
    ("peak_rss_mb", "MB"),
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """The engine session and the JVM behind it."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None

    def start(self):
        """Start the session; a running one is stopped first (the JVM
        stays up, so only the first start launches it)."""
        from component_delta_lake_writer_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            threads=nproc(),
            memory=MEMORY,
            temp_directory=str(self.work / "spark-local"),
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                # a fixed-size heap, touched at launch: no resizing
                # noise in times, and RSS that does not depend on how
                # far the collector happened to spread the heap
                "spark.driver.extraJavaOptions": f"-Xms{MEMORY} -XX:+AlwaysPreTouch",
                # keep every job of a run in the status store
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stamp(seed: int, spark) -> dict:
    src = hashlib.sha256()
    for p in sorted((ROOT / "component_delta_lake_writer_spark").rglob("*.py")):
        src.update(p.read_bytes())
    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=False,
        ).stdout.strip() or None
    return {
        "seed": seed,
        "nproc": nproc(),
        "memory": MEMORY,
        "spark_version": spark.version,
        "git_commit": commit,
        "package_sha256": src.hexdigest(),
    }


def canary_s(spark) -> float:
    """Seconds for one canary job: a hash-XOR aggregate over a generated
    range, Spark built-ins only. It shares the host, the JVM and the
    session with the workload but runs no engine code, so it moves with
    the host's speed and not with the engine's."""
    t0 = time.perf_counter()
    spark.range(0, CANARY_ROWS, 1, 8).selectExpr(
        "bit_xor(xxhash64(id, id * 3))"
    ).collect()
    return time.perf_counter() - t0


def run_ops(
    wl, tracer, seconds: float, started: list[int]
) -> tuple[float, list[float], list[float], list[float]]:
    """The cold operation, the warm-up operations, then the measured
    ones with canary jobs before each and after the last;
    ``started[0]`` counts the operations begun. Returns
    ``(cold_s, op_s, read_s, canary_s)``."""

    def next_op() -> tuple[float, list[float]]:
        started[0] += 1
        if tracer:
            tracer.op = started[0] - 1
        return wl.op(started[0] - 1)

    def canaries() -> list[float]:
        return [canary_s(wl.spark) for _ in range(CANARY_REPS)]

    started[0] += 1
    if tracer:
        tracer.op = 0
    cold_s = wl.cold()
    for _ in range(wl.warmup_ops):
        next_op()
    canaries()  # unmeasured: the first runs compile the canary's plan
    op_s, read_s, canary = [], [], []
    t_start = time.perf_counter()
    while len(op_s) < wl.max_ops and (
        len(op_s) < wl.min_ops or time.perf_counter() - t_start < seconds
    ):
        canary += canaries()
        s, reads = next_op()
        op_s.append(s)
        read_s += reads
    canary += canaries()
    return cold_s, op_s, read_s, canary


def measure(args, work: Path) -> tuple[dict, dict]:
    """One run: returns the result line and the detail report."""
    from perfbench import layers
    from perfbench.spans import Tracer
    from perfbench.stats import median
    from perfbench.workloads import WORKLOADS

    load_start = os.getloadavg()
    session = Session(work)
    tracer = Tracer(set_group=session.set_group) if args.trace else None
    wl = WORKLOADS[args.workload](lambda: session.spark, work, args.seed, tracer)
    errors = []
    try:
        setup_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            session.start()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
        if tracer:
            tracer.install(layers.targets())
        started = [0]
        failed = 0
        try:
            cold_s, op_s, read_s, canary = run_ops(
                wl, tracer, args.seconds, started
            )
        except Exception:  # an engine operation failed: report it, no metrics
            failed = 1
            errors.append(traceback.format_exc())
        finally:
            if tracer:
                tracer.uninstall()
        attempted = started[0]
        if not failed:
            attempted += 1  # the correctness gate
            errors += wl.check()
            failed = int(bool(errors))
        detail = {
            "workload": args.workload,
            "trace": args.trace,
            "stamp": stamp(args.seed, session.spark),
            "errors": errors,
            "error_rate": failed / attempted,
        }
        if failed:
            metrics = {}
        elif tracer:
            values = layers.layer_metrics(
                session.spark.sparkContext, tracer, wl.layer_facts()
            )
            metrics = {
                k: {"value": values[k], "unit": u} for k, u in layers.LAYER_METRICS
            }
            detail["spans"] = len(tracer.spans)
            name = f"{args.workload}-seed{args.seed}-spans.jsonl"
            with open(ROOT / ".bench_out" / name, "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.record()) + "\n")
        else:
            values = {
                "setup_s": median(setup_s),
                "op_per_canary.p50": median(op_s) / median(canary),
                "read_per_canary.p50": median(read_s) / median(canary),
                "peak_rss_mb": session.peak_rss_mb(),
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_METRICS}
            detail["report"] = {
                **metrics,
                "cold_s": {"value": cold_s, "unit": "s"},
                "op_s.p50": {"value": median(op_s), "unit": "s"},
                "canary_s.p50": {"value": median(canary), "unit": "s"},
                **wl.report(op_s, read_s),
            }
            detail["samples"] = {
                "setup_s": setup_s, "op_s": op_s, "read_s": read_s,
                "canary_s": canary,
            }
    finally:
        session.close()
    detail["stamp"]["loadavg_start"] = load_start
    detail["stamp"]["loadavg_end"] = os.getloadavg()
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every file the run writes stays under the checkout
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (ROOT / ".bench_out").mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    )
    # import the benchmark as the ``perfbench`` package, never its
    # modules by bare name (``layers``, ``stats`` ...)
    sys.path[0] = str(ROOT)
    from perfbench.workloads import WORKLOADS  # needs the engine package

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    result, detail = measure(args, work)
    out = ROOT / ".bench_out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(detail, indent=1))
    print(json.dumps(detail))
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
