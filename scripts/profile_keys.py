"""Profile registry keys on the bench's timing path, layer by layer.

Usage: python scripts/profile_keys.py KEYS [--sf DIR] [--repeat N]

KEYS is a comma-separated list of registry keys or a suite name: ``v1``
(``bench.HEADLINE``) or ``v2`` (``bench.HEADLINE_V2``, after the untimed
streaming warmer ``bench.main`` also runs). After the bench's host
warm-up, each key runs ``--repeat`` times through ``bench.time_key``:
build the DataFrame, then write every output column to the ``noop``
sink. Per run it prints the key's profile as JSON, then every non-zero
per-layer metric of perfbench (``perfbench.layers.targets()`` wrappers
are installed for the run), and, when the run produced streaming
micro-batches, each batch's ``durationMs`` and state-operator figures.
For ``upsert_mor`` the layer metrics split the key into its
``managed_table.write`` call (the initial load), its
``managed_table.upsert`` call (the source append, the deletion-vector
match against the overlapping units and the DV file write, all before
the version claim) and the ``delta_log.write_delta_log_entry`` call
inside it (the mirror entry with the DV remove/add swap); the ``exec``
span is the read-back, which applies the DVs. The wrappers are why ``bench.py``'s suites, which install
none, are the timing record and this script is the explanation.

A/B two trees by running this script from each tree in turn, alternating
runs (each run starts a fresh JVM)::

    python /path/to/base/scripts/profile_keys.py minhash_dedup
    python scripts/profile_keys.py minhash_dedup

The script puts its own tree first on ``sys.path`` and asserts that the
engine package, ``bench`` and ``perfbench`` resolved from it, so a run
never measures another checkout by accident.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402
import component_delta_lake_writer_spark as engine  # noqa: E402
import perfbench  # noqa: E402

for _mod in (bench, engine, perfbench):
    if not Path(_mod.__file__).resolve().is_relative_to(ROOT):
        raise SystemExit(f"{_mod.__name__} resolved from {_mod.__file__}, not {ROOT}")

from perfbench import layers  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

#: suite name -> (untimed warmers, timed keys), as bench.main runs them
SUITES = {
    "v1": ([], bench.HEADLINE),
    "v2": ([bench.V2_WARMER], bench.HEADLINE_V2),
}


def _wait_for_progress(progress: list, settle_s: float = 0.5,
                       timeout_s: float = 10.0) -> None:
    """Listener events arrive asynchronously: poll until ``progress``
    has not grown for ``settle_s``, giving up after ``timeout_s``, so
    a late final micro-batch event is still printed."""
    deadline = time.monotonic() + timeout_s
    seen, quiet_since = len(progress), time.monotonic()
    while time.monotonic() < deadline:
        time.sleep(0.05)
        if len(progress) != seen:
            seen, quiet_since = len(progress), time.monotonic()
        elif time.monotonic() - quiet_since >= settle_s:
            return


def _print_batches(progress: list[dict]) -> None:
    for p in progress:
        st = "; ".join(
            f"op{j}: commit={s.get('commitTimeMs')}ms rows={s.get('numRowsTotal')}"
            for j, s in enumerate(p.get("stateOperators", []))
        )
        print(f"    [{p.get('name')}] batch {p.get('batchId')}: "
              f"rows={p.get('numInputRows')} dur={p.get('durationMs', {})} {st}")


class ProgressCapture(StreamingQueryListener):
    """Collects every streaming micro-batch progress event."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("keys", help="k1,k2,... or a suite name: v1, v2")
    ap.add_argument("--sf", default=bench.SF_DIR, help="input tables directory")
    ap.add_argument("--repeat", type=int, default=1, help="runs per key")
    args = ap.parse_args()
    warmers, keys = SUITES.get(args.keys, ([], args.keys.split(",")))

    spark = engine.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    cap = ProgressCapture()
    spark.streams.addListener(cap)
    print(f"# loadavg {os.getloadavg()[0]:.2f} sf={args.sf}", file=sys.stderr)
    bench.warm_host(spark, args.sf)
    for key in warmers:
        bench.time_key(spark, key, args.sf)

    tracer = bench.job_group_tracer(spark)
    totals = [0.0] * args.repeat
    for key in keys:
        for i in range(args.repeat):
            cap.progress.clear()
            first = len(tracer.spans)
            tracer.install(layers.targets())
            try:
                profile = bench.time_key(spark, key, args.sf)
            finally:
                tracer.uninstall()
            totals[i] += profile["s"]
            print(f"{key} run{i}: {json.dumps(profile)}")
            # this run's spans alone, as a tracer of their own
            run = Tracer()
            run.spans = tracer.spans[first:]
            metrics = layers.layer_metrics(spark.sparkContext, run, {})
            for name, v in metrics.items():
                if v:
                    print(f"    {name} = {v:.4g}")
            _wait_for_progress(cap.progress)
            _print_batches(cap.progress)
    for i, t in enumerate(totals):
        print(f"TOTAL run{i}: {t:.3f}s over {len(keys)} keys")


if __name__ == "__main__":
    main()
