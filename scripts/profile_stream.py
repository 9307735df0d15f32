"""Profile streaming probes: per-micro-batch durationMs breakdown.

Captures StreamingQueryProgress via a StreamingQueryListener so the
fixed micro-batch machinery (planning, state commit, sink add) is
attributed per phase — guide §1 (measure first) for the streaming keys
whose probe time is dominated by per-batch cost.

r14 (ADVICE r13): the listener replaces the old monkeypatch that
duplicated the whole ``_drain_to_memory`` body — the real drain now
runs UNMODIFIED, so the profile can never diverge from the protocol
it measures.

Usage: python scripts/profile_stream.py key1,key2 [--sf DIR] [--repeat N]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"


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


def main() -> None:
    keys = sys.argv[1].split(",")
    repeat = 2
    if "--repeat" in sys.argv:
        repeat = int(sys.argv[sys.argv.index("--repeat") + 1])
    global SF_DIR
    if "--sf" in sys.argv:
        SF_DIR = sys.argv[sys.argv.index("--sf") + 1]

    from pyspark.sql.streaming import StreamingQueryListener

    from component_delta_lake_writer_spark import get_spark
    from component_delta_lake_writer_spark.plans import QUERIES

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    class _ProgressCapture(StreamingQueryListener):
        """Collects every micro-batch progress event; drained and
        printed after each probe run."""

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

    cap = _ProgressCapture()
    spark.streams.addListener(cap)

    for key in keys:
        for i in range(repeat):
            cap.progress.clear()
            t0 = time.perf_counter()
            n = QUERIES[key](spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            _wait_for_progress(cap.progress)
            print(f"{key} run{i}: {dt:.3f}s ({n} rows, "
                  f"{len(cap.progress)} batches)")
            for p in cap.progress:
                dur = p.get("durationMs", {})
                so = p.get("stateOperators", [])
                st = "; ".join(
                    f"op{j}: commit={s.get('commitTimeMs')}ms "
                    f"rows={s.get('numRowsTotal')}"
                    for j, s in enumerate(so))
                print(f"    [{p.get('name')}] batch {p.get('batchId')}: "
                      f"rows={p.get('numInputRows')} dur={dur} {st}")


if __name__ == "__main__":
    main()
