"""Capture explain("formatted") for bench-suite queries.

Usage: python scripts/capture_plans.py before|after [key1,key2,...]

Runs each query callable at $SPARK_GRAFT_SF_DIR (default sf0.1) and
writes <key>_<tag>.txt under $SPARK_GRAFT_PLANS_OUT (default plans/r14
in this tree).  Plans are captured from the RETURNED DataFrame — the
one bench.time_key writes to the `noop` sink; for write-path probes
that is the read-back plan.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = Path(os.environ.get("SPARK_GRAFT_PLANS_OUT", ROOT / "plans" / "r14"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from bench import HEADLINE, HEADLINE_V2
    from component_delta_lake_writer_spark import get_spark
    from component_delta_lake_writer_spark.plans import QUERIES

    keys = only if only else HEADLINE + HEADLINE_V2
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    OUT.mkdir(parents=True, exist_ok=True)

    for key in keys:
        fn = QUERIES[key]
        try:
            df = fn(spark, SF_DIR)
            txt = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # capture failure visibly
            txt = f"EXPLAIN FAILED: {exc!r}\n"
        (OUT / f"{key}_{tag}.txt").write_text(txt)
        print(f"{key}: {len(txt)} chars")


if __name__ == "__main__":
    main()
