import glob
import json
import os
import re

from component_delta_lake_writer_spark.plans.query_registry import (
    EMPTY_OK,
    ORACLES,
    QUERIES,
    query,
)
from component_delta_lake_writer_spark.plans import write_checks  # noqa: F401  (registers)
from component_delta_lake_writer_spark.plans import extra_queries  # noqa: F401  (registers)
from component_delta_lake_writer_spark.plans import tpch_full  # noqa: F401  (registers)
from component_delta_lake_writer_spark.plans import corpus_extras  # noqa: F401  (registers)

# ---------------------------------------------------------------------------
# Registry order.
#
# The correctness check consumes QUERIES in iteration order and checks a
# fixed number of keys per round (50) against their oracles, writing
# one CORRECTNESS_r<N>.json per round into the repo root.  The order is
# computed from those files at import, so every key keeps collecting
# correctness evidence without a hand-edited list:
#   1. the pins in _PINS, in their listed order;
#   2. keys whose newest correctness row is red;
#   3. keys with no correctness row yet;
#   4. green keys, the oldest newest-green round first.
# Ties keep registration order.  A round is the integer in the file
# name, so r100 sorts after r99.
#
# The one pin is a warmer: parquet_scan absorbs the SparkSession's first
# Spark jobs (~9 s; a cold slot 1 measured corr_matrix_orders at
# 10.4 s against 1-2 s warm), so the keys after it measure their own
# work under the check's 10 s per-key ceiling.  Streaming warmers are
# not pinned: stream_cdf_bootstrap alone measures ~15 s at sf0.01
# (its Python-DataSource runner spawn), so a pinned copy would put one
# over-ceiling probe in every round, while an unpinned first CDF
# streaming key pays that cost only in a round that checks one.
# ---------------------------------------------------------------------------

_PINS = ("parquet_scan",)
_ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))


def _correctness_evidence(root: str = _ROOT) -> dict:
    """Fold the CORRECTNESS_r<N>.json files under ``root``
    into key -> (round, red) of the key's newest row.  A row is red
    when it errored or any of its match flags is False; unreadable
    files are skipped."""
    rounds = []
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(p))
        if m:
            rounds.append((int(m.group(1)), p))
    newest: dict = {}
    for rnd, p in sorted(rounds):
        try:
            with open(p) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for k, row in rows.items():
            red = bool(row.get("err")) or any(
                row.get(f) is False
                for f in ("rows_match", "schema_match", "hash_match")
            )
            newest[k] = (rnd, red)
    return newest


def _check_order(keys, evidence: dict) -> list:
    """``keys`` (in registration order) in the correctness check's order
    for ``evidence`` as returned by :func:`_correctness_evidence`."""

    def rank(k: str) -> tuple:
        if k in _PINS:
            return (0, _PINS.index(k))
        if k not in evidence:
            return (2, 0)
        rnd, red = evidence[k]
        return (1, 0) if red else (3, rnd)

    return sorted(keys, key=rank)  # stable: ties keep registration order


def _reorder() -> None:
    order = _check_order(QUERIES, _correctness_evidence())
    ordered = {k: QUERIES[k] for k in order}
    QUERIES.clear()
    QUERIES.update(ordered)
    osorted = {k: ORACLES[k] for k in QUERIES if k in ORACLES}
    ORACLES.clear()
    ORACLES.update(osorted)


_reorder()

__all__ = ["QUERIES", "ORACLES", "query"]
