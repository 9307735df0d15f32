"""Per-layer metrics of a traced run.

``TARGETS`` lists the public functions and methods the traced run
wraps; every workload installs all of them, so a layer a workload does
not reach reports zero calls (the zero-move predictions in README.md).
Time metrics are means per call unless the name says otherwise; a
metric whose layer was never called reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import stages
from perfbench.spans import Span, Tracer, self_time
from perfbench.stats import union_length
from perfbench.workloads import CORPUS_KEYS


def targets() -> list[tuple[object, str, str]]:
    from component_delta_lake_writer_spark import runner
    from component_delta_lake_writer_spark.operators import merge
    from component_delta_lake_writer_spark.sinks import (
        ManagedTable,
        delta_log,
        unit_stats,
    )

    return [
        (runner, "plan_table_scan", "runner.plan_table_scan"),
        (runner, "run_job", "runner.run_job"),
        (ManagedTable, "write", "managed_table.write"),
        (ManagedTable, "upsert", "managed_table.upsert"),
        (ManagedTable, "read", "managed_table.read"),
        (ManagedTable, "latest_commit", "managed_table.latest_commit"),
        (unit_stats, "collect_unit_stats", "unit_stats.collect_unit_stats"),
        (unit_stats, "prune_units", "unit_stats.prune_units"),
        (unit_stats, "unit_overlaps_key_bounds", "unit_stats.unit_overlaps_key_bounds"),
        (merge, "merge_upsert", "merge.merge_upsert"),
        (delta_log, "write_delta_log_entry", "delta_log.write_delta_log_entry"),
        (delta_log, "maybe_write_checkpoint", "delta_log.maybe_write_checkpoint"),
    ]


#: (metric, unit) in the order BENCHMARK.json lists them
LAYER_METRICS = [
    ("runner.plan_table_scan.s", "s"),
    ("runner.run_job.jobs", "count"),
    ("runner.rows_read_per_row_written", "ratio"),
    ("sources.input_bytes", "bytes"),
    ("managed_table.write.s", "s"),
    ("managed_table.write.self_s", "s"),
    ("managed_table.write.driver_s", "s"),
    ("managed_table.write.executor_cpu_s", "s"),
    ("managed_table.write.last_over_first_decile", "ratio"),
    ("managed_table.latest_commit.s", "s"),
    ("managed_table.latest_commit.calls_per_commit", "count"),
    ("managed_table.commits_bytes_per_commit", "bytes"),
    ("managed_table.upsert.s", "s"),
    ("managed_table.upsert.driver_s", "s"),
    ("managed_table.upsert.executor_cpu_s", "s"),
    ("managed_table.upsert.shuffle_bytes", "bytes"),
    ("managed_table.upsert.spill_bytes", "bytes"),
    ("managed_table.upsert.rows_rewritten_per_row_changed", "ratio"),
    ("managed_table.read.s", "s"),
    ("managed_table.read.executor_cpu_s", "s"),
    ("managed_table.read.input_bytes", "bytes"),
    ("managed_table.read.tasks", "count"),
    ("unit_stats.collect_unit_stats.s", "s"),
    ("unit_stats.prune_units.kept_ratio", "ratio"),
    ("merge.merge_upsert.s", "s"),
    ("delta_log.write_delta_log_entry.s", "s"),
    ("delta_log.maybe_write_checkpoint.s_p50", "s"),
    ("delta_log.maybe_write_checkpoint.s_max", "s"),
    ("delta_log.bytes_per_commit", "bytes"),
    *[
        (f"plans.{k}.{m}", u)
        for k in CORPUS_KEYS
        for m, u in (
            ("build_s", "s"), ("exec_s", "s"), ("executor_cpu_s", "s"),
            ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
        )
    ],
    ("trace.overhead_ratio", "ratio"),
]


class _Calls:
    """Per-call figures of every span, jobs included from its subtree."""

    def __init__(self, tracer: Tracer, jobs: dict[str, list[stages.Job]]):
        self.by_name: dict[str, list[dict]] = {}
        kids = tracer.children()

        def subtree_jobs(s: Span) -> list[stages.Job]:
            out = list(jobs.get(s.group, []))
            for c in kids.get(s.id, []):
                out += subtree_jobs(c)
            return out

        for s in tracer.spans:
            js = subtree_jobs(s)
            job_s = union_length([(j.start_ms / 1e3, j.end_ms / 1e3) for j in js])
            row = {
                "s": s.duration,
                "self_s": self_time(s, kids.get(s.id, [])),
                "driver_s": max(s.duration - job_s, 0.0),
                "jobs": len(js),
            }
            for f in stages.STAGE_FIELDS:
                row[f] = sum(j.totals[f] for j in js)
            self.by_name.setdefault(s.name, []).append(row)

    def mean(self, name: str, field: str) -> float:
        rows = self.by_name.get(name, [])
        return sum(r[field] for r in rows) / len(rows) if rows else 0.0

    def total(self, name: str, field: str) -> float:
        return sum(r[field] for r in self.by_name.get(name, []))

    def values(self, name: str, field: str = "s") -> list[float]:
        return [r[field] for r in self.by_name.get(name, [])]


def _decile_ratio(xs: list[float]) -> float:
    k = len(xs) // 10
    if k == 0:
        return 0.0
    return statistics.median(xs[-k:]) / statistics.median(xs[:k])


def layer_metrics(sc, tracer: Tracer, facts: dict) -> dict[str, float]:
    """Every metric of ``LAYER_METRICS`` from the tracer's spans, the
    status store's job and stage records, and the workload's facts."""
    stages.drain(sc)
    jobs = {s.group: stages.group_jobs(sc, s.group) for s in tracer.spans if s.group}
    c = _Calls(tracer, jobs)
    commits = facts.get("commits", 0)
    split = facts.get("storage")
    m = {
        # the ingest figures come from the benchmark's load operations
        # (one run_job OVERWRITE each), not from upserts
        "runner.plan_table_scan.s": c.mean("runner.plan_table_scan", "s"),
        "runner.run_job.jobs": c.mean("op.overwrite", "jobs"),
        "runner.rows_read_per_row_written": (
            c.total("op.overwrite", "input_records") / facts["rows_loaded"]
            if facts.get("rows_loaded") else 0.0
        ),
        "sources.input_bytes": c.mean("op.overwrite", "input_bytes"),
        "managed_table.write.last_over_first_decile": _decile_ratio(
            c.values("managed_table.write")
        ),
        "managed_table.latest_commit.s": c.mean("managed_table.latest_commit", "s"),
        "managed_table.latest_commit.calls_per_commit": (
            len(c.values("managed_table.latest_commit")) / commits if commits else 0.0
        ),
        "managed_table.commits_bytes_per_commit": (
            split["_commits"]["bytes"] / commits if split and commits else 0.0
        ),
        "managed_table.upsert.rows_rewritten_per_row_changed": facts.get(
            "rows_rewritten_per_row_changed", 0.0
        ),
        "unit_stats.collect_unit_stats.s": c.mean("unit_stats.collect_unit_stats", "s"),
        "unit_stats.prune_units.kept_ratio": facts.get("units_kept_ratio", 0.0),
        "merge.merge_upsert.s": c.mean("merge.merge_upsert", "s"),
        "delta_log.write_delta_log_entry.s": c.mean(
            "delta_log.write_delta_log_entry", "s"
        ),
        "delta_log.bytes_per_commit": (
            split["_delta_log"]["bytes"] / commits if split and commits else 0.0
        ),
    }
    for f in ("s", "self_s", "driver_s", "executor_cpu_s"):
        m[f"managed_table.write.{f}"] = c.mean("managed_table.write", f)
    for f in ("s", "driver_s", "executor_cpu_s", "shuffle_bytes", "spill_bytes"):
        m[f"managed_table.upsert.{f}"] = c.mean("managed_table.upsert", f)
    # ManagedTable.read only plans the scan; the benchmark's read op
    # around it runs the scan, so the read layer is measured there.
    # Spark's parquet inputBytes counts only footer reads on local
    # files, so the input of a full-column read is the live data.
    for f in ("s", "executor_cpu_s", "tasks"):
        m[f"managed_table.read.{f}"] = c.mean("op.read", f)
    m["managed_table.read.input_bytes"] = (
        facts.get("live_data_bytes", 0.0) if c.values("op.read") else 0.0
    )
    ckpt = c.values("delta_log.maybe_write_checkpoint")
    m["delta_log.maybe_write_checkpoint.s_p50"] = statistics.median(ckpt) if ckpt else 0.0
    m["delta_log.maybe_write_checkpoint.s_max"] = max(ckpt, default=0.0)
    for k in CORPUS_KEYS:
        m[f"plans.{k}.build_s"] = c.mean(f"plans.{k}.build", "s")
        m[f"plans.{k}.exec_s"] = c.mean(f"plans.{k}.exec", "s")
        # some keys run jobs while building (persisted intermediates)
        for f in ("executor_cpu_s", "shuffle_bytes", "spill_bytes"):
            m[f"plans.{k}.{f}"] = c.mean(f"plans.{k}.build", f) + c.mean(
                f"plans.{k}.exec", f
            )
    top = sum(s.duration for s in tracer.spans if s.parent is None)
    m["trace.overhead_ratio"] = tracer.overhead_s / top if top else 0.0
    return m
