"""The benchmark's workloads.

Each workload drives the engine through its public surface only
(``runner.run_job``, ``ManagedTable``, the query registry) on inputs
generated from the run's seed. The harness calls ``setup`` several
times, then ``cold`` once (the first engine operation of the session),
then ``op`` until the run has measured long enough, then ``check``
outside any timed region.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from component_delta_lake_writer_spark.config import (
    ColumnSpec,
    Destination,
    JobSpec,
    LoadMode,
)
from component_delta_lake_writer_spark.sinks import ManagedTable
from perfbench import checks, gen, storage
from perfbench.stats import median, tail

ORDERS_SPECS = [ColumnSpec(n, t, length) for n, t, length in gen.ORDERS_COLUMNS]
ORDERS_NAMES = [c.name for c in ORDERS_SPECS]
ORDER_COLS = ["_slice_idx", "_row_in_slice"]


def full_read(df) -> int:
    """Full-column aggregate: the row count and the XOR of a 64-bit
    hash over every column, so no column can be pruned. Returns the
    row count."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]
    return int(row["n"])


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def table_report(path: Path) -> dict:
    """Storage split of a table plus bytes stored per byte of live
    snapshot data (the parquet units the latest commit lists)."""
    split = storage.walk_table(str(path))
    live = sum(
        storage.dir_bytes(str(path / "_data" / u))
        for u in ManagedTable(None, str(path)).latest_commit().data_units
    )
    return {
        "storage": split,
        "live_data_bytes": live,
        "bytes_stored_per_user_byte": storage.total_bytes(split) / live,
    }


def table_metrics(path: Path) -> dict:
    t = table_report(path)
    return {
        "bytes_stored_per_user_byte": metric(t["bytes_stored_per_user_byte"], "ratio"),
        "live_data_bytes": metric(t["live_data_bytes"], "bytes"),
        "storage": t["storage"],
    }


class Workload:
    name = ""
    #: ops run before measuring (JIT and caches settle), then ops
    #: measured at least / at most, whatever ``--seconds`` says
    warmup_ops = 0
    min_ops = 1
    max_ops = 1

    def __init__(self, spark_fn, work: Path, seed: int, tracer=None):
        self._spark_fn = spark_fn
        self.work = work
        self.seed = seed
        self.tracer = tracer

    @property
    def spark(self):
        return self._spark_fn()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def timed(self, name: str, fn, *args, **kwargs):
        """``(seconds, result)`` of one call, inside a span ``name``."""
        with self.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return time.perf_counter() - t0, out

    def setup(self) -> None:
        raise NotImplementedError

    def cold(self) -> float:
        raise NotImplementedError

    def op(self, i: int) -> tuple[float, list[float]]:
        """Operation ``i`` (from 1): ``(op seconds, read seconds)``."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def report(self, op_s: list[float], read_s: list[float]) -> dict:
        return {}

    def layer_facts(self) -> dict:
        """Per-layer figures the workload knows from outside the
        engine (rows written, units rewritten, table storage)."""
        return {}


class AppendCommits(Workload):
    """Small seeded appends to one table; a full-column read every
    ``read_every`` commits."""

    name = "append_commits"
    min_ops = 200
    max_ops = 400
    read_every = 20
    rows = (500, 1500)

    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        in_dir = self.work / "in" / "append"
        shutil.rmtree(in_dir, ignore_errors=True)
        in_dir.mkdir(parents=True)
        sizes = rng.integers(self.rows[0], self.rows[1] + 1, self.max_ops + 1)
        starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
        table = gen.orders_table(rng, np.arange(int(sizes.sum())))
        self.files = []
        for i, (s, n) in enumerate(zip(starts, sizes)):
            p = in_dir / f"{i:04d}.parquet"
            pq.write_table(table.slice(int(s), int(n)), p)
            self.files.append(str(p))
        self.sizes = [int(n) for n in sizes]
        self.path = self.work / "tables" / "append"
        shutil.rmtree(self.path, ignore_errors=True)
        self.applied = 0

    def _commit(self, i: int) -> float:
        df = self.spark.read.schema(self.schema).parquet(self.files[i])
        s, _ = self.timed("op.commit", self.table.write, df, mode="append")
        self.applied = i + 1
        return s

    def cold(self) -> float:
        self.schema = self.spark.read.parquet(self.files[0]).schema
        self.table = ManagedTable(self.spark, str(self.path))
        return self._commit(0)

    def op(self, i: int) -> tuple[float, list[float]]:
        s = self._commit(i)
        if i % self.read_every:
            return s, []
        r, n = self.timed("op.read", lambda: full_read(self.table.read()))
        expected = sum(self.sizes[: self.applied])
        if n != expected:
            raise AssertionError(f"read after {i} commits: {n} rows, expected {expected}")
        return s, [r]

    def check(self) -> list[str]:
        con = checks.connect(str(self.work / "tmp"))
        files = ", ".join(f"'{f}'" for f in self.files[: self.applied])
        expected = checks.digest(con, f"read_parquet([{files}])", ORDERS_NAMES)
        actual = checks.table_digest(
            con, self.table.read().toArrow(), ORDERS_NAMES
        )
        return checks.compare_digests("append_commits table", expected, actual)

    def report(self, op_s, read_s) -> dict:
        out = {
            "commits": metric(self.applied, "count"),
            "commit_s.p50": metric(median(op_s), "s"),
        }
        t = tail(op_s)
        if t:
            out[f"commit_s.{t[0]}"] = metric(t[1], "s")
        out["read_s.p50"] = metric(median(read_s), "s")
        return {**out, **table_metrics(self.path)}

    def layer_facts(self) -> dict:
        return {"commits": self.applied, **table_report(self.path)}


class UpsertRead(Workload):
    """A CSV-loaded orders target receiving seeded UPSERT batches
    through ``run_job``, each followed by a full-column read."""

    name = "upsert_read"
    # after the load (version 0), 4 + 5 batches: the 9th commits version
    # 9 and writes a checkpoint
    warmup_ops = 4
    min_ops = 5
    max_ops = 8
    reads_per_op = 2
    n_target = 60_000
    target_slices = 4
    batch_slices = 2
    update_frac = 0.10
    insert_frac = 0.02

    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        in_dir = self.work / "in" / "upsert"
        shutil.rmtree(in_dir, ignore_errors=True)
        target = gen.orders_table(rng, np.arange(self.n_target))
        self.target_paths, self.target = gen.write_csv_slices(
            target, str(in_dir / "target"), self.target_slices
        )
        self.batches = []
        next_key = self.n_target
        for b in range(self.warmup_ops + self.max_ops):
            keys = gen.upsert_batch_keys(
                rng, self.n_target, next_key, self.update_frac, self.insert_frac
            )
            next_key += int(self.n_target * self.insert_frac)
            self.batches.append(
                gen.write_csv_slices(
                    gen.orders_table(rng, keys), str(in_dir / f"batch{b:02d}"),
                    self.batch_slices,
                )
            )
        self.cold_path = self.work / "tables" / "ingest"
        self.path = self.work / "tables" / "target"
        for p in (self.cold_path, self.path):
            shutil.rmtree(p, ignore_errors=True)
        self.applied = 0

    def _job(self, paths: list[str], path: Path, mode: LoadMode) -> float:
        from component_delta_lake_writer_spark.runner import TableInput, run_job

        spec = JobSpec(
            destination=Destination(
                table_uri=str(path), load_mode=mode,
                primary_key=[gen.ORDERS_KEY] if mode == LoadMode.UPSERT else [],
            ),
            columns=ORDERS_SPECS,
        )
        table = TableInput(slice_paths=paths, columns=ORDERS_SPECS)
        s, _ = self.timed(f"op.{mode.value}", run_job, self.spark, spec, table=table)
        return s

    def cold(self) -> float:
        self.ingest_cold_s = self._job(
            self.target_paths, self.cold_path, LoadMode.OVERWRITE
        )
        self.ingest_warm_s = self._job(
            self.target_paths, self.path, LoadMode.OVERWRITE
        )
        self.table = ManagedTable(self.spark, str(self.path))
        return self.ingest_cold_s

    def op(self, i: int) -> tuple[float, list[float]]:
        s = self._job(self.batches[i - 1][0], self.path, LoadMode.UPSERT)
        self.applied = i
        expected = self.n_target + i * int(self.n_target * self.insert_frac)
        reads = []
        for _ in range(self.reads_per_op):
            r, n = self.timed("op.read", lambda: full_read(self.table.read()))
            if n != expected:
                raise AssertionError(
                    f"read after batch {i}: {n} rows, expected {expected}"
                )
            reads.append(r)
        return s, reads

    def check(self) -> list[str]:
        con = checks.connect(str(self.work / "tmp"))
        cols = ORDERS_NAMES + ORDER_COLS
        out = checks.compare_digests(
            "ingest table vs CSV source",
            checks.table_digest(con, self.target, cols),
            checks.table_digest(
                con, ManagedTable(self.spark, str(self.cold_path)).read().toArrow(),
                cols,
            ),
        )
        expected = checks.upsert_fold(
            con, self.target, [b for _, b in self.batches[: self.applied]],
            gen.ORDERS_KEY,
        )
        actual = checks.table_digest(con, self.table.read().toArrow(), cols)
        return out + checks.compare_digests("upsert target", expected, actual)

    def report(self, op_s, read_s) -> dict:
        return {
            "ingest_cold_s": metric(self.ingest_cold_s, "s"),
            "ingest_rows_per_s": metric(self.n_target / self.ingest_warm_s, "rows/s"),
            "upsert_s.p50": metric(median(op_s), "s"),
            "read_s.p50": metric(median(read_s), "s"),
            **table_metrics(self.path),
        }

    def layer_facts(self) -> dict:
        """Diffs consecutive commits: version ``v`` applied batch ``v``."""
        head = self.table.latest_commit().version
        rewritten, changed, kept = 0, 0, []
        for v in range(1, head + 1):
            prev, cur = self.table.commit_at(v - 1), self.table.commit_at(v)
            new = [u for u in cur.data_units if u not in prev.data_units]
            rewritten += sum(cur.stats[u]["_rows"] for u in new)
            changed += self.batches[v - 1][1].num_rows
            # units the upsert could not carry over untouched
            kept.append(
                sum(u not in cur.data_units for u in prev.data_units)
                / len(prev.data_units)
            )
        return {
            "commits": head + 1,
            "rows_loaded": 2 * self.n_target,
            "rows_rewritten_per_row_changed": rewritten / changed,
            "units_kept_ratio": median(kept),
            **table_report(self.path),
        }


CORPUS_KEYS = (
    "agg_returnflag",
    "minhash_dedup",
    "pipeline_clean_corpus",
    "text_quality_score",
    "hybrid_rrf_retrieval",
)


class CorpusOps(Workload):
    """One pass runs each corpus registry key once to the ``noop``
    sink, then reads every column of the three input tables twice."""

    name = "corpus_ops"
    # two passes: a run's cold pass and JVM launch already take most
    # of the per-run time budget of a regression check on a contended host
    min_ops = 2
    max_ops = 6
    reads_per_op = 2
    sizes = {"n_lineitem": 150_000, "n_docs": 1_000, "n_vectors": 2_000}

    def setup(self) -> None:
        from component_delta_lake_writer_spark.plans import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.data = self.work / "in" / "corpus"
        shutil.rmtree(self.data, ignore_errors=True)
        self.rows = gen.write_corpus_tables(
            np.random.default_rng(self.seed), str(self.data), **self.sizes
        )

    def cold(self) -> float:
        """The first pass collects every key's rows for the check."""
        self.collected, self.key_s = {}, {}
        total = 0.0
        for k in CORPUS_KEYS:
            s, df = self.timed(
                f"cold.plans.{k}.build", self.queries[k], self.spark, str(self.data)
            )
            c, rows = self.timed(f"cold.plans.{k}.collect", df.collect)
            self.collected[k] = (df.columns, rows)
            total += s + c
        return total

    def op(self, i: int) -> tuple[float, list[float]]:
        from component_delta_lake_writer_spark.tables import load_table

        total = 0.0
        for k in CORPUS_KEYS:
            s, df = self.timed(
                f"plans.{k}.build", self.queries[k], self.spark, str(self.data)
            )
            e, _ = self.timed(
                f"plans.{k}.exec",
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
            self.key_s.setdefault(k, []).append(s + e)
            total += s + e

        def read_inputs():
            for name, n in self.rows.items():
                got = full_read(load_table(self.spark, str(self.data), name))
                if got != n:
                    raise AssertionError(f"{name}: read {got} rows, expected {n}")

        reads = [
            self.timed("op.read_inputs", read_inputs)[0]
            for _ in range(self.reads_per_op)
        ]
        return total, reads

    def check(self) -> list[str]:
        con = checks.connect(str(self.work / "tmp"))
        for name in self.rows:
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.data / name}.parquet')"
            )
        out = []
        self.near_ties = {}
        for k in CORPUS_KEYS:
            rel = con.sql(self.oracles[k])
            bad, self.near_ties[k] = checks.compare_rows(
                k, *self.collected[k], rel.columns, rel.fetchall()
            )
            out += bad
        return out

    def report(self, op_s, read_s) -> dict:
        return {
            "corpus_pass_s.p50": metric(median(op_s), "s"),
            "read_s.p50": metric(median(read_s), "s"),
            **{f"{k}.s.p50": metric(median(v), "s") for k, v in self.key_s.items()},
            # doubles that matched the oracle only within the rounding
            # tolerance of checks.compare_rows
            "oracle_rounding_diffs": self.near_ties,
        }


WORKLOADS = {w.name: w for w in (AppendCommits, UpsertRead, CorpusOps)}
