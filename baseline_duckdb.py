"""Measured DuckDB envelope — the reference-default comparison profile.

The reference executes locally through DuckDB (threads=1,
max_memory=256MB, preserve_insertion_order=true by default —
src/configuration.py:53-54,51, applied at src/component.py:371-382)
and writes Delta via delta-rs with 25k-row batches and uncompressed
parquet (src/component.py:82-111, configuration defaults). The
deltalake package is not installed in this environment, so the write
workloads measure DuckDB's COPY TO parquet with ROW_GROUP_SIZE 25000 —
the data-plane cost of the delta-rs write minus its (small, per-commit)
JSON log append; noted in BASELINE.md.

Workloads (BASELINE.md §2):
- csv_load_typed: the reference's external-table read path —
  read_csv with explicit column_names+dtypes (component.py:75-78)
  over header-less slices, materialized to parquet.
- append_write: sf lineitem parquet → uncompressed parquet,
  25k row groups (S2→W2 path).
- merge_upsert: orders as target, 10% updated + 2% new source,
  copy-on-write merge (source ∪ target-anti-source), the delta-rs
  merge equivalent (component.py:238-260 semantics), re-materialized.

``measure()`` is importable — bench.py re-measures this twin IN THE
SAME RUN as the Spark envelope so the bench_vs_baseline ratio compares
like-for-like under whatever page-cache state the round runs in
(BASELINE.md documents the fixed-recording ratio swinging ~1.8→2.3
between warm and cold cache). The CLI entry point records the fixed
profiles in BASELINE_DUCKDB.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import duckdb

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def measure(
    threads: int = 1,
    max_memory_mb: int = 256,
    scale: int = 1,
    sf_dir: str | None = None,
    verbose: bool = True,
) -> dict[str, float]:
    """Run the three envelope workloads once; returns {workload: sec}."""
    sf_dir = sf_dir or SF_DIR
    work = tempfile.mkdtemp(prefix="duckdb_envelope_")
    con = duckdb.connect(os.path.join(work, "env.duckdb"))
    con.execute(f"SET threads={threads}")
    con.execute(f"SET max_memory='{max_memory_mb}MB'")
    con.execute("SET preserve_insertion_order=true")

    timings: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        if verbose:
            print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    def replicated(table: str, key: str) -> str:
        """N-way key-offset union of one parquet input (--scale)."""
        parts = [
            f"SELECT * REPLACE ({key} + {i * 10**10} AS {key}) "
            f"FROM read_parquet('{sf_dir}/{table}.parquet')"
            for i in range(scale)
        ]
        return "(" + " UNION ALL ".join(parts) + ")"

    # -- csv_load_typed: export header-less slices once (not timed),
    #    then the reference's typed read_csv → materialize
    csv_path = os.path.join(work, "orders_slice.csv")
    con.execute(
        f"""
        COPY (SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(o_totalprice AS DECIMAL(14,2)) AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM {replicated('orders', 'o_orderkey')})
        TO '{csv_path}' (FORMAT CSV, HEADER false)
        """
    )

    def csv_load() -> None:
        con.execute(
            f"""
            COPY (
              SELECT * FROM read_csv('{csv_path}',
                column_names=['o_orderkey','o_custkey','o_orderstatus',
                              'o_totalprice','o_orderdate','o_orderpriority'],
                dtypes={{'o_orderkey':'BIGINT','o_custkey':'BIGINT',
                        'o_orderstatus':'VARCHAR',
                        'o_totalprice':'DECIMAL(14,2)',
                        'o_orderdate':'TIMESTAMP',
                        'o_orderpriority':'VARCHAR'}},
                header=false)
            ) TO '{work}/csv_load.parquet'
            (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
            """
        )

    timed("csv_load_typed", csv_load)

    # -- append_write: S2→W2, lineitem
    def append_write() -> None:
        con.execute(
            f"""
            COPY (SELECT * FROM {replicated('lineitem', 'l_orderkey')})
            TO '{work}/lineitem_out.parquet'
            (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
            """
        )

    timed("append_write", append_write)

    # -- merge_upsert: copy-on-write MERGE equivalent. The target is
    #    read from parquet (not a pre-warmed native table): the
    #    reference's merge target IS a parquet-backed Delta table on
    #    disk (component.py:238-260), and the Spark twin reads its
    #    ManagedTable units the same way. The source is in-memory on
    #    both sides (delta-rs merges from an in-memory Arrow source;
    #    bench.py persists the source DataFrame before timing).
    con.execute(
        f"""
        COPY (SELECT * FROM {replicated('orders', 'o_orderkey')})
        TO '{work}/target.parquet'
        (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
        """
    )
    con.execute(
        f"CREATE VIEW target AS SELECT * FROM read_parquet('{work}/target.parquet')"
    )
    con.execute(
        """
        CREATE TABLE source AS
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice, o_orderdate,
               o_orderpriority
        FROM target WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM target WHERE o_orderkey % 50 = 0
        """
    )

    def merge_upsert() -> None:
        con.execute(
            f"""
            COPY (
              SELECT * FROM source
              UNION ALL
              SELECT t.* FROM target t ANTI JOIN source s USING (o_orderkey)
            ) TO '{work}/merged.parquet'
            (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
            """
        )

    timed("merge_upsert", merge_upsert)

    con.close()
    shutil.rmtree(work, ignore_errors=True)
    return timings


class MergeScaledTwin:
    """The DuckDB merge-curve twin split into BUILD (untimed, once)
    and TRIAL (timed, repeatable) so bench.py can INTERLEAVE its
    trials with Spark's (VERDICT r10 task 6: sequential trial blocks
    let a host-state window land entirely on one engine — the same
    failure mode the r9 envelope interleave fixed for append)."""

    def __init__(
        self,
        threads: int = 32,
        max_memory_mb: int = 8192,
        scale: int = 100,
        source_mod: int = 100,
        sf_dir: str | None = None,
    ) -> None:
        sf_dir = sf_dir or SF_DIR
        self.work = tempfile.mkdtemp(prefix="duckdb_merge_curve_")
        con = duckdb.connect(os.path.join(self.work, "env.duckdb"))
        con.execute(f"SET threads={threads}")
        con.execute(f"SET max_memory='{max_memory_mb}MB'")
        con.execute("SET preserve_insertion_order=true")
        parts = [
            f"SELECT * REPLACE (o_orderkey + {i * 10**10} AS o_orderkey) "
            f"FROM read_parquet('{sf_dir}/orders.parquet')"
            for i in range(scale)
        ]
        rep = "(" + " UNION ALL ".join(parts) + ")"
        con.execute(
            f"""
            COPY (SELECT * FROM {rep}) TO '{self.work}/target.parquet'
            (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
            """
        )
        con.execute(
            f"CREATE VIEW target AS "
            f"SELECT * FROM read_parquet('{self.work}/target.parquet')"
        )
        con.execute(
            f"""
            CREATE TABLE source AS
            SELECT * REPLACE (o_totalprice * 1.1 AS o_totalprice)
            FROM target WHERE o_orderkey % {source_mod} = 0
            """
        )
        self.con = con

    def trial(self) -> float:
        try:
            os.remove(os.path.join(self.work, "merged.parquet"))
        except OSError:
            pass
        t0 = time.perf_counter()
        self.con.execute(
            f"""
            COPY (
              SELECT * FROM source
              UNION ALL
              SELECT t.* FROM target t ANTI JOIN source s USING (o_orderkey)
            ) TO '{self.work}/merged.parquet'
            (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
            """
        )
        return round(time.perf_counter() - t0, 3)

    def close(self) -> None:
        self.con.close()
        shutil.rmtree(self.work, ignore_errors=True)


def measure_merge_scaled(
    threads: int = 32,
    max_memory_mb: int = 8192,
    scale: int = 100,
    source_mod: int = 100,
    sf_dir: str | None = None,
    verbose: bool = True,
    repeats: int = 1,
) -> float | tuple[float, float]:
    """The LARGE-TARGET / SMALL-SOURCE merge shape: orders replicated
    ``scale``×, source = the 1-in-``source_mod`` keys price-updated
    (no inserts). DuckDB's merge is necessarily copy-on-write — the
    full target re-materializes — so its cost is O(target); the
    engine's merge-on-read answer rewrites nothing: it appends the
    source and marks the matched target rows in deletion vectors,
    reading only the PK columns of the units the source's key range
    overlaps. This measured point is
    the merge-ratio CURVE the 100 TB argument rests on. Returns the
    timed merge seconds (target build untimed, same as measure()).
    With ``repeats`` > 1 the target is built ONCE and the timed COPY
    re-runs that many times; returns (median_sec, spread_sec) — the
    VERDICT r7 variance fix (single-shot recordings on a contended
    driver host swung 0.76→1.87 across rounds of identical code).
    bench.py now interleaves trials via ``MergeScaledTwin`` directly;
    this wrapper remains for ad-hoc measurement."""
    twin = MergeScaledTwin(
        threads=threads, max_memory_mb=max_memory_mb, scale=scale,
        source_mod=source_mod, sf_dir=sf_dir,
    )
    con, work = twin.con, twin.work
    times: list[float] = []
    for _ in range(max(repeats, 1)):
        times.append(twin.trial())
    times.sort()
    dt = times[len(times) // 2]
    if verbose:
        print(f"# merge_scaled x{scale} src 1/{source_mod}: {dt:.3f}s "
              f"(median of {len(times)}, spread {times[-1] - times[0]:.3f})",
              file=sys.stderr)
    con.close()
    shutil.rmtree(work, ignore_errors=True)
    if repeats > 1:
        return dt, round(times[-1] - times[0], 3)
    return dt


def measure_csv_scaled(
    threads: int = 32,
    max_memory_mb: int = 8192,
    scale: int = 10,
    sf_dir: str | None = None,
    csv_glob: str | None = None,
    verbose: bool = True,
    repeats: int = 3,
) -> tuple[float, float]:
    """The csv_load_typed envelope workload as a SCALE-CURVE twin
    (VERDICT r8 task 1): typed read_csv over header-less slices →
    uncompressed 25k-row-group parquet, orders replicated ``scale``×.

    ``csv_glob`` lets bench.py hand in the exact files its Spark
    measurement reads, so both engines parse IDENTICAL bytes; without
    it the slices are exported here (untimed) the same way measure()
    does.  Returns (median_sec, spread_sec) over ``repeats`` timed
    runs — same methodology as measure_merge_scaled.
    """
    sf_dir = sf_dir or SF_DIR
    work = tempfile.mkdtemp(prefix="duckdb_csv_curve_")
    con = duckdb.connect(os.path.join(work, "env.duckdb"))
    con.execute(f"SET threads={threads}")
    con.execute(f"SET max_memory='{max_memory_mb}MB'")
    con.execute("SET preserve_insertion_order=true")
    if csv_glob is None:
        parts = [
            f"SELECT * REPLACE (o_orderkey + {i * 10**10} AS o_orderkey) "
            f"FROM read_parquet('{sf_dir}/orders.parquet')"
            for i in range(scale)
        ]
        csv_glob = os.path.join(work, "orders_slice.csv")
        con.execute(
            f"""
            COPY (SELECT o_orderkey, o_custkey, o_orderstatus,
                         CAST(o_totalprice AS DECIMAL(14,2)) AS o_totalprice,
                         o_orderdate, o_orderpriority
                  FROM ({" UNION ALL ".join(parts)}))
            TO '{csv_glob}' (FORMAT CSV, HEADER false)
            """
        )
    times: list[float] = []
    for i in range(max(repeats, 1)):
        dest = os.path.join(work, f"csv_load_{i}.parquet")
        t0 = time.perf_counter()
        con.execute(
            f"""
            COPY (
              SELECT * FROM read_csv('{csv_glob}',
                column_names=['o_orderkey','o_custkey','o_orderstatus',
                              'o_totalprice','o_orderdate','o_orderpriority'],
                dtypes={{'o_orderkey':'BIGINT','o_custkey':'BIGINT',
                        'o_orderstatus':'VARCHAR',
                        'o_totalprice':'DECIMAL(14,2)',
                        'o_orderdate':'TIMESTAMP',
                        'o_orderpriority':'VARCHAR'}},
                header=false)
            ) TO '{dest}'
            (FORMAT PARQUET, COMPRESSION UNCOMPRESSED, ROW_GROUP_SIZE 25000)
            """
        )
        times.append(round(time.perf_counter() - t0, 3))
        try:
            os.remove(dest)
        except OSError:
            pass
    times.sort()
    dt = times[len(times) // 2]
    spread = round(times[-1] - times[0], 3)
    if verbose:
        print(f"# csv_scaled x{scale}: {dt:.3f}s (median of "
              f"{len(times)}, spread {spread:.3f})", file=sys.stderr)
    con.close()
    shutil.rmtree(work, ignore_errors=True)
    return dt, spread


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threads", type=int, default=1)
    ap.add_argument("--max-memory-mb", type=int, default=256)
    ap.add_argument(
        "--scale", type=int, default=1,
        help="replicate inputs N× (key-offset union) — the compute-"
        "bound regime where engine throughput, not per-job overhead, "
        "is measured",
    )
    args = ap.parse_args()

    timings = measure(args.threads, args.max_memory_mb, args.scale)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    print(
        json.dumps(
            {
                "metric": "duckdb_envelope_seconds",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "profile": {
                    "scale": args.scale,
                    "threads": args.threads,
                    "max_memory_mb": args.max_memory_mb,
                    "preserve_insertion_order": True,
                    "compression": "UNCOMPRESSED",
                    "row_group_size": 25000,
                },
                "workloads": timings,
                "sf": float(sf) if sf else None,
            }
        )
    )


if __name__ == "__main__":
    main()


class LmScaledTwin:
    """The DuckDB bigram-LM twin split into BUILD (untimed, once) and
    TRIAL (timed, repeatable) so bench.py can INTERLEAVE its lm_curve
    trials with Spark's — the MergeScaledTwin treatment (VERDICT r11
    task: the ×80 point's spread was ~2× its median as a cold
    single-shot; interleaved trials let a host-state window hit both
    engines' samples instead of one)."""

    def __init__(
        self,
        threads: int = 32,
        max_memory_mb: int = 8192,
        scale: int = 10,
        sf_dir: str | None = None,
    ) -> None:
        sf_dir = sf_dir or SF_DIR
        con = duckdb.connect()
        con.execute(f"SET threads={threads}")
        con.execute(f"SET max_memory='{max_memory_mb}MB'")
        parts = [
            f"SELECT doc_id + {i * 10**7} AS doc_id, "
            f"'rep{i} ' || text AS text "
            f"FROM read_parquet('{sf_dir}/documents.parquet')"
            for i in range(scale)
        ]
        con.execute(
            "CREATE VIEW documents AS " + " UNION ALL ".join(parts)
        )
        self.con = con

    def trial(self) -> float:
        t0 = time.perf_counter()
        self.con.execute(_LM_QUERY).fetchall()
        return round(time.perf_counter() - t0, 3)

    def close(self) -> None:
        self.con.close()


_LM_QUERY = r"""
    WITH tr AS (
      SELECT string_split_regex(trim(regexp_replace(lower(text),
        '\s+', ' ', 'g')), ' ') AS toks
      FROM documents WHERE doc_id % 5 <> 0
    ),
    bg AS (
      SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        list_transform(generate_series(1, len(toks)-1),
                       i -> toks[i] || ' ' || toks[i+1])
        ELSE []::VARCHAR[] END) AS big
      FROM tr
    ),
    m AS (SELECT big, COUNT(*) AS c12 FROM bg GROUP BY 1),
    cx AS (
      SELECT split_part(big, ' ', 1) AS w1, SUM(c12) AS c1
      FROM m GROUP BY 1
    ),
    v AS (
      SELECT COUNT(DISTINCT t) AS vv FROM (
        SELECT split_part(big, ' ', 1) AS t FROM m
        UNION SELECT split_part(big, ' ', -1) FROM m
      )
    ),
    sc AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 2 THEN
        list_transform(generate_series(1, len(toks)-1),
                       i -> toks[i] || ' ' || toks[i+1])
        ELSE []::VARCHAR[] END) AS big
      FROM (
        SELECT doc_id,
          string_split_regex(trim(regexp_replace(lower(text),
            '\s+', ' ', 'g')), ' ') AS toks
        FROM documents WHERE doc_id % 5 = 0
      )
    ),
    t AS (
      SELECT sc.doc_id,
        CAST(ROUND(-LN(
          (COALESCE(m.c12, 0) + 0.1)
          / (COALESCE(cx.c1, 0) + 0.1 * v.vv)
        ), 4) AS DECIMAL(24,4)) AS nlp
      FROM sc
      LEFT JOIN m USING (big)
      LEFT JOIN cx ON cx.w1 = split_part(sc.big, ' ', 1), v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
      ROUND(CAST(SUM(nlp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logp
    FROM t GROUP BY 1
    """


def measure_lm_scaled(
    threads: int = 32,
    max_memory_mb: int = 8192,
    scale: int = 10,
    sf_dir: str | None = None,
    verbose: bool = True,
    repeats: int = 3,
) -> tuple[float, float]:
    """DuckDB twin of the bigram-LM perplexity pipeline at corpus
    scale ``scale``× (documents replicated with offset ids and a
    per-replica prefix token, exactly as the Spark side replicates):
    train an add-0.1 bigram model on the 80% slice, score the 20%
    holdout — the same shape as the ngram_lm_perplexity_docs oracle.
    Returns (median_sec, spread_sec) over ``repeats`` runs.
    bench.py now interleaves trials via ``LmScaledTwin`` directly;
    this wrapper remains for ad-hoc measurement."""
    twin = LmScaledTwin(
        threads=threads, max_memory_mb=max_memory_mb, scale=scale,
        sf_dir=sf_dir,
    )
    times: list[float] = []
    for _ in range(max(repeats, 1)):
        times.append(twin.trial())
    twin.close()
    times.sort()
    dt = times[len(times) // 2]
    if verbose:
        print(f"# lm_scaled x{scale}: {dt:.3f}s", file=sys.stderr)
    return dt, round(times[-1] - times[0], 3)
