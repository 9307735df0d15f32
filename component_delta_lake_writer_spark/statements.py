"""SQL statement executor over managed tables — the reference's X1
statement surface, executed locally.

The reference never touches a DataFrame API: it BUILDS SQL strings and
ships them to a Databricks warehouse (src/component.py:135-260 —
CREATE OR REPLACE TABLE stage, COPY INTO stage, CREATE [OR REPLACE |
IF NOT EXISTS] TABLE target USING DELTA, INSERT INTO … SELECT CAST,
MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT, DROP
TABLE IF EXISTS). This module accepts those exact statement shapes —
plus the engine's own DML/maintenance verbs — parses them
conservatively (regex, documented per shape; anything else raises
``UserException`` rather than mis-executing), and dispatches to
:class:`ManagedTable` / ``spark.sql``.

A user of the reference can hand this executor the statements their
job already generates and get the same table state, which is the
literal "switch your warehouse over" story.

Scale posture: parsing is driver-side string work on statements of
bounded size; every data-plane effect routes through the same
ManagedTable operations the rest of the engine uses (stats-pruned
rewrites, broadcast-hinted merges, metadata-only DDL).

Identifiers: Unity-style multi-part names (``cat.schema.table``) map
to ``<warehouse_dir>/cat/schema/table``; backticks are stripped.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from component_delta_lake_writer_spark.errors import UserException
from component_delta_lake_writer_spark.session import local_relation
from component_delta_lake_writer_spark.sinks import ManagedTable

_IDENT = r"[A-Za-z_][\w.$`-]*"


def _strip(sql: str) -> str:
    return sql.strip().rstrip(";").strip()


def _code_only(sql: str) -> str:
    """The statement with string literals, backtick-quoted identifiers
    and ``--`` comments blanked: single- AND double-quoted (Spark's
    default treats both as string literals), honoring backslash
    escapes and doubled-quote escapes — a split-on-quote approximation
    mis-parses ``'don\\'t'`` and scans literal text as code. Backtick
    identifiers blank too (doubled-backtick escape honored): a column
    literally NAMED ``update`` is an identifier, not a DML verb, and
    the guard below must not refuse it (ADVICE r4)."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "`":
            i += 1
            while i < n:
                if sql[i] == "`":
                    if i + 1 < n and sql[i + 1] == "`":
                        i += 2  # doubled-backtick escape stays inside
                        continue
                    i += 1
                    break
                i += 1
            out.append(" ")
            continue
        if c in ("'", '"'):
            q = c
            i += 1
            while i < n:
                if sql[i] == "\\":
                    i += 2
                    continue
                if sql[i] == q:
                    if i + 1 < n and sql[i + 1] == q:
                        i += 2  # doubled-quote escape stays inside
                        continue
                    i += 1
                    break
                i += 1
            out.append(" ")
            continue
        if c == "-" and i + 1 < n and sql[i + 1] == "-":
            while i < n and sql[i] != "\n":
                i += 1
            continue
        if c == "/" and i + 1 < n and sql[i + 1] == "*":
            end = sql.find("*/", i + 2)
            i = n if end < 0 else end + 2
            out.append(" ")
            continue
        out.append(c)
        i += 1
    return "".join(out)


class StatementExecutor:
    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.root = warehouse_dir.rstrip("/")

    # ---------- identifier → table ----------

    def table(self, name: str) -> ManagedTable:
        clean = name.replace("`", "")
        parts = [p for p in clean.split(".") if p]
        if not parts or any(
            p in ("", ".", "..") or "/" in p or "\\" in p for p in parts
        ):
            raise UserException(f"Bad table identifier {name!r}")
        return ManagedTable(self.spark, os.path.join(self.root, *parts))

    # ---------- entry point ----------

    def execute(self, sql: str) -> DataFrame | None:
        """Execute one statement; returns a DataFrame for statements
        that produce rows (SELECT / DESCRIBE / SHOW), else None."""
        s = _strip(sql)
        if not s:
            return None
        head = s.split(None, 1)[0].upper()
        dispatch = {
            "CREATE": self._create,
            "COPY": self._copy_into,
            "INSERT": self._insert,
            "MERGE": self._merge,
            "DROP": self._drop,
            "DELETE": self._delete,
            "UPDATE": self._update,
            "VACUUM": self._vacuum,
            "OPTIMIZE": self._optimize,
            "REORG": self._reorg,
            "RESTORE": self._restore,
            "ALTER": self._alter,
            "TRUNCATE": self._truncate,
            "DESCRIBE": self._describe,
            "SHOW": self._show,
            "SELECT": self._select,
            "WITH": self._select,
            "EXPLAIN": self._explain,
            "GENERATE": self._generate,
            "CONVERT": self._convert,
            "ANALYZE": self._analyze,
        }
        fn = dispatch.get(head)
        if fn is None:
            raise UserException(f"Unsupported statement: {head} …")
        return fn(s)

    def execute_script(self, sql: str) -> list:
        """Reference jobs emit several statements per run; split on
        ';' outside quotes and execute in order."""
        out = []
        buf, in_q = [], False
        for ch in sql:
            if ch == "'":
                in_q = not in_q
            if ch == ";" and not in_q:
                stmt = "".join(buf)
                if stmt.strip():
                    out.append(self.execute(stmt))
                buf = []
            else:
                buf.append(ch)
        if "".join(buf).strip():
            out.append(self.execute("".join(buf)))
        return out

    # ---------- CREATE TABLE (component.py:143,218,223) ----------

    _CREATE = re.compile(
        r"CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
        rf"({_IDENT})\s*\((?P<cols>.*?)\)\s*"
        r"(?:USING\s+DELTA\s*)?"
        r"(?:PARTITIONED\s+BY\s*\((?P<part>[^)]*)\)\s*)?$",
        flags=re.IGNORECASE | re.DOTALL,
    )

    _VIEW = re.compile(
        r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+"
        rf"({_IDENT})\s+AS\s+(?P<q>SELECT\s+.*|WITH\s+.*)$",
        flags=re.IGNORECASE | re.DOTALL,
    )

    def _view_path(self, name: str) -> str:
        clean = name.replace("`", "").replace(".", "__")
        if "/" in clean or clean in ("", ".", ".."):
            raise UserException(f"Bad view identifier {name!r}")
        return os.path.join(self.root, "_views", clean + ".sql")

    _CTAS = re.compile(
        r"CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+"
        r"(?:(IF\s+NOT\s+EXISTS)\s+)?"
        rf"({_IDENT})\s+(?:USING\s+DELTA\s+)?AS\s+(?P<q>SELECT\s+.*|WITH\s+.*)$",
        flags=re.IGNORECASE | re.DOTALL,
    )

    _CLONE = re.compile(
        r"CREATE\s+(?:(OR\s+REPLACE)\s+)?TABLE\s+"
        r"(?:(IF\s+NOT\s+EXISTS)\s+)?"
        rf"({_IDENT})\s+(?P<depth>SHALLOW|DEEP)\s+CLONE\s+"
        rf"({_IDENT})\s*$",
        flags=re.IGNORECASE,
    )

    def _create(self, s: str):
        km = self._CLONE.match(s)
        if km:
            # Databricks/Delta CLONE: SHALLOW = zero-data-copy
            # (hardlinked parquet), DEEP = full copy; both carry the
            # source's history and are independent afterwards
            src = self.table(km.group(5))
            dst = self.table(km.group(3))
            if dst.exists():
                if km.group(2):  # IF NOT EXISTS
                    return None
                if km.group(1):  # OR REPLACE
                    dst.drop()
                else:
                    from component_delta_lake_writer_spark.errors import (
                        TableExistsError,
                    )

                    raise TableExistsError(
                        f"Table {km.group(3)} already exists."
                    )
            src.clone_to(
                dst.path,
                shallow=km.group("depth").upper() == "SHALLOW",
            )
            return None
        vm = self._VIEW.match(s)
        if vm:
            # persisted logical view: the TEXT is stored and expanded
            # at query time against the then-current snapshots (the
            # standard view contract — always fresh, never a copy)
            path = self._view_path(vm.group(1))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = path + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(vm.group("q"))
            os.replace(tmp, path)
            return None
        cm = self._CTAS.match(s)
        if cm:
            # CREATE TABLE … AS SELECT (CTAS): the reference's
            # warehouse supports it; result snapshot = the query
            t = self.table(cm.group(3))
            if t.exists():
                if cm.group(2):  # IF NOT EXISTS
                    return None
                if not cm.group(1):  # no OR REPLACE
                    from component_delta_lake_writer_spark.errors import (
                        TableExistsError,
                    )

                    raise TableExistsError(
                        f"Table {cm.group(3)} already exists."
                    )
            t.write(self._select(cm.group("q")), mode="overwrite")
            return None
        m = self._CREATE.match(s)
        if not m:
            raise UserException(f"Unsupported CREATE TABLE shape: {s[:120]}")
        or_replace, if_not_exists, name = m.group(1), m.group(2), m.group(3)
        cols_src = m.group("cols").strip()
        pk: list[str] = []
        pk_m = re.search(
            r",?\s*PRIMARY\s+KEY\s*\(([^)]*)\)\s*$", cols_src,
            flags=re.IGNORECASE,
        )
        if pk_m:
            pk = [c.strip().replace("`", "") for c in pk_m.group(1).split(",")]
            cols_src = cols_src[: pk_m.start()]
        t = self.table(name)
        if t.exists():
            if if_not_exists:
                return None
            if not or_replace:
                from component_delta_lake_writer_spark.errors import (
                    TableExistsError,
                )

                raise TableExistsError(f"Table {name} already exists.")
        from pyspark.sql import types as T

        schema = T.StructType.fromDDL(cols_src)
        part = [
            c.strip().replace("`", "")
            for c in (m.group("part") or "").split(",")
            if c.strip()
        ]
        empty = local_relation(self.spark, schema)
        t.write(
            empty, mode="overwrite", partition_by=part or None,
            primary_key=pk or None,
            properties={"constraints.primary_key": ",".join(pk)} if pk else None,
        )
        return None

    # ---------- CONVERT TO DELTA / ANALYZE TABLE ----------

    _CONVERT = re.compile(
        r"CONVERT\s+TO\s+DELTA\s+parquet\s*\.\s*`(?P<dir>[^`]+)`"
        r"(?P<nostats>\s+NO\s+STATISTICS)?"
        r"(?:\s+PARTITIONED\s+BY\s*\((?P<part>[^)]*)\))?"
        rf"(?:\s+AS\s+(?P<name>{_IDENT}))?\s*$",
        flags=re.IGNORECASE,
    )

    def _convert(self, s: str):
        """``CONVERT TO DELTA parquet.`/dir/` [NO STATISTICS]
        [PARTITIONED BY (col type, …)] [AS ident]`` — the Databricks
        statement, with one honest deviation: the managed layout needs
        a table location inside the warehouse, so the parquet files
        are adopted by hardlink into ``AS ident`` (default: the source
        directory's basename) instead of converted strictly in place.
        Zero data is rewritten either way."""
        m = self._CONVERT.match(s)
        if not m:
            raise UserException(f"Unsupported CONVERT shape: {s[:120]}")
        src = m.group("dir")
        name = m.group("name") or os.path.basename(src.rstrip("/"))
        part = [
            c.strip().split()[0].replace("`", "")
            for c in (m.group("part") or "").split(",")
            if c.strip()
        ]
        self.table(name).convert_from_parquet(
            src,
            partition_by=part or None,
            collect_stats=not m.group("nostats"),
        )
        return None

    _ANALYZE = re.compile(
        rf"ANALYZE\s+TABLE\s+({_IDENT})\s+COMPUTE\s+STATISTICS"
        r"(?:\s+FOR\s+ALL\s+COLUMNS)?\s*$",
        flags=re.IGNORECASE,
    )

    def _analyze(self, s: str):
        """``ANALYZE TABLE t COMPUTE STATISTICS [FOR ALL COLUMNS]`` —
        refreshes the commit log's per-unit/per-file footer stats in a
        metadata-only commit (the path that re-arms data skipping
        after a NO STATISTICS convert)."""
        m = self._ANALYZE.match(s)
        if not m:
            raise UserException(f"Unsupported ANALYZE shape: {s[:120]}")
        self.table(m.group(1)).recompute_stats()
        return None

    # ---------- COPY INTO (component.py:158-171) ----------

    _COPY = re.compile(
        rf"COPY\s+INTO\s+({_IDENT})\s+FROM\s+'(?P<dir>[^']+)'"
        r"(?:\s+WITH\s*\((?P<cred>.*?)\)\s*)?"
        r"\s*FILEFORMAT\s*=\s*(?P<fmt>\w+)"
        r"(?:\s+FILES\s*=\s*\((?P<files>[^)]*)\))?"
        r"(?:\s+FORMAT_OPTIONS\s*\((?P<opts>.*?)\))?\s*$",
        flags=re.IGNORECASE | re.DOTALL,
    )

    def _copy_into(self, s: str):
        m = self._COPY.match(s)
        if not m:
            raise UserException(f"Unsupported COPY INTO shape: {s[:120]}")
        t = self.table(m.group(1))
        src_dir = m.group("dir")
        fmt = m.group("fmt").lower()
        files = [
            f.strip().strip("'")
            for f in (m.group("files") or "").split(",")
            if f.strip()
        ]
        opts: dict[str, str] = {}
        for om in re.finditer(
            r"'([^']+)'\s*=\s*'([^']*)'", m.group("opts") or ""
        ):
            opts[om.group(1)] = om.group(2)
        opts.pop("inferSchema", None)  # schema comes from the table
        opts.pop("mergeSchema", None)
        # CREDENTIAL block (parsed so the statement round-trips; local
        # filesystem needs none — cloud scoping lives in credentials.py)
        paths = (
            [os.path.join(src_dir, f) for f in files]
            if files
            else [os.path.join(src_dir, "*")]
        )
        prev = t.latest_commit()
        if prev is None:
            raise UserException(
                "COPY INTO target must be created first (the reference "
                "creates the stage table before loading)."
            )
        import json as _json

        from pyspark.sql import types as T

        schema = T.StructType.fromJson(_json.loads(prev.schema_json))
        t.copy_into(paths, file_format=fmt, schema=schema, options=opts)
        return None

    # ---------- INSERT INTO … SELECT (component.py:230,235) ----------

    _INSERT = re.compile(
        rf"INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?({_IDENT})\s+"
        r"(?P<q>SELECT\s+.*)$",
        flags=re.IGNORECASE | re.DOTALL,
    )

    def _insert(self, s: str):
        m = self._INSERT.match(s)
        if not m:
            raise UserException(f"Unsupported INSERT shape: {s[:120]}")
        t = self.table(m.group(2))
        df = self._select(m.group("q"))
        if m.group(1).upper() == "OVERWRITE":
            prev = t.latest_commit()
            t.write(
                df, mode="overwrite",
                partition_by=list(prev.partition_by or []) if prev else None,
                primary_key=list(prev.primary_key or []) if prev else None,
            )
        else:
            t.write(df, mode="append")
        return None

    # ---------- MERGE INTO (component.py:250-260) ----------

    _MERGE = re.compile(
        rf"MERGE\s+INTO\s+({_IDENT})\s+(?:AS\s+)?(\w+)\s+"
        rf"USING\s+({_IDENT})\s+(?:AS\s+)?(\w+)\s+"
        r"ON\s+(?P<on>.*?)\s+"
        r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(?P<set>.*?)\s+"
        r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s*"
        r"\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*?)\)\s*"
        r"(?:WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+"
        r"(?:AND\s+(?P<scope>.*?)\s+)?THEN\s+DELETE\s*)?$",
        flags=re.IGNORECASE | re.DOTALL,
    )

    def _merge(self, s: str):
        m = self._MERGE.match(s)
        if not m:
            raise UserException(f"Unsupported MERGE shape: {s[:120]}")
        tgt_name, tgt_alias = m.group(1), m.group(2)
        src_name, src_alias = m.group(3), m.group(4)
        tgt = self.table(tgt_name)
        prev = tgt.latest_commit()
        if prev is None:
            raise UserException(f"MERGE target {tgt_name} does not exist.")
        cols = [c.strip().replace("`", "") for c in m.group("cols").split(",")]
        # split VALUES exprs on top-level commas
        vals = self._split_exprs(m.group("vals"))
        if len(cols) != len(vals):
            raise UserException("MERGE INSERT column/value count mismatch.")
        # The engine executes this MERGE as a FULL-ROW upsert of the
        # INSERT expressions, which is only faithful when the UPDATE
        # SET clause assigns every inserted column the SAME expression
        # (the reference's generated shape, component.py:254-260). A
        # partial or divergent SET must refuse, never silently
        # overwrite extra columns.
        def _norm(e: str) -> str:
            # strip BOTH alias qualifiers: in this restricted shape the
            # UPDATE/INSERT expressions reference only source columns
            # and the SET targets only target columns, so a bare name
            # and its qualified form denote the same thing
            e = re.sub(rf"\b{re.escape(tgt_alias)}\.", "", e.strip())
            e = re.sub(rf"\b{re.escape(src_alias)}\.", "", e)
            return re.sub(r"\s+", "", e).lower()

        set_map: dict[str, str] = {}
        for a in self._split_exprs(m.group("set")):
            k, _, vexpr = a.partition("=")
            set_map[_norm(k).replace("`", "")] = _norm(vexpr)
        want = {c.lower(): _norm(v) for c, v in zip(cols, vals)}
        if set_map != want:
            raise UserException(
                "Unsupported MERGE shape: UPDATE SET must assign every "
                "INSERT column the same expression (full-row update, "
                "the reference's generated form); got SET for "
                f"{sorted(set_map)} vs INSERT {sorted(want)}."
            )
        # the reference's merge updates every column to the same cast
        # expressions it inserts, so the statement is equivalent to the
        # engine upsert of the PROJECTED source (O2-deduped by PK) —
        # but ONLY if each ON conjunct's source side IS the insert
        # expression for that PK. ``ON t.k = CAST(s._c0 AS BIGINT)+1``
        # would silently join on the wrong expression; refuse it.
        on_pks: list[str] = []
        for conj in re.split(
            r"\s+AND\s+", m.group("on").strip(), flags=re.IGNORECASE
        ):
            cm = re.match(
                rf"\s*{re.escape(tgt_alias)}\.`?(?P<pk>\w+)`?\s*=\s*"
                r"(?P<src>.+?)\s*$",
                conj, flags=re.IGNORECASE,
            ) or re.match(
                rf"\s*(?P<src>.+?)\s*=\s*"
                rf"{re.escape(tgt_alias)}\.`?(?P<pk>\w+)`?\s*$",
                conj, flags=re.IGNORECASE,
            )
            if not cm:
                raise UserException(
                    "Unsupported MERGE ON conjunct (need "
                    f"{tgt_alias}.<col> = <source expr>): {conj[:80]}"
                )
            pk = cm.group("pk")
            pk_l = pk.lower()
            if pk_l not in want:
                raise UserException(
                    f"MERGE ON column {pk!r} is not an INSERT column."
                )
            if _norm(cm.group("src")) != want[pk_l]:
                raise UserException(
                    "Unsupported MERGE shape: ON-clause source "
                    f"expression for {pk!r} must equal the INSERT "
                    f"expression ({cm.group('src').strip()!r} vs the "
                    "projected form) — the executor upserts the INSERT "
                    "projection and must not mis-join."
                )
            on_pks.append(pk)
        if not on_pks:
            raise UserException("MERGE ON clause names no target PK columns.")
        src = self.table(src_name).read()
        src.createOrReplaceTempView(src_alias)
        projected = self.spark.sql(
            "SELECT "
            + ", ".join(f"{v} AS {c}" for c, v in zip(cols, vals))
            + f" FROM {src_alias}"
        )
        if m.group("scope") is not None or s.upper().rstrip().endswith(
            "THEN DELETE"
        ):
            # WHEN NOT MATCHED BY SOURCE [AND scope] THEN DELETE: the
            # full-sync MERGE — target rows absent from the source are
            # deleted (everywhere, or only where the scope predicate
            # holds). Scope references target columns; strip the
            # target alias so the engine predicate binds bare names.
            scope = m.group("scope")
            if scope is not None:
                scope = re.sub(
                    rf"\b{re.escape(tgt_alias)}\.", "", scope
                ).replace("`", "")
            tgt.upsert_full_sync(projected, on_pks, delete_scope=scope)
        else:
            tgt.upsert(projected, on_pks)
        return None

    @staticmethod
    def _split_exprs(src: str) -> list[str]:
        out, buf, depth, in_q = [], [], 0, False
        for ch in src:
            if ch == "'":
                in_q = not in_q
            elif not in_q:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    out.append("".join(buf).strip())
                    buf = []
                    continue
            buf.append(ch)
        last = "".join(buf).strip()
        if last:
            out.append(last)
        return out

    # ---------- DML / maintenance ----------

    def _drop(self, s: str):
        m = re.match(
            rf"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?({_IDENT})\s*$", s,
            flags=re.IGNORECASE,
        )
        if not m:
            raise UserException(f"Unsupported DROP shape: {s[:120]}")
        self.table(m.group(1)).drop()
        return None

    def _delete(self, s: str):
        m = re.match(
            rf"DELETE\s+FROM\s+({_IDENT})\s+WHERE\s+(?P<cond>.*)$", s,
            flags=re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise UserException(f"Unsupported DELETE shape: {s[:120]}")
        t = self.table(m.group(1))
        c = t.latest_commit()
        # Delta behavior: with delta.enableDeletionVectors set, DML
        # DELETE takes the deletion-vector path (O(matched) commit, no
        # rewrite) instead of copy-on-write
        strategy = (
            "merge-on-read"
            if c is not None
            and str(
                (c.properties or {}).get("delta.enableDeletionVectors")
            ).lower() == "true"
            else "copy-on-write"
        )
        t.delete_where(m.group("cond"), strategy=strategy)
        return None

    def _update(self, s: str):
        m = re.match(
            rf"UPDATE\s+({_IDENT})\s+SET\s+(?P<set>.*?)\s+WHERE\s+(?P<cond>.*)$",
            s, flags=re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise UserException(f"Unsupported UPDATE shape: {s[:120]}")
        assignments = {}
        for a in self._split_exprs(m.group("set")):
            k, _, v = a.partition("=")
            assignments[k.strip().replace("`", "")] = v.strip()
        self.table(m.group(1)).update_where(m.group("cond"), assignments)
        return None

    def _vacuum(self, s: str):
        m = re.match(
            rf"VACUUM\s+({_IDENT})(?:\s+RETAIN\s+(\d+)\s+HOURS)?"
            r"(?:\s+(DRY\s+RUN))?\s*$",
            s, flags=re.IGNORECASE,
        )
        if not m:
            raise UserException(f"Unsupported VACUUM shape: {s[:120]}")
        self.table(m.group(1)).vacuum(
            retention_hours=float(m.group(2) or 0.0),
            dry_run=bool(m.group(3)),
        )
        return None

    def _optimize(self, s: str):
        m = re.match(
            rf"OPTIMIZE\s+({_IDENT})"
            r"(?:\s+WHERE\s+(?P<where>.*?))?"
            r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*$",
            s, flags=re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise UserException(f"Unsupported OPTIMIZE shape: {s[:120]}")
        z = [c.strip().replace("`", "") for c in (m.group(3) or "").split(",") if c.strip()]
        self.table(m.group(1)).optimize(
            zorder_by=z or None, where=m.group("where")
        )
        return None

    def _reorg(self, s: str):
        """``REORG TABLE t APPLY (PURGE)`` (Delta DML): rewrite files
        with soft-deleted data — here, materialize every deletion
        vector into plain files
        (the same rewrite OPTIMIZE performs; Delta's own PURGE is an
        optimize that drops DVs). ``WHERE`` scopes the rewrite."""
        m = re.match(
            rf"REORG\s+TABLE\s+({_IDENT})"
            r"(?:\s+WHERE\s+(?P<where>.*?))?"
            r"\s+APPLY\s*\(\s*PURGE\s*\)\s*$",
            s, flags=re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise UserException(f"Unsupported REORG shape: {s[:120]}")
        self.table(m.group(1)).optimize(where=m.group("where"))
        return None

    def _restore(self, s: str):
        m = re.match(
            rf"RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$",
            s, flags=re.IGNORECASE,
        )
        if m:
            self.table(m.group(1)).restore(int(m.group(2)))
            return None
        m = re.match(
            rf"RESTORE\s+TABLE\s+({_IDENT})\s+TO\s+TIMESTAMP\s+AS\s+OF\s+"
            r"'([^']+)'\s*$",
            s, flags=re.IGNORECASE,
        )
        if m:
            import datetime as _dt

            t = _dt.datetime.fromisoformat(m.group(2).replace(" ", "T", 1))
            if t.tzinfo is None:
                t = t.replace(tzinfo=_dt.timezone.utc)
            self.table(m.group(1)).restore(
                timestamp_ms=int(t.timestamp() * 1000)
            )
            return None
        raise UserException(f"Unsupported RESTORE shape: {s[:120]}")

    def _alter(self, s: str):
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+ADD\s+COLUMN\s+(\w+)\s+(\w+)"
            r"(?:\s+DEFAULT\s+(?P<dflt>.+?))?\s*$",
            s, flags=re.IGNORECASE,
        )
        if m:
            self.table(m.group(1)).add_column(
                m.group(2), m.group(3), default=m.group("dflt")
            )
            return None
        m = re.match(
            rf"ALTER\s+TABLE\s+({_IDENT})\s+SET\s+TBLPROPERTIES\s*"
            r"\((?P<props>.*)\)\s*$",
            s, flags=re.IGNORECASE | re.DOTALL,
        )
        if m:
            props = {}
            for pm in re.finditer(
                r"'([^']+)'\s*=\s*'([^']*)'", m.group("props")
            ):
                props[pm.group(1)] = pm.group(2)
            self.table(m.group(1)).set_properties(props)
            return None
        raise UserException(f"Unsupported ALTER shape: {s[:120]}")

    def _describe(self, s: str):
        m = re.match(
            rf"DESCRIBE\s+(HISTORY|DETAIL)\s+({_IDENT})\s*$", s,
            flags=re.IGNORECASE,
        )
        if not m:
            raise UserException(f"Unsupported DESCRIBE shape: {s[:120]}")
        t = self.table(m.group(2))
        if m.group(1).upper() == "HISTORY":
            rows = [
                (c.version, c.action, c.timestamp_ms, len(c.data_units))
                for c in t.history()
            ]
            return local_relation(
                self.spark,
                "version long, operation string, timestamp_ms long, "
                "num_units int",
                list(zip(*rows)),
            )
        d = t.detail()
        return local_relation(
            self.spark,
            "version long, num_units int, num_files int, num_rows long",
            [[d["version"]], [d["num_units"]], [d["num_files"]],
             [d["num_rows_from_stats"]]],
        )

    def _show(self, s: str):
        m = re.match(r"SHOW\s+TABLES\s*$", s, flags=re.IGNORECASE)
        if m:
            from pyspark.sql import types as T

            tables = []
            for root, dirs, _files in os.walk(self.root):
                if "_delta_log" in dirs:
                    rel = os.path.relpath(root, self.root)
                    tables.append(rel.replace(os.sep, "."))
                    dirs.clear()
            return local_relation(
                self.spark,
                T.StructType([T.StructField("table", T.StringType())]),
                [sorted(tables)],
            )
        m = re.match(
            rf"SHOW\s+TBLPROPERTIES\s+({_IDENT})\s*"
            r"(?:\(\s*'?(?P<key>[^')]+?)'?\s*\))?\s*$",
            s,
            flags=re.IGNORECASE,
        )
        if m:
            from pyspark.sql import types as T

            t = self.table(m.group(1))
            c = t.latest_commit()
            if c is None:
                raise UserException(f"No table {m.group(1)}")
            props = {
                k: str(v)
                for k, v in (c.properties or {}).items()
                # composite engine-side structures (constraints dict)
                # are surfaced by DESCRIBE DETAIL, not the flat
                # key-value listing Spark's statement shows
                if not isinstance(v, (dict, list))
            }
            key = m.group("key")
            if key is not None:
                props = {key: props[key]} if key in props else {}
            return local_relation(
                self.spark,
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.StringType()),
                    ]
                ),
                list(zip(*sorted(props.items()))),
            )
        m = re.match(
            rf"SHOW\s+COLUMNS\s+(?:IN|FROM)\s+({_IDENT})\s*$",
            s,
            flags=re.IGNORECASE,
        )
        if m:
            from pyspark.sql import types as T

            t = self.table(m.group(1))
            c = t.latest_commit()
            if c is None:
                raise UserException(f"No table {m.group(1)}")
            names = [
                f["name"] for f in json.loads(c.schema_json)["fields"]
            ]
            return local_relation(
                self.spark,
                T.StructType([T.StructField("col_name", T.StringType())]),
                [names],
            )
        m = re.match(
            rf"SHOW\s+PARTITIONS\s+({_IDENT})\s*$", s, flags=re.IGNORECASE
        )
        if not m:
            raise UserException(f"Unsupported SHOW shape: {s[:120]}")
        t = self.table(m.group(1))
        c = t.latest_commit()
        if c is None or not c.partition_by:
            raise UserException("SHOW PARTITIONS requires a partitioned table.")
        return t.read().select(*c.partition_by).distinct()

    def _truncate(self, s: str):
        m = re.match(
            rf"TRUNCATE\s+TABLE\s+({_IDENT})\s*$", s, flags=re.IGNORECASE
        )
        if not m:
            raise UserException(f"Unsupported TRUNCATE shape: {s[:120]}")
        t = self.table(m.group(1))
        prev = t.latest_commit()
        if prev is None:
            raise UserException(f"No table {m.group(1)}")
        import json as _json

        from pyspark.sql import types as T

        schema = T.StructType.fromJson(_json.loads(prev.schema_json))
        t.write(
            local_relation(self.spark, schema), mode="overwrite",
            partition_by=list(prev.partition_by or []),
            primary_key=list(prev.primary_key or []),
        )
        return None

    def _generate(self, s: str):
        m = re.match(
            rf"GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+"
            rf"({_IDENT})\s*$",
            s, flags=re.IGNORECASE,
        )
        if not m:
            raise UserException(f"Unsupported GENERATE shape: {s[:120]}")
        self.table(m.group(1)).generate_symlink_manifest()
        return None

    @staticmethod
    def _sub_outside_literals(pattern: re.Pattern, repl: str, sql: str) -> str:
        """Apply ``pattern → repl`` only OUTSIDE single-quoted string
        literals (split on quotes; even segments are code). ``repl``
        is inserted VERBATIM — never treated as a regex template, so
        view bodies containing backslashes or \1 survive."""
        segs = sql.split("'")
        return "'".join(
            pattern.sub(lambda _m: repl, seg) if i % 2 == 0 else seg
            for i, seg in enumerate(segs)
        )

    # ---------- SELECT passthrough ----------

    _FROM_TABLES = re.compile(
        rf"\b(?:FROM|JOIN)\s+({_IDENT})", flags=re.IGNORECASE
    )

    def _explain(self, s: str):
        """EXPLAIN <select>: one-row DataFrame with the formatted
        physical plan — the same surface the engine's plan-quality
        tests assert against, exposed at the statement level."""
        inner = re.sub(r"^EXPLAIN\s+", "", s, flags=re.IGNORECASE)
        df = self._select(inner)
        mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        return local_relation(self.spark, "plan string", [[plan]])

    _VAO = re.compile(
        rf"\b(?:FROM|JOIN)\s+({_IDENT})\s+VERSION\s+AS\s+OF\s+(\d+)",
        flags=re.IGNORECASE,
    )

    _TVF = re.compile(
        r"table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)"
        r"(?:\s*,\s*(\d+))?\s*\)",
        flags=re.IGNORECASE,
    )

    def _select(self, s: str) -> DataFrame:
        """SELECT over managed tables: every FROM/JOIN identifier that
        resolves to a managed table in the warehouse is registered as
        a temp view (dots → underscores), then the statement runs on
        spark.sql — full Spark SQL expressiveness over engine
        snapshots. ``table_changes('t', from[, to])`` (Databricks' CDF
        TVF) resolves to ManagedTable.read_changes."""
        # Mis-dispatch guard: this path must only ever run a QUERY.
        # ``WITH x AS (...) DELETE FROM t`` parses as a WITH statement
        # (dispatched here) but is DML — Spark would execute it against
        # the registered temp view, bypassing the engine's DELETE path
        # entirely. A pure query never contains a bare DML verb outside
        # a string literal or comment, so refuse when one appears
        # (_code_only blanks both quote styles, escapes, and -- lines).
        dml = re.search(
            r"\b(INSERT|DELETE|UPDATE|MERGE)\b", _code_only(s),
            flags=re.IGNORECASE,
        )
        if dml:
            raise UserException(
                f"SELECT path refuses embedded DML verb "
                f"{dml.group(1).upper()!r}: {s[:120]}"
            )
        q = s
        # persisted views expand FIRST (their text may reference
        # tables, TVFs, time travel — or OTHER VIEWS, so expansion
        # iterates to a fixpoint with a cycle-guard cap)
        vdir = os.path.join(self.root, "_views")
        if os.path.isdir(vdir):
            views = {}
            for vf in sorted(os.listdir(vdir)):
                if vf.endswith(".sql"):
                    with open(os.path.join(vdir, vf)) as fh:
                        views[vf[:-4].replace("__", ".")] = fh.read()
            for _round in range(10):
                changed = False
                for vname, body in views.items():
                    pat = re.compile(
                        rf"(?<![\w.]){re.escape(vname)}(?![\w])"
                    )
                    new_q = self._sub_outside_literals(
                        pat, f"({body})", q
                    )
                    if new_q != q:
                        q, changed = new_q, True
                if not changed:
                    break
            else:
                raise UserException(
                    "View expansion did not converge (cyclic views?)."
                )
            s = q
        # time travel: FROM t VERSION AS OF n → snapshot view
        for i, vm in enumerate(self._VAO.finditer(s)):
            name, ver = vm.group(1), int(vm.group(2))
            snap = self.table(name).read(version=ver)
            view = f"__vao_{i}_{name.replace('.', '_')}"
            snap.createOrReplaceTempView(view)
            kw = vm.group(0).split(None, 1)[0]  # FROM or JOIN
            q = q.replace(vm.group(0), f"{kw} {view}")
        s = q
        for i, tm in enumerate(self._TVF.finditer(s)):
            name, lo, hi = tm.group(1), int(tm.group(2)), tm.group(3)
            cdf = self.table(name).read_changes(
                from_version=lo - 1,
                to_version=int(hi) if hi else None,
                with_change_type=True,
            )
            view = f"__tc_{i}_{name.replace('.', '_')}"
            cdf.createOrReplaceTempView(view)
            q = q.replace(tm.group(0), view)
        s = q
        for name in set(self._FROM_TABLES.findall(s)):
            t = self.table(name)
            if t.exists():
                view = name.replace("`", "").replace(".", "_")
                t.read().createOrReplaceTempView(view)
                if view != name:
                    # also rewrites qualified column refs (name.col →
                    # view.col); a trailing word char still blocks so
                    # `wh.orders2` never matches `wh.orders`; string
                    # literals are never touched
                    pat = re.compile(
                        rf"(?<![\w.]){re.escape(name)}(?![\w])"
                    )
                    q = self._sub_outside_literals(pat, view, q)
        try:
            return self.spark.sql(q)
        except Exception as exc:
            # Spark's parser/analyzer rejecting the query is USER input
            # error (malformed SQL, unknown relation/column) — fold it
            # into the executor's failure taxonomy instead of leaking a
            # Py4J exception class the caller can't reason about. Only
            # parse/analysis failures convert; executor bugs (anything
            # at .collect() time) still surface raw.
            from pyspark.errors import AnalysisException, ParseException

            if isinstance(exc, (AnalysisException, ParseException)):
                raise UserException(
                    f"Invalid SELECT: {str(exc)[:300]}"
                ) from exc
            raise
