"""The benchmark workloads: one migration each, plus a correctness
check that is independent of the pipeline's own validation.

A workload object is built once per process (untimed ``__init__``);
``migrate()`` is the timed unit — input to complete output, including
whatever validation the pipeline itself runs — and ``check()`` inspects
the output afterwards, outside the timing.

Operation accounting (``ops_attempted`` / ``ops_failed``) follows one
rule on every workload: DDL statements, table syncs, table validations
and correctness-check comparisons are operations; a statement the
engine rejected, a sync that raised, an inconsistent validation verdict
and a check mismatch are failures.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import yaml

#: failures the program is known to produce on a workload today. They
#: stay counted in the operation metrics; only a failure OUTSIDE this set
#: marks a migration incorrect. See README "Known-failure baseline".
KNOWN_FAILURES = {
    "corpus_duckdb": {
        # the DuckDB target has no JSON_DEPTH
        ("view", "view_case08_json"),
        # geometry columns are read from a dump as text, so the WKB
        # decoder of the value-fix transform gets str, not bytes
        ("data", "case_22_spatial"), ("validate", "case_22_spatial"),
        # decimal(65,30) lands as DOUBLE in DuckDB (widest DECIMAL is 38
        # digits), so the checksum of the read-back differs
        ("validate", "case_61_many_columns"),
    },
}


@dataclass
class Outcome:
    """What one migration produced."""

    wall_s: float
    rows: int
    ops_attempted: int
    ops_failed: int
    failures: set = field(default_factory=set)
    stage_s: dict = field(default_factory=dict)
    sink_bytes: int = 0
    #: tables whose rows the migration moves (the ones that launch jobs)
    tables: int = 0
    validated: int = 0
    mismatches: int = 0
    artifact: str | None = None
    result: dict = field(default_factory=dict)


@dataclass
class Check:
    compared: int
    mismatched: list

    @property
    def ok(self) -> bool:
        return not self.mismatched


def write_config(path: str, concurrency: int, options: dict) -> object:
    from mysql2pg_spark.config import load_config

    with open(path, "w") as fh:
        yaml.safe_dump({
            "mysql": {"host": "source", "database": "testdb"},
            "postgresql": {"host": "target", "database": "d"},
            "conversion": {
                "options": options,
                "limits": {"concurrency": concurrency,
                           "max_rows_per_batch": 10_000},
            },
        }, fh)
    return load_config(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if not f.endswith(".crc")
    )


class Workload:
    name = ""

    def __init__(self, spark, input_dir: str, work_dir: str, cores: int,
                 seam=None):
        self.spark = spark
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.cores = cores
        #: ``seam(name, fn) -> fn`` wraps each callable handed to the
        #: program (the traced run records a span per call)
        self.seam = seam or (lambda name, fn: fn)
        os.makedirs(work_dir, exist_ok=True)

    def migrate(self, i: int) -> Outcome:
        raise NotImplementedError

    def check(self, out: Outcome) -> Check:
        raise NotImplementedError

    def cleanup(self, out: Outcome) -> None:
        if out.artifact:
            shutil.rmtree(out.artifact, ignore_errors=True)


# ---------------------------------------------------------------------------
# dump_pgexport: full_snapshot_from_dump + export_pg_dir (read_dump_inserts)
# ---------------------------------------------------------------------------


def pg_copy_decode_field(s: str):
    """One PostgreSQL COPY text-format field → its value (None = NULL).
    Written from the PostgreSQL COPY documentation, independent of the
    program's encoder."""
    if s == "\\N":
        return None
    if "\\" not in s:
        return s
    out, i, n = [], 0, len(s)
    simple = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
              "v": "\v", "\\": "\\"}
    while i < n:
        ch = s[i]
        if ch != "\\" or i + 1 == n:
            out.append(ch)
            i += 1
            continue
        nxt = s[i + 1]
        if nxt in simple:
            out.append(simple[nxt])
            i += 2
        elif nxt in "01234567":
            j = i + 1
            while j < min(i + 4, n) and s[j] in "01234567":
                j += 1
            out.append(chr(int(s[i + 1:j], 8)))
            i = j
        elif nxt == "x" and i + 2 < n and s[i + 2] in "0123456789abcdefABCDEF":
            j = i + 2
            while j < min(i + 4, n) and s[j] in "0123456789abcdefABCDEF":
                j += 1
            out.append(chr(int(s[i + 2:j], 16)))
            i = j
        else:  # any other escaped character stands for itself
            out.append(nxt)
            i += 2
    return "".join(out)


def parse_load_script(path: str) -> list[tuple[str, list[str], str]]:
    """``\\copy "t" ("a", "b") from 'file' …`` lines of load.sql →
    (table, columns, file relative to the script)."""
    import re

    pat = re.compile(
        r"""^\\copy\s+"([^"]+)"\s+\(([^)]*)\)\s+from\s+'([^']+)'""")
    out = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            m = pat.match(line)
            if m:
                cols = [c.strip().strip('"') for c in m.group(2).split(",")]
                out.append((m.group(1), cols, m.group(3)))
    return out


class DumpPgExport(Workload):
    name = "dump_pgexport"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        import pyarrow.parquet as pq

        self.dump = os.path.join(self.input_dir, "dump.sql")
        self.truth = {
            os.path.basename(p)[len("truth_"):-len(".parquet")]: p
            for p in sorted(glob.glob(os.path.join(self.input_dir,
                                                   "truth_*.parquet")))
        }
        self.source_rows = sum(pq.ParquetFile(p).metadata.num_rows
                               for p in self.truth.values())
        self.cfg_path = os.path.join(self.work_dir, "pgexport.yml")
        # the option set the CLI's --mode pgexport forces
        write_config(self.cfg_path, self.cores, {
            "view": True, "functions": True, "triggers": True,
            "users": True, "table_privileges": True,
            "validate_data": False,
        })

    def migrate(self, i: int) -> Outcome:
        from mysql2pg_spark.config import load_config
        from mysql2pg_spark.orchestrator import MigrationPipeline
        from mysql2pg_spark.sinks.copyexport import export_pg_dir
        from mysql2pg_spark.sources.dumpfile import (
            dump_read_schemas, full_snapshot_from_dump, read_dump_inserts,
        )

        out_dir = os.path.join(self.work_dir, f"pgout{i}")
        spark, dump = self.spark, self.dump
        t0 = time.perf_counter()
        snap = full_snapshot_from_dump(spark, dump)
        schemas = dump_read_schemas(snap)
        pipe = MigrationPipeline(load_config(self.cfg_path), snap)
        res = export_pg_dir(
            pipe, out_dir,
            lambda t: read_dump_inserts(spark, dump, t, schemas[t]),
        )
        wall = time.perf_counter() - t0
        n_tables = len(snap.tables)
        return Outcome(
            wall_s=wall, rows=self.source_rows,
            ops_attempted=n_tables, ops_failed=n_tables - len(res["tables"]),
            sink_bytes=dir_bytes(out_dir), tables=n_tables,
            artifact=out_dir, result=res,
        )

    def check(self, out: Outcome) -> Check:
        """Load the artifact into DuckDB the way load.sql prescribes —
        every ``\\copy`` part file, decoded per the COPY text format —
        cast to the source types and compare row multisets with the
        generator's truth tables (EXCEPT ALL both ways)."""
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        loaded: dict[str, list] = {}
        mismatched = []
        for table, cols, rel in parse_load_script(
            os.path.join(out.artifact, "load.sql")
        ):
            rows = loaded.setdefault(table, [cols, []])[1]
            with open(os.path.join(out.artifact, rel), encoding="utf-8",
                      newline="\n") as fh:
                for line in fh:
                    fields = line.rstrip("\n").split("\t")
                    if len(fields) != len(cols):
                        mismatched.append((table, f"bad field count: {line[:80]!r}"))
                        continue
                    rows.append([f if "\\" not in f
                                 else pg_copy_decode_field(f)
                                 for f in fields])
        for table, path in self.truth.items():
            if table not in loaded:
                mismatched.append((table, "missing from load.sql"))
                continue
            cols, rows = loaded[table]
            data = pa.table({c: pa.array([r[j] for r in rows], pa.string())
                             for j, c in enumerate(cols)})
            con.register("copy_text", data)
            truth_cols = con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{path}')"
            ).fetchall()
            if sorted(c for c, *_ in truth_cols) != sorted(cols):
                mismatched.append((table, f"columns {cols}"))
                continue
            select = ", ".join(f'CAST("{c}" AS {ty}) AS "{c}"'
                               for c, ty, *_ in truth_cols)
            con.execute(f'CREATE OR REPLACE TABLE "{table}" AS '
                        f"SELECT {select} FROM copy_text")
            con.unregister("copy_text")
            names = ", ".join(f'"{c}"' for c, *_ in truth_cols)
            for a, b in ((f'"{table}"', f"read_parquet('{path}')"),
                         (f"read_parquet('{path}')", f'"{table}"')):
                n = con.execute(
                    f"SELECT count(*) FROM (SELECT {names} FROM {a} "
                    f"EXCEPT ALL SELECT {names} FROM {b})"
                ).fetchone()[0]
                if n:
                    mismatched.append((table, f"{n} rows of {a} not in {b}"))
        con.close()
        return Check(len(self.truth), mismatched)


# ---------------------------------------------------------------------------
# corpus_duckdb: live-catalog snapshot + execute() into in-memory DuckDB
# ---------------------------------------------------------------------------

#: catalog plane → substrings that identify its information_schema query
#: (the routing tests/test_live_catalog_replay.py serves the planes with)
CATALOG_ROUTES = (
    ("key_column_usage_pk",
     ("information_schema.key_column_usage", "'PRIMARY'")),
    ("foreign_keys", ("information_schema.referential_constraints",)),
    ("check_constraints", ("constraint_type = 'CHECK'",)),
    ("partitions", ("information_schema.partitions",)),
    ("statistics", ("information_schema.statistics",)),
    ("columns", ("information_schema.columns",)),
    ("views", ("information_schema.views",)),
    ("parameters", ("information_schema.parameters",)),
    ("routines", ("information_schema.routines",)),
    ("triggers", ("information_schema.triggers",)),
    ("events", ("information_schema.events",)),
    ("table_privileges", ("information_schema.table_privileges",)),
    ("tables", ("information_schema.tables",)),
)


def recorded_run_query(planes: dict):
    """``build_snapshot``'s ``run_query`` seam over recorded planes."""
    def run_query(sql: str) -> list[dict]:
        for plane, needles in CATALOG_ROUTES:
            if all(n in sql for n in needles):
                return [dict(r) for r in planes[plane]]
        raise KeyError(f"unrouted catalog query: {sql[:120]}")

    return run_query


_DDL_STAGES_EXCLUDED = ("data", "validate")

#: tables whose rows the data pass moves: together they hold all 40 MySQL
#: column types of the catalog. Every other table gets its DDL only.
CORPUS_DATA_TABLES = (
    "case_61_many_columns", "case_22_spatial", "case_03_floats",
    "case_01_integers",
)


class TracedCursor:
    """DB-API cursor proxy: ``execute``/``executemany`` go through the
    seam; everything else passes to the engine's cursor."""

    def __init__(self, inner, seam):
        self._inner = inner
        self._seam = seam
        self.execute = seam("sinks.target_exec", inner.execute)
        self.executemany = seam("sinks.target_exec", inner.executemany)

    def cursor(self):
        return TracedCursor(self._inner.cursor(), self._seam)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class CorpusDuckdb(Workload):
    """Two passes into one fresh in-memory DuckDB, as a user migrating
    schema first and data second would run them: every object of the
    63-table catalog (foreign keys excepted), then the rows of
    ``CORPUS_DATA_TABLES`` with their foreign keys and validation."""

    name = "corpus_duckdb"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from inputs import corpus_catalog

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.planes = corpus_catalog(root)
        self.dump = os.path.join(self.input_dir, "corpus.sql")
        with open(os.path.join(self.input_dir, "expected.json")) as fh:
            self.expected = {t: n for t, n in json.load(fh).items()
                             if t in CORPUS_DATA_TABLES}
        self.source_rows = sum(self.expected.values())
        self.schema_cfg = os.path.join(self.work_dir, "corpus_schema.yml")
        write_config(self.schema_cfg, self.cores, {
            "view": True, "functions": True, "triggers": True,
            "data": False, "validate_data": False, "foreign_keys": False,
        })
        self.data_cfg = os.path.join(self.work_dir, "corpus_data.yml")
        write_config(self.data_cfg, self.cores, {
            "tableddl": False, "indexes": False, "check_constraints": False,
            "users": False, "table_privileges": False,
            "use_table_list": True, "table_list": list(CORPUS_DATA_TABLES),
        })
        self.con = None

    def migrate(self, i: int) -> Outcome:
        import dataclasses

        import duckdb

        from mysql2pg_spark.config import load_config
        from mysql2pg_spark.orchestrator import MigrationPipeline
        from mysql2pg_spark.runlog import RunLogger
        from mysql2pg_spark.sinks.dbapi_sink import make_dbapi_writer
        from mysql2pg_spark.sources.catalog import build_snapshot
        from mysql2pg_spark.sources.dumpfile import dump_read_schemas
        from mysql2pg_spark.sources.loaddata import load_data_source_reader

        con = self.con = duckdb.connect()
        target = TracedCursor(con, self.seam)
        log_dir = os.path.join(self.work_dir, f"logs{i}")
        seam, spark = self.seam, self.spark

        def dest_reader(sp, table):
            return sp.createDataFrame(
                con.cursor().execute(f'SELECT * FROM "{table}"')
                .fetch_arrow_table()
            )

        t0 = time.perf_counter()
        snap = build_snapshot("testdb", recorded_run_query(self.planes))
        logger = RunLogger(log_dir, echo=False)
        schema_res = MigrationPipeline(
            load_config(self.schema_cfg), snap
        ).execute(spark, target, logger=logger, target_dialect="duckdb",
                  source_reader=seam("sources.read", lambda sp, p: None),
                  sink_writer=seam("sinks.write", lambda df, t: None),
                  dest_reader=seam("validate.dest_read", dest_reader))
        # the data pass plans tables only: views, routines, triggers and
        # events were created by the schema pass
        tables_only = dataclasses.replace(
            snap, views={}, functions=[], triggers=[], events=[])
        res = MigrationPipeline(
            load_config(self.data_cfg), tables_only
        ).execute(
            spark, target, logger=logger, target_dialect="duckdb",
            source_reader=seam("sources.read", load_data_source_reader(
                self.dump, dump_read_schemas(snap))),
            sink_writer=seam("sinks.write", make_dbapi_writer(
                target.cursor, paramstyle="qmark", via="driver")),
            dest_reader=seam("validate.dest_read", dest_reader),
        )
        wall = time.perf_counter() - t0
        errors = logger.summary()["errors"]
        by_stage: dict[str, int] = {}
        for e in errors:
            by_stage[e["stage"]] = by_stage.get(e["stage"], 0) + 1
        ddl_failed = sum(v for k, v in by_stage.items()
                         if k not in _DDL_STAGES_EXCLUDED)
        bad = {t for t, v in res["validation"].items()
               if not v.get("consistent")}
        syncs = len(res["synced"]) + by_stage.get("data", 0)
        validations = len(res["validation"]) + by_stage.get("validate", 0)
        ddl_done = schema_res["ddl"] + res["ddl"]
        stage_s = dict(schema_res["stage_sec"])
        for k, v in res["stage_sec"].items():
            stage_s[k] = stage_s.get(k, 0.0) + v
        return Outcome(
            wall_s=wall, rows=sum(res["synced"].values()),
            ops_attempted=ddl_done + ddl_failed + syncs + validations,
            ops_failed=len(errors) + len(bad),
            failures={(e["stage"], e["target"]) for e in errors}
            | {("validate", t) for t in bad},
            stage_s=stage_s, tables=syncs,
            validated=len(res["validation"]), mismatches=len(bad),
            artifact=log_dir, result=res,
        )

    def check(self, out: Outcome) -> Check:
        """Per-table validation verdicts, synced counts and the target's
        own row counts against the generator's, plus every failed
        operation checked against the known-failure baseline."""
        import duckdb

        known = KNOWN_FAILURES.get(self.name, set())
        res = out.result
        mismatched = [f for f in sorted(out.failures) if f not in known]
        for table, n in sorted(self.expected.items()):
            target = table.lower()
            if ("data", target) in known:
                continue  # no rows arrive; the failure itself is counted
            got = res["synced"].get(target)
            verdict = res["validation"].get(target, {})
            try:
                stored = self.con.execute(
                    f'SELECT count(*) FROM "{target}"').fetchone()[0]
            except duckdb.Error as e:  # a table the DDL never created
                stored = f"unreadable: {type(e).__name__}"
            consistent = (verdict.get("consistent")
                          or ("validate", target) in known)
            if got != n or stored != n or not consistent:
                mismatched.append((table, f"expected {n} rows, synced {got}, "
                                          f"stored {stored}, verdict "
                                          f"{verdict.get('consistent')}"))
        return Check(len(self.expected) + len(out.failures), mismatched)

    def cleanup(self, out: Outcome) -> None:
        self.con.close()
        super().cleanup(out)


WORKLOADS = {w.name: w for w in (DumpPgExport, CorpusDuckdb)}
