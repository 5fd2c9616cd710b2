"""Independent checker for committed floorplan dumps.

For every dump of a pass it checks the floorist output contract on the files
themselves, and the data against a computation made outside the program:
DuckDB over the source Parquet (lake workloads, and graft.SparkEntry.oracleSql
for operator_export), or the Postgres server's own answer through psql.

Contract checks, per dump:
  - exactly one dated target `<prefix>/year_created=Y/month_created=M/day_created=D`
    with unpadded month and day, dated on a day the run was running;
  - every Parquet file holds at most `chunksize` rows and every column chunk
    is gzip-compressed;
  - under the Exact contract, ceil(rows/chunksize) files, one file for
    `chunksize: 0`;
  - an empty result leaves the empty target directory (the marker) and no
    Parquet;
  - no staged output is left under `<root>/.graft_staging`;
  - uuid columns hold 36-character strings.
"""
import math
import os
import re

import duckdb
import pyarrow.parquet as pq

DEFAULT_CHUNKSIZE = 1000
STAGING = ".graft_staging"
DATE_PARTS = [("year_created", r"[1-9][0-9]{3}"), ("month_created", r"[1-9]|1[0-2]"),
              ("day_created", r"[1-9]|[12][0-9]|3[01]")]


class Outcome:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.rows = 0
        self.bytes = 0
        self.files = 0
        self.problems = []


class DumpError(Exception):
    pass


class Checker:
    def __init__(self, spec, server=None, oracle_sql=None, days=()):
        self.spec = spec
        self.server = server
        self.oracle_sql = oracle_sql or {}
        self.days = set(days)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in spec["tables"]:
            path = os.path.join(spec["lake"], f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {}

    def check_pass(self, bucket):
        out = Outcome()
        for i, dump in enumerate(self.spec["dumps"]):
            out.attempted += 1
            try:
                rows, nbytes, nfiles = self.check_dump(bucket, dump, i)
                out.rows += rows
                out.bytes += nbytes
                out.files += nfiles
            except DumpError as e:
                out.failed += 1
                if not dump.get("known_fault"):
                    out.correct = False
                out.problems.append(f"{os.path.basename(bucket)} {dump['prefix']}: {e}")
        staging = os.path.join(bucket, STAGING)
        if os.path.isdir(staging) and os.listdir(staging):
            out.correct = False
            out.problems.append(f"{os.path.basename(bucket)}: staged output left in {STAGING}: "
                                f"{sorted(os.listdir(staging))}")
        return out

    def target(self, bucket, prefix):
        path = os.path.join(bucket, prefix)
        if not os.path.isdir(path):
            raise DumpError("no committed output")
        for key, pattern in DATE_PARTS:
            entries = [e for e in os.listdir(path) if not e.startswith(".")]
            if len(entries) != 1:
                raise DumpError(f"expected one {key} directory, found {sorted(entries)}")
            m = re.fullmatch(f"{key}=({pattern})", entries[0])
            if not m:
                raise DumpError(f"bad date partition {entries[0]!r}")
            path = os.path.join(path, entries[0])
        y, mo, d = (int(p.split("=")[1]) for p in path.split(os.sep)[-3:])
        if self.days and f"{y:04d}-{mo:02d}-{d:02d}" not in self.days:
            raise DumpError(f"dated {y}-{mo}-{d}, outside the run")
        return path

    def check_dump(self, bucket, dump, index):
        path = self.target(bucket, dump["prefix"])
        entries = [e for e in os.listdir(path) if not e.startswith(".")]
        files = sorted(os.path.join(path, e) for e in entries)
        others = [e for e in entries if not (e.startswith("part-") and e.endswith(".parquet"))]
        if others:
            raise DumpError(f"unexpected files {others}")
        if dump.get("empty"):
            if files:
                raise DumpError(f"empty result committed {len(files)} Parquet files")
            return 0, 0, 0
        if not files:
            raise DumpError("no Parquet files committed")
        chunk = dump["chunksize"] if dump["chunksize"] is not None else DEFAULT_CHUNKSIZE
        rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            if chunk and md.num_rows > chunk:
                raise DumpError(f"{os.path.basename(f)} holds {md.num_rows} rows > {chunk}")
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    codec = rg.column(c).compression
                    if codec != "GZIP":
                        raise DumpError(f"{os.path.basename(f)} column {c} is {codec}, not gzip")
            rows += md.num_rows
        if self.spec["contract"] == "exact":
            want = 1 if chunk == 0 else math.ceil(rows / chunk)
            if len(files) != want:
                raise DumpError(f"{len(files)} files for {rows} rows at chunksize {chunk}, "
                                f"expected {want}")
        self.compare(dump, index, files)
        return rows, sum(os.path.getsize(f) for f in files), len(files)

    def compare(self, dump, index, files):
        con = self.con
        flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
        con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet({flist}, hive_partitioning = false)")
        got_cols = [r[0] for r in con.execute("DESCRIBE got").fetchall()]
        got_types = {r[0]: r[1] for r in con.execute("DESCRIBE got").fetchall()}
        for col in dump.get("uuid_columns", []):
            if col not in got_cols:
                raise DumpError(f"uuid column {col} missing")
            bad = con.execute(
                f'SELECT count(*) FROM got WHERE "{col}" IS NULL OR length("{col}") <> 36 '
                f"OR NOT regexp_full_match(\"{col}\", '[0-9a-f]{{8}}(-[0-9a-f]{{4}}){{3}}-[0-9a-f]{{12}}')"
            ).fetchone()[0]
            if bad:
                raise DumpError(f"{bad} values of {col} are not 36-character uuid strings")
        table = f"expected_{index}"
        if index not in self.expected:
            self.expected[index] = self.load_expected(dump, table, got_types)
        want_cols = self.expected[index]
        generated = [c for c in dump.get("uuid_columns", []) if c not in want_cols]
        if got_cols != want_cols + generated and got_cols != generated + want_cols:
            raise DumpError(f"columns {got_cols}, expected {want_cols}")
        cols = ", ".join(f'"{c}"' for c in want_cols)
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
        n_want = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        if n_got != n_want:
            raise DumpError(f"{n_got} rows, expected {n_want}")
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {table} EXCEPT ALL SELECT {cols} FROM got)"
        ).fetchone()[0]
        if missing and not self.close_enough(table, want_cols, got_types):
            raise DumpError(f"{missing} expected rows missing or changed")

    def load_expected(self, dump, table, got_types):
        """Materializes the dump's expected rows; returns their column names."""
        con = self.con
        if dump.get("view"):
            sql = self.oracle_sql[dump["view"]]
        elif self.server is not None:
            csv_path = os.path.join(os.path.dirname(self.spec["floorplan"]), f"{table}.csv")
            with open(csv_path, "w") as f:
                f.write(self.server.query_csv(dump["oracle"]))
            header = open(csv_path).readline().strip().split(",")
            types = ", ".join(f"'{c}': '{got_types.get(c, 'VARCHAR')}'" for c in header)
            sql = (f"SELECT * FROM read_csv('{csv_path}', header=true, "
                   f"columns={{{types}}})")
        else:
            sql = dump["oracle"]
        con.execute(f"CREATE OR REPLACE TEMP TABLE {table} AS {sql}")
        return [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]

    def close_enough(self, table, cols, got_types):
        """Multiset equality with floating-point columns compared to 1e-9
        relative, for aggregates that DuckDB and Spark sum in another order."""
        floats = {c for c in cols if got_types.get(c) in ("DOUBLE", "FLOAT")}
        if not floats:
            return False
        order = ", ".join(f'"{c}"' for c in cols)
        want = self.con.execute(f"SELECT {order} FROM {table} ORDER BY {order}").fetchall()
        got = self.con.execute(f"SELECT {order} FROM got ORDER BY {order}").fetchall()
        for w, g in zip(want, got):
            for c, a, b in zip(cols, w, g):
                if c in floats and a is not None and b is not None:
                    if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                        return False
                elif a != b:
                    return False
        return True
