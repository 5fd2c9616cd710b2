#!/usr/bin/env python3
"""Self-test of the dump checker: a well-formed dump passes, and each
mutation of it is rejected.

    python3 dumpbench/selftest.py

Builds, with pyarrow alone, a committed output in the shape the sink writes
(1000 rows at chunksize 13 as 77 gzip Parquet files under an unpadded dated
path, plus an empty-result marker), checks it, then checks one mutated copy
per mutation. Exits 0 when the clean copy passes and every mutation fails.
"""
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402

DAY = ("2026", "3", "7")
CHUNK = 13
ROWS = 1000


def source_table():
    rng = np.random.default_rng(0)
    return pa.table({"id": np.arange(ROWS, dtype=np.int64),
                     "v": np.round(rng.uniform(0, 100, ROWS), 2),
                     "s": [f"row{i}" for i in range(ROWS)]})


def dated(bucket, prefix, day=DAY):
    y, m, d = day
    return os.path.join(bucket, prefix, f"year_created={y}", f"month_created={m}",
                        f"day_created={d}")


def write_clean(root):
    lake = os.path.join(root, "lake")
    os.makedirs(lake)
    table = source_table()
    pq.write_table(table, os.path.join(lake, "t.parquet"))
    bucket = os.path.join(root, "bucket")
    target = dated(bucket, "st/rows")
    os.makedirs(target)
    for i, start in enumerate(range(0, ROWS, CHUNK)):
        pq.write_table(table.slice(start, CHUNK),
                       os.path.join(target, f"part-{i:05d}-job.gz.parquet"), compression="gzip")
    os.makedirs(dated(bucket, "st/empty"))
    os.makedirs(os.path.join(bucket, check.STAGING))
    spec = {"workload": "selftest", "lake": lake, "tables": ["t"], "contract": "exact",
            "floorplan": os.path.join(root, "floorplan.yaml"),
            "dumps": [{"prefix": "st/rows", "query": "SELECT * FROM t",
                       "oracle": "SELECT * FROM t", "chunksize": CHUNK},
                      {"prefix": "st/empty", "query": "SELECT WHERE 1=0", "oracle": None,
                       "chunksize": None, "empty": True}]}
    return spec, bucket


def parts(bucket):
    target = dated(bucket, "st/rows")
    return target, sorted(os.listdir(target))


def rewrite_first(bucket, change):
    target, names = parts(bucket)
    path = os.path.join(target, names[0])
    table = change(pq.read_table(path))
    pq.write_table(table, path, compression="gzip")


def drop_row(bucket):
    rewrite_first(bucket, lambda t: t.slice(0, t.num_rows - 1))


def change_value(bucket):
    def bump(t):
        v = t.column("v").to_pylist()
        v[0] += 1.0
        return t.set_column(1, "v", pa.array(v))
    rewrite_first(bucket, bump)


def missing_chunk(bucket):
    target, names = parts(bucket)
    os.remove(os.path.join(target, names[-1]))


def extra_chunk(bucket):
    target, names = parts(bucket)
    shutil.copy(os.path.join(target, names[0]), os.path.join(target, "part-99999-job.gz.parquet"))


def leftover_staging(bucket):
    target, names = parts(bucket)
    staged = os.path.join(bucket, check.STAGING, "5f0c6e3a-staged")
    os.makedirs(staged)
    shutil.copy(os.path.join(target, names[0]), os.path.join(staged, names[0]))


def padded_month(bucket):
    old = os.path.dirname(dated(bucket, "st/rows"))
    os.rename(old, old.replace("month_created=3", "month_created=03"))


def snappy_chunk(bucket):
    target, names = parts(bucket)
    path = os.path.join(target, names[0])
    pq.write_table(pq.read_table(path), path, compression="snappy")


def oversized_chunk(bucket):
    target, names = parts(bucket)
    a, b = (os.path.join(target, n) for n in names[:2])
    pq.write_table(pa.concat_tables([pq.read_table(a), pq.read_table(b)]), a,
                   compression="gzip")
    os.remove(b)


def parquet_in_empty_marker(bucket):
    target, names = parts(bucket)
    shutil.copy(os.path.join(target, names[0]),
                os.path.join(dated(bucket, "st/empty"), names[0]))


MUTATIONS = [drop_row, change_value, missing_chunk, extra_chunk, leftover_staging,
             padded_month, snappy_chunk, oversized_chunk, parquet_in_empty_marker]


def verdict(spec, bucket):
    out = check.Checker(spec, days={"-".join(f"{int(x):02d}" for x in DAY)}).check_pass(bucket)
    return out.correct and out.failed == 0, out.problems


def main():
    failures = 0
    with tempfile.TemporaryDirectory(prefix="dumpbench_selftest_", dir=os.getcwd()) as root:
        spec, bucket = write_clean(root)
        ok, problems = verdict(spec, bucket)
        print(f"{'PASS' if ok else 'FAIL'} clean dump accepted {problems if not ok else ''}")
        failures += not ok
        for mutate in MUTATIONS:
            copy = os.path.join(root, f"mut_{mutate.__name__}")
            shutil.copytree(bucket, copy)
            mutate(copy)
            ok, problems = verdict(spec, copy)
            print(f"{'FAIL' if ok else 'PASS'} {mutate.__name__} rejected: "
                  f"{problems[0] if problems else 'accepted'}")
            failures += ok
    print(f"{len(MUTATIONS) + 1 - failures}/{len(MUTATIONS) + 1} self-test cases passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
