"""Seeded inputs for the dump benchmark.

`make(workload, seed, workdir)` writes the parquet lake (TPC-H-shaped tables
at scale factor 0.1, plus the documents table the operator view reads) and
the workload's floorplan, and returns a spec that the checker uses. The same
seed gives byte-identical inputs.

The seed moves values and slice positions. It never moves a table's or a
dump's row count: keys that filters select on are seeded permutations of a
fixed multiset (each nation has 600 customers, each nation and segment 120,
each customer 10 orders), and the documents hold a fixed number of exact and
near duplicates with lengths from a fixed multiset. Only the documents'
total word count varies with the seed, through which documents are copied.

Run on its own to inspect a workload's inputs:
    python3 dumpbench/fixtures.py <workload> <seed> <dir>
"""
import json
import os
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERS = 150_000
LINES_PER_ORDER = 4
CUSTOMERS = 15_000
PARTS = 20_000
SUPPLIERS = 1_000
DOCUMENTS = 2_000

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data join vector customer").split()
LANGS = ["en", "zh", "es", "fr", "de"]

# graft.SparkEntry.queries outputs that small_dumps registers as views and
# dumps with `SELECT * FROM <view>`. p21 builds memoized artifacts (the eval
# gram set and its Bloom index) on its first call in a session, so the cold
# pass pays for the builds and later passes do not.
OPERATOR_VIEWS = ["p21_bloom_decontam"]

EPOCH_1992 = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000


def _days(rng, n, span_days):
    return EPOCH_1992 + rng.integers(0, span_days, n) * np.timedelta64(DAY_US, "us")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _nation(rng):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()), "n_name": NATIONS,
                     "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})


def _customer(rng):
    slot = rng.permutation(CUSTOMERS)
    return pa.table({
        "c_custkey": np.arange(CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(slot % 25, pa.int32()),
        "c_acctbal": _money(rng, CUSTOMERS, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[(slot // 25) % len(SEGMENTS)]})


def _orders(rng):
    return pa.table({
        "o_orderkey": np.arange(ORDERS, dtype=np.int64),
        "o_custkey": rng.permutation(np.arange(ORDERS, dtype=np.int64) % CUSTOMERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": _money(rng, ORDERS, 900, 450_000),
        "o_orderdate": _days(rng, ORDERS, 2400),
        "o_orderpriority": rng.choice(PRIORITIES, ORDERS)})


def _lineitem(rng):
    n = ORDERS * LINES_PER_ORDER
    perm = rng.permutation(n)
    return pa.table({
        "l_orderkey": (np.arange(n, dtype=np.int64) // LINES_PER_ORDER)[perm],
        "l_partkey": rng.integers(0, PARTS, n),
        "l_suppkey": rng.integers(0, SUPPLIERS, n),
        "l_linenumber": pa.array((np.arange(n) % LINES_PER_ORDER + 1)[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 100_000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n, 2500)})


def _documents(rng):
    # Document 0 is original; of the rest, 5% are exact and 5% near
    # duplicates of an earlier document.
    dups = DOCUMENTS // 20
    kinds = np.concatenate([["original"], rng.permutation(
        ["exact"] * dups + ["near"] * dups + ["original"] * (DOCUMENTS - 1 - 2 * dups))])
    lengths = rng.permutation(10 + np.arange(DOCUMENTS) % 60)
    texts = []
    for i, kind in enumerate(kinds):
        if kind == "exact":
            texts.append(texts[rng.integers(0, i)])
        elif kind == "near":            # one word swapped
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    return pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, DOCUMENTS, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 5}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


# name -> (generator, stream). Each table draws from its own stream of the
# seed, so its contents do not depend on which other tables a run asks for.
TABLES = {"nation": (_nation, 0), "customer": (_customer, 1), "orders": (_orders, 2),
          "lineitem": (_lineitem, 3), "documents": (_documents, 4)}
PG_STREAM = 6


def table(name, seed):
    make_table, stream = TABLES[name]
    return make_table(np.random.default_rng([seed, stream]))


def _dump(prefix, query, oracle, chunksize=None, **extra):
    d = {"prefix": prefix, "query": query, "oracle": oracle, "chunksize": chunksize}
    d.update(extra)
    return d


def chunked_export(rng):
    a1 = int(rng.integers(0, ORDERS - 2_000))
    a3 = int(rng.integers(0, ORDERS - 30_000))
    lines = f"SELECT * FROM lineitem WHERE l_orderkey >= {a1} AND l_orderkey < {a1 + 2_000}"
    single = f"SELECT * FROM orders WHERE o_orderkey >= {a3} AND o_orderkey < {a3 + 30_000}"
    return [
        _dump("export/lineitem", lines, lines),
        _dump("export/series13", "SELECT GENERATE_SERIES(0,999)",
              "SELECT range::INTEGER AS generate_series FROM range(0, 1000)", 13),
        _dump("export/orders_single", single, single, 0),
    ]


def small_dumps(rng):
    k = int(rng.integers(0, 25))
    seg = str(rng.choice(SEGMENTS))
    b = int(rng.integers(500, 5_000))
    x = int(rng.integers(100, 14_000))
    dumps = []
    q = f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey = {k}"
    dumps.append(_dump("small/customers", q, q))
    q = f"SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders WHERE o_custkey < {b}"
    dumps.append(_dump("small/priorities", q, q))
    q = ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey IN "
         f"(SELECT c_custkey FROM customer WHERE c_nationkey = {k} AND c_mktsegment = '{seg}')")
    dumps.append(_dump("small/orders_in", q, q))
    joined = ('SELECT "customer"."c_custkey", "nation"."n_name" FROM "customer" JOIN "nation" '
              'ON "customer"."c_nationkey" = "nation"."n_nationkey" '
              f'WHERE "customer"."c_custkey" BETWEEN {x} AND {x + 300}')
    dumps.append(_dump("small/quoted_join", joined, joined))
    dumps.append(_dump(
        "small/uuid_values",
        "SELECT * FROM (VALUES (uuid_generate_v1(), 'one'), (uuid_generate_v1(), 'two'), "
        "(uuid_generate_v1(), 'three')) AS t(num, letter)",
        "SELECT letter FROM (VALUES ('one'), ('two'), ('three')) AS t(letter)",
        uuid_columns=["num"]))
    dumps.append(_dump("small/empty", "SELECT WHERE 1=0", None, empty=True))
    # Two rows that SqlTranslate rewrites inside a literal and inside a
    # comment. Their text does not depend on the seed.
    dumps.append(_dump("small/literal_uuid_call", "SELECT 'uuid_generate_v1()' AS s",
                       "SELECT 'uuid_generate_v1()' AS s", known_fault=True))
    commented = "SELECT n_name\n-- FROM GENERATE_SERIES(1,2)\nFROM nation"
    dumps.append(_dump("small/commented_series", commented,
                       "SELECT n_name FROM nation", known_fault=True))
    return dumps + [_dump(f"ops/{v}", f"SELECT * FROM {v}", None, view=v)
                    for v in OPERATOR_VIEWS]


PG_ORDERS = 10_000
PG_LINEITEM = 20_000
PG_HOSTS = 2_000


def pg_tables(seed):
    """name -> (create statement, pyarrow table) for the Postgres load."""
    rng = np.random.default_rng([seed, PG_STREAM])
    ids = [str(u) for u in _uuids(rng, PG_HOSTS)]
    return {
        "orders": ("CREATE TABLE orders (o_orderkey int8 PRIMARY KEY, o_custkey int8, "
                   "o_orderstatus text, o_totalprice float8, o_orderdate timestamp, "
                   "o_orderpriority text)", table("orders", seed).slice(0, PG_ORDERS)),
        "lineitem": ("CREATE TABLE lineitem (l_orderkey int8, l_partkey int8, l_suppkey int8, "
                     "l_linenumber int4, l_quantity float8, l_extendedprice float8, "
                     "l_discount float8, l_tax float8, l_returnflag text, l_linestatus text, "
                     "l_shipdate timestamp)", table("lineitem", seed).slice(0, PG_LINEITEM)),
        "hosts": ("CREATE TABLE hosts (id uuid PRIMARY KEY, account int4, display_name text)",
                  pa.table({"id": ids,
                            "account": pa.array(rng.integers(0, 50, PG_HOSTS), pa.int32()),
                            "display_name": [f"host_{i}" for i in range(PG_HOSTS)]})),
        # 500 distinct hosts tested, exactly half of them failing.
        "test_results": ("CREATE TABLE test_results (host_id uuid, passed bool)",
                         pa.table({"host_id": [ids[i] for i in rng.permutation(PG_HOSTS)[:500]],
                                   "passed": rng.permutation([True, False] * 250)})),
    }


def _uuids(rng, n):
    raw = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    return [uuid.UUID(bytes=bytes(r), version=4) for r in raw]


def pg_export(rng):
    a = int(rng.integers(0, PG_ORDERS - 5_000))
    orders = f"SELECT * FROM orders WHERE o_orderkey >= {a} AND o_orderkey < {a + 5_000}"
    failing = ("SELECT id, display_name FROM hosts WHERE id IN "
               "(SELECT host_id FROM test_results WHERE NOT passed)")
    lines = "SELECT * FROM lineitem"
    return [
        _dump("pg/orders", orders, orders),
        _dump("pg/hosts", "SELECT id, account, display_name FROM hosts",
              "SELECT id, account, display_name FROM hosts", uuid_columns=["id"]),
        _dump("pg/failing_hosts", failing, failing, uuid_columns=["id"]),
        _dump("pg/lineitem", lines, lines, 10_000),
        _dump("pg/lineitem_parallel", lines, lines, 10_000,
              partition=("l_orderkey", 0, ORDERS, 4)),
        _dump("pg/none", "SELECT id FROM hosts WHERE account = 99", None, empty=True),
    ]


WORKLOADS = {
    # name -> (floorplan builder, lake tables it reads, file contract)
    "chunked_export": (chunked_export, ["lineitem", "orders"], "exact"),
    "small_dumps": (small_dumps, ["nation", "customer", "orders", "documents"],
                    "scalable"),
    "pg_export": (pg_export, [], "scalable"),
}


def floorplan_yaml(dumps):
    lines = []
    for d in dumps:
        lines.append(f"- prefix: {d['prefix']}")
        lines.append("  query: " + json.dumps(d["query"]))
        if d["chunksize"] is not None:
            lines.append(f"  chunksize: {d['chunksize']}")
        if d.get("partition"):
            col, lo, hi, n = d["partition"]
            lines += [f"  partition_column: {col}", f"  partition_lower: {lo}",
                      f"  partition_upper: {hi}", f"  partitions: {n}"]
    return "\n".join(lines) + "\n"


def make(workload, seed, workdir):
    build, needed, contract = WORKLOADS[workload]
    os.makedirs(workdir, exist_ok=True)
    lake = os.path.join(workdir, "lake")
    os.makedirs(lake, exist_ok=True)
    if needed:
        for name in needed:
            pq.write_table(table(name, seed), os.path.join(lake, f"{name}.parquet"))
    dumps = build(np.random.default_rng([seed, 7]))
    floorplan = os.path.join(workdir, "floorplan.yaml")
    with open(floorplan, "w") as f:
        f.write(floorplan_yaml(dumps))
    return {"workload": workload, "seed": seed, "lake": lake, "tables": needed,
            "floorplan": floorplan, "contract": contract, "dumps": dumps,
            "views": [d["view"] for d in dumps if d.get("view")]}


if __name__ == "__main__":
    spec = make(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(spec, indent=1, default=str))
