#!/usr/bin/env python3
"""B3/B4 crossover evidence (VERDICT r13 #8): the q3/q5 star joins
sit 7-14x behind DuckDB at the 10x scale because Spark's fixed
exchange/wave constants dominate sub-second absolute times. This
harness replicates the join tables K more times (default 100x of
sf0.1 ~ TPC-H sf10-equivalent row counts for the join family) with
the same key-offset scheme as scale10.py, then times q3/q5 in DuckDB
(min of R) so the Spark Bench side (run separately, same dir) has a
like-for-like twin at a scale where throughput, not constants,
decides. Join-bearing tables only - the text/embedding corpora are
not needed for q3/q5.

Usage:
  python3 tools/scale_joins.py build   [K]       # -> target/scale<K>joins
  python3 tools/scale_joins.py duckdb  [K] [R]   # json on stdout
Spark side:
  SPARK_GRAFT_SF_DIR=$PWD/target/scale<K>joins \
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_ONLY=q3_shipping_priority,q5_region_revenue \
    sbt -batch "runMain graft.Bench"
"""
import sys, json, os, time
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

SF_DIR = "/root/testdata/sf0.1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 100
OUT = os.path.abspath(f"target/scale{K}joins")

UNSCALED = ["region", "nation"]
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_suppkey": "supplier"},
}
PRIMARY = {"customer": "c_custkey", "supplier": "s_suppkey",
           "orders": "o_orderkey"}

Q3 = """SELECT l_orderkey,
  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10"""

Q5 = """SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name"""


def parent_offset(name):
    t = name
    c = PRIMARY[name]
    tbl = pq.read_table(f"{SF_DIR}/{t}.parquet", columns=[c])
    return pc.max(tbl[c]).as_py() + 1


def build():
    os.makedirs(OUT, exist_ok=True)
    for t in UNSCALED:
        d = f"{OUT}/{t}.parquet"
        os.makedirs(d, exist_ok=True)
        pq.write_table(pq.read_table(f"{SF_DIR}/{t}.parquet"),
                       f"{d}/part-0.parquet", version="2.6")
        print(f"[scale_joins] {t}: copied (unscaled dim)", file=sys.stderr)
    offs = {p: parent_offset(p) for p in PRIMARY}
    for t, keys in KEYS.items():
        tbl = pq.read_table(f"{SF_DIR}/{t}.parquet")
        d = f"{OUT}/{t}.parquet"
        os.makedirs(d, exist_ok=True)
        for k in range(K):
            cols = {}
            for name in tbl.column_names:
                col = tbl[name]
                if name in keys:
                    col = pc.add(col, k * offs[keys[name]])
                cols[name] = col
            pq.write_table(pa.table(cols),
                           f"{d}/part-{k:03d}.parquet", version="2.6")
        print(f"[scale_joins] {t}: x{K} ({tbl.num_rows * K} rows)",
              file=sys.stderr)


def duck(reps):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in list(KEYS) + UNSCALED:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * "
            f"FROM read_parquet('{OUT}/{t}.parquet/*.parquet')")
    out = {}
    for name, sql in [("q3_shipping_priority", Q3),
                      ("q5_region_revenue", Q5)]:
        best = None
        for _ in range(reps):
            t0 = time.time()
            con.execute(sql).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    print(json.dumps({"engine": "duckdb", "k": K, "queries": out}))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "build"
    if cmd == "build":
        build()
    elif cmd == "duckdb":
        duck(int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    else:
        raise SystemExit(f"unknown command {cmd}")
