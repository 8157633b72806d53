#!/usr/bin/env python3
"""Grown-survivor composite probe (VERDICT r5 #4).

The verbatim-copy scale10 corpus collapses all duplication in
pipeline_clean_corpus's exact-dedup stage, so the composite's tail
always runs on a fixed-size survivor set and its 10x number measures
stage overhead, not throughput. This probe builds a corpus whose
survivors GROW with scale: each of the `copies` replicas of a
document gets a distinct first token, so exact dedup keeps every
replica (distinct fingerprints) while the near-dup stage must find
and drop them (3-shingle Jaccard stays >= 0.8 for typical doc
lengths) — the AllPairs workload grows ~quadratically inside each
duplicate cluster, for BOTH engines alike.

Usage:
  python3 tools/grown_probe.py build   # materialize target/grown10
  python3 tools/grown_probe.py duckdb [oracleSqlJson]
Spark side:
  SPARK_GRAFT_SF_DIR=$PWD/target/grown10 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_ONLY=pipeline_clean_corpus sbt -batch "runMain graft.Bench"
"""
import sys, json, time, os
import duckdb

OUT = os.path.abspath("target/grown10")
COPIES = 10
SHARDS = 20


def build(con):
    os.makedirs(OUT, exist_ok=True)
    con.sql(f"""
      COPY (
        SELECT doc_id + i * 10000000 AS doc_id,
               'mut' || CAST(i AS VARCHAR) ||
                 substr(text, strpos(text, ' ')) AS text,
               lang, source, n_chars, i % {SHARDS} AS shard
        FROM '/root/testdata/sf0.1/documents.parquet', range({COPIES}) t(i)
      ) TO '{OUT}/documents.parquet'
        (FORMAT PARQUET, PARTITION_BY shard, OVERWRITE_OR_IGNORE)
    """)
    with open(f"{OUT}/documents.parquet/_GRAFT_PROBE", "w") as f:
        f.write(f"copies={COPIES} shards={SHARDS} mutated=first-token\n")


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else "duckdb"
    con = duckdb.connect()
    con.sql("PRAGMA threads=32")
    if cmd == "build" or not os.path.exists(
            f"{OUT}/documents.parquet/_GRAFT_PROBE"):
        build(con)
        if cmd == "build":
            return
    oracle_path = (sys.argv[2] if len(sys.argv) > 2
                   else "target/verify_c8/oracle_sql.json")
    sql = json.load(open(oracle_path))["pipeline_clean_corpus"]
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{OUT}/documents.parquet/*/*.parquet')")
    con.sql(sql).fetchall()  # warmup
    best = None
    rows = 0
    for _ in range(2):
        t0 = time.monotonic()
        rows = len(con.sql(sql).fetchall())
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    print(json.dumps({"engine": "duckdb", "query": "pipeline_clean_corpus",
                      "sec": round(best, 3), "rows": rows}))


if __name__ == "__main__":
    main()
