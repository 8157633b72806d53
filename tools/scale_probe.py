#!/usr/bin/env python3
"""Marginal-throughput scale probe over the documents table (SURVEY §6).

Builds a 100x duplication of sf0.1 documents (500k docs) as a
32-shard parquet layout and times the DuckDB oracle twins of a few
content queries over it. Pair with the Spark side:

  SPARK_GRAFT_ONLY=text_token_stats,text_fluency,dedup_exact_hash,curate_repetition \
  SPARK_GRAFT_SF_DIR=$PWD/target/scale_probe \
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench"

The multi-file layout matters for BOTH engines: a single ~5 MB
parquet file is one split, so Spark runs the whole scan+explode
stage on one core (and DuckDB's row-group parallelism equally
starves — its own numbers improved ~3x when sharded). A 100 TB
corpus is always many files; probing with one file measures the
wrong regime. When a query stops scaling, graft.tools.DriveJobProfile
breaks its time down per Spark job and stage.
"""
import sys, json, time, glob, os
import duckdb

PROBE = os.path.abspath("target/scale_probe")
NAMES = ["text_token_stats", "text_fluency", "dedup_exact_hash",
         "curate_repetition"]


def build(con, copies=100, shards=32):
    os.makedirs(PROBE, exist_ok=True)
    con.sql(f"""
      COPY (
        SELECT doc_id + i * 10000000 AS doc_id, text, lang, source,
               n_chars, i % {shards} AS shard
        FROM '/root/testdata/sf0.1/documents.parquet', range({copies}) t(i)
      ) TO '{PROBE}/documents.parquet'
        (FORMAT PARQUET, PARTITION_BY shard, OVERWRITE_OR_IGNORE)
    """)
    # manifest gates reuse: a killed COPY leaves a partial shard set
    # that would silently shrink every measurement
    with open(f"{PROBE}/documents.parquet/_GRAFT_PROBE", "w") as f:
        f.write(f"copies={copies} shards={shards}\n")


def main():
    oracle_path = (sys.argv[1] if len(sys.argv) > 1
                   else "target/verify_gate01/oracle_sql.json")
    oracles = json.load(open(oracle_path))
    con = duckdb.connect()
    con.sql("PRAGMA threads=32")
    if not os.path.exists(f"{PROBE}/documents.parquet/_GRAFT_PROBE"):
        build(con)
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{PROBE}/documents.parquet/*/*.parquet')")
    for name in NAMES:
        sql = oracles[name]
        con.sql(sql).fetchall()
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            rows = con.sql(sql).fetchall()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        print(f"[probe] duckdb 100x {name:20} {best:7.3f}s ({len(rows)} rows)")


if __name__ == "__main__":
    main()
