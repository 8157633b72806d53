#!/usr/bin/env python3
"""10x scaled bench evidence (VERDICT r4 #4): the sf0.1 board cannot
separate Spark's fixed per-stage overhead from real throughput, so
this harness replicates the sf0.1 tables 10x (key-offset copies,
SHARDED parquet — the single-file layout serializes both engines, see
SURVEY §6) and times the headline queries in BOTH engines over the
same scaled data.

Usage:
  python3 tools/scale10.py build          # materialize target/scale10
  python3 tools/scale10.py duckdb [oracleSqlJson]
                                          # DuckDB twins -> json on stdout
  python3 tools/scale10.py merge <spark_bench_full.json> <duckdb.json>
                                          # -> BENCH_SCALE10.json
Spark side (between duckdb and merge):
  SPARK_GRAFT_SF_DIR=$PWD/target/scale10 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_ONLY=<SCALE10 list> sbt -batch "runMain graft.Bench"

Replication semantics: copy k offsets every primary/foreign key by
k * (max(parent key) + 1), so each copy is a self-consistent shard of
the star schema joining the SAME (unscaled) region/nation dims —
result cardinalities scale ~10x and join semantics are preserved.
Text/embedding payloads are copied VERBATIM: duplication-heavy
corpora are exactly what crawl-scale dedup faces, so the dedup
queries scale SUPERLINEARLY (pair counts grow with duplication^2) —
for both engines alike; that is the point of a like-for-like probe.
Timestamps keep their original parquet physical type (events is
TIMESTAMP(NANOS)) via pyarrow with store-schema v2.6.
"""
import sys, json, os, time, glob, hashlib
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

SF_DIR = "/root/testdata/sf0.1"
OUT = os.path.abspath("target/scale10")
COPIES = 10
SHARDS_PER_COPY = 2  # 10 copies x 2 = 20 files per table

# unscaled dims are copied through once
UNSCALED = ["region", "nation"]
# table -> {column: offset_parent} ; offset for a parent = its own
# max(key)+1 read from the ORIGINAL table
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "events:user_id"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
PRIMARY = {"customer": "c_custkey", "supplier": "s_suppkey",
           "part": "p_partkey", "orders": "o_orderkey",
           "events": "event_id", "documents": "doc_id",
           "embeddings": "vec_id"}

# the scaled headline set: every like-for-like operator family, no
# csv_*/jsonl rows (those time fixture-file synthesis, not the tables)
SCALE10 = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "dedup_exact", "dedup_exact_hash",
    "text_token_stats", "q_top_orders_per_customer", "q_events_sessionize",
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_clusters",
    "dedup_edit_distance", "dedup_simhash", "dedup_embedding",
    "ann_topk_exact", "text_tfidf_top_terms", "text_fluency",
    "text_fingerprint", "curate_contamination", "curate_repetition",
    "pipeline_clean_corpus", "pipeline_pack", "q_percentiles",
    "q_median_quantity", "q3_bucketed", "q5_bucketed",
    "dedup_substring", "dedup_substring_spans",
    "text_chunks", "curate_quality_classifier",
    # round 7 additions
    "dedup_lines", "text_vocab", "text_encode_ids",
    "curate_source_overlap", "pipeline_shuffle",
    "pipeline_pack_concat", "curate_corpus_diff",
    "text_perplexity", "pipeline_shard_manifest", "curate_token_budget",
    "pipeline_curriculum", "curate_moore_lewis",
    "curate_gopher_rules", "dedup_winnow", "curate_dsir",
    "q_events_retention", "text_perplexity_trigram",
    # round 9 additions (the ddf>=2 semi-join rebuild; boilerplate
    # removal — both engines compute from the raw corpus)
    "curate_dup_ngrams", "curate_boilerplate",
    # round 10 additions, both engines recompute from the raw tables
    "q_events_gapfill", "curate_decontam_fuzzy",
    # round 12: token-exact packing with doc splitting (C12c), blob
    # integrity screen (F6), per-source percentile gate (C36), hopping
    # windows (B31) — all like-for-like, both engines from raw tables
    "pipeline_pack_split", "mm_integrity", "curate_quality_percentile",
    "q_events_hopping",
    # round 13: served twins (C36b quality-gate artifact; B32 rollup
    # family) — on the board for auditability, excluded from totals
    # via ASYMMETRIC below (served artifact vs from-raw recompute) —
    # plus q_events_anomaly, the one dashboard-family from-raw row
    # that had never been on the 10x board (like-for-like, counts)
    "q_events_anomaly",
    "curate_quality_gate_served", "q_events_hopping_served",
    "q_events_anomaly_served", "q_events_gapfill_served",
    # D14 margin mining: like-for-like (both engines score the raw
    # embeddings, same cosine arithmetic as ann_topk_exact)
    "ann_margin",
    # C37 temperature mixing: like-for-like (both engines rank the
    # raw corpus and recompute the quota arithmetic)
    "curate_temperature_mix",
    # E22 sentence segmentation: like-for-like map pass
    "text_sentences",
    # round 14: bidirectional margin pairs (D14b) — like-for-like
    # (both engines score raw embeddings twice, same cosine arithmetic)
    "ann_margin_pairs",
    # round 14: pHash near-dup (F7) — like-for-like (both engines
    # compute the gradient hash + banded self-pair from raw text)
    "mm_phash_neardup",
    # round 15: pHash clusters (F7c, both engines close the pair
    # graph transitively from raw text) and the C38 distribution
    # panels (both engines build the same histogram + type-1
    # extraction from the raw tables) — all like-for-like
    "mm_phash_clusters", "q_doclen_quantiles", "q_quality_quantiles",
    # round 15: quality-argmax canonical selection (C39) and the
    # cluster-keyed leakage-safe split (C40) — like-for-like (both
    # engines close the pair graph from raw text; spark adds the H5
    # top-1 node, duckdb a QUALIFY/row_number — same work class)
    "dedup_keep_best", "pipeline_split_leakage_safe",
    # C40b incremental split assignment — like-for-like (spark's C35
    # driver-indexed cross-probe vs duckdb's shingle join, the same
    # pairing already counted for curate_decontam_fuzzy; both engines
    # additionally close both pair graphs from raw text)
    "pipeline_split_assign_new",
    # C41 split-leakage audit — like-for-like (both engines compute
    # the verified pair set and the md5 split CASE from raw tables)
    "curate_split_leakage"]

# Rows whose DuckDB twin is NOT like-for-like WORK (the csv_*
# exclusion principle: a served artifact vs a from-raw recompute, a
# build vs a COUNT, a sketch vs an exact plan). r10 policy (ADVICE
# r9): such rows stay ON the board — the 2x-at-scale criterion must
# be auditable for EVERY operator — but they are EXCLUDED from the
# headline like-for-like totals and carry their asymmetry note in the
# merged JSON, so a ratio there is read as what it is: serving vs
# recompute, not engine vs engine. This list previously lived as a
# comment-only exclusion; curate_moore_lewis and pipeline_curriculum
# (both serving persisted model artifacts since r9) had slipped into
# the like-for-like totals — the asymmetry the r9 ADVICE flagged.
# r11 (VERDICT r10 #3): every exclusion states its DIRECTION. An
# exclusion is only protective when the asymmetry favors SPARK (duckdb
# does more work, so counting the row would flatter spark's totals) or
# when spark does categorically more work (build vs COUNT - the ratio
# is not engine-vs-engine at all). search_hybrid_rrf's asymmetry
# favors spark yet its ratio was BAD, so exclusion hid a real gap -
# it now has a symmetric serve-vs-serve twin IN the totals (below).
ASYMMETRIC = {
    "curate_moore_lewis": "spark serves the persisted C31 two-model "
        "artifact; duckdb retrains both models from raw text "
        "[favors spark: exclusion avoids flattering spark's totals]",
    "pipeline_curriculum": "spark serves the persisted corpus LM "
        "artifact; duckdb retrains from raw text "
        "[favors spark: exclusion avoids flattering spark's totals]",
    "text_index_build": "spark builds the full positional postings "
        "artifact; the oracle recomputes only the corpus totals (a "
        "COUNT + token sum) "
        "[favors duckdb: spark does categorically more work; the "
        "ratio is build-vs-count, not engine-vs-engine]",
    "text_search_and": "spark serves from the persisted postings "
        "index; duckdb re-tokenizes the corpus per query "
        "[favors spark: exclusion avoids flattering spark's totals]",
    "text_search_phrase": "spark serves from the persisted postings "
        "index; duckdb re-tokenizes the corpus per query "
        "[favors spark: exclusion avoids flattering spark's totals]",
    "text_search_ranked": "spark serves BM25 from the persisted "
        "index; duckdb recomputes BM25 from raw text "
        "[favors spark: exclusion avoids flattering spark's totals]",
    "search_hybrid_rrf": "spark fuses a served BM25 probe with the "
        "exact cosine scan; duckdb recomputes BM25 from raw text "
        "[favors spark, but the ratio was BAD despite the handicap - "
        "see the symmetric search_hybrid_rrf_served row, which IS in "
        "the like-for-like totals]",
    "text_vocab_approx": "spark runs the MG sketch + exact recount; "
        "the oracle computes the exact top-20 (same answer by the MG "
        "guarantee, different algorithm) "
        "[favors duckdb: the sketch+recount is strictly more work]",
    "fw_ingest": "spark synthesizes and parses the fixed-width "
        "fixture file; the twin is a SELECT over a pre-loaded table "
        "[favors duckdb: spark does categorically more work; kept "
        "as the labeled stand-in for the upload family]",
    "curate_quality_gate_served": "spark serves the persisted C36b "
        "threshold artifact (stateless broadcast gate); duckdb "
        "re-ranks the whole corpus from raw text "
        "[favors spark: exclusion avoids flattering spark's totals; "
        "the from-raw curate_quality_percentile row IS in the totals]",
    "q_events_hopping_served": "spark serves the persisted B32 "
        "quarter-hour rollup; duckdb re-aggregates raw events "
        "[favors spark: exclusion avoids flattering spark's totals; "
        "the from-raw q_events_hopping row IS in the totals]",
    "q_events_anomaly_served": "spark serves the persisted B32 "
        "rollup; duckdb re-aggregates raw events "
        "[favors spark: exclusion avoids flattering spark's totals; "
        "the from-raw q_events_anomaly row IS in the totals]",
    "q_events_gapfill_served": "spark serves the persisted B32 "
        "rollup; duckdb re-aggregates raw events "
        "[favors spark: exclusion avoids flattering spark's totals; "
        "the from-raw q_events_gapfill row IS in the totals]",
}
SCALE10 += sorted(ASYMMETRIC.keys() - set(SCALE10))

# Symmetric serve-vs-serve twin for the hybrid row (VERDICT r10 #3):
# duckdb serves BM25 from the SAME persisted postings/len/df/corpus
# artifacts spark serves from (written by the spark bench pass -
# run the spark side FIRST), plus the identical exact-cosine scan.
# The row is like-for-like and counts in the totals under the spark
# timing of search_hybrid_rrf.
# bucket count mirrors TextIndex.bucketsFor (r15 OPT: corpus-size-
# derived, ~32 MB/bucket, floor 4 cap 4096) so the twin reads the
# same artifact the spark bench pass wrote
def _n_buckets(corpus_dir):
    # recursive walk, matching fs.getContentSummary: a partitioned /
    # nested corpus dir would otherwise count inode sizes and disagree
    # with the Spark side near a 32 MB boundary (r15 ADVICE)
    p = f"{corpus_dir}/documents.parquet"
    if os.path.isfile(p):
        bytes_ = os.path.getsize(p)
    else:
        bytes_ = sum(os.path.getsize(os.path.join(root, f))
                     for root, _, files in os.walk(p) for f in files)
    return int(min(4096, max(4, bytes_ // (32 << 20) + 1)))

# CsvQueries.scratchRoot: target/graft_scratch under the working directory
# of the Spark side (the repo root, where sbt runs)
SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "target", "graft_scratch")

def served_db(prefix, corpus_dir, key_extra):
    """ServedArtifact's scratch db for (prefix, corpus dir, keyExtra):
    keyOf = basename + "_" + the first 6 bytes of the hex MD5 of
    "<path>|<keyExtra>" (the path as Hadoop normalizes it)."""
    path = os.path.normpath(corpus_dir)
    digest = hashlib.md5(f"{path}|{key_extra}".encode("utf-8")).hexdigest()
    return os.path.join(SCRATCH_ROOT,
                        f"{prefix}_{os.path.basename(path)}_{digest[:12]}",
                        "db")

_NB = _n_buckets(OUT) if os.path.exists(f"{OUT}/documents.parquet") else 4
_IDX = served_db("textindex", OUT, f"b{_NB}")
_PB = f"postings_b{_NB}"
SERVED_TWINS = {
    "search_hybrid_rrf_served": ("search_hybrid_rrf", f"""
WITH st AS (SELECT CAST(SUM(n_docs) AS DOUBLE) n,
                   CAST(SUM(total_len) AS DOUBLE) l
            FROM read_parquet('{_IDX}/{_PB}_corpus/*.parquet')),
d AS (SELECT term, CAST(SUM(df) AS DOUBLE) df
      FROM read_parquet('{_IDX}/{_PB}_df/*.parquet')
      WHERE term IN ('batch','merge') GROUP BY term),
p AS (SELECT term, doc_id, CAST(tf AS DOUBLE) tf
      FROM read_parquet('{_IDX}/{_PB}/*.parquet')
      WHERE term IN ('batch','merge')),
dl AS (SELECT doc_id, CAST(dl AS DOUBLE) dl
       FROM read_parquet('{_IDX}/{_PB}_len/*.parquet')),
bm AS (SELECT p.doc_id,
         SUM((((st.n - d.df) + 0.5) / (d.df + 0.5)) * (p.tf * 2.2)
             / (p.tf + 1.2 * (0.25 + ((0.75 * dl.dl) * st.n) / st.l)))
           AS score
       FROM p JOIN d USING (term) JOIN dl USING (doc_id), st
       GROUP BY p.doc_id),
lex AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lr
        FROM bm ORDER BY score DESC, doc_id LIMIT 20),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (SELECT e.vec_id AS doc_id,
  list_reduce([CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
    for i in range(1, len(qe) + 1)], (x, y) -> x + y)
  / (sqrt(list_reduce([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
      for i in range(1, len(qe) + 1)], (x, y) -> x + y))
    * sqrt(list_reduce([CAST(e.embedding[i] AS DOUBLE)
        * CAST(e.embedding[i] AS DOUBLE)
      for i in range(1, len(e.embedding) + 1)], (x, y) -> x + y)))
    AS sim
  FROM q, embeddings e WHERE e.vec_id != 0),
vec AS (SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS vr
  FROM s ORDER BY sim DESC, doc_id LIMIT 20),
f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.lr, v.vr
      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
SELECT doc_id, COALESCE(lr, 0) AS lex_rank, COALESCE(vr, 0) AS vec_rank,
  COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + lr),
      CAST(0.0 AS DOUBLE))
    + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + vr),
        CAST(0.0 AS DOUBLE)) AS rrf_score
FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10"""),
}
SCALE10 += sorted(SERVED_TWINS.keys() - set(SCALE10))
# Still not on the board: q_percentiles_sketch[_check] (the oracle
# emits group sizes, not a comparable plan at all) and the remaining
# csv_*/jsonl upload rows (fixture-file synthesis; fw_ingest stands
# in for the family, labeled).


def parent_offset(name):
    if ":" in name:  # table:column
        t, c = name.split(":")
    else:
        t, c = name, PRIMARY[name]
    tbl = pq.read_table(f"{SF_DIR}/{t}.parquet", columns=[c])
    return pc.max(tbl[c]).as_py() + 1


def build():
    os.makedirs(OUT, exist_ok=True)
    for t in UNSCALED:
        d = f"{OUT}/{t}.parquet"
        os.makedirs(d, exist_ok=True)
        pq.write_table(pq.read_table(f"{SF_DIR}/{t}.parquet"),
                       f"{d}/part-0.parquet", version="2.6")
        print(f"[scale10] {t}: copied (unscaled dim)")
    offs = {}
    for t, keys in KEYS.items():
        tbl = pq.read_table(f"{SF_DIR}/{t}.parquet")
        d = f"{OUT}/{t}.parquet"
        os.makedirs(d, exist_ok=True)
        for old in glob.glob(f"{d}/*.parquet"):
            os.remove(old)
        for k in range(COPIES):
            out = tbl
            for colname, parent in keys.items():
                if parent not in offs:
                    offs[parent] = parent_offset(parent)
                if k > 0:
                    idx = out.schema.get_field_index(colname)
                    shifted = pc.add(out[colname],
                                     pa.scalar(k * offs[parent],
                                               type=out[colname].type))
                    out = out.set_column(idx, out.schema.field(idx), shifted)
            n = out.num_rows
            step = (n + SHARDS_PER_COPY - 1) // SHARDS_PER_COPY
            for s in range(SHARDS_PER_COPY):
                chunk = out.slice(s * step, step)
                if chunk.num_rows:
                    pq.write_table(chunk, f"{d}/part-{k}-{s}.parquet",
                                   version="2.6")
        print(f"[scale10] {t}: {tbl.num_rows} -> {tbl.num_rows * COPIES}"
              f" rows in {COPIES * SHARDS_PER_COPY} shards")
    with open(f"{OUT}/_SCALE10", "w") as f:
        f.write(f"copies={COPIES} shards_per_copy={SHARDS_PER_COPY}\n")


def duckdb_run(oracle_path):
    import duckdb
    con = duckdb.connect()
    con.sql("PRAGMA threads=32")
    for t in UNSCALED + list(KEYS):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{OUT}/{t}.parquet/*.parquet')")
    oracles = json.load(open(oracle_path))
    queries, total = {}, 0.0
    for name in SCALE10:
        if name in SERVED_TWINS:
            sql = SERVED_TWINS[name][1]
        elif name not in oracles:
            print(f"[scale10] {name}: no oracle, skipped", file=sys.stderr)
            continue
        else:
            sql = oracles[name]
        try:
            con.sql(sql).fetchall()  # warmup
            best = None
            for _ in range(2):
                t0 = time.monotonic()
                rows = con.sql(sql).fetchall()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            queries[name] = round(best, 3)
            total += best
            print(f"[scale10-duckdb] {name}: {best:.3f}s ({len(rows)} rows)",
                  file=sys.stderr)
        except Exception as e:
            queries[name] = -1.0
            print(f"[scale10-duckdb] {name}: ERROR {e}", file=sys.stderr)
    out = {"engine": f"duckdb-{duckdb.__version__}", "sf": OUT,
           "protocol": "warmup + min-of-2, fully materialized",
           "metric": "total", "value": round(total, 3), "unit": "sec",
           "queries": queries}
    # Host-phase anchor (VERDICT r11 #8): recorded in-artifact so the
    # board's absolutes carry their own comparability evidence.
    if "dedup_ngram_jaccard" in queries:
        out["phase_anchor"] = {"query": "dedup_ngram_jaccard",
                               "sec": queries["dedup_ngram_jaccard"]}
    print(json.dumps(out))
    return out


def merge(spark_path, duck_path):
    spj = json.load(open(spark_path))
    sp = spj["queries"]
    du = json.load(open(duck_path))["queries"]
    rows = {}
    for k in SCALE10:
        s = sp.get(SERVED_TWINS[k][0]) if k in SERVED_TWINS else sp.get(k)
        d = du.get(k)
        rows[k] = {"spark_sec": s, "duckdb_sec": d,
                   "ratio": (round(s / d, 2)
                             if s and d and s > 0 and d > 0 else None)}
        if k in ASYMMETRIC:
            rows[k]["asymmetric"] = ASYMMETRIC[k]
        if k in SERVED_TWINS:
            rows[k]["note"] = ("symmetric serve-vs-serve: duckdb reads "
                "the same persisted postings/len/df/corpus artifacts "
                "spark serves from, plus the identical exact-cosine "
                "scan; spark timing = the " + SERVED_TWINS[k][0] +
                " row; COUNTS in the like-for-like totals")
    # Warm-plan rows (VERDICT r10 #4): spark reuses the analyzed
    # Dataset across executions (protocol in the spark board JSON);
    # duckdb twin = the cold row's timing (duckdb replans per
    # execution in ~ms, so its cold number IS its warm number).
    # Protocol-asymmetric -> on the board, out of the totals.
    for wk, wv in spj.get("warm_queries", {}).items():
        cold = wk[: -len("_warm")]
        d = du.get(cold)
        rows[wk] = {"spark_sec": wv, "duckdb_sec": d,
                    "ratio": (round(wv / d, 2)
                              if wv and d and wv > 0 and d > 0 else None),
                    "asymmetric": "warm-plan protocol: spark Dataset "
                        "analyzed once, min of 3 re-executions (the "
                        "cold " + cold + " row is the like-for-like "
                        "evidence; this row separates plan-constant "
                        "from execution)"}
    shared = [k for k in SCALE10
              if k not in ASYMMETRIC
              and rows[k]["spark_sec"] and rows[k]["duckdb_sec"]
              and rows[k]["spark_sec"] > 0 and rows[k]["duckdb_sec"] > 0]
    out = {
        "scale": f"10x sf0.1 ({COPIES} key-offset copies, sharded)",
        "totals_note": "like-for-like rows only; rows labeled "
                       "'asymmetric' are on the board for 2x-criterion "
                       "auditability but excluded from these totals",
        "spark_total_sec": round(sum(rows[k]["spark_sec"] for k in shared), 3),
        "duckdb_total_sec": round(sum(rows[k]["duckdb_sec"] for k in shared), 3),
        "queries": rows,
    }
    # Host-phase anchor (VERDICT r11 #8): both engines' anchor values
    # ride the merged board so cross-round absolute comparisons carry
    # their own phase-health evidence.
    a = rows.get("dedup_ngram_jaccard")
    if a:
        out["phase_anchor"] = {"query": "dedup_ngram_jaccard",
                               "spark_sec": a["spark_sec"],
                               "duckdb_sec": a["duckdb_sec"]}
    with open("BENCH_SCALE10.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "build"
    if cmd == "build":
        build()
    elif cmd == "duckdb":
        oracle = (sys.argv[2] if len(sys.argv) > 2
                  else "target/verify_local/oracle_sql.json")
        duckdb_run(oracle)
    elif cmd == "merge":
        merge(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit(__doc__)
