"""Output checks: what a measured run produced, against independent
DuckDB twins, off the clock and after the run's JVM has exited.

Every check function returns (n_compared, mismatches, extra); a run
is correct only when something was compared, nothing mismatched, and
`complete` found one output record for every request of the measured
window and no recorded error: a failed op is a mismatch, never a skip.
`extra` holds the twins' answers for the self-test. The
`self_test` functions plant one dropped row and one altered value into
real outputs and require each to be reported, so a check that could
pass vacuously fails the run instead.
"""
import glob
import os
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import check as graft_check  # noqa: E402  the repo's canonical hash


def canon(rows, cols):
    return graft_check.canon([tuple(r) for r in rows], list(cols))


# Where DuckDB may spill; run.py points it into the run's scratch dir.
TMP_DIR = "."


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = {sql_str(os.path.join(TMP_DIR, 'duckdb'))}")
    return con


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def complete(result):
    """Mismatches for requests of the measured window that left no
    output record, or more than one, and for every recorded error."""
    got = sorted(r["i"] for r in result["outputs"])
    want = list(range(result["requests"]))
    bad = [f"error: {e}" for e in result["errors"]]
    if result["failed"]:
        bad.append(f"{result['failed']} of {result['attempted']} ops failed")
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(x for x in set(got) if got.count(x) > 1 or x not in want)
        bad.append(f"output records for requests {len(got)} != {len(want)}: "
                   f"missing {missing[:10]}, repeated or unknown {extra[:10]}")
    return bad


# ---------------------------------------------------------- upload_query

DUCK_TYPES = {"integer": "BIGINT", "float": "DOUBLE", "text": "VARCHAR"}


def expected_table_names(recs):
    """The `_2`/`_3` suffix contract, replayed in upload order within
    each pass (every pass uploads into a fresh database)."""
    taken, names = {}, []
    for r in sorted(recs, key=lambda r: r["i"]):
        base = os.path.basename(r["path"])
        base = base[:-4] if base.endswith(".csv") else base
        seen = taken.setdefault(r["pass"], set())
        name, n = base, 2
        while name in seen:
            name, n = f"{base}_{n}", n + 1
        seen.add(name)
        names.append(name)
    return names


def upload_twin(con, rec, info, tmpdir):
    """DuckDB's answer to the run's SQL over the same CSV bytes,
    decoded with the generator's encoding and typed with its
    declared types."""
    with open(info["path"], "rb") as f:
        text = f.read().decode(info["encoding"])
    if text.startswith("\ufeff"):
        text = text[1:]
    tmp = os.path.join(tmpdir, "twin.csv")
    with open(tmp, "w", encoding="utf-8", newline="") as f:
        f.write(text)
    cols = ", ".join(f"{sql_str(c)}: {sql_str(DUCK_TYPES[t])}"
                     for c, t in zip(info["columns"], info["types"]))
    table = rec["table"]
    con.execute(f"DROP TABLE IF EXISTS {table}")
    con.execute(f"CREATE TABLE {table} AS SELECT * FROM read_csv({sql_str(tmp)}, "
                f"header = true, auto_detect = false, delim = ',', "
                f"quote = '\"', escape = '\"', columns = {{{cols}}})")
    rel = con.sql(rec["sql"])
    cols, rows = list(rel.columns), rel.fetchall()
    con.execute(f"DROP TABLE {table}")
    return cols, rows


def check_upload(result, manifest, tmpdir):
    recs = sorted(result["outputs"], key=lambda r: r["i"])
    stream = manifest["stream"]
    bad, n = complete(result), 0
    con = connect()
    names = expected_table_names(recs)
    answers = {}
    for rec, want_name in zip(recs, names):
        info = stream[rec["i"] % len(stream)]
        tag = f"upload {rec['i']} {os.path.basename(rec['path'])}"
        n += 1
        if rec["error"] is not None:
            bad.append(f"{tag}: upload error {rec['error']}")
            continue
        if rec["table"] != want_name:
            bad.append(f"{tag}: table {rec['table']} != {want_name}")
        if rec["types"] != info["types"] or rec["type_columns"] != info["columns"]:
            bad.append(f"{tag}: types {rec['types']} != {info['types']}")
        if rec["rows_done"] != info["rows"]:
            bad.append(f"{tag}: rows_done {rec['rows_done']} != {info['rows']}")
        p = rec["progress"]
        if p is None:
            bad.append(f"{tag}: no _csv_progress_ row")
        else:
            todo, done, rows, completed, err = p
            if not (todo == done == info["bytes"] and rows == info["rows"]
                    and completed is not None and err is None):
                bad.append(f"{tag}: progress {p} (bytes {info['bytes']}, "
                           f"rows {info['rows']})")
        cols, rows = upload_twin(con, rec, info, tmpdir)
        answers[rec["i"]] = (cols, rows)
        if canon(rec["answer"], cols) != canon(rows, cols):
            bad.append(f"{tag}: sql answer {rec['answer']} != duckdb {rows}")
    return n, bad, answers


def self_test_upload(result, answers):
    for rec in result["outputs"]:
        if rec["i"] in answers and rec["answer"]:
            cols, want = answers[rec["i"]]
            dropped = rec["answer"][1:]
            altered = [list(rec["answer"][0])]
            altered[0][0] = altered[0][0] + 1  # n_rows off by one
            return [canon(dropped, cols) != canon(want, cols),
                    canon(altered, cols) != canon(want, cols)]
    return [False, False]


# ----------------------------------------------------------- serve_mixed

# TextIndex.oracles("text_search_ranked") scores with exactly these
# per-term pieces; the twin below generalizes them to 1..3 terms. If
# the oracle's parenthesization changes, the twin must follow.
ORACLE_PIECES = [
    "((((st.n - d1.df) + 0.5) / (d1.df + 0.5)) * (tf1 * 2.2))",
    "/ (tf1 + 1.2 * (0.25 + ((0.75 * dl.dl) * st.n) / st.l))",
]


def ranked_twin_sql(terms, batch, k):
    ctes = ["st AS (SELECT CAST(COUNT(*) AS DOUBLE) n, "
            f"CAST(SUM(dl) AS DOUBLE) l FROM dl WHERE batch <= {batch})"]
    for i, t in enumerate(terms, 1):
        ctes.append(f"t{i} AS (SELECT doc_id, CAST(tf AS DOUBLE) tf FROM post "
                    f"WHERE term = {sql_str(t)} AND batch <= {batch})")
        ctes.append(f"d{i} AS (SELECT CAST(COUNT(*) AS DOUBLE) df FROM t{i})")
    ids = [f"t{i}.doc_id" for i in range(1, len(terms) + 1)]
    frm = "t1"
    for i in range(2, len(terms) + 1):
        key = ids[0] if i == 2 else f"COALESCE({', '.join(ids[:i - 1])})"
        frm += f" FULL OUTER JOIN t{i} ON {key} = t{i}.doc_id"
    tfs = ", ".join(f"COALESCE(t{i}.tf, 0.0) tf{i}"
                    for i in range(1, len(terms) + 1))
    doc = f"COALESCE({', '.join(ids)})" if len(ids) > 1 else ids[0]
    ctes.append(f"j AS (SELECT {doc} doc_id, {tfs} FROM {frm})")
    score = " + ".join(
        f"((((st.n - d{i}.df) + 0.5) / (d{i}.df + 0.5)) * (tf{i} * 2.2)) "
        f"/ (tf{i} + 1.2 * (0.25 + ((0.75 * dl.dl) * st.n) / st.l))"
        for i in range(1, len(terms) + 1))
    ds = ", ".join(f"d{i}" for i in range(1, len(terms) + 1))
    return (f"WITH {', '.join(ctes)} SELECT j.doc_id, {score} AS score "
            f"FROM j JOIN dl ON j.doc_id = dl.doc_id AND dl.batch <= {batch}, "
            f"st, {ds} ORDER BY score DESC, j.doc_id LIMIT {k}")


def serve_tables(con, manifest, n_batches):
    """Base docs as batch 0, appended batch b as batch b + 1; token
    postings and doc lengths tokenized like the index (\\S+)."""
    con.execute(f"CREATE TABLE docs AS SELECT doc_id, text, 0 AS batch "
                f"FROM read_parquet({sql_str(manifest['docs'] + '/*.parquet')})")
    appends = [r for r in manifest["requests"] if r["op"] == "append"]
    for r in appends[:n_batches]:
        con.execute(f"INSERT INTO docs SELECT doc_id, text, {r['batch'] + 1} "
                    f"FROM read_parquet({sql_str(r['path'])})")
    con.execute("CREATE TABLE tok AS SELECT doc_id, batch, "
                "regexp_extract_all(text, '\\S+') t FROM docs")
    con.execute("CREATE TABLE dl AS SELECT doc_id, batch, "
                "CAST(len(t) AS DOUBLE) dl FROM tok")
    con.execute("CREATE TABLE post AS SELECT term, doc_id, batch, "
                "COUNT(*) tf FROM (SELECT doc_id, batch, unnest(t) term FROM tok) "
                "GROUP BY ALL ORDER BY term")


def ranked(rows):
    return [(int(d), repr(float(s))) for d, s in rows]


def check_serve(result, manifest, oracle_sql, k=10):
    bad = complete(result) + [
        f"oracle parenthesization changed: {p!r} not in "
        "TextIndex.oracles(text_search_ranked)"
        for p in ORACLE_PIECES if p not in oracle_sql]
    recs = result["outputs"]
    reqs = manifest["requests"]
    con = connect()
    n_batches = sum(1 for r in recs if r["op"] == "append")
    serve_tables(con, manifest, n_batches)
    emb = np.concatenate([np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                          for t in _parquet_tables(manifest["emb"])])
    ids = np.concatenate([t.column("vec_id").to_numpy()
                          for t in _parquet_tables(manifest["emb"])])
    unit = emb.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    n_text = n_hnsw = 0
    hits = total = 0
    twins = {}
    for rec in recs:
        req = reqs[rec["i"]]
        tag = f"request {rec['i']} {rec['op']}"
        if rec["op"] == "text":
            n_text += 1
            want = con.sql(ranked_twin_sql(req["terms"], rec["appended_before"],
                                           k)).fetchall()
            twins[rec["i"]] = want
            if ranked(rec["rows"]) != ranked(want):
                bad.append(f"{tag} {req['terms']}: {rec['rows'][:3]} != {want[:3]}")
        elif rec["op"] == "hnsw":
            n_hnsw += 1
            got = {}
            for qid, nid, rank, sim in rec["rows"]:
                got.setdefault(qid, []).append((rank, nid, sim))
            for qid, v in zip(req["ids"], req["vecs"]):
                q = np.asarray(v, dtype=np.float32).astype(np.float64)
                q /= np.linalg.norm(q)
                sims = unit @ q
                exact = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
                res = sorted(got.get(qid, []))
                if [r for r, _, _ in res] != list(range(1, len(res) + 1)):
                    bad.append(f"{tag} q{qid}: ranks {[r for r, _, _ in res]}")
                for _, nid, sim in res:
                    true = float(sims[np.searchsorted(ids, nid)])
                    if abs(sim - true) > 1e-9:
                        bad.append(f"{tag} q{qid}: sim({nid}) {sim} != {true}")
                        break
                hits += len(exact & {nid for _, nid, _ in res})
                total += k
    recall = hits / total if total else 0.0
    return n_text + n_hnsw, bad, {"recall": recall, "twins": twins,
                                  "n_text": n_text, "n_hnsw": n_hnsw}


def _parquet_tables(d):
    import pyarrow.parquet as pq
    return [pq.read_table(p) for p in sorted(glob.glob(f"{d}/*.parquet"))]


def self_test_serve(result, extra):
    for rec in result["outputs"]:
        want = extra["twins"].get(rec["i"])
        if want and len(want) >= 2 and ranked(rec["rows"]) == ranked(want):
            dropped = rec["rows"][:-1]
            altered = [list(r) for r in rec["rows"]]
            altered[0][1] = altered[0][1] * (1 + 1e-12)
            return [ranked(dropped) != ranked(want),
                    ranked(altered) != ranked(want)]
    return [False, False]


# --------------------------------------------------------- corpus_shards

STEPS = [  # (step output, its materialized input, Pipeline.oracles name)
    ("clean", None, "pipeline_clean_corpus"),
    ("split", "kept", "pipeline_split_leakage_safe"),
    ("pack", "train", "pipeline_pack"),
    ("manifest", "train", "pipeline_shard_manifest"),
]


def _parquet_rel(con, path):
    return con.sql(f"SELECT * FROM read_parquet({sql_str(path + '/*.parquet')})")


def _input_key(con, docs):
    rel = _parquet_rel(con, docs)
    return tuple(canon(rel.fetchall(), rel.columns))


def check_corpus(result, manifest, oracles):
    bad, n = complete(result), 0
    con = connect()
    expected = {}  # (step, input key) -> canonical oracle rows
    last = None
    for flow in result["outputs"]:
        for step, src, oracle in STEPS:
            docs = (f"{manifest['dir']}/documents.parquet" if src is None
                    else f"{flow['dir']}/{src}/documents.parquet")
            key = (step, _input_key(con, docs) if src else "corpus")
            if key not in expected:
                con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                            f"read_parquet({sql_str(docs + '/*.parquet')})")
                rel = con.sql(oracles[oracle])
                expected[key] = (list(rel.columns), canon(rel.fetchall(), rel.columns))
            cols, want = expected[key]
            got_rel = _parquet_rel(con, f"{flow['dir']}/{step}")
            got_rows = got_rel.fetchall()
            n += 1
            if sorted(got_rel.columns) != sorted(cols) or \
                    canon(got_rows, got_rel.columns) != want:
                bad.append(f"flow {flow['i']} {step}: {len(got_rows)} rows vs "
                           f"oracle {len(want)} (cols {sorted(got_rel.columns)} "
                           f"vs {sorted(cols)})")
            if step == "clean":
                last = (got_rows, list(got_rel.columns), want)
    return n, bad, {"clean": last}


def self_test_corpus(extra):
    if not extra.get("clean"):
        return [False, False]
    rows, cols, want = extra["clean"]
    if canon(rows, cols) != want or not rows:
        return [False, False]
    qi = cols.index("quality")
    altered = [list(r) for r in rows]
    altered[0][qi] = altered[0][qi] + 1e-9
    return [canon(rows[1:], cols) != want, canon(altered, cols) != want]
