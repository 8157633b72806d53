"""Seeded input generators for the three flow workloads.

One seed drives every generator. The same seed gives byte-identical
inputs; only contents change between seeds, never sizes or mixes, so
run-to-run spread across seeds measures the system, not the inputs.
Each generator writes its inputs under `out` and returns a manifest
(plain JSON) that the JVM side and the output checks both read.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- text

STOP = {
    "en": ["the", "and", "of", "to", "is", "in", "it", "a"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu"],
    "es": ["el", "los", "las", "una", "es", "y", "que"],
    "fr": ["le", "les", "et", "est", "une", "dans", "que"],
}
ALL_STOP = {w for ws in STOP.values() for w in ws}
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def vocabulary(rng, n):
    """n distinct lowercase pseudo-words, none of them a stopword."""
    out, seen = [], set(ALL_STOP)
    while len(out) < n:
        w = "".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Zipf:
    """Draw vocabulary ranks with weight 1/(rank+1)^s."""

    def __init__(self, rng, vocab, s):
        self.vocab = vocab
        w = np.array([1.0 / (i + 1) ** s for i in range(len(vocab))])
        self.cum = np.cumsum(w / w.sum())
        self.np = np.random.default_rng(rng.getrandbits(63))

    def words(self, n):
        idx = np.searchsorted(self.cum, self.np.random(n), side="right")
        idx = np.minimum(idx, len(self.vocab) - 1)
        return [self.vocab[i] for i in idx]


def sentence_text(rng, zipf, lang, n_words, stop_share):
    words = zipf.words(n_words)
    stops = STOP[lang]
    for i in range(n_words):
        if rng.random() < stop_share:
            words[i] = rng.choice(stops)
    # a period every ~12 words keeps punctuation light but present
    for i in range(11, n_words, 12):
        words[i] = words[i] + "."
    return " ".join(words)


def write_parquet_parts(table, path, n_parts):
    """One table as `n_parts` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = (n + n_parts - 1) // n_parts
    for p in range(n_parts):
        part = table.slice(p * step, step)
        pq.write_table(part, f"{path}/part-{p:05d}.parquet")


# ---------------------------------------------------------- upload_query

# (column name, declared type) — the generator's declared types are the
# ground truth TypeInference must reproduce.
SCHEMAS = [
    [("id", "integer"), ("qty", "integer"), ("price", "float"),
     ("name", "text"), ("city", "text"), ("note", "text")],
    [("id", "integer"), ("score", "float"), ("label", "text"),
     ("visits", "integer")],
    [("id", "integer"), ("city", "text"), ("lat", "float"),
     ("lon", "float"), ("pop", "integer"), ("note", "text")],
]

CITY = {
    "utf-8": ["Zürich", "São Paulo", "Kraków", "Malmö", "Reykjavík", "Berlin"],
    "cp1252": ["Café “Ost”", "Bistro – Süd", "Preis 5 €", "Crème", "Oslo"],
    "utf-16": ["Ørsted", "Łódź", "Καλαμάτα", "Zürich", "Lyon"],
    "latin-1": ["Café", "Zürich", "Señora", "Ångström", "Paris"],
}

# The upload stream, in order: (kind, rows, encoding). Every seed gets
# exactly this schedule; the seed picks contents and schemas only, so
# each run uploads the same sizes and encodings in the same order.
# `dogs` arrives three times, each from its own directory -> dogs,
# dogs_2, dogs_3; the multi-MB latin-1 file is ASCII for its first
# ~2.4 MB, past the 2 MiB sniff window (the widened ascii -> latin-1
# path).
STREAM = [
    ("kb", 200, "utf-8"), ("dogs", 150, "cp1252"), ("kb", 300, "utf-16"),
    ("mb_latin", 64000, "latin-1"), ("dogs", 150, "utf-8"),
    ("multiline", 80, "utf-8"), ("mb", 50000, "utf-8"),
    ("kb", 450, "cp1252"), ("dogs", 150, "utf-16"),
]
WARMUP = [("multiline", 80, "utf-8"), ("kb", 200, "cp1252"),
          ("kb", 300, "utf-16"), ("mb_latin", 25000, "latin-1")]
SAME_NAME = "dogs"


def _csv_field(v):
    if any(c in v for c in ',"\n'):
        return '"' + v.replace('"', '""') + '"'
    return v


def _csv_text(rng, npr, schema, rows, enc, latin_after=None, quoted_nl=False):
    """CSV text; ~5% of non-id cells empty. Numbers come from numpy,
    text cells from a seeded pool, so multi-MB files build quickly."""
    pool = ["".join(rng.choice(LETTERS) for _ in range(rng.randint(3, 12)))
            for _ in range(997)]
    # rows before `latin_after` stay ASCII
    first_accent = 0 if latin_after is None else latin_after
    cols = []
    for c, t in schema:
        if c == "id":
            cols.append([str(i + 1) for i in range(rows)])
            continue
        if t == "integer":
            v = [str(x) for x in npr.integers(-50000, 500000, size=rows)]
        elif t == "float":
            v = [f"{x:.3f}" for x in npr.uniform(-1000, 1000, size=rows)]
        else:
            pick = npr.integers(0, len(pool), size=rows)
            city = npr.integers(0, len(CITY[enc]), size=rows)
            accent = npr.random(rows) < 0.5
            v = [pool[pick[r]] + " " + CITY[enc][city[r]]
                 if accent[r] and r >= first_accent else pool[pick[r]]
                 for r in range(rows)]
            if quoted_nl:
                v[rows // 2] = "first line\nsecond line"
        empty = npr.random(rows) < 0.05
        cols.append(["" if empty[r] else v[r] for r in range(rows)])
    lines = [",".join(c for c, _ in schema)]
    lines += [",".join(_csv_field(col[r]) for col in cols) for r in range(rows)]
    return "\n".join(lines) + "\n"


def gen_upload(seed, out):
    """CSV files for the warmup database and the measured stream."""
    rng = random.Random(seed * 1000003 + 11)
    npr = np.random.default_rng(seed * 1000003 + 12)

    def add(sub, i, kind, rows, enc):
        name = {"dogs": SAME_NAME, "multiline": f"multiline_{sub}_{i}",
                "mb_latin": f"big_{sub}_{i}"}.get(kind, f"t_{sub}_{i}")
        d = f"{out}/csv/{sub}/{i:02d}"
        os.makedirs(d, exist_ok=True)
        path = f"{d}/{name}.csv"
        schema = SCHEMAS[0] if kind in ("dogs", "multiline", "mb_latin", "mb") \
            else rng.choice(SCHEMAS)
        text = _csv_text(rng, npr, schema, rows, enc,
                         latin_after=int(rows * 0.8) if kind == "mb_latin" else None,
                         quoted_nl=kind == "multiline")
        data = text.encode(enc)
        with open(path, "wb") as f:
            f.write(data)
        return {"path": path, "encoding": enc, "rows": rows, "bytes": len(data),
                "columns": [c for c, _ in schema],
                "types": [t for _, t in schema]}

    return {"warmup": [add("warm", i, *k) for i, k in enumerate(WARMUP)],
            "stream": [add("run", i, *k) for i, k in enumerate(STREAM)]}


# ----------------------------------------------------------- serve_mixed

SERVE_DOCS = 2000
SERVE_VOCAB = 8000
EMB_N = 2000
EMB_DIM = 32
EMB_PARTS = 4
APPEND_DOCS = 25
N_REQUESTS = 200
PATTERN = ["text", "hnsw"] * 4 + ["text", "append"] + ["hnsw", "text"] * 4 + \
    ["hnsw", "append"]


def gen_serve(seed, out):
    rng = random.Random(seed * 1000003 + 22)
    vocab = vocabulary(rng, SERVE_VOCAB)
    zipf = Zipf(rng, vocab, 1.0)
    ids = list(range(SERVE_DOCS))
    texts = [sentence_text(rng, zipf, "en", rng.randint(20, 80), 0.1)
             for _ in ids]
    write_parquet_parts(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                  "text": texts}),
                        f"{out}/docs.parquet", 4)

    npr = np.random.default_rng(seed * 1000003 + 23)
    centers = npr.normal(size=(64, EMB_DIM))
    lab = npr.integers(0, 64, size=EMB_N)
    emb = (centers[lab] + 0.35 * npr.normal(size=(EMB_N, EMB_DIM))).astype(np.float32)
    write_parquet_parts(pa.table({
        "vec_id": pa.array(np.arange(EMB_N), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32()))}),
        f"{out}/emb.parquet", EMB_PARTS)

    common = vocab[:40]
    rare = vocab[1500:6000]
    requests, next_doc, batch_no, qid = [], SERVE_DOCS, 0, 10_000_000
    n_text = 0
    for n_req in range(N_REQUESTS):
        # the op sequence is fixed (45% text, 45% hnsw, 10% append);
        # the seed picks terms, vectors and appended documents. Text
        # searches cycle through 1, 2 and 3 terms, so each round of the
        # pattern (9 searches) holds three of each and the median
        # search sits inside the 2-term group, not on a group's edge.
        op = PATTERN[n_req % len(PATTERN)]
        if op == "text":
            n = 1 + n_text % 3
            n_text += 1
            terms = []
            while len(terms) < n:
                w = rng.choice(common if len(terms) % 2 == 0 else rare)
                if w not in terms:
                    terms.append(w)
            requests.append({"op": "text", "terms": terms})
        elif op == "hnsw":
            n = 1 + (n_req * 5) % 8
            rows = npr.integers(0, EMB_N, size=n)
            q = emb[rows] + 0.2 * npr.normal(size=(n, EMB_DIM)).astype(np.float32)
            requests.append({"op": "hnsw", "ids": list(range(qid, qid + n)),
                             "vecs": [[float(x) for x in v.astype(np.float32)]
                                      for v in q]})
            qid += n
        else:
            path = f"{out}/append/b{batch_no:05d}.parquet"
            os.makedirs(os.path.dirname(path), exist_ok=True)
            d_ids = list(range(next_doc, next_doc + APPEND_DOCS))
            d_txt = [sentence_text(rng, zipf, "en", rng.randint(20, 80), 0.1)
                     for _ in d_ids]
            pq.write_table(pa.table({"doc_id": pa.array(d_ids, pa.int64()),
                                     "text": d_txt}), path)
            requests.append({"op": "append", "path": path, "batch": batch_no})
            next_doc += APPEND_DOCS
            batch_no += 1
    return {"docs": f"{out}/docs.parquet", "emb": f"{out}/emb.parquet",
            "n_docs": SERVE_DOCS, "n_emb": EMB_N, "dim": EMB_DIM,
            "pattern_len": len(PATTERN), "requests": requests}


# --------------------------------------------------------- corpus_shards

CORPUS_DOCS = 8000
CORPUS_PARTS = 16
CORPUS_VOCAB = 20000
SOURCES = 12


def gen_corpus(seed, out):
    """`documents` (doc_id, text, lang, source, n_chars).

    Mix: 70% en / 10% each de, es, fr; 15% low-quality (short, or
    stopword-starved); 8% exact and 8% near duplicates of earlier
    docs, each on a different source than its original; sources
    Zipf-skewed (the largest holds ~30%).
    """
    rng = random.Random(seed * 1000003 + 33)
    vocab = vocabulary(rng, CORPUS_VOCAB)
    zipf = Zipf(rng, vocab, 0.8)
    sw = np.array([1.0 / (i + 1) for i in range(SOURCES)])
    src_cum = np.cumsum(sw / sw.sum())

    def source():
        return f"src{int(np.searchsorted(src_cum, rng.random(), side='right'))}"

    rows = []
    for doc_id in range(CORPUS_DOCS):
        u = rng.random()
        if rows and u < 0.08:
            o = rng.choice(rows)
            src = source()
            while src == o[3]:
                src = source()
            rows.append((doc_id, o[1], o[2], src))
            continue
        if rows and u < 0.16:
            o = rng.choice(rows)
            w = o[1].split(" ")
            for _ in range(rng.randint(1, 2)):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            src = source()
            while src == o[3]:
                src = source()
            rows.append((doc_id, " ".join(w), o[2], src))
            continue
        v = rng.random()
        lang = "en" if v < 0.7 else "de" if v < 0.8 else "es" if v < 0.9 else "fr"
        q = rng.random()
        if q < 0.08:
            text = sentence_text(rng, zipf, lang, rng.randint(5, 20), 0.2)
        elif q < 0.15:
            text = sentence_text(rng, zipf, lang, rng.randint(60, 200), 0.01)
        else:
            text = sentence_text(rng, zipf, lang, rng.randint(60, 200), 0.2)
        rows.append((doc_id, text, lang, source()))
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64())})
    write_parquet_parts(table, f"{out}/corpus/documents.parquet", CORPUS_PARTS)
    return {"dir": f"{out}/corpus", "n_docs": CORPUS_DOCS}


GENERATORS = {"upload_query": gen_upload, "serve_mixed": gen_serve,
              "corpus_shards": gen_corpus}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, out)
    manifest["seed"] = seed
    manifest["workload"] = workload
    path = f"{out}/manifest.json"
    with open(path, "w") as f:
        json.dump(manifest, f)
    return manifest, path
