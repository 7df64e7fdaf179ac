"""Seeded input generators for the graft benchmark.

Every function takes a ``random.Random`` seeded from ``--seed`` and writes
files under one directory; the same seed gives byte-identical files.  Each
generator returns the truth the correctness checks compare against.
"""

import os

WORDS = ("data table query spark value row column index batch merge stream "
         "join filter sort group order key hash part line scan window fast "
         "slow small big vector model token shard cache plan stage task node "
         "graph field record schema parse write read load store fetch split "
         "bucket sketch sample score rank match phrase count").split()
STOP = "the and of to is in it a".split()


def _word(r):
    return r.choice(WORDS)


def _text(r, n):
    return " ".join(r.choice(STOP) if r.random() < 0.25 else _word(r)
                    for _ in range(n))


# ---------------------------------------------------------------- curate

def curate(r, out, n_docs, n_files, n_vec=2000, dim=64):
    """documents.parquet as ``n_files`` files with planted exact copies,
    near duplicates (one word changed in a long document) and
    boilerplate; embeddings.parquet with loosely clustered vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs = os.path.join(out, "documents.parquet")
    os.makedirs(docs, exist_ok=True)
    boiler = [_text(r, 12) for _ in range(5)]
    texts, near = [], []
    n_exact = 0
    while len(texts) < n_docs:
        u = r.random()
        if u < 0.05 and texts:
            texts.append(texts[r.randrange(len(texts))])
            n_exact += 1
        elif u < 0.10 and texts:
            src = r.randrange(len(texts))
            w = texts[src].split(" ")
            if len(w) >= 60:
                i = r.randrange(len(w))
                w[i] = f"x{len(texts)}{w[i]}"  # unique: no two variants equal
                near.append((src, len(texts)))
                texts.append(" ".join(w))
        elif u < 0.15:
            texts.append(r.choice(boiler) + " " + _text(r, r.randint(5, 30)))
        else:
            texts.append(_text(r, r.randint(30, 140)))
    langs = ["en"] * len(texts)
    per = (len(texts) + n_files - 1) // n_files
    for f in range(n_files):
        lo, hi = f * per, min(len(texts), (f + 1) * per)
        t = pa.table({
            "doc_id": pa.array(range(lo, hi), pa.int64()),
            "text": pa.array(texts[lo:hi]),
            "lang": pa.array(langs[lo:hi]),
            "source": pa.array([f"src{i % 7}" for i in range(lo, hi)]),
            "n_chars": pa.array([len(x) for x in texts[lo:hi]], pa.int64()),
        })
        pq.write_table(t, os.path.join(docs, f"part-{f:03d}.parquet"))
    # ten loose clusters: same-cluster cosine similarity around 0.4
    centers = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for i in range(n_vec):
        c = r.randrange(10)
        vecs.append([centers[c][j] + r.gauss(0, 1.2) for j in range(dim)])
        labels.append(c)
    emb = os.path.join(out, "embeddings.parquet")
    os.makedirs(emb, exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(emb, "part-000.parquet"))
    return {"n_docs": len(texts), "n_exact_planted": n_exact,
            "near_pairs": near, "n_vec": n_vec}


# ------------------------------------------------------------- stream_rw

STREAM_ROWS = 200


def stream_rw(r, out, n_initial, n_files):
    """CSV files the generator drops in order; file i holds keys
    [i*STREAM_ROWS, (i+1)*STREAM_ROWS)."""
    os.makedirs(out, exist_ok=True)
    for i in range(n_initial + n_files):
        lines = ["id,sensor,reading,tag"]
        for k in range(i * STREAM_ROWS, (i + 1) * STREAM_ROWS):
            lines.append(f"{k},{r.randrange(40)},{r.uniform(-50, 50):.4f},"
                         f"{_word(r)}")
        with open(os.path.join(out, f"part-{i:05d}.csv"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    return {"n_initial": n_initial, "n_files": n_files,
            "rows_per_file": STREAM_ROWS}

