"""Correctness checks for the graft benchmark, run after the JVM exits.

``run`` returns ``(verdicts, extra)``: a list of ``(check name, passed)``
and the figures the metrics need (visibility latencies, per-layer
derived values).  Reference results come from DuckDB over the same
generated files.
"""

import decimal
import os

import duckdb


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def _dir_mb(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith(".")) / 1e6


def run(workload, res, truth, inputs):
    con = duckdb.connect()
    try:
        return {"curate": _curate,
                "stream_rw": _stream}[workload](con, res, truth, inputs)
    finally:
        con.close()


# ----------------------------------------------------------------- curate

def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _canon(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order)
                                for r in rel.fetchall())


def _curate(con, res, truth, inputs):
    corpus = os.path.join(inputs, "curate")
    out = res["checks"]["out"]
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"{_parquet(os.path.join(corpus, t + '.parquet'))}")
    verdicts = []
    pairs_found = set()
    for row, sql in sorted(res["checks"]["oracles"].items()):
        got = con.sql(f"SELECT * FROM {_parquet(os.path.join(out, row))}")
        if row == "dedup_minhash":
            cols = list(got.columns)
            got_rows = got.fetchall()
            a, b = cols.index("doc_id_a"), cols.index("doc_id_b")
            pairs_found = {(r[a], r[b]) for r in got_rows}
            exact = con.sql(sql)
            ecols = list(exact.columns)
            ea, eb = ecols.index("doc_id_a"), ecols.index("doc_id_b")
            exact_pairs = {(r[ea], r[eb]) for r in exact.fetchall()}
            # LSH may miss a pair but must never report one the exact
            # Jaccard join rejects
            verdicts.append(("dedup_minhash pairs are exact near-duplicates",
                             bool(pairs_found) and pairs_found <= exact_pairs))
            continue
        verdicts.append((f"{row} matches its oracle",
                         _canon(got) == _canon(con.sql(sql))))
    # recall of the approximate rows is reported next to their time, not
    # gated: how close an approximate answer gets depends on the data
    planted = {(min(a, b), max(a, b)) for a, b in truth["near_pairs"]}
    recall = len(planted & pairs_found) / max(1, len(planted))
    copies = con.sql(f"SELECT SUM(n_copies - 1) FROM "
                     f"{_parquet(os.path.join(out, 'dedup_exact'))}").fetchone()[0]
    verdicts.append(("dedup_exact duplicate count equals planted",
                     copies == truth["n_exact_planted"]))
    ann_recall, per_query = _ann_recall(con, out)
    verdicts.append(("ann_hnsw returns 10 distinct neighbours per query",
                     bool(per_query) and all(n == 10 for n in per_query)))
    return verdicts, {"layer": {
        "operators.dedup_minhash.recall": recall,
        "operators.dedup_minhash.planted_pairs": len(planted),
        "operators.ann_hnsw.recall_at_10": ann_recall,
        "curate.corpus_mb": _dir_mb(corpus),
    }}


def _ann_recall(con, out):
    """Share of the exact cosine top-10 neighbours (the query itself
    excluded, as the operator excludes it) that ann_hnsw returned."""
    got = con.sql(f"SELECT query_id, neighbor_id FROM "
                  f"{_parquet(os.path.join(out, 'ann_hnsw'))}").fetchall()
    per_query = {}
    for q, n in set(got):
        per_query[q] = per_query.get(q, 0) + (n != q)
    if not got:
        return 0.0, []
    queries = sorted({q for q, _ in got})
    qs = ", ".join(str(q) for q in queries)
    exact = con.sql(f"""
        WITH q AS (SELECT vec_id qid, embedding qe FROM embeddings
                   WHERE vec_id IN ({qs})),
        s AS (SELECT qid, vec_id, list_cosine_similarity(qe, embedding) sim
              FROM q, embeddings WHERE vec_id <> qid)
        SELECT qid, vec_id FROM (SELECT *, row_number() OVER
            (PARTITION BY qid ORDER BY sim DESC, vec_id) rn FROM s)
        WHERE rn <= 10""").fetchall()
    hit = len(set(exact) & set(got))
    return hit / max(1, len(exact)), list(per_query.values())


# -------------------------------------------------------------- stream_rw

def _stream(con, res, truth, inputs):
    c = res["checks"]
    rows_per = truth["rows_per_file"]
    verdicts = [
        ("final row count equals rows generated",
         c["final_rows"] == c["files_total"] * rows_per),
        ("no duplicate rows (exactly-once)",
         c["distinct_ids"] == c["final_rows"]),
    ]
    counts = [r[2] for r in c["reads"]]
    verdicts.append(("reader row count never decreases",
                     all(b >= a for a, b in zip(counts, counts[1:]))))
    visible, late, backlog = [], [], 0
    end = c["window_end_ms"]
    for idx, due, actual in c["drops"]:
        need = (idx + 1) * rows_per
        seen = next((r[1] for r in c["reads"] if r[2] >= need
                     and r[0] >= actual), None)
        if seen is None:
            verdicts.append((f"file {int(idx)} became visible", False))
            continue
        visible.append((seen - due) / 1e3)
        late.append((actual - due) / 1e3)
        if due <= end < seen:
            backlog += 1
    verdicts.append(("every dropped file became visible",
                     len(visible) == len(c["drops"]) and len(visible) > 0))
    # ingest throughput: CSV MB dropped in the window over the time the
    # ingest spent in processAllAvailable, summed over the window's cycles
    mb = sum(os.path.getsize(os.path.join(inputs, "stream", f"part-{int(i):05d}.csv"))
             for i, _, _ in c["drops"]) / 1e6
    cycles = c["cycles"]
    process_s = sum(cy[2] for cy in cycles)
    return verdicts, {
        "visible_s": visible or [float("nan")],
        "ingest_mb_per_s": mb / process_s,
        "layer": {
            "stream_rw.backlog_end_files": backlog,
            "stream_rw.generator_late_s": max(late, default=0.0),
            "streaming.files_per_cycle": len(c["drops"]) / max(1, len(cycles)),
            "streaming.cycles_in_window": len(cycles),
            "catalog.tables": c["tables"],
        }}

