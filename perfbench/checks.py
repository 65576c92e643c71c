"""Output checks, run after the timed window. Each returns one ok flag per op
plus counters the metrics need. A mismatch fails the op, which counts
against `failed` in the result line.

- rag_ingest: the planted ground truth (summary counts, failure-reason
  histogram, chunk ids and vector-table size and content per slice).
- curate: `SparkEntry.oracleSql("curation_full")` replayed in DuckDB over
  the same generated inputs, cached by seed plus a hash of the SQL text.
- crawl_stream: the planted novel-document set, file by file.
"""
import glob
import hashlib
import json
import os
import re

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _dir_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


# ------------------------------------------------------------------ rag_ingest

def rag_vectors_fingerprint(con, out):
    return con.execute(
        f"SELECT count(*), bit_xor(hash(id, text, embedding::VARCHAR, meta::VARCHAR)) "
        f"FROM read_parquet('{out}/vectors/*.parquet')").fetchone()


def check_rag_op(con, out, truth):
    """Problems found in one ingest's outputs (empty when it is correct)."""
    problems = []
    v = f"read_parquet('{out}/vectors/*.parquet')"
    n, n_ids, n_exp0 = con.execute(
        f"SELECT count(*), count(DISTINCT id), count(*) FILTER (meta.experiment = 'exp0') FROM {v}"
    ).fetchone()
    chunks = truth["chunks"]
    ok_docs, prior = set(truth["ok_docs"]), set(truth["prior_docs"])
    expected = sum(chunks[d] for d in ok_docs | prior)
    if n != expected or n_ids != n:
        problems.append(f"vector table has {n} rows / {n_ids} ids, expected {expected}")
    exp0 = sum(chunks[d] for d in prior - ok_docs)
    if n_exp0 != exp0:
        problems.append(f"{n_exp0} rows kept from the existing table, expected {exp0}")
    per_doc = dict(con.execute(f"SELECT meta.doc_id, count(*) FROM {v} GROUP BY 1").fetchall())
    if per_doc != {d: chunks[d] for d in ok_docs | prior}:
        problems.append("chunks per document differ from the planted sections")
    bad_dim = con.execute(f"SELECT count(*) FROM {v} WHERE len(embedding) <> 64").fetchone()[0]
    if bad_dim:
        problems.append(f"{bad_dim} embeddings are not 64-dimensional")
    hist = dict(con.execute(
        f"SELECT reason, count(*) FROM read_csv('{out}/failures/*.csv', header=true, "
        f"all_varchar=true) GROUP BY 1").fetchall())
    if hist != truth["reasons"]:
        problems.append(f"failure reasons {hist} differ from {truth['reasons']}")
    summ = con.execute(f"SELECT * FROM read_json('{out}/summary/*.json')").fetchdf()
    got = {k: int(summ[k].iloc[0]) for k in truth["summary"]} if len(summ) == 1 else None
    if got != truth["summary"]:
        problems.append(f"summary {got} differs from {truth['summary']}")
    return problems


def check_rag(rec, truth):
    con = _con()
    ops = rec["ops"] + rec.get("trace", {}).get("ops", [])
    ok = [not check_rag_op(con, o["out"], truth) for o in ops]
    # a traced ingest calls the layers one by one; its vector table must
    # equal the composed lifecycle's
    ref = rag_vectors_fingerprint(con, rec["ops"][0]["out"])
    for i in range(len(rec["ops"]), len(ops)):
        ok[i] = ok[i] and rag_vectors_fingerprint(con, ops[i]["out"]) == ref
    last = rec["ops"][-1]["out"]
    return ok, {"output_bytes": float(_dir_bytes(f"{last}/vectors") + _dir_bytes(f"{last}/failures"))}


# ------------------------------------------------------------------ curate

def materialize_ctes(sql):
    """Mark every non-recursive CTE MATERIALIZED. DuckDB otherwise inlines a
    CTE at each reference, and the oracle's recursive components step then
    re-derives the whole chain above it on every iteration (minutes for a
    thousand documents). Materializing changes no result, only how often
    each CTE is evaluated."""
    return re.sub(r"\b(\w+) AS \((?=\s*(SELECT|WITH)\b)", r"\1 AS MATERIALIZED (", sql)


def curate_oracle(in_dir, seed, sql, cache_dir):
    """The oracle's answer, cached by seed plus a hash of the SQL text and
    of the generated corpus (so a changed generator cannot hit a stale entry)."""
    h = hashlib.sha256(sql.encode())
    with open(f"{in_dir}/documents.parquet", "rb") as f:
        h.update(f.read())
    path = os.path.join(cache_dir, f"curate-{seed}-{h.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    con = _con()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{in_dir}/documents.parquet'")
    rows = sorted(con.execute(materialize_ctes(sql)).fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


CURATE_COLS = "source, doc_id, cluster_size, n_tokens, quality_score, cum_tokens"


def check_curate(rec, cache_dir, in_dir):
    expected = curate_oracle(in_dir, rec["seed"], rec["summary"]["oracle_sql"], cache_dir)
    con = _con()
    ok = []
    for o in rec["ops"] + rec.get("trace", {}).get("ops", []):
        got = sorted(con.execute(
            f"SELECT {CURATE_COLS} FROM read_parquet('{o['out']}/*.parquet')").fetchall())
        ok.append(got == expected)
    return ok, {}


# ------------------------------------------------------------------ crawl_stream

def check_crawl(rec, truth):
    con = _con()
    ops = rec["ops"] + rec.get("trace", {}).get("ops", [])
    files = {f["name"]: f for f in truth["files"]}
    novel = set(truth["novel"])
    outs = {}
    ok = []
    for o in ops:
        if o["end_ms"] is None:
            ok.append(False)
            continue
        out = o["out"]
        if out not in outs:
            paths = glob.glob(f"{out}/b*/*.parquet")
            ids = [r[0] for r in con.execute(
                f"SELECT doc_id FROM read_parquet({paths!r})").fetchall()] if paths else []
            outs[out] = (set(ids), len(ids) != len(set(ids)))
        got, dup = outs[out]
        f = files[o["file"]]
        mine = set(range(f["first_id"], f["last_id"] + 1))
        ok.append(not dup and (mine & got) == (mine & novel))
    return ok, {}


def run(rec, truth, cache_dir, in_dir):
    w = rec["workload"]
    if w == "rag_ingest":
        return check_rag(rec, truth)
    if w == "curate":
        return check_curate(rec, cache_dir, in_dir)
    return check_crawl(rec, truth)
