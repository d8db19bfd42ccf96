"""Output checks made apart from the program, with DuckDB.

For a registry workload's run directory (`dumps/<query>/` parquet of the
last pass's outputs, `oracle_sql.json` with the queries' DuckDB twins):

- every query with a twin: the twin's result over the same input files
  must match the dump, column types first, then values in emitted order
  (the comparison `tools/check_oracle.py` makes);
- queries with no twin: properties recomputed from the inputs.

`check(data_dir, run_dir)` returns a list of (query, problem) pairs.
"""
import json
import os
import sys

import duckdb
import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracle import TABLES, table_of, type_eq  # noqa: E402

# DuckDB twins of the operations the harness itself builds
TWINS = {"stream_tumbling": """
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts),
                    '%Y-%m-%d %H:%M:%S') AS bucket,
           event_type, count(*) AS n
    FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type"""}
# Recall floors: every planted (source, copy) pair at or above this exact
# similarity must be reported. The banding misses such a pair with a
# probability of about 5e-6 or less: MinHash, 8 bands of 2 rows,
# (1 - 0.9^2)^8 = 1.7e-6; SRP-LSH, 16 bands of 4 bits, at cosine 0.9
# (angle 0.451) (1 - 0.856^4)^16 = 4.3e-6.
SURE_JACCARD = 0.9
SURE_COSINE = 0.9


def twin(con, sql, dump):
    oschema, orows = table_of(con, sql)
    sschema, srows = table_of(con, f"SELECT * FROM read_parquet('{dump}/*.parquet')")
    if [c for c, _ in oschema] != [c for c, _ in sschema]:
        return f"columns: twin {oschema} program {sschema}"
    bad = [(o, s) for o, s in zip(oschema, sschema) if not type_eq(o[1], s[1])]
    if bad:
        return f"types (twin, program): {bad}"
    if len(orows) != len(srows):
        return f"rows: twin {len(orows)} program {len(srows)}"
    for i, (o, s) in enumerate(zip(orows, srows)):
        if o != s:
            return f"row {i}: twin {o} program {s}"
    return None


def rows(con, sql):
    return con.execute(sql).fetchall()


def shingles(text):
    w = text.lower().split(" ")
    if len(w) < 3:
        return {text.lower()}
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def prop_dedup_exact(con, dump):
    """One row per duplicate group, the group's smallest id, input ids
    only, and the group sizes add up to the input."""
    bad = rows(con, f"""
        WITH g AS (SELECT sha256(lower(trim(text))) AS h, min(doc_id) AS keep,
                          count(*) AS n FROM documents GROUP BY 1),
             o AS (SELECT * FROM read_parquet('{dump}/*.parquet'))
        SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM o),
               (SELECT count(*) FROM o JOIN g ON o.doc_id = g.keep
                  AND o.content_hash = g.h AND o.n_copies = g.n),
               (SELECT count(*) FROM o WHERE doc_id NOT IN
                  (SELECT doc_id FROM documents)),
               (SELECT sum(n_copies) FROM o), (SELECT count(*) FROM documents)""")[0]
    groups, out, matched, foreign, copies, inputs = bad
    if not (groups == out == matched and foreign == 0 and copies == inputs):
        return (f"groups {groups}, rows {out}, matching a group's first id "
                f"{matched}, foreign ids {foreign}, copies {copies} of {inputs}")
    return None


def _emb(con):
    ids, vecs = zip(*rows(con, "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"))
    e = np.array(vecs, dtype=np.float64)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return {i: k for k, i in enumerate(ids)}, e


def missed(planted, reported, sim, floor):
    """The planted pairs at or above `floor` that were not reported."""
    sure = [(a, b) for a, b in planted if sim(a, b) >= floor]
    lost = [p for p in sure if p not in reported]
    if not sure:
        return "no planted pair reaches the recall floor"
    if lost:
        return (f"{len(lost)} of {len(sure)} planted pairs with similarity "
                f">= {floor} not reported, first {lost[0]}")
    return None


def prop_embcos_lsh(con, dump, planted):
    """Every pair is a<b, both input ids, and its exact cosine (recomputed)
    meets the 0.35 threshold and equals the reported value; every planted
    pair with cosine >= SURE_COSINE is reported."""
    at, e = _emb(con)
    out = rows(con, f"SELECT a_id, b_id, cos_sim FROM read_parquet('{dump}/*.parquet')")
    for a, b, c in out:
        if a >= b or a not in at or b not in at:
            return f"pair ({a}, {b}) is not an ordered pair of input ids"
        exact = float(e[at[a]] @ e[at[b]])
        if exact < 0.35 - 1e-9 or abs(exact - c) > 1e-5:
            return f"pair ({a}, {b}): reported {c}, exact cosine {exact}"
    return missed(planted, {(a, b) for a, b, _ in out},
                  lambda a, b: float(e[at[a]] @ e[at[b]]), SURE_COSINE)


def _docs(con):
    return {i: shingles(t) for i, t in rows(con, "SELECT doc_id, text FROM documents")}


def prop_minhash_native(con, dump, docs, planted):
    """Every pair's exact shingle Jaccard meets 0.3 and equals the
    reported value; every planted pair with Jaccard >= SURE_JACCARD is
    reported."""
    out = rows(con, f"SELECT a_id, b_id, jaccard FROM read_parquet('{dump}/*.parquet')")
    for a, b, j in out:
        exact = jaccard(docs[a], docs[b])
        if a >= b or exact < 0.3 - 1e-9 or abs(exact - j) > 1e-5:
            return f"pair ({a}, {b}): reported {j}, exact {exact}"
    return missed(planted, {(a, b) for a, b, _ in out},
                  lambda a, b: jaccard(docs[a], docs[b]), SURE_JACCARD)


def check(data_dir, run_dir):
    con = duckdb.connect()
    for t in TABLES:
        if os.path.isfile(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = dict(json.load(f), **TWINS)
    with open(os.path.join(data_dir, "planted.json")) as f:
        planted = {k: [tuple(p) for p in v] for k, v in json.load(f).items()}
    with open(os.path.join(run_dir, "queries.json")) as f:
        names = json.load(f)
    dumps = os.path.join(run_dir, "dumps")
    path = lambda n: os.path.join(dumps, n)
    problems = []
    for n in names:
        if not os.path.isdir(path(n)):
            problems.append((n, "no output dump"))
            continue
        try:
            if n in oracle:
                p = twin(con, oracle[n], path(n))
            elif n == "q_dedup_embcos_lsh":
                p = prop_embcos_lsh(con, path(n), planted["vecs"])
            elif n == "q_dedup_minhash_native":
                p = prop_minhash_native(con, path(n), _docs(con), planted["docs"])
            else:
                p = "no twin and no property check"
            if p is None and n == "q_dedup_exact":
                p = prop_dedup_exact(con, path(n))
        except Exception as e:  # a check that cannot run is a failure
            p = f"check error: {e}"
        if p:
            problems.append((n, p))
    return problems
