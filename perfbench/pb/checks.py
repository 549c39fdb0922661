"""Output checks, run after the engine process has exited (outside every
timed window) on results that were fully collected or written.

Each check function returns a list of failure descriptions; the number of
failures is the run's `wrong_results`.
"""
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

from . import inputs

OLAP_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]
JACCARD_THRESHOLD = 0.2   # Dedup.minhashPairs' default
RECALL_FLOOR = 0.9        # share of planted pairs the LSH must find


def _norm():
    """The value normalisation of the repo's DuckDB parity checker."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    sys.path.insert(0, os.path.join(root, "tools"))
    from check_oracle import norm
    return norm


def _same_across(values, what):
    return [] if len({json.dumps(v, sort_keys=True) for v in values}) <= 1 \
        else [f"{what} differs between passes"]


def olap(in_dir, out_dir, checks):
    """Each query's warm-up result equals its DuckDB oracle (the compare of
    tools/check_oracle.py), and every timed pass returned the same rows."""
    norm = _norm()
    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in OLAP_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "olap", "oracle_sql.json")))
    bad = []
    for q, sql in sorted(oracle.items()):
        got = con.sql(f"SELECT * FROM '{out_dir}/olap/{q}/*.parquet'")
        want = con.sql(sql)
        gc, wc = sorted(got.columns), sorted(want.columns)
        rows = lambda rel, cols: [tuple(norm(x) for x in r) for r in
                                  rel.df()[cols].itertuples(index=False)]
        if gc != wc:
            bad.append(f"{q}: columns {gc} != oracle {wc}")
        elif rows(got, gc) != rows(want, wc):
            bad.append(f"{q}: rows differ from the oracle")
        passes = checks.get(f"pass:{q}", [])
        if any(d != checks[f"warm:{q}"] for d in passes):
            bad.append(f"{q}: a timed pass returned other rows")
    return bad


def corpus(in_dir, checks):
    """Every emitted pair has exact Jaccard >= the threshold; the planted
    near-duplicates are found at or above the recall floor; pairs,
    accounting and the export manifest are identical across passes."""
    docs = pq.read_table(os.path.join(in_dir, "documents.parquet"),
                         columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    pairs = checks["warm:pairs"]
    bad = [f"pair ({a}, {b}) has Jaccard {inputs.jaccard(text[a], text[b]):.4f}"
           for a, b, _ in pairs
           if inputs.jaccard(text[a], text[b]) < JACCARD_THRESHOLD][:5]
    emitted = {(a, b) for a, b, _ in pairs}
    planted = {tuple(sorted(p)) for p in
               json.load(open(os.path.join(in_dir, "planted.json")))}
    recall = len(planted & emitted) / len(planted) if planted else 1.0
    if recall < RECALL_FLOOR:
        bad.append(f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
    bad += _same_across([checks["warm:pairs_digest"]] +
                        checks.get("pass:pairs", []), "pair list")
    for key in ("accounting", "manifest"):
        bad += _same_across(checks.get(f"pass:{key}", []), key)
    return bad


def kmeans(checks):
    """Per-k iterations, silhouettes (so the best k) are identical across
    passes, and a lone KMeans.fit of one k matches its sweep entry."""
    sweeps = checks.get("pass:sweep", [])
    bad = _same_across(sweeps, "sweep result")
    fit = checks["fit"]
    for k, _, iters, conv in (sweeps[0] if sweeps else []):
        if k == fit["k"] and (iters, conv) != (fit["iterations"],
                                               fit["converged"]):
            bad.append(f"KMeans.fit k={k} ran {fit['iterations']} rounds, "
                       f"the sweep {iters}")
    return bad


def stream_oracle(in_dir):
    """Batch oracle of the stream's final state: over the distinct events
    (by id), per user the event count, the value sum in cents and the
    latest event time."""
    con = duckdb.connect()
    rows = con.sql(f"""
        WITH e AS (SELECT DISTINCT event_id, ts, user_id, value
                   FROM '{in_dir}/events.parquet')
        SELECT user_id, count(*), sum(CAST(round(value * 100) AS BIGINT)),
               max(ts)
        FROM e GROUP BY ALL""").fetchall()
    return {u: (n, c, t) for u, n, c, t in rows}


def stream(oracle, emits):
    """The final state (last update per key over every emitted batch)
    equals the batch oracle over the same generated events (the q312
    parity law)."""
    state = {}
    for e in sorted(emits, key=lambda e: e["batch_id"]):
        for user, n, total, last_ts in e["rows"]:
            state[user] = (n, round(total * 100), last_ts)
    if state == oracle:
        return []
    diff = [k for k in set(state) | set(oracle) if state.get(k) != oracle.get(k)]
    return [f"final state differs from the batch oracle on {len(diff)} keys"]
