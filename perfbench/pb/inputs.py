"""Seeded input generators for the four workloads.

Every generator is a pure function of (seed, size): numpy's PCG64 stream
drives every draw, and pyarrow writes parquet with statistics and the
writer's version string only, so the same seed gives byte-identical files.
The engine receives only these files; the seed never reaches it.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes fixed by the benchmark (see perfbench/README.md for why).
OLAP_LINEITEMS = 60_000          # the sf0.01 shape: 15k orders, 1.5k customers
CORPUS_DOCS = 2_000
CORPUS_DUP_SHARE = 0.25          # planted near-duplicates, share of the corpus
KMEANS_POINTS = 22_000           # the paper's pickup count
KMEANS_SPREAD_DEG = 0.004        # hot-spot spread: sets the cell count
STREAM_RATE = 10_000             # offered events/s
STREAM_DUP_SHARE = 0.05          # re-delivered events (same event_id)
STREAM_LATE_SHARE = 0.10         # events stamped up to STREAM_LATE_EVENT_S late
STREAM_LATE_EVENT_S = 120        # event-time lateness bound (< dedup delay)
STREAM_EVENT_S_PER_EVENT = 0.25  # event time advances 0.25 s per event

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_WORDS = ["agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "value", "vector", "window", "the",
          "a", "of", "and", "to", "in", "is", "it", "for", "an"]


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   write_statistics=True, store_schema=False)


def _days(rng, n, start, end):
    lo = (np.datetime64(start, "D") - _EPOCH_DAY).astype(np.int64)
    hi = (np.datetime64(end, "D") - _EPOCH_DAY).astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _cents(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def olap_tables(out_dir, seed, lineitems=OLAP_LINEITEMS):
    """The harness star schema (FIXTURES.md section B) at `lineitems` rows:
    uniform independent draws over the same domains as the repo fixtures,
    so the literals in the TPC-H topology queries select similar shares."""
    rng = _rng(seed, 1)
    n_cust, n_supp = lineitems // 40, max(10, lineitems // 600)
    n_part, n_ord = lineitems // 30, lineitems // 4
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99)}),
    }
    colors = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    names = [f"{c} {n}" for c in colors for n in nouns]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    n = lineitems
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"lineitem_rows": n, "orders_rows": n_ord}


def _shingles(tokens, n=3):
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a, b):
    """Exact Jaccard of two documents' whitespace-token 3-gram sets —
    the set `graft_shingles(text, 3)` builds."""
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def corpus(out_dir, seed, docs=CORPUS_DOCS, dup_share=CORPUS_DUP_SHARE):
    """`documents`-schema corpus in which `dup_share` of the documents are
    edited copies of an earlier document (about 6% of tokens replaced,
    plus a short tail), so each planted pair shares most 3-gram shingles.
    Writes documents.parquet and planted.json (the (source, copy) pairs)."""
    rng = _rng(seed, 2)
    texts, planted = [], []
    for i in range(docs):
        if i >= 20 and rng.random() < dup_share:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            for j in rng.choice(len(toks), max(1, len(toks) // 16), replace=False):
                toks[j] = _WORDS[rng.integers(0, len(_WORDS))]
            toks += [_WORDS[k] for k in rng.integers(0, len(_WORDS), 3)]
            planted.append([src, i])
        else:
            toks = [_WORDS[k] for k in rng.integers(0, len(_WORDS),
                                                    int(rng.integers(24, 120)))]
        texts.append(" ".join(toks))
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    _write(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, langs, docs),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out_dir, "documents.parquet"))
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f)
    return {"docs": docs, "planted_pairs": len(planted)}


def pickup_cells(out_dir, seed, points=KMEANS_POINTS):
    """Pickup-like points around Manhattan from a seeded mixture of 12
    hot spots, rounded to 3 dp HALF_UP and grouped into weighted cells
    (lat, lon, cnt) — the reference's PopulatePt prep."""
    rng = _rng(seed, 3)
    centers = np.column_stack([rng.uniform(40.60, 40.85, 12),
                               rng.uniform(-74.05, -73.75, 12)])
    which = rng.integers(0, 12, points)
    pts = centers[which] + rng.normal(0.0, KMEANS_SPREAD_DEG, (points, 2))
    # HALF_UP at 3 dp on the millidegree grid (values are never negative
    # ties here: 1e-9 nudges exact .xxx5 upward in magnitude)
    milli = np.floor(np.abs(pts) * 1000 + 0.5 + 1e-9) * np.sign(pts)
    cells, cnt = np.unique(milli.astype(np.int64), axis=0, return_counts=True)
    _write(pa.table({"lat": cells[:, 0] / 1000.0, "lon": cells[:, 1] / 1000.0,
                     "cnt": pa.array(cnt, pa.int64())}),
           os.path.join(out_dir, "cells.parquet"))
    return {"points": points, "cells": int(len(cells))}


def stream_events(out_dir, seed, seconds, rate=STREAM_RATE):
    """The offered event schedule for `seconds` of open-loop load at `rate`
    events/s, in the `events` schema plus `due_ns` (when the generator must
    append the row, relative to the stream start). A share is re-delivered
    later with the same event_id; a share carries an event time up to
    STREAM_LATE_EVENT_S behind the stream's head (out of order, but inside
    the watermark, so the final state must equal the batch oracle)."""
    rng = _rng(seed, 4)
    n = int(seconds * rate)
    due = np.sort(rng.uniform(0.0, seconds, n))
    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns
    ts = base + (np.arange(n) * STREAM_EVENT_S_PER_EVENT * 1e9).astype(np.int64)
    late = rng.random(n) < STREAM_LATE_SHARE
    ts[late] -= rng.integers(1, STREAM_LATE_EVENT_S, late.sum()) * 1_000_000_000
    ids = np.arange(n, dtype=np.int64)
    users = rng.integers(0, 500, n)
    types = np.asarray(["click", "error", "purchase", "signup", "view"],
                       dtype=object)[rng.integers(0, 5, n)]
    values = rng.integers(1, 50_000, n) / 100.0
    props = np.asarray([f'{{"k": {k}}}' for k in range(100)],
                       dtype=object)[rng.integers(0, 100, n)]
    # re-deliveries: a copy of an earlier event, due up to 0.5 s later
    dup = np.flatnonzero(rng.random(n) < STREAM_DUP_SHARE)
    redue = np.minimum(due[dup] + rng.uniform(0.01, 0.5, len(dup)),
                       np.nextafter(seconds, 0))
    order = np.argsort(np.concatenate([due, redue]), kind="stable")
    pick = np.concatenate([np.arange(n), dup])[order]
    all_due = np.concatenate([due, redue])[order]
    _write(pa.table({
        "event_id": pa.array(ids[pick], pa.int64()),
        "ts": pa.array(ts[pick], pa.int64()),
        "user_id": pa.array(users[pick], pa.int64()),
        "event_type": pa.array(types[pick], pa.string()),
        "value": values[pick],
        "props": pa.array(props[pick], pa.string()),
        "due_ns": pa.array((all_due * 1e9).astype(np.int64), pa.int64())}),
        os.path.join(out_dir, "events.parquet"))
    return {"events": n, "deliveries": int(len(pick)), "rate": rate}
