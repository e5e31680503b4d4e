"""Seeded input generator for the lakebench workloads.

Two kinds of input, both a pure function of the seed:

* the catalog tables (`region` .. `embeddings`): the star schema and
  vocabulary the `SparkEntry.queries` catalog is written against, one
  parquet file per table, scaled by a TPC-H style scale factor;
* pipeline candidate batches (`url, title, content, published_date,
  connector, connector_rank`) built from a generated `documents` table,
  with fixed shares of re-delivered URLs, out-of-window dates and null
  dates, plus the counts those shares imply for the scan job.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

# The pipeline's clock: every candidate date is relative to it, and the
# engine is handed the same instant, so the recency window is exact.
NOW = dt.datetime(2026, 1, 15, 12, 0, 0)
WINDOW_DAYS = 30
URL_PREFIX = "https://eur-lex.europa.eu/eli/doc/"     # binding tier: auto-accepted
REVIEW_PREFIX = "https://kba.de/notices/"             # official signal: routed to review

# candidate shares (of a batch's first deliveries)
SHARE_REDELIVERED = 0.10   # same URL again from a second connector (D1)
SHARE_STALE = 0.10         # published before the 30-day window (dropped)
SHARE_NULL_DATE = 0.05     # null published_date (P9: kept)
SHARE_REVIEW = 0.20        # URL on a non-binding domain (review queue)

EPOCH = dt.datetime(1970, 1, 1)


def _days(d):
    return (d - EPOCH).days


def _ts_us(start, end_exclusive, n, rng):
    """n uniform whole-day timestamps in [start, end) as epoch micros."""
    lo, hi = _days(start), _days(end_exclusive)
    return rng.integers(lo, hi, n).astype(np.int64) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Word-salad texts of 10..100 words; about 5% repeat an earlier
    text with a trailing ` dup` (the near-duplicate queries' signal)."""
    out = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            out.append(out[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            out.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return out


def documents(rng, n):
    text = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, 5, n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def catalog_tables(seed, sf):
    """The ten catalog tables at scale factor `sf`, as name -> pa.Table."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(20, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_cust)], pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array([PTYPES[j] for j in rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    ts = pa.timestamp("us")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_ts_us(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2), n_ord, rng), ts),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_ord)], pa.string())})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(_ts_us(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5), n_li, rng), ts)})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + \
        _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_us.astype(np.int64), ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(60.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)], pa.string())})
    t["documents"] = documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return t


def write_tables(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def candidate_batches(seed, batch_sizes, repeat_share):
    """Candidate batches for the pipeline workloads.

    Batch `b` holds `batch_sizes[b]` first deliveries; `repeat_share` of
    them (from batch 1 on) re-deliver a URL an earlier batch already
    brought in. On top, SHARE_REDELIVERED of each batch's rows arrive a
    second time from a lower-priority connector under a URL that
    canonicalizes to the same one (trailing slash + utm parameter).

    Returns (batches, expected): batches is a list of pa.Table, expected
    a list of dicts with the counts the scan job must report:
    `candidates`, `discovered` (unique canonical URLs in the window or
    with a null date) and `new_docs` (discovered URLs no earlier batch
    discovered, i.e. the growth of `source_documents`).
    """
    rng = np.random.default_rng([seed, 2])
    total = sum(batch_sizes)
    docs = documents(rng, total)
    text = docs.column("text").to_pylist()
    delivered = []      # doc ids delivered so far, in first-delivery order
    delivered_set = set()
    prefix = {}         # doc id -> URL prefix, fixed at first delivery
    seen = set()        # canonical URLs discovered so far
    next_id = 0
    batches, expected = [], []
    for b, n in enumerate(batch_sizes):
        ids, dates = [], []
        for _ in range(n):
            if b > 0 and delivered and rng.random() < repeat_share:
                ids.append(delivered[int(rng.integers(0, len(delivered)))])
            else:
                ids.append(next_id)
                prefix[next_id] = REVIEW_PREFIX if rng.random() < SHARE_REVIEW else URL_PREFIX
                next_id += 1
            r = rng.random()
            if r < SHARE_STALE:
                day = NOW.date() - dt.timedelta(days=int(rng.integers(WINDOW_DAYS + 1, 400)))
                dates.append(day.isoformat())
            elif r < SHARE_STALE + SHARE_NULL_DATE:
                dates.append(None)
            else:
                day = NOW.date() - dt.timedelta(days=int(rng.integers(0, WINDOW_DAYS)))
                dates.append(day.isoformat())
        # a URL delivered twice inside one batch keeps its first date
        first = {}
        for i, d in zip(ids, dates):
            first.setdefault(i, d)
        dates = [first[i] for i in ids]
        rows = {"url": [], "title": [], "content": [], "published_date": [],
                "connector": [], "connector_rank": []}

        def add(url, i, d, connector, rank):
            rows["url"].append(url)
            rows["title"].append(f"Doc {i}")
            rows["content"].append(text[i])
            rows["published_date"].append(d)
            rows["connector"].append(connector)
            rows["connector_rank"].append(rank)

        for i, d in zip(ids, dates):
            add(f"{prefix[i]}{i}", i, d, "eu_news", 0)
            if rng.random() < SHARE_REDELIVERED:
                add(f"{prefix[i]}{i}/?utm_source=feed", i, d, "eu_feed", 1)
        keep = {i for i, d in first.items()
                if d is None or dt.date.fromisoformat(d) >= NOW.date() - dt.timedelta(days=WINDOW_DAYS)}
        new = keep - seen
        seen |= keep
        for i in first:
            if i not in delivered_set:
                delivered_set.add(i)
                delivered.append(i)
        batches.append(pa.table({
            "url": pa.array(rows["url"], pa.string()),
            "title": pa.array(rows["title"], pa.string()),
            "content": pa.array(rows["content"], pa.string()),
            "published_date": pa.array(rows["published_date"], pa.string()),
            "connector": pa.array(rows["connector"], pa.string()),
            "connector_rank": pa.array(rows["connector_rank"], pa.int32())}))
        expected.append({"candidates": len(rows["url"]), "discovered": len(keep),
                         "new_docs": len(new)})
    return batches, expected


def write_batches(batches, expected, out):
    os.makedirs(out, exist_ok=True)
    for b, table in enumerate(batches):
        pq.write_table(table, os.path.join(out, f"batch{b:04d}.parquet"))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)
