"""Seeded input generator for the benchmark.

    python3 perfbench/gen.py --seed 7 --out .bench_build/data/full-seed7

writes, once per seed (a finished part is reused):

  kb/corpus.parquet   the incremental_kb corpus: the program's input-table
                      shape (doc_id string, spans array<struct<kind, text,
                      media_ref, offset int>>) plus a `batch` column that the
                      benchmark strips before the program sees the rows
  sf/<table>.parquet  the query_mix tables (region, nation, customer,
                      supplier, part, orders, lineitem, events, documents,
                      embeddings), in the column shapes `graft.SparkEntry`
                      reads
  <part>/params.json  the parameters below, as used

The same seed gives the same rows. The distributions are the ones measured
on the repository's test tables at sf 0.001, 0.01 and 0.1 (TESTDATA.md),
which the program's queries and, through `graft.fixtures.Corpus`, its
pipeline read; the comment above each constant says what it reproduces.
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# incremental_kb. Batch 0 opens the KB during set-up, so that the timed
# batches go into a KB that already holds KB_BOOT_DOCS docs; then
# KB_BATCHES - 1 batches of KB_BATCH_DOCS docs, more than any run reaches.
# A batch of a few hundred docs is the regime of the per-batch probes
# (Incremental.run in batches of 500 docs).
KB_BATCHES = 12
KB_BOOT_DOCS = 1000
KB_BATCH_DOCS = 200
# Between batches the workload reannotates this many docs of earlier
# batches, the size of the reannotate probe (12-13 s on a 4-core box).
REANNOTATE_DOCS = 20

# documents table, all three test scales: each doc is 10 to 99 words drawn
# uniformly from these 30 words (every word about equally frequent).
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
             "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
             "value", "vector", "window"]
DOC_WORDS = (10, 99)
# Exactly 5% of the docs repeat another doc's text. The tables append " dup"
# to the copy; the kb corpus repeats the other doc's spans verbatim under a
# new doc_id, as Bench.kbJob replicates docs, and takes it from the same
# batch, so that the identical-docs check has pairs.
DOC_COPY_SHARE = 0.05
DOC_LANGS = {"en": 0.40, "de": 0.15, "fr": 0.15, "es": 0.15, "zh": 0.15}
DOC_SOURCES = 20  # source = src<doc_id % 20>

# query_mix tables: the test tables at sf 0.01. Row counts per unit of sf
# (documents and embeddings have a floor of 500 rows); lineitem has 4 rows
# per order on average, each row with a uniformly drawn order.
QUERY_SF = 0.01
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
               "documents": 50_000, "embeddings": 20_000}
MIN_ROWS = {"documents": 500, "embeddings": 500}
EVENTS_PER_USER = 200 / 3  # 150 users at sf 0.01
EVENT_VALUE_MEAN = 50.0  # exponential
EMBEDDING_DIM = 64  # unit vectors of iid normals; labels uniform, no clusters
EMBEDDING_LABELS = 10
ORDER_DAYS = 2404  # o_orderdate: 1995-01-01 plus 0..2404 days
SHIP_DAYS = 2499  # l_shipdate: 1995-01-01 plus 1..2499 days, independent of the order
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])


def doc_texts(rng, n):
    lo, hi = DOC_WORDS
    texts = [" ".join(rng.choice(DOC_VOCAB, int(k))) for k in rng.integers(lo, hi + 1, n)]
    copies = np.sort(rng.choice(n, int(n * DOC_COPY_SHARE), replace=False))
    return texts, copies


def spans_for(doc_id, text):
    """graft.fixtures.Corpus.spansFor: the text split in two after the
    first space at or past its middle, an image between the halves when
    doc_id % 3 == 0, a video after them when doc_id % 5 == 0; offsets count
    text characters only."""
    i = text.find(" ", len(text) // 2)
    cut = len(text) if i < 0 else i + 1
    spans = [("text", text[:cut], "")]
    if doc_id % 3 == 0:
        spans.append(("media", "", f"media://img/{doc_id}"))
    if cut < len(text):
        spans.append(("text", text[cut:], ""))
    if doc_id % 5 == 0:
        spans.append(("media", "", f"media://vid/{doc_id}"))
    out, off = [], 0
    for kind, t, ref in spans:
        out.append({"kind": kind, "text": t, "media_ref": ref, "offset": off})
        off += len(t)
    return out


def corpus(rng, batches, boot_docs, per_batch):
    sizes = [boot_docs] + [per_batch] * (batches - 1)
    n = sum(sizes)
    texts, copies = doc_texts(rng, n)
    batch = np.repeat(np.arange(batches), sizes)
    first = np.concatenate([[0], np.cumsum(sizes)[:-1]])[batch]
    spans = [spans_for(i, t) for i, t in enumerate(texts)]
    for i in copies:
        if i > first[i]:
            spans[i] = spans[int(rng.integers(first[i], i))]
    return pa.table({"doc_id": pa.array([str(i) for i in range(n)], pa.string()),
                     "spans": pa.array(spans, pa.list_(SPAN)),
                     "batch": pa.array(batch, pa.int32())})


def days(base, d):
    return pa.array(np.datetime64(base, "us") + (d * 86400 * 10**6).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(rng, sf):
    n = {k: max(MIN_ROWS.get(k, 0), int(round(v * sf))) for k, v in ROWS_PER_SF.items()}
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], k)})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, k)})
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(k), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, k), rng.choice(PART_NOUN, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(k) % 1000 * 0.1, 2)})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": money(rng, 1000, 500000, k),
        "o_orderdate": days("1995-01-01", rng.integers(0, ORDER_DAYS + 1, k)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], k)})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(float),
        "l_extendedprice": money(rng, 900, 105000, k),
        "l_discount": np.round(rng.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": days("1995-01-01", rng.integers(1, SHIP_DAYS + 1, k))})
    k = n["events"]
    us = np.sort(rng.integers(0, 30 * 86400 * 10**6, k))
    t["events"] = pa.table({
        "event_id": pa.array(range(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, round(k / EVENTS_PER_USER)), k), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], k),
        "value": np.maximum(0.01, np.round(rng.exponential(EVENT_VALUE_MEAN, k), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    k = n["documents"]
    texts, copies = doc_texts(rng, k)
    for i in copies:
        texts[i] = texts[int(rng.integers(0, k))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(range(k), pa.int64()),
        "text": texts,
        "lang": rng.choice(list(DOC_LANGS), k, p=list(DOC_LANGS.values())),
        "source": [f"src{i % DOC_SOURCES}" for i in range(k)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    k = n["embeddings"]
    vecs = rng.normal(0, 1, (k, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMBEDDING_LABELS, k), pa.int32())})
    return t


# The self-check's size: the sf 0.001 test tables and a few small batches.
TINY = {"KB_BATCHES": 6, "KB_BOOT_DOCS": 20, "KB_BATCH_DOCS": 20, "REANNOTATE_DOCS": 8,
        "QUERY_SF": 0.001}


def generate(seed, out, parts=("kb", "sf"), tiny=False):
    """Write the parts for `seed` under `out`, skipping finished ones."""
    p = {k: v for k, v in globals().items() if k.isupper() and k not in ("SPAN", "TINY")}
    if tiny:
        p.update(TINY)
    for part in parts:
        done = os.path.join(out, part)
        if os.path.exists(os.path.join(done, "params.json")):
            continue
        tmp = done + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if part == "kb":
            pq.write_table(corpus(np.random.default_rng([seed, 1]), p["KB_BATCHES"],
                                  p["KB_BOOT_DOCS"], p["KB_BATCH_DOCS"]),
                           os.path.join(tmp, "corpus.parquet"))
        else:
            for name, table in query_tables(np.random.default_rng([seed, 2]),
                                            p["QUERY_SF"]).items():
                pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "params.json"), "w") as f:
            json.dump(dict(p, seed=seed), f, indent=1, sort_keys=True)
        shutil.rmtree(done, ignore_errors=True)
        os.replace(tmp, done)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
