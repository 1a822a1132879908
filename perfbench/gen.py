"""Seeded input generator for the benchmark.

Writes the ten tables the engine's queries read (TPC-H-ish star schema,
`events`, `documents`, `embeddings`) as one parquet file each, with the
schemas and value shapes of the repository's test data (FIXTURES.md): uniform keys and measures, a
31-word document vocabulary with exact and `... dup` near duplicates, and
unit-norm 64-d float embeddings. The same (sf, seed) always gives the same
rows.

`text_scale` adapts the engine's ScaleProbe open-vocabulary replication:
replica 0 is the base corpus; replica i >= 1 shuffles each document's
tokens with a seeded RNG and suffixes every token with a replica tag, so
the vocabulary grows with the corpus (Heaps' law) while the near-duplicate
pair structure repeats once per replica. Embeddings are replicated with
offset ids. Living here, the generator cannot be changed by an engine
change.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _ts(start, days, n, rng, whole_days=True):
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, days * 86400 * 10**6, n).astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """`n` documents: random 10-100 token texts over VOCAB, ~5% of them a
    copy of another document plus a trailing ` dup`, and a few exact
    duplicates."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    near = rng.choice(n, size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    lang = rng.choice(LANGS, n, p=LANG_P)
    source = np.array([f"src{i}" for i in rng.integers(0, 20, n)])
    return {"text": texts, "lang": lang, "source": source}


def _doc_table(ids, d):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(d["text"], pa.string()),
        "lang": pa.array(d["lang"], pa.string()),
        "source": pa.array(d["source"], pa.string()),
        "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
    })


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), rng.integers(0, 10, n).astype(np.int32)


def base_tables(sf, seed):
    rng = np.random.default_rng([seed, int(round(sf * 10**6))])
    n_cust = max(1, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(1, int(200000 * sf))
    n_ord = max(1, int(1500000 * sf))
    n_line = max(1, int(6000000 * sf))
    n_ev = max(1, int(1000000 * sf))
    n_users = max(50, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", 2498, n_line, rng)})
    ts = np.sort(np.datetime64("2024-01-01", "us") +
                 rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _doc_table(np.arange(n_docs), documents(rng, n_docs))
    vecs, labels = embeddings(rng, n_emb)
    t["embeddings"] = _emb_table(np.arange(n_emb), vecs, labels)
    return t


def _replica_tag(i):
    # letters only, so the engine's non-letter tokenizer keeps token+tag whole
    return "qx" + chr(ord("a") + (i - 1) // 26) + chr(ord("a") + (i - 1) % 26)


def text_scale(base, k, seed):
    """The base tables with `documents` and `embeddings` replicated k times
    (open vocabulary, seeded token shuffles)."""
    rng = np.random.default_rng([seed, 7])
    docs = base["documents"].to_pydict()
    n = len(docs["doc_id"])
    ids, cols = [], {"text": [], "lang": [], "source": []}
    for i in range(k):
        for j in range(n):
            text = docs["text"][j]
            if i > 0:
                words = text.split(" ")
                rng.shuffle(words)
                tag = _replica_tag(i)
                text = " ".join(w + tag for w in words)
            ids.append(i * n + docs["doc_id"][j])
            cols["text"].append(text)
            cols["lang"].append(docs["lang"][j])
            cols["source"].append(docs["source"][j])
    out = dict(base)
    out["documents"] = _doc_table(np.array(ids), cols)
    emb = base["embeddings"]
    m = emb.num_rows
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.array(emb.column("label").to_pylist(), dtype=np.int32)
    out["embeddings"] = _emb_table(
        np.concatenate([np.arange(m) + i * m for i in range(k)]),
        np.tile(vecs, (k, 1)), np.tile(labels, k))
    return out


def write(tables, out_dir):
    """Write each table as `<out_dir>/<name>.parquet`; return (rows, bytes)."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rows = 0
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
        rows += tab.num_rows
    os.replace(tmp, out_dir)
    size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    return rows, size
