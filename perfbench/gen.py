"""Seeded inputs for the graft benchmark.

Everything a run consumes is derived here from one integer seed:

* ``corpus/<table>.parquet`` -- the ten harness tables (TPC-H-like star
  schema plus events, documents and embeddings). At scale 0.1 they have
  the row counts, Arrow schemas and key distributions of the sf0.1
  fixture (600k lineitems, 20k parts = knowledge-graph targets, 1k
  suppliers = drugs, 5 market segments = diseases);
  ``fixture_compare.py`` prints the comparison. Every count scales
  linearly with the scale factor except the 5 segments.
* ``plan.json`` -- the request list for ``kg-lookup`` and the
  trigger/search schedule for ``ingest``.
* ``ingest/{docs,embs,orders}/bNNN.parquet`` -- the micro-batch files the
  ingest workload lands one per trigger.

The same seed always yields byte-identical files (``digest`` hashes
them); the program under test sees only these files.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["bolt", "gear", "gizmo", "nut", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64

# kg-lookup request templates; the id kind each one draws
KG_TEMPLATES = {
    "disease_known_drugs": "disease",
    "disease_assoc_targets": "disease",
    "target_assoc_diseases": "target",
    "target_drug_facets": "target",
    "drug_linked_targets": "drug",
    "api_drug_first_target": "drug",
}

# registry rows every kg-lookup round also runs verbatim (resolved by
# name prefix in the harness): GraphQL rows that read no index
KG_REGISTRY_ROWS = ["q153_", "q165_"]

INGEST_KINDS = ["docs", "embs", "orders"]
# Rows per micro-batch file. At scale 0.02 the documents and embeddings
# split into 8 files each: 2 warm-up rounds, the window's 3 or more, and
# spare rounds for a fast host. The registry's streaming rows land a
# quarter of a table per file; smaller files keep per-trigger costs
# (offsets, commit log, state generations) a large share of an op.
# 2000 orders make an SCD-2 trigger cost about what a near-dup one does.
DOC_BATCH = 125
EMB_BATCH = 50
ORDER_BATCH = 2000
NEAR_DUP_SHARE = 0.1
SEARCHES_PER_ROUND = 2


def _ts(days_from, base):
    """Microsecond timestamps `days_from` days after ISO date `base`."""
    b = np.datetime64(base, "us")
    return (b + (days_from * 86400e6).astype("timedelta64[us]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(values, idx):
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def corpus_tables(seed, sf):
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users = int(1000000 * sf), int(15000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _strings(SEGMENTS, rng.integers(0, 5, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _strings(names, rng.integers(0, len(names), n_part)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)],
                            rng.integers(0, 25, n_part)),
        "p_type": _strings(PTYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    order_days = rng.integers(0, 2404, n_ord).astype(float)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_ts(order_days, "1995-01-01")),
        "o_orderpriority": _strings(PRIORITIES, rng.integers(0, 5, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": pa.array(_ts(rng.integers(1, 2499, n_line).astype(float),
                                   "1995-01-01"))})
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_ts(ev_secs / 86400.0, "2024-01-01")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _strings(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        toks = rng.integers(0, len(WORDS), rng.integers(10, 101))
        texts.append(" ".join(WORDS[j] for j in toks))
    # 5% of documents are an earlier-or-later document plus a marker token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _strings(LANGS, rng.choice(5, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    x = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def _zipf_ids(rng, ids, n, s=1.1):
    """`n` draws from `ids` with Zipf(s) rank skew over a seeded order.
    With s = 1.1 about one template request in seven repeats an earlier
    one within a run's first rounds, so a cache can matter without
    serving most requests."""
    order = rng.permutation(ids)
    w = 1.0 / np.arange(1, len(order) + 1) ** s
    return order[rng.choice(len(order), n, p=w / w.sum())]


def kg_requests(seed, corpus, n_rounds=400):
    """Round-robin over every template (seeded order per round) so the
    template mix is the same in every run; ids are Zipf-skewed draws
    over the corpus's diseases (segments), targets (parts) and drugs
    (suppliers)."""
    rng = np.random.default_rng([seed, 2])
    n = n_rounds * len(KG_TEMPLATES)
    n_part, n_supp = corpus["part"].num_rows, corpus["supplier"].num_rows
    space = {
        "disease": _zipf_ids(rng, np.array(["DIS_" + s for s in SEGMENTS]), n),
        "target": _zipf_ids(rng, np.array([f"TGT_{i}" for i in range(n_part)]), n),
        "drug": _zipf_ids(rng, np.array([f"DRG_{i}" for i in range(n_supp)]), n),
    }
    items = sorted(KG_TEMPLATES) + [f"registry:{r}" for r in KG_REGISTRY_ROWS]
    out, k = [], 0
    for _ in range(n_rounds):
        for item in rng.permutation(items):
            kind, _, row = str(item).partition(":")
            if row:
                out.append([kind, row])
            else:
                out.append([kind, str(space[KG_TEMPLATES[kind]][k])])
                k += 1
    return out


def _land(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def ingest_files(seed, corpus, out_dir):
    """Micro-batch files: document slices with a seeded share of
    near-duplicates of already-delivered documents, embedding slices,
    and orders-derived SCD-2 updates whose versions rise batch over
    batch (so re-keyed updates supersede the open rows)."""
    rng = np.random.default_rng([seed, 4])
    docs = corpus["documents"]
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    perm = rng.permutation(len(ids))
    delivered = []
    next_id = 10_000_000
    n_docs = 0
    rows, emb_ids = {}, {}
    for b, lo in enumerate(range(0, len(perm), DOC_BATCH)):
        sel = perm[lo:lo + DOC_BATCH]
        bid, btx = [int(ids[i]) for i in sel], [texts[i] for i in sel]
        pool = delivered + list(zip(bid, btx))
        for _ in range(int(len(sel) * NEAR_DUP_SHARE)):
            _, src = pool[int(rng.integers(0, len(pool)))]
            toks = src.split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            bid.append(next_id)
            btx.append(" ".join(toks))
            next_id += 1
        delivered.extend(zip(bid, btx))
        rows[f"docs/b{b:03d}.parquet"] = len(bid)
        _land(f"{out_dir}/docs/b{b:03d}.parquet", pa.table({
            "doc_id": pa.array(bid, pa.int64()), "text": pa.array(btx, pa.string())}))
        n_docs = b + 1
    emb = corpus["embeddings"].select(["vec_id", "embedding"])
    eperm = rng.permutation(emb.num_rows)
    n_embs = 0
    for b, lo in enumerate(range(0, len(eperm), EMB_BATCH)):
        part = emb.take(eperm[lo:lo + EMB_BATCH])
        _land(f"{out_dir}/embs/b{b:03d}.parquet", part)
        rows[f"embs/b{b:03d}.parquet"] = part.num_rows
        emb_ids[f"b{b:03d}.parquet"] = part.column("vec_id").to_pylist()
        n_embs = b + 1
    orders = corpus["orders"]
    cust = orders.column("o_custkey").to_numpy()
    price = orders.column("o_totalprice").to_numpy()
    n_orders = 40
    for b in range(n_orders):
        pick = rng.choice(len(cust), ORDER_BATCH, replace=False)
        _land(f"{out_dir}/orders/b{b:03d}.parquet", pa.table({
            "id": pa.array(cust[pick], pa.int64()),
            "price": pa.array(price[pick]),
            "v": pa.array((b + 1) * 10_000_000 + np.arange(ORDER_BATCH), pa.int64())}))
        rows[f"orders/b{b:03d}.parquet"] = ORDER_BATCH
    counts = {"docs": n_docs, "embs": n_embs, "orders": n_orders}
    return counts, rows, emb_ids


def ingest_schedule(seed, counts):
    """Rounds of one file of every kind (seeded order within a round),
    and after each round a fixed number of searches with seeded picks."""
    rng = np.random.default_rng([seed, 5])
    rounds = [[[str(k), f"b{i:03d}.parquet"] for k in rng.permutation(INGEST_KINDS)]
              for i in range(min(counts.values()))]
    searches = [[float(u) for u in rng.random(SEARCHES_PER_ROUND)] for _ in rounds]
    return rounds, searches


def generate(seed, out_dir, sf):
    corpus = corpus_tables(seed, sf)
    for name, table in corpus.items():
        _land(f"{out_dir}/corpus/{name}.parquet", table)
    counts, rows, emb_ids = ingest_files(seed, corpus, f"{out_dir}/ingest")
    rounds, searches = ingest_schedule(seed, counts)
    plan = {
        "seed": seed,
        "kg_requests": kg_requests(seed, corpus),
        "ingest_rounds": rounds,
        "ingest_searches": searches,
        "ingest_rows": rows,
        "ingest_emb_ids": emb_ids,
    }
    with open(f"{out_dir}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan


def digest(out_dir):
    """SHA-256 over every generated file (relative path + content)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    import sys
    generate(int(sys.argv[1]), sys.argv[2], float(sys.argv[3]))
    print(digest(sys.argv[2]))
