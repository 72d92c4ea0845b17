"""Seeded input generator for the benchmark.

Every input the program sees is made here from the run's seed: the table
directories (same names, columns and parquet physical types as the testdata
of TESTDATA.md, which the queries were written against), the serve request
schedule, the amplified curation corpus and the ingest micro-batches. The
same seed gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH = dt.datetime(1970, 1, 1)

# Table sizes, from the row counts of the testdata in TESTDATA.md: sf0.001
# has customer 150, orders 1,500, lineitem 6,000 (4 per order), part 200,
# supplier 10, events 1,000, and documents and embeddings 500 at both
# sf0.001 and sf0.01.
SF0001 = dict(customer=150, orders=1500, lineitem=6000, part=200, supplier=10,
              events=1000, documents=500, embeddings=500)
# `serve`: each tenant's shop is sf0.001-shaped at 2.5x, so the four
# tenants together hold the sf0.01 row counts. Search runs over one shared
# sf0.001-shaped catalog; tenant shops carry a token corpus (the oracle
# views need every table; no dashboard op reads it).
SERVE_TENANT_SCALE = 2.5
SERVE_TENANT_SIZES = dict({k: int(v * SERVE_TENANT_SCALE) for k, v in SF0001.items()},
                          documents=50, embeddings=50)
SERVE_CATALOG_SIZES = SF0001
SIDE_SIZES = dict(customer=150, orders=1500, lineitem=600, part=100,
                  supplier=10, events=200, embeddings=200)
# `curate`: a base corpus shaped like sf0.1 documents, amplified
CURATE_BASE_DOCS = 500
CURATE_AMPLIFY = 2
CURATE_PERTURB_SHARE = 0.5
# `ingest`: the batch shape of the sizing probe (7,500 orders and 250
# documents), batch 0 plus INGEST_PAIRS pairs of cut batches (the closed
# loop stops early if the pool runs dry)
INGEST_PAIRS = 6
INGEST_ORDERS_PER_BATCH = 7500
INGEST_DOCS_PER_BATCH = 250
INGEST_CUSTOMERS = 2000
INGEST_REDELIVERED_DOC_SHARE = 0.1


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _ts_us(days_from, n_days, rng, n):
    base = int((days_from - EPOCH).total_seconds() * 1_000_000)
    return base + rng.integers(0, n_days, n) * 86_400_000_000


def _write(path, cols, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_arrays([pa.array(cols[f.name], type=f.type) for f in schema],
                                 schema=schema)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


ORDERS = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])
DOCS = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())])


def orders_cols(rng, keys, n_cust):
    n = len(keys)
    return dict(
        o_orderkey=np.asarray(keys, dtype=np.int64),
        o_custkey=rng.integers(0, n_cust, n),
        o_orderstatus=rng.choice(["F", "O", "P"], n).tolist(),
        o_totalprice=np.round(rng.uniform(1000.0, 500000.0, n), 2),
        o_orderdate=_ts_us(dt.datetime(1995, 1, 1), 2405, rng, n),
        o_orderpriority=rng.choice(PRIORITIES, n).tolist())


def doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    dup = rng.random(n) < 0.05
    out, at = [], 0
    for i in range(n):
        t = " ".join(VOCAB[w] for w in words[at:at + lens[i]])
        at += lens[i]
        out.append(t + " dup" if dup[i] else t)
    return out


def docs_cols(ids, texts, langs):
    ids = np.asarray(ids, dtype=np.int64)
    return dict(doc_id=ids, text=texts, lang=langs,
                source=[f"src{i % 20}" for i in ids],
                n_chars=np.array([len(t) for t in texts], dtype=np.int64))


def write_tables(d, seed, salt, sizes, texts=None, doc_ids=None, langs=None):
    """All ten tables of one data directory (the oracle views need each)."""
    rng = _rng(seed, salt)
    c, o, li = sizes["customer"], sizes["orders"], sizes["lineitem"]
    _write(f"{d}/region.parquet", dict(r_regionkey=np.arange(5, dtype=np.int32),
                                       r_name=REGIONS),
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(f"{d}/nation.parquet", dict(
        n_nationkey=np.arange(25, dtype=np.int32), n_name=[f"NATION_{i}" for i in range(25)],
        n_regionkey=(np.arange(25) % 5).astype(np.int32)),
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))
    _write(f"{d}/customer.parquet", dict(
        c_custkey=np.arange(c, dtype=np.int64), c_name=[f"Customer#{i:09d}" for i in range(c)],
        c_nationkey=rng.integers(0, 25, c).astype(np.int32),
        c_acctbal=np.round(rng.uniform(-999.99, 9999.99, c), 2),
        c_mktsegment=rng.choice(SEGMENTS, c).tolist()),
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))
    s, p = sizes["supplier"], sizes["part"]
    _write(f"{d}/supplier.parquet", dict(
        s_suppkey=np.arange(s, dtype=np.int64), s_name=[f"Supplier#{i:09d}" for i in range(s)],
        s_nationkey=rng.integers(0, 25, s).astype(np.int32),
        s_acctbal=np.round(rng.uniform(-999.99, 9999.99, s), 2)),
        pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    _write(f"{d}/part.parquet", dict(
        p_partkey=np.arange(p, dtype=np.int64),
        p_name=[f"{a} {b}" for a, b in zip(rng.choice(["hot", "large", "small", "cold"], p),
                                           rng.choice(["bolt", "ring", "nut", "gear"], p))],
        p_brand=[f"Brand#{i}" for i in rng.integers(1, 26, p)],
        p_type=rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "STANDARD"], p).tolist(),
        p_size=rng.integers(1, 51, p).astype(np.int32),
        p_retailprice=np.round(900.0 + np.arange(p) * 0.1, 2)),
        pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                   ("p_type", pa.string()), ("p_size", pa.int32()),
                   ("p_retailprice", pa.float64())]))
    _write(f"{d}/orders.parquet", orders_cols(rng, np.arange(o), c), ORDERS)
    _write(f"{d}/lineitem.parquet", dict(
        l_orderkey=rng.integers(0, o, li), l_partkey=rng.integers(0, p, li),
        l_suppkey=rng.integers(0, s, li), l_linenumber=rng.integers(1, 8, li).astype(np.int32),
        l_quantity=rng.integers(1, 51, li).astype(np.float64),
        l_extendedprice=np.round(rng.uniform(900.0, 100000.0, li), 2),
        l_discount=rng.integers(0, 11, li) / 100.0, l_tax=rng.integers(0, 9, li) / 100.0,
        l_returnflag=rng.choice(["A", "N", "R"], li).tolist(),
        l_linestatus=rng.choice(["F", "O"], li).tolist(),
        l_shipdate=_ts_us(dt.datetime(1995, 1, 1), 2500, rng, li)),
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))
    e = sizes["events"]
    base = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1_000_000)
    _write(f"{d}/events.parquet", dict(
        event_id=np.arange(e, dtype=np.int64),
        ts=base + rng.integers(0, 30 * 86_400_000_000, e),
        user_id=rng.integers(0, max(e // 60, 10), e),
        event_type=rng.choice(EVENT_TYPES, e).tolist(),
        value=np.round(rng.uniform(0.0, 560.0, e), 2),
        props=[f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))
    if texts is None:
        n = sizes["documents"]
        texts, doc_ids = doc_texts(rng, n), np.arange(n)
        langs = rng.choice(LANGS, n, p=LANG_P).tolist()
    _write(f"{d}/documents.parquet", docs_cols(doc_ids, texts, langs), DOCS)
    v = sizes["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(size=(v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{d}/embeddings.parquet", dict(
        vec_id=np.arange(v, dtype=np.int64), embedding=list(vecs),
        label=labels.astype(np.int32)),
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))


def request_mix(n, dash_ops, search_ops, per_block, rng):
    """`n` ops drawn as fixed blocks, each block every dashboard op once
    plus `per_block` search ops in rotation, shuffled within the block by
    the seed: the composition is fixed, the order is seeded."""
    out, k = [], 0
    while len(out) < n:
        block = list(dash_ops)
        for _ in range(per_block):
            block.append(search_ops[k % len(search_ops)])
            k += 1
        out.extend(block[i] for i in rng.permutation(len(block)))
    return out[:n]


def gen_serve(root, seed, blocks, tenants, rate, dash_ops, search_ops, search_per_block):
    """One shop dataset per tenant, the shared search catalog, and the
    request streams. Tenants are independent Poisson sources at
    rate/tenants each; a request's tenant picks the shop its dashboard op
    reads. The open loop holds a fixed number of mix blocks, so every run
    serves the same multiset of ops; given that count, Poisson arrival
    times are uniform over the window and each request's tenant is an
    independent uniform draw. A second seeded sequence of the same mix
    feeds the closed loop."""
    catalog = f"{root}/catalog"
    write_tables(catalog, seed, 100, SERVE_CATALOG_SIZES)
    shops = [f"{root}/shop{t}" for t in range(tenants)]
    for t, d in enumerate(shops):
        write_tables(d, seed, 110 + t, SERVE_TENANT_SIZES)
    rng = _rng(seed, 1)
    n = blocks * (len(dash_ops) + search_per_block)
    open_s = n / rate
    due = np.sort(rng.uniform(0.0, open_s, n))
    ops = request_mix(n, dash_ops, search_ops, search_per_block, rng)
    with open(f"{root}/schedule.tsv", "w") as f:
        for t, op in zip(due, ops):
            f.write(f"{int(t * 1e9)}\t{op}\t{int(rng.integers(tenants))}\n")
    with open(f"{root}/capacity.tsv", "w") as f:
        for op in request_mix(4000, dash_ops, search_ops, search_per_block, rng):
            f.write(f"0\t{op}\t{int(rng.integers(tenants))}\n")
    return dict(dirs=[catalog] + shops, open_s=open_s, requests=n)


def gen_curate(root, seed):
    """The curation corpus: a seeded sf0.1-shaped base, amplified with
    rekeyed ids; a seeded share of the copies is perturbed, the rest are
    exact duplicates."""
    rng = _rng(seed, 2)
    b = CURATE_BASE_DOCS
    texts = doc_texts(rng, b)
    langs = rng.choice(LANGS, b, p=LANG_P).tolist()
    all_texts, all_langs = list(texts), list(langs)
    exact = 0
    for _ in range(CURATE_AMPLIFY - 1):
        for t, lang in zip(texts, langs):
            if rng.random() < CURATE_PERTURB_SHARE:
                w = t.split(" ")
                for j in rng.choice(len(w), max(1, len(w) // 10), replace=False):
                    w[j] = VOCAB[rng.integers(len(VOCAB))]
                t = " ".join(w)
            else:
                exact += 1
            all_texts.append(t)
            all_langs.append(lang)
    ids = rng.permutation(len(all_texts))
    order = np.argsort(ids)
    d = f"{root}/corpus"
    write_tables(d, seed, 200, dict(SIDE_SIZES, documents=0),
                 texts=[all_texts[i] for i in order], doc_ids=ids[order],
                 langs=[all_langs[i] for i in order])
    return dict(dirs=[d], docs=len(all_texts), base_docs=b, amplification=CURATE_AMPLIFY,
                exact_dup_share=exact / len(all_texts))


def batch_cuts(rng, pairs, share=0.2):
    """Seeded relative size offsets of the micro-batches, paired so that
    batches (1, 2), (3, 4), ... hold the same number of rows on every
    seed; batch 0, the untimed warm-up, is uncut."""
    pair = rng.uniform(-share, share, pairs)
    return np.concatenate([[0.0], np.ravel(np.column_stack([pair, -pair]))])


def gen_ingest(root, seed):
    """Micro-batches of orders and documents with seeded batch cuts; a
    seeded share of documents are redeliveries of earlier texts."""
    rng = _rng(seed, 3)
    side = f"{root}/side"
    write_tables(side, seed, 300, dict(SIDE_SIZES, documents=50))
    batches, okey, dkey, past = [], 0, 0, []
    cut = batch_cuts(rng, INGEST_PAIRS)
    for i in range(len(cut)):
        no = int(round(INGEST_ORDERS_PER_BATCH * (1 + cut[i])))
        nd = int(round(INGEST_DOCS_PER_BATCH * (1 + cut[i])))
        ob = f"{root}/batches/orders-{i:04d}.parquet"
        db = f"{root}/batches/docs-{i:04d}.parquet"
        obytes = _write(ob, orders_cols(rng, np.arange(okey, okey + no), INGEST_CUSTOMERS),
                        ORDERS)
        texts = doc_texts(rng, nd)
        for j in range(nd):
            if past and rng.random() < INGEST_REDELIVERED_DOC_SHARE:
                texts[j] = past[rng.integers(len(past))]
        past.extend(texts)
        dbytes = _write(db, docs_cols(np.arange(dkey, dkey + nd), texts,
                                      rng.choice(LANGS, nd, p=LANG_P).tolist()), DOCS)
        okey, dkey = okey + no, dkey + nd
        batches.append(dict(orders=ob, docs=db, rows=no + nd, bytes=obytes + dbytes))
    with open(f"{root}/batches.tsv", "w") as f:
        for b in batches:
            f.write(f"{b['orders']}\t{b['docs']}\t{b['rows']}\t{b['bytes']}\n")
    return dict(dirs=[side], batches=len(batches))
