"""Seeded input generator for the graft benchmark.

Everything here is a pure function of the seed: the same seed writes the
same parquet bytes' worth of rows, so two runs on one seed see identical
inputs and every count the traced run reports repeats exactly.

Two kinds of input:

* ``write_harness(dir, sf, seed)`` -- the harness tables but
  ``documents`` (region, nation, customer, supplier, part, orders,
  lineitem, events, embeddings) with the column names, types and value
  ranges of the reference test data, at scale factor ``sf`` (lineitem has
  6,000,000 x sf rows). ``write_corpus`` writes the ``documents`` table.
* ``write_corpus(dir, n_docs, seed, ...)`` -- a ``documents`` table in the
  harness schema (doc_id, text, lang, source, n_chars) with a stated
  exact-duplicate share, a stated near-duplicate share and texts of
  44-577 characters, plus the batch split and the delete set drawn from
  the same seed.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference corpus draws its words from this vocabulary; the tail words
# widen it so that random four-word anchors rarely collide by chance.
HEAD_WORDS = ("a the key agg row scan slow fast table value part hash merge "
              "batch spark line sort window column data query big small "
              "stream customer order group filter join vector").split()
_SYL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "vu", "zo", "xe"]
TAIL_WORDS = [a + b + c for a in _SYL for b in _SYL for c in _SYL[:4]]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.15, 0.14]
MIN_CHARS, MAX_CHARS = 44, 577


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, start, end, n):
    """n random midnight timestamps in [start, end] as datetime64[us]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return (np.datetime64(start, "us") + d.astype("timedelta64[D]")).astype("datetime64[us]")


def write_harness(out, sf, seed):
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array("red old cold hot new large small blue".split())
    noun = np.array("bolt anvil plate widget gear ring rod gizmo".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    ev_types = np.array(["view", "click", "purchase", "signup", "error"])
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, int(15000 * sf)), n_ev).astype(np.int64)),
        "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # the SQL surface registers every harness table, this one included
    n_emb = int(50000 * sf)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(rng.normal(0.0, 0.15, (n_emb, 64)).astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


def _text(rng, words):
    """One document: a third of the words from the reference vocabulary,
    the rest from the tail, cut to 44-577 characters."""
    target = int(rng.integers(MIN_CHARS, MAX_CHARS + 1))
    out, n = [], -1
    while n < target:
        w = HEAD_WORDS[int(rng.integers(0, len(HEAD_WORDS)))] if rng.random() < 0.3 \
            else words[int(rng.integers(0, len(words)))]
        out.append(w)
        n += len(w) + 1
    s = " ".join(out)
    while len(s) > MAX_CHARS:
        s = s[:s.rindex(" ")]
    return s


def _near(rng, text, words):
    """A near duplicate: one or two single-word substitutions."""
    toks = text.split(" ")
    for _ in range(int(rng.integers(1, 3))):
        toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
    s = " ".join(toks)
    return s if MIN_CHARS <= len(s) <= MAX_CHARS else text


def corpus(n_docs, seed, exact_share, near_share):
    """-> (doc_id, text, lang, source) lists; duplicates copy an earlier original."""
    rng = np.random.default_rng([seed, 2])
    words = HEAD_WORDS + TAIL_WORDS
    n_exact, n_near = int(n_docs * exact_share), int(n_docs * near_share)
    n_orig = n_docs - n_exact - n_near
    texts = [_text(rng, words) for _ in range(n_orig)]
    for i in range(n_exact):
        t = texts[int(rng.integers(0, n_orig))]
        # half the exact copies differ only in case, which the exact-dedup
        # normalisation folds away
        texts.append(t if i % 2 else t.upper())
    texts += [_near(rng, texts[int(rng.integers(0, n_orig))], words) for _ in range(n_near)]
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
            "lang": langs, "source": [f"src{i % 20}" for i in range(n_docs)]}


def _docs_table(c, idx):
    texts = [c["text"][i] for i in idx]
    return pa.table({
        "doc_id": pa.array(c["doc_id"][idx]),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(c["lang"][idx]),
        "source": pa.array([c["source"][i] for i in idx]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def write_corpus(out, n_docs, seed, exact_share, near_share, batches=0,
                 delete_share=0.0):
    """Write documents.parquet; with ``batches`` also batch_<i>.parquet
    (a seeded partition of the corpus), deleted.parquet (the seeded delete
    set) and survivors.parquet. Returns a summary of what was written."""
    c = corpus(n_docs, seed, exact_share, near_share)
    every = np.arange(n_docs)
    pq.write_table(_docs_table(c, every), f"{out}/documents.parquet")
    info = {"docs": n_docs, "text_bytes": sum(len(t.encode()) for t in c["text"])}
    if batches:
        rng = np.random.default_rng([seed, 3])
        assign = rng.integers(0, batches, n_docs)
        for b in range(batches):
            pq.write_table(_docs_table(c, every[assign == b]), f"{out}/batch_{b}.parquet")
        dead = np.sort(rng.choice(n_docs, int(n_docs * delete_share), replace=False))
        pq.write_table(pa.table({"doc_id": pa.array(dead.astype(np.int64))}),
                       f"{out}/deleted.parquet")
        live = np.setdiff1d(every, dead)
        pq.write_table(_docs_table(c, live), f"{out}/survivors.parquet")
        info["deleted"] = int(len(dead))
        info["survivor_text_bytes"] = sum(len(c["text"][i].encode()) for i in live)
    return info
