"""Deterministic benchmark inputs, made from a seed.

The tables have the shapes of graft's shipped test corpus (documents,
embeddings, lineitem, orders, events), so every query and pipeline spec
runs unchanged on them:

- documents: words drawn from a 30-word vocabulary, 10..100 words each,
  5% of documents are a copy of an earlier one plus the token " dup",
  4% carry one PII item (an e-mail, an IPv4 address or a phone number),
  20 sources round-robin, five languages.
- embeddings: 64-d unit vectors, 10 labels, each label a faint direction.
- lineitem / orders / events: TPC-H-like keys, prices and dates.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DIM = 64
N_LABELS = 10


def _pii(rng, kind):
    if kind == 0:
        return f"user{rng.integers(0, 1000)}@mail{rng.integers(0, 9)}.example.org"
    if kind == 1:
        a, b, c, d = rng.integers(1, 255, size=4)
        return f"{a}.{b}.{c}.{d}"
    return f"555-{rng.integers(100, 1000)}-{rng.integers(1000, 10000)}"


def documents(rng, n):
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(vocab[words[e - l:e]]) for e, l in zip(ends, lens)]
    for i in np.flatnonzero(rng.random(n) < 0.04):
        kind = int(rng.integers(0, 3))
        toks = texts[i].split(" ")
        toks.insert(int(rng.integers(0, len(toks) + 1)), _pii(rng, kind))
        texts[i] = " ".join(toks)
    dups = np.flatnonzero(rng.random(n) < 0.05)
    for i in dups[dups > 0]:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _vector_column(mat):
    flat = pa.array(mat.astype(np.float32).ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def embeddings(rng, n):
    centers = rng.standard_normal((N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    v = rng.standard_normal((n, DIM)) / np.sqrt(DIM) + 0.07 * centers[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": _vector_column(v),
        "label": labels.astype(np.int32),
    })


def _micros(rng, start, days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, days * 86_400_000_000, size=n)
    return pa.array(base + off, type=pa.timestamp("us"))


def _days(rng, start, days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, days, size=n) * 86_400_000_000
    return pa.array(base + off, type=pa.timestamp("us"))


def orders(rng, n):
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n // 10), size=n, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, size=n), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, size=n)],
    })


def lineitem(rng, n_orders):
    per = rng.integers(1, 8, size=n_orders)
    n = int(per.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per)
    starts = np.cumsum(per) - per
    line = (np.arange(n) - np.repeat(starts, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(1, n_orders // 7), size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, n_orders // 150), size=n, dtype=np.int64),
        "l_linenumber": line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n),
    })


def events(rng, n):
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _micros(rng, "2024-01-01", 30, n),
        "user_id": rng.integers(0, max(1, n // 66), size=n, dtype=np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": np.char.add(np.char.add('{"k": ', k.astype(str)), "}"),
    })


def write(table, path, files=1):
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def corpus(out, seed, n_docs, n_vecs):
    """documents + embeddings under `out`."""
    rng = np.random.default_rng([seed, 1])
    docs = documents(rng, n_docs)
    embs = embeddings(rng, n_vecs)
    write(docs, out / "documents.parquet", files=4)
    write(embs, out / "embeddings.parquet", files=4)
    return {"documents": docs.num_rows, "embeddings": embs.num_rows}


def tables(out, seed, n_orders, n_events, n_docs):
    """The ETL inputs: lineitem, orders, events and documents."""
    rng = np.random.default_rng([seed, 2])
    o = orders(rng, n_orders)
    li = lineitem(rng, n_orders)
    ev = events(rng, n_events)
    docs = documents(rng, n_docs)
    write(o, out / "orders.parquet", files=4)
    write(li, out / "lineitem.parquet", files=8)
    write(ev, out / "events.parquet", files=4)
    write(docs, out / "documents.parquet", files=4)
    return {"orders": o.num_rows, "lineitem": li.num_rows,
            "events": ev.num_rows, "documents": docs.num_rows}
