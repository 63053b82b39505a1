"""Checks of a run's outputs, made outside graft.

Each check recomputes the expected result from the run's inputs with
numpy, Python's `re` or DuckDB, or tests a property the method must
have (recall of an approximate index against brute force). Nothing is
compared against a stored copy of graft's output. A check returns a list
of failures, each "<operation>: <what is wrong>".
"""

import hashlib
import math
import re
from collections import defaultdict
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

COS_T = 0.45
JACCARD_T = 0.8
# Floors for the approximate methods, far below what they reach on these
# inputs (README.md) and far above what a broken index returns.
PAIR_RECALL_FLOOR = 0.3
SEMANTIC_RECALL_FLOOR = 0.25
# Recall figures of the last checked run, reported beside the metrics.
NOTES = {}

EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE = r"\+?[0-9][0-9()\- ]{7,14}[0-9]"


def read(path):
    return pq.read_table(path).to_pandas()


def vectors(data):
    t = read(Path(data) / "embeddings.parquet").sort_values("vec_id")
    v = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return t["vec_id"].to_numpy(), v


def shingles(text):
    w = [x for x in re.split(r"[^a-z0-9]+", text.lower()) if x]
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2)) if len(w) >= 3 else None


def jaccard_pairs(sets, t=JACCARD_T):
    """Every (a, b), a < b, with round(jaccard, 6) >= t, found exactly by
    prefix filtering: two sets that similar share a token among the
    first n - ceil(t' n) + 1 tokens of each in one global order."""
    t_eff = t - 5e-7
    freq = defaultdict(int)
    for s in sets.values():
        for x in s:
            freq[x] += 1
    index = defaultdict(list)
    cands = set()
    for i in sorted(sets):
        s = sets[i]
        prefix = sorted(s, key=lambda x: (freq[x], x))[:len(s) - math.ceil(t_eff * len(s)) + 1]
        for x in prefix:
            for j in index[x]:
                cands.add((j, i))
            index[x].append(i)
    out = {}
    for a, b in cands:
        sa, sb = sets[a], sets[b]
        j = round(len(sa & sb) / len(sa | sb), 6)
        if j >= t:
            out[(a, b)] = j
    return out


def check_semantic(out, data):
    """Every reported match is a true one (cosine >= 0.45 against the
    brute-force all-pairs cosines), and the flagged share of the truly
    contaminated vectors is at least the recall floor: the IVF cells the
    operator probes do not reach every match on this corpus."""
    ids, v = vectors(data)
    bench = ids % 11 == 0
    cos = np.round(v[~bench] @ v[bench].T, 6)
    hit = cos >= COS_T
    n = hit.sum(axis=1)
    mx = np.where(hit, cos, -np.inf).max(axis=1)
    got = out.sort_values("vec_id")
    if not np.array_equal(got["vec_id"].to_numpy(), ids[~bench]):
        return ["the flagged rows are not exactly the corpus vectors"]
    gn = got["n_benchmark_matches"].to_numpy()
    gm = got["max_cos"].to_numpy(dtype=np.float64)
    errs = []
    if (gn > n).any() or not np.array_equal(got["contaminated"].to_numpy(), gn > 0):
        errs.append("a vector is flagged with matches it does not have")
    on = gn > 0
    if np.isnan(gm[on]).any() or (gm[on] > mx[on] + 2e-6).any() or (gm[on] < COS_T).any():
        errs.append("a reported max_cos is not a true match's cosine")
    recall = on.sum() / (n > 0).sum() if (n > 0).any() else 1.0
    NOTES["corpus_decontaminate_semantic.recall"] = round(float(recall), 4)
    if recall < SEMANTIC_RECALL_FLOOR:
        errs.append(f"flagged {on.sum()} of {(n > 0).sum()} contaminated vectors")
    return errs


def check_neardup_probe(out, data):
    docs = read(Path(data) / "documents.parquet")
    sets = {d: s for d, s in zip(docs["doc_id"], map(shingles, docs["text"])) if s}
    dropped = {b for (a, b) in jaccard_pairs(sets) if b >= 250}
    want = docs[(docs["doc_id"] >= 250) & ~docs["doc_id"].isin(dropped)]
    got = out.sort_values("doc_id")
    want = want.sort_values("doc_id")
    if not (np.array_equal(got["doc_id"].to_numpy(), want["doc_id"].to_numpy())
            and list(got["source"]) == list(want["source"])):
        return [f"{len(got)} survivors, expected {len(want)} "
                f"({len(set(got['doc_id']) ^ set(want['doc_id']))} differ)"]
    return []


def check_embedding_pairs(out, data):
    ids, v = vectors(data)
    pos = {int(x): i for i, x in enumerate(ids)}
    a = np.array([pos[int(x)] for x in out["a_id"]], dtype=np.int64)
    b = np.array([pos[int(x)] for x in out["b_id"]], dtype=np.int64)
    errs = []
    if (out["a_id"] >= out["b_id"]).any() or out.duplicated(["a_id", "b_id"]).any():
        errs.append("pairs are not unique (a_id < b_id)")
    cos = np.round(np.einsum("ij,ij->i", v[a], v[b]), 6) if len(a) else np.zeros(0)
    if np.abs(cos - out["cosine"].to_numpy()).max(initial=0) > 2e-6 or (cos < COS_T).any():
        errs.append("a reported pair is not above the cosine threshold")
    true = 0
    for i in range(0, len(ids), 2048):
        c = np.round(v[i:i + 2048] @ v.T, 6)
        r, s = np.nonzero(c >= COS_T)
        true += int((s > r + i).sum())
    NOTES["dedup_embedding_lsh.recall"] = round(len(out) / max(1, true), 4)
    if true and len(out) / true < PAIR_RECALL_FLOOR:
        errs.append(f"pair recall {len(out)}/{true} < {PAIR_RECALL_FLOOR}")
    return errs


def redact(text):
    return re.sub(PHONE, "<PHONE>", re.sub(IPV4, "<IP>", re.sub(EMAIL, "<EMAIL>", text)))


def check_redact(out, data):
    docs = read(Path(data) / "documents.parquet").sort_values("doc_id")
    got = out.sort_values("doc_id")
    if not np.array_equal(got["doc_id"].to_numpy(), docs["doc_id"].to_numpy()):
        return ["not one row per document"]
    errs = []
    for col, pat in (("n_emails", EMAIL), ("n_ips", IPV4), ("n_phones", PHONE)):
        want = np.array([len(re.findall(pat, t)) for t in docs["text"]])
        if not np.array_equal(got[col].to_numpy(), want):
            errs.append(f"{col} differs on {int((got[col].to_numpy() != want).sum())} docs")
    md5 = [hashlib.md5(redact(t).encode()).hexdigest() for t in docs["text"]]
    if list(got["redacted_md5"]) != md5:
        errs.append(f"redacted text differs on "
                    f"{sum(x != y for x, y in zip(got['redacted_md5'], md5))} docs")
    return errs


QUERY_CHECKS = {
    "corpus_decontaminate_semantic": check_semantic,
    "dedup_neardup_probe": check_neardup_probe,
    "dedup_embedding_lsh": check_embedding_pairs,
    "text_redact": check_redact,
}


def check_queries(res, data, work):
    failures = []
    for q in sorted({o["name"] for o in res["verify"] if not o["error"]}):
        try:
            errs = QUERY_CHECKS[q](read(Path(work) / "verify" / q), data)
        except Exception as e:  # a missing or unreadable output fails its check
            errs = [f"{type(e).__name__}: {e}"]
        failures += [f"{q}: {e}" for e in errs]
    return failures


# ---- the pipeline: DuckDB recomputes every spec's output ----

def _frames_equal(got, want, keys, exact, approx=(), tol=1e-6):
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    if len(got) != len(want):
        return [f"{len(got)} rows, expected {len(want)}"]
    errs = []
    for c in exact:
        if list(got[c].astype(str)) != list(want[c].astype(str)):
            errs.append(f"column {c} differs")
    for c in approx:
        g, w = got[c].astype(float).to_numpy(), want[c].astype(float).to_numpy()
        if not np.allclose(g, w, rtol=tol, atol=tol):
            errs.append(f"column {c} differs")
    return errs


def check_pipeline(res, data, work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{Path(work) / 'tmp'}'")
    for t in ("lineitem", "orders", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    out = Path(res["facts"]["out"])
    passes = [p["pass"] for p in res["passes"]]
    last = passes[-1]
    fails = []

    def run(name, f):
        try:
            fails.extend(f"{name}: {e}" for e in f())
        except Exception as e:
            fails.append(f"{name}: {type(e).__name__}: {e}")

    run("lineitem_rollup", lambda: _frames_equal(
        read(out / "lineitem_rollup"),
        con.sql(f"""SELECT lower(l_returnflag) AS flag, l_linestatus AS status,
              {last} AS batch, count(*) AS n, sum(l_quantity) AS l_quantity_sum,
              sum(l_extendedprice * (1 - l_discount)) AS revenue_sum,
              avg(l_extendedprice) AS l_extendedprice_mean
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_discount <= 0.08
            GROUP BY 1, 2""").df(),
        ["flag", "status"], ["batch", "n"],
        ["l_quantity_sum", "revenue_sum", "l_extendedprice_mean"]))
    run("orders_rank", lambda: _frames_equal(
        read(out / "orders_rank"),
        con.sql(f"""SELECT o_custkey, o_orderkey, o_totalprice, rk, {last} AS batch FROM (
              SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders WHERE o_orderstatus <> 'P') WHERE rk <= 2""").df(),
        ["o_custkey", "rk"], ["o_orderkey", "batch"], ["o_totalprice"]))

    def events_daily():
        got = read(out / "events_daily")
        if sorted(got["batch"].unique().tolist()) != passes:
            return [f"batches {sorted(got['batch'].unique().tolist())}, expected {passes}"]
        want = con.sql("""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
              round(sum(value), 2) AS value_sum, count(DISTINCT user_id) AS users
            FROM events GROUP BY 1, 2""").df()
        errs = []
        for p in passes:
            errs += _frames_equal(got[got["batch"] == p].drop(columns="batch"), want,
                                  ["day", "event_type"], ["n", "users"], ["value_sum"], tol=0.011)
        return sorted(set(errs))
    run("events_daily", events_daily)

    def docs_prep():
        docs = read(Path(data) / "documents.parquet").set_index("doc_id")
        first = docs.reset_index().groupby("text")["doc_id"].min()
        errs, shape = [], None
        for p in passes:
            got = read(out / f"docs_prep_{p}")
            kept = got["doc_id"]
            if kept.duplicated().any() or not kept.isin(docs.index).all():
                errs.append("doc ids are not unique input ids")
                continue
            orig = docs.loc[kept, "text"]
            if not (first.loc[orig.to_numpy()].to_numpy() == kept.to_numpy()).all():
                errs.append("an exact duplicate survived, or not its lowest id")
            if any(re.search(f"{EMAIL}|{IPV4}|{PHONE}", t) for t in got["text"]):
                errs.append("a PII pattern survived redaction")
            if not got["split"].isin(["train", "val", "test"]).all() \
                    or (got["quality_score"] < 0.35).any():
                errs.append("split labels or the quality filter are wrong")
            now = sorted(zip(kept, got["split"]))
            if shape is not None and now != shape:
                errs.append("the same spec gave different rows in different passes")
            shape = now
        return sorted(set(errs))
    run("docs_prep", docs_prep)

    run("orders_upsert", lambda: _frames_equal(
        read(res["facts"]["orders_tbl"]),
        con.sql(f"""WITH passes AS (SELECT unnest(range({len(passes)})) AS p),
              lastp AS (SELECT o_orderkey, max(p) AS lp FROM orders
                        JOIN passes ON o_orderkey % 10 = p % 10 GROUP BY 1)
            SELECT o.* REPLACE (o.o_totalprice + coalesce(lp + 1, 0) AS o_totalprice)
            FROM orders o LEFT JOIN lastp USING (o_orderkey)""").df(),
        ["o_orderkey"], ["o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"],
        ["o_totalprice"], tol=1e-9))
    return fails


def run(workload, res, data, work):
    if workload == "etl_pipeline":
        return check_pipeline(res, data, work)
    return check_queries(res, data, work)
