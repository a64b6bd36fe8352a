"""Seeded input generator for the benchmark.

Writes parquet in the fixture schema (FIXTURES.md) and the fixtures'
value domains, at a scale chosen per workload, plus the ground truth the
checks need (planted near-duplicate pairs, planted embedding neighbours)
as JSON beside the inputs. The program under test only ever receives the
parquet files. The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tez_spark.functions.text_queries import LANG_MARKERS

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
# The fixture corpus's own words lead the vocabulary, so the queries'
# literal predicates (wordcount filters, stopwords) keep their meaning.
FIXTURE_WORDS = (
    "the", "a", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "agg", "key", "query", "scan", "batch", "dup",
)
EPOCH_1995 = dt.datetime(1995, 1, 1)
EPOCH_2024 = dt.datetime(2024, 1, 1)
EMB_DIM = 64
EMB_PLANTED = 4  # planted neighbours per query vector (similarity.N_QUERIES of them)
VOCAB = 3000  # Zipf-ranked words in the corpus vocabulary
DOC_WORDS = (20, 120)  # words per generated (not copied) document


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(start + micros.astype(np.int64), pa.timestamp("us"))


def star(rng: np.random.Generator, out: str, n_orders: int) -> None:
    """TPC-H-style star schema; lineitem averages 4 rows per order."""
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 100)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(EPOCH_1995, odays * 86_400_000_000),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    per_order = rng.integers(1, 8, n_orders)  # 1..7 lines, mean 4
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n_li = len(l_order)
    starts = np.cumsum(per_order) - per_order
    l_line = (np.arange(n_li) - np.repeat(starts, per_order) + 1).astype(np.int32)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odays, per_order) + rng.integers(1, 122, n_li)
    _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(1.0, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995, ship * 86_400_000_000),
    })


def events(rng: np.random.Generator, out: str, n: int) -> None:
    """Event stream over January 2024; user_id is Zipf-skewed (the skewed
    join key of Q18)."""
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    users = (rng.zipf(1.3, n) - 1) % 150
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(EPOCH_2024, micros),
        "user_id": users.astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """Pronounceable pseudo-words after the fixture words, Zipf-ranked."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = list(FIXTURE_WORDS)
    seen = set(words) | {w for ws in LANG_MARKERS.values() for w in ws}
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(cons[rng.integers(0, len(cons))] + vows[rng.integers(0, 5)]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def shingle_set(text: str) -> set[str]:
    """Word 3-gram set over whitespace tokens with empties dropped — the
    definition of functions.text.tokens + operators.dedup.shingles."""
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def _pii(rng: np.random.Generator, words: list[str]) -> str:
    kind = int(rng.integers(0, 3))
    w = words[int(rng.integers(0, len(words)))]
    if kind == 0:
        return f"{w}{int(rng.integers(1, 999))}@{w}mail.com"
    if kind == 1:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
    return f"{int(rng.integers(200, 999))}-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}"


def _doc_text(rng, words, probs, lang) -> str:
    n = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
    toks = [words[i] for i in rng.choice(len(words), n, p=probs)]
    markers = LANG_MARKERS.get(lang)
    if markers:
        for i in np.nonzero(rng.random(n) < 0.08)[0]:
            toks[i] = markers[int(rng.integers(0, len(markers)))]
    if rng.random() < 0.1:
        toks.insert(int(rng.integers(0, n)), _pii(rng, words))
    return " ".join(toks)


def _near_copy(rng, text: str, words: list[str]) -> str:
    """One token edit in the last third: Jaccard to the source stays ~0.9."""
    toks = text.split(" ")
    i = int(rng.integers(len(toks) * 2 // 3, len(toks)))
    if rng.random() < 0.5:
        toks[i] = words[int(rng.integers(len(FIXTURE_WORDS), len(words)))]
    else:
        del toks[i]
    return " ".join(toks)


def _copy_of(rng, text: str, words: list[str]) -> tuple[str, float] | None:
    """An exact duplicate or a one-token edit of `text` (at least 60
    tokens) with a 3-gram Jaccard >= 0.85 to it, with that Jaccard."""
    if len(text.split(" ")) < 60:
        return None
    cand = text if rng.random() < 0.3 else _near_copy(rng, text, words)
    j = jaccard(shingle_set(text), shingle_set(cand))
    return (cand, j) if j >= 0.85 else None


def corpus(rng: np.random.Generator, n_docs: int, dup_share: float):
    """(rows, planted, words): rows of documents; planted (source id, copy
    id, exact 3-gram Jaccard). A copy of an earlier document is an exact
    duplicate or a one-token edit of it; every planted pair has Jaccard
    >= 0.85, well above the 0.8 threshold."""
    words = _vocab(rng, VOCAB)
    probs = _zipf(len(words))
    rows, planted = [], []
    texts: list[str] = []
    for k in range(n_docs):
        lang = LANGS[int(rng.choice(5, p=LANG_P))]
        text = None
        if texts and rng.random() < dup_share:
            src = int(rng.integers(0, len(texts)))
            copy = _copy_of(rng, texts[src], words)
            if copy is not None:
                text = copy[0]
                planted.append((src, k, copy[1]))
        if text is None:
            text = _doc_text(rng, words, probs, lang)
        texts.append(text)
        rows.append((k, text, lang, f"src{int(rng.integers(0, 20))}", len(text)))
    return rows, planted, words


def _zipf(n: int) -> np.ndarray:
    probs = np.arange(1, n + 1, dtype=np.float64) ** -1.1
    return probs / probs.sum()


ARRIVAL_ID0 = 1_000_000  # arrival doc_ids start here, clear of the corpus's


def seeded(doc_id: int) -> bool:
    """Whether streaming.ingest.maintain_dedup seeds its signature store
    with this corpus document: the md5 split its docstring names (hex
    digest of the id's decimal string, first two digits below e6)."""
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2] < "e6"


def arrivals(rng: np.random.Generator, out: str, rows, words: list[str],
             n_batches: int, per_batch: int) -> list:
    """Micro-batch files of newly arrived documents (doc_id, text), one
    parquet file per batch, their modification times one second apart
    in batch order. About one arrival in five is a copy of a corpus
    document the store is seeded with, one in ten a copy of an earlier
    arrival (of this batch or an earlier one); the rest are fresh.
    Returns the planted (source id, arrival id, Jaccard) pairs."""
    probs = _zipf(len(words))
    stored = [(k, t) for k, t, *_ in rows if seeded(k)]
    os.makedirs(out)
    planted, earlier = [], []
    t0 = int(dt.datetime(2024, 1, 1).timestamp())
    for b in range(n_batches):
        ids, texts = [], []
        for _ in range(per_batch):
            k = ARRIVAL_ID0 + len(earlier)
            u, copy = rng.random(), None
            if u < 0.3:
                pool = stored if u < 0.2 or not earlier else earlier
                src, src_text = pool[int(rng.integers(0, len(pool)))]
                copy = _copy_of(rng, src_text, words)
                if copy is not None:
                    planted.append((src, k, copy[1]))
            text = copy[0] if copy else _doc_text(
                rng, words, probs, LANGS[int(rng.choice(5, p=LANG_P))])
            ids.append(k)
            texts.append(text)
            earlier.append((k, text))
        path = os.path.join(out, f"batch_{b:03d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)
        os.utime(path, (t0 + b, t0 + b))
    return planted


def write_documents(out: str, rows) -> None:
    ids, texts, langs, srcs, nch = zip(*rows)
    _write(out, "documents", {
        "doc_id": pa.array(ids, pa.int64()),
        "text": list(texts),
        "lang": list(langs),
        "source": list(srcs),
        "n_chars": pa.array(nch, pa.int64()),
    })


def embeddings(rng: np.random.Generator, out: str, n: int) -> dict:
    """Unit vectors; each query vector (vec_id < 10) gets EMB_PLANTED
    near copies (cosine ~0.99) at random ids, so its exact top-5 is
    itself plus its planted neighbours."""
    from tez_spark.operators.similarity import N_QUERIES

    v = rng.normal(size=(n, EMB_DIM))
    slots = rng.permutation(np.arange(N_QUERIES, n))[: N_QUERIES * EMB_PLANTED]
    planted = {}
    for q in range(N_QUERIES):
        ids = slots[q * EMB_PLANTED:(q + 1) * EMB_PLANTED]
        v[ids] = v[q] + rng.normal(scale=0.1, size=(EMB_PLANTED, EMB_DIM))
        planted[q] = sorted(int(i) for i in ids)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    return planted


def generate(out: str, seed: int, n_orders: int, n_events: int, n_docs: int,
             n_vecs: int, dup_share: float = 0.1, batches: tuple[int, int] = (0, 0)) -> dict:
    """All ten fixture tables under `out`, and with `batches` (count,
    documents each) the arrival files under `out`/arrivals; returns
    (and writes) the truth."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    star(rng, out, n_orders)
    events(rng, out, n_events)
    rows, planted, words = corpus(rng, n_docs, dup_share=dup_share)
    write_documents(out, rows)
    truth = {
        "planted_pairs": planted,
        "planted_neighbours": embeddings(rng, out, n_vecs),
    }
    if batches[0]:
        truth["arrival_pairs"] = arrivals(
            rng, os.path.join(out, "arrivals"), rows, words, *batches)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
