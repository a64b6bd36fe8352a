"""Checks made apart from the program, run outside the timed region.

- `Oracle`: DuckDB evaluates a query's registry oracle SQL over the same
  parquet files; rows are compared ignoring order, columns by name,
  floats to 6 decimals (as tests/conftest.py does) with a relative
  tolerance of 1e-8 on top: a sum in the millions, rounded to cents by
  the query, can land on either side of a half cent depending on the
  engine's summation order.
- `check_pairs`: near-duplicate pairs are re-scored in plain Python from
  whitespace tokens and word 3-gram sets.
- `check_ingest`: the streaming ingest's pairs, batch by batch, against
  the same re-scoring and a brute force over every stored and arrived
  document.
- `check_ann`: IVF neighbours against a numpy brute-force top-k.
Each returns a list of problems; an empty list means the output is right.
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import numpy as np

from gen import jaccard, shingle_set

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{round(v, 6):.10g}")
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _canon(tuple(v))
    return v


def canon(columns, rows):
    """(sorted column names, rows projected to them, canonical, sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)
    return [columns[i] for i in order], out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-8, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(actual, expected) -> list[str]:
    """actual/expected: (columns, canonical rows) as `canon` returns."""
    (ac, ar), (ec, er) = actual, expected
    if ac != ec:
        return [f"columns {ac} != {ec}"]
    if len(ar) != len(er):
        return [f"{len(ar)} rows != {len(er)} expected"]
    for i, (a, b) in enumerate(zip(ar, er)):
        if not _same(a, b):
            return [f"row {i}: {a!r} != {b!r}"]
    return []


class Oracle:
    """DuckDB over one input directory; expected results are memoized."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {os.cpu_count() or 4}")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._memo: dict[str, tuple] = {}

    def expected(self, name: str, sql: str):
        if name not in self._memo:
            rel = self.con.execute(sql)
            cols = [d[0] for d in rel.description]
            self._memo[name] = canon(cols, rel.fetchall())
        return self._memo[name]

    def close(self) -> None:
        self.con.close()


def check_pairs(pairs, texts: dict[int, str], threshold: float,
                planted=()) -> list[str]:
    """pairs: (da, db, j) rows. Each pair must re-score to the reported j
    (1e-6) and reach the threshold; no self-pair, no pair twice; every
    planted (a, b) must be present."""
    problems = []
    seen: set = set()
    shingles: dict[int, set] = {}

    def sh(d):
        if d not in shingles:
            shingles[d] = shingle_set(texts[d])
        return shingles[d]

    for da, db, j in pairs:
        key = (min(da, db), max(da, db))
        if da == db:
            problems.append(f"self-pair {da}")
        elif key in seen:
            problems.append(f"pair {key} reported twice")
        seen.add(key)
        if da not in texts or db not in texts:
            problems.append(f"pair ({da}, {db}) names an unknown document")
            continue
        exact = jaccard(sh(da), sh(db))
        if abs(exact - j) > 1e-6 or exact < threshold:
            problems.append(f"pair ({da}, {db}): j={j} but exact Jaccard {exact}")
    for a, b, *_ in planted:
        if (min(a, b), max(a, b)) not in seen:
            problems.append(f"planted pair ({a}, {b}) missing")
    return problems[:5]


def check_ingest(batches: dict, texts: dict[int, str], stored, arrived,
                 threshold: float, planted=()) -> list[str]:
    """batches: {batch id: [(da, db, j)]} as the ingest stream reported
    them. Every pair must pass `check_pairs` over all batches together
    (so no pair is reported twice across batches) and name an arrival as
    `db` and a stored document or an arrival as `da`; and every pair a
    brute force over (stored + arrived) x arrived finds at the threshold
    must be reported."""
    pairs = [p for b in sorted(batches) for p in batches[b]]
    problems = check_pairs(pairs, texts, threshold, planted)
    arrived = sorted(arrived)
    known = set(stored) | set(arrived)
    for da, db, _ in pairs:
        if db not in arrived or da not in known:
            problems.append(f"pair ({da}, {db}): not (stored or arrived, arrived)")
    reported = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    sh = {d: shingle_set(texts[d]) for d in known}
    prior = list(stored)
    for b in arrived:
        for a in prior:
            if (min(a, b), max(a, b)) not in reported and jaccard(sh[a], sh[b]) >= threshold:
                problems.append(f"pair ({a}, {b}) at Jaccard >= {threshold} not reported")
        prior.append(b)
    return problems[:5]


def check_ann(neighbours, vectors: np.ndarray, planted: dict, k: int,
              min_recall: float = 0.8) -> list[str]:
    """neighbours: (q_id, vec_id, sim) rows. Every planted neighbour must be
    returned, each sim must match the exact cosine (1e-4, float32 input),
    and each query's recall@k against numpy brute force must reach
    min_recall."""
    problems = []
    vn = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    got: dict[int, set] = {}
    for q, v, s in neighbours:
        got.setdefault(int(q), set()).add(int(v))
        exact = float(vn[int(q)] @ vn[int(v)])
        if abs(exact - s) > 1e-4:
            problems.append(f"query {q} -> {v}: sim {s} but cosine {exact}")
    for q, plant in planted.items():
        q = int(q)
        top = set(np.argsort(-(vn @ vn[q]), kind="stable")[:k].tolist())
        ids = got.get(q, set())
        if len(ids) != k:
            problems.append(f"query {q}: {len(ids)} neighbours, expected {k}")
        if len(ids & top) / k < min_recall:
            problems.append(f"query {q}: recall@{k} {len(ids & top) / k}")
        if not set(plant) <= ids:
            problems.append(f"query {q}: planted neighbours {sorted(set(plant) - ids)} missing")
    return problems[:5]
