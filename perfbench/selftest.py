#!/usr/bin/env python3
"""Self-test of the checks: each must pass the true result and fail every
corrupted copy of it. Needs no Spark session (DuckDB and numpy only).

    python3 perfbench/selftest.py

Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402


def main() -> int:
    from tez_spark.operators.similarity import K
    from tez_spark.plans.registry import all_oracles

    oracles = all_oracles()
    work = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=os.getcwd())
    failures = []

    def expect(name, problems, ok):
        good = (not problems) == ok
        print(f"{'ok  ' if good else 'FAIL'} {name}: "
              f"{'passes' if not problems else problems[0]}")
        if not good:
            failures.append(name)

    try:
        truth = gen.generate(work, 5, 1500, 1000, 300, 200, dup_share=0.3,
                             batches=(3, 20))
        oracle = checks.Oracle(work)

        # DuckDB oracle comparison
        for q in ("tpch06", "tpch01", "text_metrics"):
            cols, rows = oracle.expected(q, oracles[q])
            expect(f"oracle {q} (true)", checks.compare((cols, rows), (cols, rows)), True)
            bad = [list(r) for r in rows]
            i = next(j for j, v in enumerate(bad[0]) if isinstance(v, (int, float)))
            bad[0][i] = bad[0][i] + 1
            expect(f"oracle {q} (value changed)",
                   checks.compare((cols, [tuple(r) for r in bad]), (cols, rows)), False)
            expect(f"oracle {q} (row dropped)",
                   checks.compare((cols, rows[1:]), (cols, rows)), False)
            expect(f"oracle {q} (column renamed)",
                   checks.compare((["x"] + cols[1:], rows), (cols, rows)), False)

        # near-duplicate pairs, re-scored in plain Python
        texts = dict(oracle.con.execute("SELECT doc_id, text FROM documents").fetchall())
        planted = truth["planted_pairs"]
        pairs = [(a, b, j) for a, b, j in planted]
        expect("pairs (true)", checks.check_pairs(pairs, texts, 0.8, planted), True)
        a, b, j = pairs[0]
        expect("pairs (j off by 1e-3)", checks.check_pairs(
            [(a, b, j - 1e-3)] + pairs[1:], texts, 0.8, planted), False)
        expect("pairs (self-pair)", checks.check_pairs(
            pairs + [(a, a, 1.0)], texts, 0.8, planted), False)
        expect("pairs (reported twice)", checks.check_pairs(
            pairs + [(b, a, j)], texts, 0.8, planted), False)
        expect("pairs (planted pair missing)", checks.check_pairs(
            pairs[1:], texts, 0.8, planted), False)
        low = next((x, y) for x in texts for y in texts if x < y and
                   gen.jaccard(gen.shingle_set(texts[x]), gen.shingle_set(texts[y])) < 0.8)
        jl = gen.jaccard(gen.shingle_set(texts[low[0]]), gen.shingle_set(texts[low[1]]))
        expect("pairs (below threshold)", checks.check_pairs(
            pairs + [(low[0], low[1], jl)], texts, 0.8, planted), False)

        # streaming ingest pairs, batch by batch, against brute force
        arrived = dict(oracle.con.execute(
            "SELECT doc_id, text FROM read_parquet(?)",
            [os.path.join(work, "arrivals", "*.parquet")]).fetchall())
        every = {**texts, **arrived}
        stored = [d for d in texts if gen.seeded(d)]
        sh = {d: gen.shingle_set(t) for d, t in every.items()}
        batch_of = {d: (d - gen.ARRIVAL_ID0) // 20 for d in arrived}
        batches: dict = {}
        prior = list(stored)
        for b in sorted(arrived):
            for a in prior:
                j = gen.jaccard(sh[a], sh[b])
                if j >= 0.8:
                    batches.setdefault(batch_of[b], []).append((a, b, j))
            prior.append(b)
        plant = truth["arrival_pairs"]
        first = min(batches)
        a, b, j = batches[first][0]
        later = max(batches)

        def ingest(changed):
            return checks.check_ingest(changed, every, stored, arrived, 0.8, plant)

        expect("ingest (true)", ingest(batches), True)
        expect("ingest (pair reported again in a later batch)", ingest(
            {**batches, later: batches[later] + [(a, b, j)]}), False)
        expect("ingest (pair missing)", ingest(
            {**batches, first: batches[first][1:]}), False)
        keys = {(x, y) for x, y, _ in plant}
        bb, extra = next((bb, p) for bb in sorted(batches) for p in batches[bb]
                         if (p[0], p[1]) not in keys)
        expect("ingest (pair only the brute force knows missing)", ingest(
            {**batches, bb: [p for p in batches[bb] if p != extra]}), False)
        expect("ingest (j off by 1e-3)", ingest(
            {**batches, first: [(a, b, j - 1e-3)] + batches[first][1:]}), False)
        expect("ingest (corpus pair reported)", ingest(
            {**batches, first: batches[first] + [tuple(planted[0])]}), False)
        expect("ingest (self-pair)", ingest(
            {**batches, first: batches[first] + [(b, b, 1.0)]}), False)

        # ANN neighbours against numpy brute force
        vecs = np.array(oracle.con.execute(
            "SELECT embedding FROM embeddings ORDER BY vec_id"
        ).fetchnumpy()["embedding"].tolist(), dtype=np.float64)
        vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        nb = []
        for q in truth["planted_neighbours"]:
            s = vn @ vn[int(q)]
            nb += [(int(q), int(v), float(s[v])) for v in np.argsort(-s)[:K]]
        plant = truth["planted_neighbours"]
        expect("ann (true)", checks.check_ann(nb, vecs, plant, K), True)
        q0, v0, s0 = nb[1]
        far = int(np.argsort(vn @ vn[q0])[0])
        expect("ann (planted neighbour swapped out)", checks.check_ann(
            [nb[0], (q0, far, float(vn[q0] @ vn[far]))] + nb[2:], vecs, plant, K), False)
        expect("ann (sim wrong)", checks.check_ann(
            [nb[0], (q0, v0, s0 - 0.01)] + nb[2:], vecs, plant, K), False)
        expect("ann (neighbour missing)", checks.check_ann(nb[1:], vecs, plant, K), False)
        oracle.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"selftest": "pass" if not failures else "fail", "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
