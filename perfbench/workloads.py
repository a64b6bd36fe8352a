"""The benchmark's workloads, run against the public API of tez_spark.

Every workload: generate its inputs (untimed), set up a fresh session
(`setup_s`: `get_spark` until the flagship query has finished on the
warm-up input), run a number of whole passes over its pinned query list
fixed by the run length, then check every output apart from the program.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import threading
import time

import numpy as np

import checks
import gen
from spans import Tracer

# Pinned query lists: a new registry entry must not change a workload.
# INTERACTIVE is the stratified choice of profile_queries.py --select 8
# from query_profile.json, its warm measurement of every oracled query
# (README.md, "The interactive query list").
INTERACTIVE = (
    "q11", "tpch01", "pivot", "text_langid", "window_sliding", "source_cap",
    "ann_topk", "bpe_train",
)
ETL_TPCH = tuple(f"tpch{i:02d}" for i in range(1, 23))
# (stage, how its output is checked)
CURATION = (
    ("text_metrics", "oracle"),
    ("text_langid", "oracle"),
    ("pii_redact", "oracle"),
    ("dedup_minhash_lsh", "pairs"),
    ("curation_pipeline_lsh", "oracle"),
    ("bpe_segment", "oracle"),
    ("ann_ivf", "ann"),
    ("ingest_dedup", "ingest"),
)
# The ingest stage: streaming.ingest.maintain_dedup over INGEST_BATCHES
# micro-batch files (count, documents each) against a store seeded from
# the corpus. Compaction runs at the top of a batch when more than
# INGEST_COMPACT_EVERY batch deltas are committed: here at the third.
INGEST_BATCHES = (3, 30)
INGEST_COMPACT_EVERY = 1
INGEST_THRESHOLD = 0.8
CLIENTS = 2
# Run length per timed pass: a run of --seconds S makes round(S / this)
# timed passes (at least one).
NOMINAL_PASS_S = {"interactive": 9.0, "etl_tpch": 15.0, "curation": 25.0}
FLAGSHIP = "q08"  # the query __spark_entry__.entry() runs

# Input sizes per workload (orders, events, documents, vectors); lineitem
# averages 4 rows per order.
SIZES = {
    "warmup": (1500, 1000, 300, 500),
    "interactive": (15000, 10000, 500, 500),
    "etl_tpch": (50000, 1000, 200, 200),
    "curation": (1500, 1000, 1000, 2000),
}


class Ran(tuple):
    """(columns, rows) of an operation that is not one DataFrame action
    (the ingest stream): its builder runs it to its end."""


class Dag:
    """One DAG: build the plan, (traced: force the physical plan), act."""

    __slots__ = ("name", "sf_dir", "start", "build", "optimize", "end",
                 "columns", "rows", "counters", "error", "ran")

    def __init__(self, name: str, sf_dir: str):
        self.name, self.sf_dir = name, sf_dir
        self.optimize = 0.0
        self.counters: dict = {}
        self.rows = self.columns = self.error = None
        self.ran = False

    @property
    def latency(self) -> float:
        return self.end - self.start


class Context:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, cpus: int):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.cpus = cpus
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.warm = os.path.join(work, "warmup")  # flagship and warm-up input
        self.data = os.path.join(work, "data")  # the measured input
        self.work = work
        self.warmup_dags: list = []
        self.ingest: dict = {}  # what the ingest stage observed, for per_layer

    def run_dag(self, name: str, build, sf_dir: str, client: int = 0,
                traced: bool = True) -> Dag:
        """Time one DAG; with tracing on (and `traced`), run it under
        observability.capture and force the physical plan first."""
        tr = self.tracer
        dag = Dag(name, sf_dir)

        def body():
            with tr.span("plans.build", query=name):
                df = build(self.spark, sf_dir)
            if isinstance(df, Ran):  # ran to its end inside the builder
                dag.build = dag.optimize = dag.start
                dag.columns, dag.rows = df
                dag.end, dag.ran = time.perf_counter(), True
                return
            dag.build = time.perf_counter()
            if tr.on and traced:
                with tr.span("plans.optimize", query=name):
                    df._jdf.queryExecution().executedPlan()
            dag.optimize = time.perf_counter()
            with tr.span("plans.execute", query=name):
                dag.rows = df.collect()
            dag.end = time.perf_counter()
            dag.columns = df.columns

        dag.start = time.perf_counter()
        try:
            with tr.span("dag", query=name, client=client):
                if tr.on and traced:
                    from tez_spark.observability import capture

                    with tr.span("observability.capture"):
                        _, dag.counters = capture(self.spark, body)
                else:
                    body()
        except Exception as e:  # counted as a failed operation
            dag.error = f"{type(e).__name__}: {str(e)[:300]}"
            dag.end = time.perf_counter()
        return dag


def setup(ctx: Context) -> dict:
    """get_spark on a fresh JVM, then the flagship query to its end."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        from tez_spark.session import get_spark

        ctx.spark = get_spark(app_name=f"perfbench-{ctx.workload}", cpus=ctx.cpus)
    t1 = time.perf_counter()
    from tez_spark.plans.registry import all_queries

    if tr.on:
        tr.wrap_load_table()
    queries = all_queries()
    with tr.span("session.first_dag"):
        # untraced, so the first DAG costs the same in both runs; its
        # output is checked with the warm-up DAGs
        ctx.warmup_dags.append(ctx.run_dag(FLAGSHIP, queries[FLAGSHIP], ctx.warm,
                                           traced=False))
    t2 = time.perf_counter()
    return {"setup_s": t2 - t0, "session.start_s": t1 - t0,
            "session.first_dag_s": t2 - t1}


def _passes(ctx: Context, names, sf_dir: str, queries: dict, passes: int,
            client: int = 0, shuffle_seed: int | None = None):
    """`passes` whole passes over `names`. Returns (dags, pass wall times)."""
    rng = random.Random(shuffle_seed)
    dags, walls = [], []
    for _ in range(passes):
        order = list(names)
        if shuffle_seed is not None:
            rng.shuffle(order)
        t0 = time.perf_counter()
        for n in order:
            dags.append(ctx.run_dag(n, queries[n], sf_dir, client))
        walls.append(time.perf_counter() - t0)
    return dags, walls


def passes_for(ctx: Context, workload: str) -> int:
    """Timed passes for a run of ctx.seconds: fixed by the run length, not
    by how fast the passes go, so every run attempts the same operations
    and a faster program is measured on the same work."""
    return max(1, round(ctx.seconds / NOMINAL_PASS_S[workload]))


def interactive(ctx: Context) -> tuple[list, list, float]:
    """CLIENTS threads share one session, each submitting the pinned list
    in its own seeded shuffled order, all on the same input: first an
    untimed warm-up pass in which the clients split the list, so every
    query runs once, then the timed passes over the whole list."""
    from tez_spark.plans.registry import all_queries

    queries = all_queries()

    def clients(passes: int, split: bool = False) -> tuple[list, list, float]:
        out: list = [None] * CLIENTS

        def client(i):
            names = INTERACTIVE[i::CLIENTS] if split else INTERACTIVE
            out[i] = _passes(ctx, names, ctx.data, queries, passes, i,
                             ctx.seed * 1000 + i)

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(i,), name=f"client{i}")
                   for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return ([d for o in out for d in o[0]], [w for o in out for w in o[1]],
                time.perf_counter() - t0)

    ctx.warmup_dags += clients(1, split=True)[0]
    return clients(passes_for(ctx, "interactive"))


def etl_tpch(ctx: Context) -> tuple[list, list, float]:
    """One untimed pass on the warm-up input, so the JVM has compiled every
    plan shape, then the timed pass on the measured input."""
    from tez_spark.plans.registry import all_queries

    queries = all_queries()
    ctx.warmup_dags += _passes(ctx, ETL_TPCH, ctx.warm, queries, 1)[0]
    t0 = time.perf_counter()
    dags, walls = _passes(ctx, ETL_TPCH, ctx.data, queries, passes_for(ctx, "etl_tpch"))
    return dags, walls, time.perf_counter() - t0


def curation(ctx: Context) -> tuple[list, list, float]:
    """The stage list straight after setup: the program's caches and the
    JVM start cold, as for a user curating a fresh snapshot."""
    from tez_spark.operators.similarity import ann_ivf_neighbors
    from tez_spark.plans.registry import all_queries

    queries = all_queries()
    builders = {s: queries[s] for s, kind in CURATION if kind in ("oracle", "pairs")}
    # the neighbour rows themselves, so recall can be checked apart
    builders["ann_ivf"] = ann_ivf_neighbors
    builders["ingest_dedup"] = lambda spark, sf_dir: ingest(ctx, sf_dir)
    t0 = time.perf_counter()
    dags, walls = _passes(ctx, [s for s, _ in CURATION], ctx.data, builders,
                          passes_for(ctx, "curation"))
    return dags, walls, time.perf_counter() - t0


def ingest(ctx: Context, sf_dir: str) -> Ran:
    """maintain_dedup over the arrival files against a fresh store. Each
    report collects the batch's pairs; its wall times, the seed store's
    and the stream checkpoint's file times are kept for per_layer."""
    from tez_spark.streaming import ingest as streaming

    n = ctx.ingest.get("n", 0) + 1  # a fresh store for every pass
    store = os.path.join(ctx.work, f"ingest-store-{n}")
    seed_dir = os.path.join(store, "bands", "seed")
    ob = ctx.ingest = {"n": n, "start": time.time(), "reports": [], "compactions": []}
    rows: list = []

    def report(pairs, batch_id):
        t = time.time()
        if not ob["reports"]:  # the seed is written before the stream starts
            ob["seeded"] = max(os.path.getmtime(os.path.join(seed_dir, f))
                               for f in os.listdir(seed_dir))
        with ctx.tracer.span("ingest.report", batch=batch_id):
            rows.extend((batch_id, r.da, r.db, r.j) for r in pairs.collect())
        ob["reports"].append((batch_id, t, time.time()))

    if ctx.tracer.on and not hasattr(streaming.compact_dedup_store, "perfbench"):
        compact = streaming.compact_dedup_store

        def timed_compact(*a, **kw):
            t = time.time()
            with ctx.tracer.span("ingest.compact"):
                out = compact(*a, **kw)
            ctx.ingest["compactions"].append((t, time.time()))
            return out

        timed_compact.perfbench = True
        streaming.compact_dedup_store = timed_compact
    streaming.maintain_dedup(ctx.spark, sf_dir, store, os.path.join(sf_dir, "arrivals"),
                             report, threshold=INGEST_THRESHOLD,
                             compact_every=INGEST_COMPACT_EVERY)
    ob["end"] = time.time()
    ckpt = os.path.join(store, "checkpoint")
    ob["batches"] = {}
    for b, *_ in ob["reports"]:
        ob["batches"][b] = (os.path.getmtime(os.path.join(ckpt, "offsets", str(b))),
                            os.path.getmtime(os.path.join(ckpt, "commits", str(b))))
    files = [os.path.join(d, f) for t in ("shingles", "bands")
             for d, _, fs in os.walk(os.path.join(store, t))
             for f in fs if f.endswith(".parquet")]
    ob["store_files"] = len(files)
    ob["store_bytes"] = sum(os.path.getsize(f) for f in files)
    return Ran((["batch", "da", "db", "j"], rows))


RUNNERS = {"interactive": interactive, "etl_tpch": etl_tpch, "curation": curation}


def check(ctx: Context, dags: list) -> list[str]:
    """Every DAG's output against the computations made apart from it."""
    problems: list[str] = []
    for sf_dir in sorted({d.sf_dir for d in dags}):
        problems += _check_input(ctx, [d for d in dags if d.sf_dir == sf_dir], sf_dir)
    return problems


def _check_input(ctx: Context, dags: list, data: str) -> list[str]:
    from tez_spark.operators.similarity import K
    from tez_spark.plans.registry import all_oracles

    oracles = all_oracles()
    kinds = dict(CURATION) if ctx.workload == "curation" else {}
    with open(os.path.join(data, "truth.json")) as f:
        truth = json.load(f)
    problems: list[str] = []
    oracle = checks.Oracle(data)
    texts = vectors = arrivals = None
    try:
        for d in dags:
            if d.error is not None:
                continue
            kind = kinds.get(d.name, "oracle")
            rows = [tuple(r) for r in d.rows]
            if kind == "oracle":
                got = checks.canon(d.columns, rows)
                bad = checks.compare(got, oracle.expected(d.name, oracles[d.name]))
            elif kind == "pairs":
                if texts is None:
                    texts = dict(oracle.con.execute(
                        "SELECT doc_id, text FROM documents").fetchall())
                cols = d.columns
                pairs = [(r[cols.index("da")], r[cols.index("db")], r[cols.index("j")])
                         for r in rows]
                bad = checks.check_pairs(pairs, texts, 0.8, truth["planted_pairs"])
            elif kind == "ingest":
                if texts is None:
                    texts = dict(oracle.con.execute(
                        "SELECT doc_id, text FROM documents").fetchall())
                if arrivals is None:
                    arrivals = dict(oracle.con.execute(
                        "SELECT doc_id, text FROM read_parquet(?)",
                        [os.path.join(data, "arrivals", "*.parquet")]).fetchall())
                batches: dict = {}
                for b, da, db, j in rows:
                    batches.setdefault(b, []).append((da, db, j))
                bad = checks.check_ingest(
                    batches, {**texts, **arrivals}, [d for d in texts if gen.seeded(d)],
                    arrivals, INGEST_THRESHOLD, truth["arrival_pairs"])
            else:
                if vectors is None:
                    vectors = np.array(oracle.con.execute(
                        "SELECT embedding FROM embeddings ORDER BY vec_id"
                    ).fetchnumpy()["embedding"].tolist(), dtype=np.float64)
                cols = d.columns
                nb = [(r[cols.index("q_id")], r[cols.index("vec_id")], r[cols.index("sim")])
                      for r in rows]
                bad = checks.check_ann(nb, vectors, truth["planted_neighbours"], K)
            problems += [f"{d.name} on {os.path.basename(data)}: {b}" for b in bad]
    finally:
        oracle.close()
    return problems


def latencies(dags: list) -> dict[str, list[float]]:
    """Seconds per pinned query, over its timed DAGs that did not fail."""
    out: dict[str, list[float]] = {}
    for d in dags:
        if d.error is None:
            out.setdefault(d.name, []).append(d.latency)
    return out


def end_to_end(setup_m: dict, dags: list, walls: list) -> dict:
    lat = latencies(dags)
    # The geometric mean over queries of each query's median, as TPC-H's
    # power metric: a median over all DAGs of a short list of unlike
    # queries jumps between neighbouring queries from run to run.
    geo = statistics.geometric_mean([statistics.median(v) for v in lat.values()])
    return {
        "setup_s": (setup_m["setup_s"], "s"),
        "dag_geomean_ms": (geo * 1000, "ms"),
        "pass_s": (statistics.median(walls), "s"),
    }


def per_layer(ctx: Context, setup_m: dict, dags: list, walls: list, wall: float) -> dict:
    tr, ok = ctx.tracer, [d for d in dags if d.error is None]
    plans = [d for d in ok if not d.ran]
    n, passes = max(len(ok), 1), max(len(walls), 1)
    timed = min(d.start for d in dags)  # warm-up passes ran before this
    hits = [hit for start, hit in tr.loads if start >= timed]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def total(key):
        return sum(d.counters.get(key, 0) for d in ok)

    lat = latencies(dags)

    def stage_s(name):
        return med(lat.get(name, []))

    cpu_s = total("EXECUTOR_CPU_TIME_NS") / 1e9
    sc = ctx.spark.sparkContext
    cached = sum(int(i.memSize()) + int(i.diskSize())
                 for i in sc._jsc.sc().getRDDStorageInfo())
    m = {
        "session.start_s": (setup_m["session.start_s"], "s"),
        "session.first_dag_s": (setup_m["session.first_dag_s"], "s"),
        "plans.build_ms": (med([(d.build - d.start) * 1000 for d in plans]), "ms"),
        "plans.optimize_ms": (med([(d.optimize - d.build) * 1000 for d in plans]), "ms"),
        "plans.execute_ms": (med([(d.end - d.optimize) * 1000 for d in plans]), "ms"),
        "plans.jobs_per_dag": (total("NUM_JOBS") / n, "count"),
        "plans.stages_per_dag": (total("NUM_STAGES") / n, "count"),
        "plans.tasks_per_dag": (total("NUM_COMPLETED_TASKS") / n, "count"),
        "sources.load_table_ms": (tr.total("sources.load_table", timed) * 1000 / n, "ms"),
        "sources.relation_cache_hit_ratio": (sum(hits) / max(len(hits), 1), "ratio"),
        "sources.input_mb": (total("INPUT_BYTES") / 1e6 / passes, "MB"),
        "sources.input_records": (total("INPUT_RECORDS_PROCESSED") / passes, "count"),
        "operators.shuffle_write_mb": (total("SHUFFLE_BYTES_WRITTEN") / 1e6 / passes, "MB"),
        "operators.shuffle_records": (total("SHUFFLE_RECORDS_WRITTEN") / passes, "count"),
        "operators.spill_mb": ((total("SPILLED_BYTES_MEMORY") + total("SPILLED_BYTES_DISK"))
                               / 1e6 / passes, "MB"),
        "operators.executor_cpu_s": (cpu_s / passes, "s"),
        "operators.gc_s": (total("GC_TIME_MS") / 1000 / passes, "s"),
        "operators.cpu_util": (cpu_s / (wall * ctx.cpus), "ratio"),
        "operators.cached_mb": (cached / 1e6, "MB"),
        "functions.text_metrics_s": (stage_s("text_metrics"), "s"),
        "functions.langid_s": (stage_s("text_langid"), "s"),
        "functions.pii_redact_s": (stage_s("pii_redact"), "s"),
        "dedup.minhash_lsh_s": (stage_s("dedup_minhash_lsh"), "s"),
        "dedup.curation_lsh_s": (stage_s("curation_pipeline_lsh"), "s"),
        "bpe.segment_s": (stage_s("bpe_segment"), "s"),
        "similarity.ann_ivf_s": (stage_s("ann_ivf"), "s"),
        "trace.pass_s": (statistics.median(walls), "s"),
    }
    cand = verified = 0
    lsh = [d for d in ok if d.name == "dedup_minhash_lsh"]
    if lsh:
        from tez_spark.operators.dedup import lsh_candidate_table

        cand = lsh_candidate_table(ctx.spark, ctx.data).count()
        verified = len(lsh[-1].rows)
    m["dedup.lsh_candidates"] = (cand, "count")
    m["dedup.verified_pairs"] = (verified, "count")
    m["dedup.candidate_precision"] = (verified / cand if cand else 0.0, "ratio")
    m.update(ingest_layer(ctx))
    return m


INGEST_UNITS = {
    "ingest.seed_s": "s", "ingest.batch_p50_s": "s", "ingest.dedup_s": "s",
    "ingest.commit_s": "s", "ingest.compact_s": "s", "ingest.docs_per_s": "docs/s",
    "ingest.store_files": "count", "ingest.store_bytes_per_doc": "bytes",
}


def ingest_layer(ctx: Context) -> dict:
    """The ingest stage's metrics from what `ingest` kept: report times,
    compaction times, and per batch the checkpoint's offset-log write
    (the batch starts) and commit-log write (the batch has ended). They
    read 0 where no ingest ran."""
    ob = ctx.ingest
    if "end" not in ob:
        return {k: (0.0, u) for k, u in INGEST_UNITS.items()}
    batch, dedup, commit = [], [], []
    for b, r0, r1 in ob["reports"]:
        start, end = ob["batches"][b]
        compact = sum(c1 - c0 for c0, c1 in ob["compactions"] if start <= c0 <= end)
        batch.append(end - start)
        dedup.append(r1 - r0)
        commit.append(end - start - (r1 - r0) - compact)
    stored = sum(1 for d in range(SIZES["curation"][2]) if gen.seeded(d))
    arrived = INGEST_BATCHES[0] * INGEST_BATCHES[1]
    values = {
        "ingest.seed_s": ob["seeded"] - ob["start"],
        "ingest.batch_p50_s": statistics.median(batch),
        "ingest.dedup_s": statistics.median(dedup),
        "ingest.commit_s": statistics.median(commit),
        "ingest.compact_s": sum(c1 - c0 for c0, c1 in ob["compactions"]),
        "ingest.docs_per_s": arrived / (ob["end"] - ob["start"]),
        "ingest.store_files": ob["store_files"],
        "ingest.store_bytes_per_doc": ob["store_bytes"] / (stored + arrived),
    }
    return {k: (values[k], u) for k, u in INGEST_UNITS.items()}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        cpus: int) -> dict:
    ctx = Context(workload, seed, seconds, trace, work, cpus)
    phases = [time.perf_counter()]
    gen.generate(ctx.warm, seed + 1, *SIZES["warmup"])
    gen.generate(ctx.data, seed, *SIZES[workload],
                 batches=INGEST_BATCHES if workload == "curation" else (0, 0))
    phases.append(time.perf_counter())
    setup_m = setup(ctx)
    phases.append(time.perf_counter())
    dags, walls, wall = RUNNERS[workload](ctx)
    phases.append(time.perf_counter())
    if trace:
        metrics = per_layer(ctx, setup_m, dags, walls, wall)
    else:
        metrics = end_to_end(setup_m, dags, walls)
    everything = ctx.warmup_dags + dags
    failed = [d for d in everything if d.error is not None]
    problems = check(ctx, everything)
    phases.append(time.perf_counter())
    print("timed DAGs (median s): " + ", ".join(
        f"{n} {statistics.median(v):.2f}" for n, v in latencies(dags).items()),
        file=sys.stderr)
    print("phases (s): " + ", ".join(
        f"{n} {b - a:.1f}" for n, a, b in
        zip(("generate", "setup", "measure", "check"), phases, phases[1:])),
        file=sys.stderr)
    if trace:
        os.makedirs(os.path.join(work, "..", "traces"), exist_ok=True)
        ctx.tracer.dump(os.path.join(work, "..", "traces", f"{ctx.tracer.run_id}.json"))
    return {
        "correct": not problems,
        "attempted": len(everything),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "_problems": problems + [f"{d.name}: {d.error}" for d in failed[:5]],
    }
