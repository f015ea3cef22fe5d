"""Benchmark of the multi-search engine: one seeded, single-client,
closed-loop workload per run.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 10 --trace 0

Workloads:

- search_serve: rounds of one request per SearchEngine endpoint (text,
  image, panel, diverse, feedback) in a seeded order over a generated
  2000-vector / 2000-document corpus. Requests touch little data, so fixed
  per-request costs dominate: jobs, tasks, Catalyst planning, driver round
  trips.
- curate_batch: repeated full passes of the eight-query curation chain
  (quality scores, exact/MinHash/semantic dedup, components, PII
  redaction, end-to-end pipeline, shard manifest) over a
  generated 600-document corpus with a 25% near-duplicate share. Operator
  CPU is the larger share of each query and Catalyst planning a small one.

Each run works in a fresh directory under `.perfbench/work/` (warehouse,
Spark local dirs, temp files) that is removed at exit. The indexes a
workload serves from are built in set-up, twice from scratch (the first
build runs on a cold JVM, the second on a warm one); the median of the
two is `setup_s`. For search_serve a warm-up round then runs every request
shape before timing starts; curate_batch times the first pass after its
index builds. Timed rounds repeat until `--seconds` have passed; only
whole rounds are timed, so every endpoint or query has the same weight in
each run.

Every op's rows are checked against the DuckDB oracle (oracle.py); a
mismatch or an exception counts as a failed op. The last stdout line is
one JSON object: end-to-end metrics with `--trace 0`; with `--trace 1`
untraced and traced rounds alternate and the line carries the per-layer
metrics (spans.py, probe.py). The line before it has the per-endpoint
detail with sample counts.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import gen
import oracle
from probe import CATALYST_PHASES, SPARK_KEYS, ProcSampler, SparkProbe, catalyst_phases
from spans import LAYER_MODULES, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "multi_search_retrival_big_data_spark"
SETUP_REPEATS = 2
SEARCH_ENDPOINTS = ("text", "image", "panel", "diverse", "feedback")
SEARCH_INDEXES = ("multichannel_postings", "tfidf_postings")
CURATE_INDEXES = ("doc_shingles", "minhash_sigs", "ivf_trained")
# layers whose self time is reported: the benchmark's own spans, the
# facade, registry query builders, the collect action, then the engine
# modules the tracer wraps
SELF_LAYERS = ("bench", "api", "queries", "collect") + LAYER_MODULES


def _per_layer_units() -> dict[str, str]:
    units = {}
    for e in SEARCH_ENDPOINTS:
        units[f"api.build_ms.{e}"] = "ms"
        units[f"api.collect_ms.{e}"] = "ms"
    units["encoders.encode_ms"] = "ms"
    units["visual.parse_panel_ms"] = "ms"
    for p in CATALYST_PHASES:
        units[f"catalyst.{p}_ms"] = "ms"
    for k in SPARK_KEYS:
        units[f"spark.{k}"] = "count" if k in ("jobs", "stages", "tasks") else (
            "bytes" if k.endswith("bytes") else "ms"
        )
    for k in ("jvm_cpu_ms", "pyworker_cpu_ms", "driver_cpu_ms"):
        units[f"proc.{k}"] = "ms"
    units["proc.cores_busy"] = "cores"
    units["proc.jvm_peak_rss_mb"] = "MB"
    for ix in SEARCH_INDEXES + CURATE_INDEXES:
        units[f"index_store.build_s.{ix}"] = "s"
    for q in oracle.CHAIN:
        units[f"curate.stage_s.{q}"] = "s"
    units["dedup.candidate_pairs"] = "count"
    units["dedup.verified_pairs"] = "count"
    units["dedup.pair_yield"] = "ratio"
    for layer in SELF_LAYERS:
        units[f"self_ms.{layer}"] = "ms"
    units["drift.late_over_early"] = "ratio"
    units["trace.overhead"] = "ratio"
    units["trace.unattributed_share"] = "ratio"
    return units


# --------------------------------------------------------------- workloads


class Op:
    def __init__(self, kind: str, key: str, build, layer: str | None = None):
        self.kind = kind  # endpoint or query name: the latency group
        self.key = key  # expected-result key
        self.build = build  # () -> DataFrame
        # traced span around `build` when no wrapped engine entry point
        # (a SearchEngine method) opens one itself
        self.layer = layer


class SearchServe:
    name = "search_serve"
    warm_up = True

    def __init__(self, spark, sf_dir: str, pool: dict):
        self.spark = spark
        self.sf_dir = sf_dir
        self.pool = pool
        self.engine = None
        self.kinds = SEARCH_ENDPOINTS

    @staticmethod
    def oracle_sqls(pool: dict) -> dict[str, str]:
        return {
            f"{e}/{i}": oracle.request_sql(e, req)
            for e, reqs in pool.items()
            for i, req in enumerate(reqs)
        }

    def build_indexes(self) -> None:
        from multi_search_retrival_big_data_spark import index_store
        from multi_search_retrival_big_data_spark.api import SearchEngine

        self.engine = SearchEngine(self.spark, self.sf_dir)
        index_store.tfidf_postings(self.spark, self.sf_dir)

    def round_ops(self, r: int, order: list[int]) -> list[Op]:
        from multi_search_retrival_big_data_spark.operators import grouping

        eng = self.engine
        ops = []
        for j in order:
            e = self.kinds[j]
            i = r % len(self.pool[e])
            req = self.pool[e][i]
            if e == "text":
                build = lambda req=req: eng.text_search(req["text"], k=100)  # noqa: E731
            elif e == "image":
                build = lambda req=req: eng.image_search(req["vec_id"], k=50)  # noqa: E731
            elif e == "panel":
                build = lambda req=req: eng.panel_search(req["panel"], k=50, group=True)  # noqa: E731
            elif e == "diverse":
                build = lambda req=req: eng.diverse_search(req["text"], n_fuse=20, k=8)  # noqa: E731
            else:

                def build(req=req):
                    prev = eng.text_search(req["text"], k=20, group=False)
                    hyd = grouping.hydrate(
                        eng.feedback(prev, req["pos"], req["neg"], k=10), eng.emb, "vec_id", ["label"]
                    )
                    return grouping.group_hits(hyd, ["label"], "vec_id")

            ops.append(Op(e, f"{e}/{i}", build))
        return ops


class CurateBatch:
    name = "curate_batch"
    # No warm-up pass: the timed pass is the first pass after the index
    # builds, which is what every batch job pays. A warm-up pass would add
    # ~24 s to each run on 4 cores, more than the run budget allows.
    warm_up = False

    def __init__(self, spark, sf_dir: str, pool):
        from multi_search_retrival_big_data_spark.queries import load_registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = load_registry()
        self.kinds = oracle.CHAIN

    @staticmethod
    def oracle_sqls(pool) -> dict[str, str]:
        from multi_search_retrival_big_data_spark.queries import load_registry

        reg = load_registry()
        return {q: reg[q].oracle for q in oracle.CHAIN}

    def build_indexes(self) -> None:
        from multi_search_retrival_big_data_spark import index_store
        from multi_search_retrival_big_data_spark.queries.pipeline_queries import _SEM_ITERS

        index_store.doc_shingles(self.spark, self.sf_dir)
        index_store.minhash_sigs(self.spark, self.sf_dir)
        index_store.ivf_trained(self.spark, self.sf_dir, iters=_SEM_ITERS)

    def round_ops(self, r: int, order: list[int]) -> list[Op]:
        ops = []
        for q in self.kinds:  # the chain runs in its defined order
            fn = self.registry[q].fn
            ops.append(Op(q, q, lambda fn=fn: fn(self.spark, self.sf_dir), "queries"))
        return ops


WORKLOADS = {"search_serve": SearchServe, "curate_batch": CurateBatch}


# ----------------------------------------------------------------- runner


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(p * len(s)) - 1))]


class Runner:
    def __init__(self, wl, expected: dict, seed: int, tracer=None, probe=None, sampler=None):
        import random

        self.wl = wl
        self.expected = expected
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.probe = probe
        self.sampler = sampler
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_id = 0

    def drop_indexes(self) -> None:
        spark = self.wl.spark
        for t in spark.catalog.listTables():
            if t.tableType != "TEMPORARY":
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")

    def _span(self, name, layer):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def setup(self) -> list[float]:
        times = []
        for rep in range(SETUP_REPEATS):
            self.drop_indexes()
            self.op_id += 1
            if self.tracer:
                self.tracer.op = self.op_id
            t0 = time.perf_counter()
            with self._span(f"setup.{rep}", "bench"):
                self.wl.build_indexes()
            times.append(time.perf_counter() - t0)
        return times

    def _check(self, op: Op, df, rows) -> None:
        got = json.loads(json.dumps(oracle.canon(df.columns, [tuple(r) for r in rows])))
        if got != self.expected[op.key]:
            self.failed += 1
            self.errors.append(f"{op.key}: result differs from oracle")

    def run_op(self, op: Op, traced: bool) -> dict | None:
        """Runs one op and checks its rows; returns its record, or None
        when it raised. A wrong answer keeps its record (the work was
        done) and counts as failed."""
        self.op_id += 1
        self.attempted += 1
        rec = {"kind": op.kind, "traced": traced, "op": self.op_id}
        try:
            if not traced:
                t0 = time.perf_counter()
                df = op.build()
                rows = df.collect()
                rec["ms"] = (time.perf_counter() - t0) * 1000
            else:
                tr = self.tracer
                tr.op = self.op_id
                cpu0 = self.sampler.sample()
                with tr.span(f"op.{op.kind}", "bench") as root:
                    with tr.span(f"build.{op.kind}", "bench") as b:
                        if op.layer:
                            with tr.span(f"{op.layer}.{op.kind}", op.layer):
                                df = op.build()
                        else:
                            df = op.build()
                    with tr.span(f"collect.{op.kind}", "collect") as c:
                        rows = df.collect()
                cpu1 = self.sampler.sample()
                rec["ms"] = (root.t1 - root.t0) * 1000
                rec["build_ms"] = (b.t1 - b.t0) * 1000
                rec["collect_ms"] = (c.t1 - c.t0) * 1000
                rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
                rec["catalyst"] = catalyst_phases(df)
                rec["root"] = root.sid
        except Exception as exc:  # an op that raises is a failed op; the run goes on
            self.failed += 1
            self.errors.append(f"{op.key}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        self._check(op, df, rows)
        if traced:
            collect_traced_extras(self, rec)
        return rec

    def run_round(self, r: int, traced: bool) -> list[dict]:
        order = list(range(len(self.wl.kinds)))
        self.rng.shuffle(order)
        out = []
        for op in self.wl.round_ops(r, order):
            rec = self.run_op(op, traced)
            if rec is not None:
                out.append(rec)
        return out


def end_to_end(wl, setup_times: list[float], recs: list[dict], docs: int) -> tuple[dict, dict]:
    by = {k: [r["ms"] for r in recs if r["kind"] == k] for k in wl.kinds}
    p50 = {k: statistics.median(v) for k, v in by.items() if v}
    total_s = sum(r["ms"] for r in recs) / 1000
    metrics = {
        "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
        "ops_per_s": {"value": len(recs) / total_s, "unit": "1/s"},
        "p50_geomean_ms": {"value": geomean(list(p50.values())), "unit": "ms"},
    }
    allms = [r["ms"] for r in recs]
    detail = {f"{k}_p50_ms": {"value": p50[k], "unit": "ms", "n": len(by[k])} for k in p50}
    detail["p95_ms"] = {
        "value": percentile(allms, 0.95),
        "unit": "ms",
        "n": len(allms),
        "supported": len(allms) * 0.05 >= 10,  # at least 10 samples beyond it
    }
    if wl.name == "curate_batch":
        passes = len(recs) / len(wl.kinds)
        detail["docs_per_s"] = {"value": docs * passes / total_s, "unit": "1/s"}
    detail["setup_s_each"] = setup_times
    return metrics, detail


def drift(recs: list[dict]) -> float:
    """Median of the last quarter of ops over the first quarter, each op's
    latency taken relative to its kind's median."""
    by: dict[str, list[float]] = {}
    for r in recs:
        by.setdefault(r["kind"], []).append(r["ms"])
    med = {k: statistics.median(v) for k, v in by.items()}
    rel = [r["ms"] / med[r["kind"]] for r in recs]
    q = len(rel) // 4
    if q == 0:
        return 1.0
    return statistics.median(rel[-q:]) / statistics.median(rel[:q])


def per_layer(runner: Runner, untraced: list[dict], traced: list[dict], setup_roots: set) -> dict:
    tr = runner.tracer
    wl = runner.wl
    units = _per_layer_units()
    vals = dict.fromkeys(units, 0.0)
    n = len(traced)
    selfs = tr.self_times()
    by_op: dict[int, list] = {}
    for sp in tr.spans:
        by_op.setdefault(sp.op, []).append(sp)
    for rec in traced:
        spans = by_op.get(rec["op"], [])
        for sp in spans:
            layer = sp.layer if sp.layer in SELF_LAYERS else None
            if layer:
                vals[f"self_ms.{layer}"] += selfs[sp.sid] * 1000 / n
            if sp.name == "encoders.encode_query":
                vals["encoders.encode_ms"] += (sp.t1 - sp.t0) * 1000 / n
            if sp.name == "functions.visual.parse_panel":
                vals["visual.parse_panel_ms"] += (sp.t1 - sp.t0) * 1000 / n
        for k, v in rec["spark"].items():
            vals[f"spark.{k}"] += v / n
        for p, v in rec["catalyst"].items():
            vals[f"catalyst.{p}_ms"] += v / n
        for k in ("jvm", "pyworker", "driver"):
            vals[f"proc.{k}_cpu_ms"] += rec["cpu"][k] * 1000 / n
    wall = sum(r["cpu"]["t"] for r in traced)
    cpu = sum(r["cpu"][k] for r in traced for k in ("jvm", "pyworker", "driver"))
    vals["proc.cores_busy"] = cpu / wall if wall else 0.0
    vals["proc.jvm_peak_rss_mb"] = runner.sampler.peak_rss_mb()
    for e in SEARCH_ENDPOINTS:
        b = [r["build_ms"] for r in traced if r["kind"] == e]
        c = [r["collect_ms"] for r in traced if r["kind"] == e]
        if b:
            vals[f"api.build_ms.{e}"] = statistics.median(b)
            vals[f"api.collect_ms.{e}"] = statistics.median(c)
    for q in oracle.CHAIN:
        t = [r["ms"] / 1000 for r in traced if r["kind"] == q]
        if t:
            vals[f"curate.stage_s.{q}"] = statistics.median(t)
    for ix in SEARCH_INDEXES + CURATE_INDEXES:
        t = [
            sp.t1 - sp.t0
            for sp in tr.spans
            if sp.name == f"index_store.{ix}" and sp.parent in setup_roots
        ]
        if t:
            vals[f"index_store.build_s.{ix}"] = statistics.median(t)
    cand = [r["dedup"] for r in traced if "dedup" in r]
    if cand:
        vals["dedup.candidate_pairs"] = statistics.median(c[0] for c in cand)
        vals["dedup.verified_pairs"] = statistics.median(c[1] for c in cand)
        vals["dedup.pair_yield"] = (
            vals["dedup.verified_pairs"] / vals["dedup.candidate_pairs"]
            if vals["dedup.candidate_pairs"]
            else 0.0
        )
    vals["drift.late_over_early"] = drift(untraced)
    # overhead against the untraced rounds after the first traced one: the
    # first round of a workload without warm-up (curate_batch) is cold
    later = [r for r in untraced if r["op"] > traced[0]["op"]]
    g_un = geomean([statistics.median([r["ms"] for r in later if r["kind"] == k]) for k in wl.kinds])
    g_tr = geomean([statistics.median([r["ms"] for r in traced if r["kind"] == k]) for k in wl.kinds])
    vals["trace.overhead"] = g_tr / g_un - 1.0
    roots = {r["root"] for r in traced}
    op_wall = sum(tr.spans[s].t1 - tr.spans[s].t0 for s in roots)
    bench_self = sum(
        selfs[sp.sid] for r in traced for sp in by_op.get(r["op"], []) if sp.layer == "bench"
    )
    vals["trace.unattributed_share"] = bench_self / op_wall if op_wall else 0.0
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def collect_traced_extras(runner: Runner, rec: dict) -> None:
    """Per-op Spark metrics over every span group of the op, and the
    dedup funnel counts (counted after the op, outside its spans)."""
    tr, probe = runner.tracer, runner.probe
    tot = dict.fromkeys(SPARK_KEYS, 0.0)
    for sp in tr.spans:
        if sp.op == rec["op"]:
            for k, v in probe.group_metrics(tr.group_of(sp.sid)).items():
                tot[k] += v
    rec["spark"] = tot
    if rec["kind"] == "dedup_minhash_lsh_capped":
        cand = verified = None
        for sp in tr.spans:
            if sp.op != rec["op"] or sp.sid not in tr.results:
                continue
            if sp.name == "operators.dedup.lsh_candidate_pairs":
                cand = tr.results[sp.sid]
            elif sp.name == "operators.dedup.minhash_near_duplicates":
                verified = tr.results[sp.sid]
        if cand is not None and verified is not None:
            probe.set_group("funnel-count")
            rec["dedup"] = (float(cand.count()), float(verified.count()))
            probe.clear_group()
    for sid in [sp.sid for sp in tr.spans if sp.op == rec["op"]]:
        tr.results.pop(sid, None)


def measure(runner: Runner, seconds: float, trace: bool) -> tuple[list[dict], list[dict]]:
    """Whole rounds until `seconds` of op time have run. With tracing,
    untraced and traced rounds alternate, starting and ending untraced
    (at least three rounds), so drift is read from untraced rounds that
    enclose the traced ones."""
    untraced: list[dict] = []
    traced: list[dict] = []
    r = 1
    spent = 0.0
    while True:
        is_traced = trace and r % 2 == 0
        recs = runner.run_round(r, is_traced)
        (traced if is_traced else untraced).extend(recs)
        spent += sum(x["ms"] for x in recs) / 1000
        r += 1
        if spent >= seconds and (not trace or (r > 3 and r % 2 == 0)):
            return untraced, traced


# ------------------------------------------------------------ process env


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _prepare_inputs(cls, workload: str, seed: int) -> tuple[str, dict | None, dict]:
    sf_dir, pool = gen.inputs(os.path.join(ROOT, ".perfbench", "cache"), workload, seed)
    expected = oracle.expected(os.path.dirname(sf_dir), sf_dir, cls.oracle_sqls(pool))
    return sf_dir, pool, expected


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    from multi_search_retrival_big_data_spark.queries import load_registry

    load_registry()  # import every engine module here, not from two threads at once
    cls = WORKLOADS[args.workload]
    docs = gen.SIZES[args.workload][1]
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cwd = os.getcwd()
    _prepare_env(work)
    os.chdir(work)  # the session's warehouse lands in the fresh directory
    spark = None
    try:
        # inputs and expected results are prepared while the JVM starts;
        # both finish before set-up begins
        with ThreadPoolExecutor(1) as ex:
            prep = ex.submit(_prepare_inputs, cls, args.workload, args.seed)
            from multi_search_retrival_big_data_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            start_s = time.perf_counter() - t0
            sf_dir, pool, expected = prep.result()
        prep_s = time.perf_counter() - t_start
        wl = cls(spark, sf_dir, pool)
        tracer = probe = sampler = None
        if args.trace:
            probe = SparkProbe(spark)
            sampler = ProcSampler(int(spark.sparkContext._jvm.ProcessHandle.current().pid()))
            tracer = Tracer(probe, keep=("operators.dedup.lsh_candidate_pairs", "operators.dedup.minhash_near_duplicates"))
            tracer.wrap_layers()
        runner = Runner(wl, expected, args.seed, tracer, probe, sampler)
        first_setup_op = runner.op_id + 1
        setup_times = runner.setup()
        setup_roots = (
            {sp.sid for sp in tracer.spans if sp.parent is None and sp.op >= first_setup_op}
            if tracer
            else set()
        )
        t0 = time.perf_counter()
        if wl.warm_up:
            runner.run_round(0, False)  # every request shape, untimed
        warmup_s = time.perf_counter() - t0
        untraced, traced = measure(runner, args.seconds, bool(args.trace))
        if tracer:
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-s{args.seed}.jsonl"))
            tracer.unwrap()
        done = {r["kind"] for r in untraced}
        ok = all(k in done for k in wl.kinds) and (not args.trace or bool(traced))
        if args.trace:
            metrics = per_layer(runner, untraced, traced, setup_roots) if ok else {}
            detail = {"spans": len(tracer.spans)}
        else:
            metrics, detail = end_to_end(wl, setup_times, untraced, docs) if ok else ({}, {})
        detail.update(
            {
                "workload": args.workload,
                "seed": args.seed,
                "ready_s": prep_s,
                "spark_start_s": start_s,
                "warmup_s": warmup_s,
                "errors": runner.errors[:10],
                "wall_s": time.perf_counter() - t_start,
            }
        )
        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {
                    "correct": runner.failed == 0,
                    "attempted": runner.attempted,
                    "failed": runner.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0 if ok else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
