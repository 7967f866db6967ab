"""KG-construction benchmark: time one kind of operation, a
``kgc.pipeline.run`` build or a pass over a SPARQL mix, from outside
the library.

    python3 perfbench/run.py --workload build_text --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it holds diagnostics: operation
times, control-job times, CPU steal and the figures not gated.  Inputs, outputs
and Spark scratch live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SINKS = ("triples", "doc_triples", "quarantine", "context")
BUILD_LAYERS = ("parsers", "segment", "mentions", "link", "canon", "pipeline", "triples")
PY_LAYERS = ("parsers", "segment", "mentions")
LAYER_FIELDS = (
    "busy_s", "rows_out", "jobs", "tasks", "task_s", "cpu_s", "sched_wait_s",
    "shuffle_mb", "spill_mb",
)
# no py_start_s: the daemon's workers are reused, so "time to start
# Python workers" reads 0 in every warm build
PY_FIELDS = ("py_init_s", "py_run_s", "py_mb")
GRAPH_FIELDS = ("plan_s", "exec_s", "jobs", "task_s", "shuffle_mb", "spill_mb", "rows_out")
# A warm build costs about 11 s whatever the corpus size and a pass over
# the mix about 6 s, so each workload spends its window on one kind of
# operation.  The window holds --seconds // NOMINAL_OP_S of them, at
# least MIN_OPS: the same count on a fast or a slow machine, so every
# run takes its median at the same places on the JIT's warm-up curve
# (a pass falls from ~6.7 s to ~4.4 s over five).  A traced run
# alternates an untraced and a traced build, then traces passes.
NOMINAL_OP_S = {"build": 12.0, "pass": 6.0}
MIN_OPS = 2

# The module functions kgc.pipeline.run calls, each charged to the layer
# of its module.  A traced build replaces them with wrappers that open a
# span; for an "output" call the wrapper also persists and counts the
# returned frame inside the span, so the span covers that layer's work.
TRACED_CALLS = (
    # (module, function, output)
    ("parsers", "parse_documents", True),
    ("segment", "segment_documents", False),
    ("segment", "token_guard", True),
    ("pipeline", "quarantine_table", True),
    ("mentions", "detect_mentions", True),
    ("link", "link_mentions", True),
    ("canon", "canonicalize_entities", True),
    ("canon", "connected_components", False),
    ("pipeline", "classify_main_type", True),
    ("pipeline", "entity_triples", True),
    ("triples", "dedup_triples", True),
    ("vocab", "builtin_vocab", False),
    ("vocab", "context_table", True),
)


def _rows_in(df, *_, **__) -> int:
    return df.count()


def _edges_in(edges, src="src", dst="dst", *_, **__) -> int:
    """Distinct pairs of two different entity ids in the edge list."""
    from pyspark.sql import functions as F

    return edges.select(src, dst).filter(F.col(src) != F.col(dst)).distinct().count()


# inputs the per-layer ratios need, counted from the frames the program
# passes, each in a "trace" span that no layer is charged with
INPUT_COUNTS = {
    ("triples", "dedup_triples"): ("rows_in", _rows_in),
    ("canon", "connected_components"): ("edges_in", _edges_in),
}


@dataclass(frozen=True)
class Workload:
    op: str              # one timed operation: "build" or "pass" (over the query mix)
    n_docs: int          # documents per build
    kg_segments: int     # segments of the generated KG
    kg_entities: int


WORKLOADS = {
    # each operation is one build; a traced run queries the KG the cold
    # build made (~10k triples)
    "build_text": Workload(op="build", n_docs=1000, kg_segments=0, kg_entities=0),
    # each operation is one pass over the mix, over a generated KG of
    # about 0.4M triples; only a traced run builds
    "query_kg": Workload(op="pass", n_docs=1000, kg_segments=100_000, kg_entities=5_000),
}
N_CLASSES = 120


def _env(work: str) -> None:
    """Keep every file the JVM and the Python workers write inside the
    checkout, and let the workers import kgc."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if p
    )


def _stop_jvm() -> None:
    """Stop the Spark JVM and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants, wait_gone

    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants(os.getpid())
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway server exits on EOF
    gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    left = wait_gone(started, timeout_s=60)
    if left:
        raise RuntimeError(f"processes still running after the JVM stopped: {left}")


@contextmanager
def traced_calls(tracer, held: list):
    """Replace the TRACED_CALLS functions with span-opening wrappers
    while the block runs; persisted outputs are appended to ``held``."""
    from pyspark import StorageLevel

    def wrap(layer, name, fn, output):
        count_in = INPUT_COUNTS.get((layer, name))

        def wrapper(*args, **kwargs):
            with tracer.span(f"{layer}:{name}") as s:
                if count_in is not None:
                    key, count = count_in
                    with tracer.span(f"trace:{key}"):
                        s.counts[key] = float(count(*args, **kwargs))
                out = fn(*args, **kwargs)
                if output:
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    held.append(out)
                    s.counts["rows_out"] = float(out.count())
            return out

        return wrapper

    saved = []
    try:
        for layer, name, output in TRACED_CALLS:
            mod = importlib.import_module(f"kgc.{layer}")
            fn = getattr(mod, name)
            saved.append((mod, name, fn))
            setattr(mod, name, wrap(layer, name, fn, output))
        yield
    finally:
        for mod, name, fn in reversed(saved):
            setattr(mod, name, fn)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def end_to_end(setup_s, cold, ops) -> dict[str, float]:
    """The end-to-end metrics that have samples; a failed operation
    leaves out the metrics it would have measured."""
    from perfbench import stats

    m = {"setup_s": setup_s}
    if cold is not None:
        m["cold_op_s"] = cold
    if ops:
        m["op_s_p50"] = stats.median(ops)
    return m


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.name, self.wl = workload, WORKLOADS[workload]
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.corpus_path = os.path.join(work, "in", "documents.parquet")
        self.kg_path = os.path.join(work, "in", "kg.parquet")
        self.log_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.attempted = self.failed = 0
        self.n_outs = 0
        self.build_outs: list[str] = []   # output dirs of the builds that returned
        self.served: list[str] = []       # parquet files or dirs of the served KG
        self.answers: list[tuple] = []    # (query, rows or construct dir)
        self.traced: list[tuple] = []     # (spans, build seconds)
        self.query_spans: list = []

    # ----------------------------------------------------------- setup ---
    def setup(self) -> tuple[float, float]:
        """Session start (JVM launch included), input generation and
        staging, warm-up.  Returns (setup seconds, get_spark seconds)."""
        import pyarrow.parquet as pq

        from kgc.session import get_spark
        from perfbench import inputs
        from perfbench.queries import HOT

        conf = None
        if self.trace:
            os.makedirs(self.log_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        os.makedirs(os.path.dirname(self.corpus_path), exist_ok=True)
        pq.write_table(inputs.corpus(self.seed, self.wl.n_docs), self.corpus_path)
        pq.write_table(
            inputs.base_kg(self.seed, self.wl.kg_segments, self.wl.kg_entities, N_CLASSES,
                           HOT, 0.1),
            self.kg_path,
        )
        self.spark.read.parquet(self.corpus_path).count()
        self.spark.read.parquet(self.kg_path).count()
        return time.perf_counter() - t0, t1 - t0

    # ---------------------------------------------------------- builds ---
    def _op(self, fn, *args):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None

    def build_op(self, fn) -> float | None:
        """One build; its output is checked later only if it returned."""
        r = self._op(fn)
        if r is None:
            return None
        dt, out = r
        self.build_outs.append(out)
        return dt

    def _next_out(self) -> str:
        self.n_outs += 1
        return os.path.join(self.work, "out", f"build_{self.n_outs}")

    def _inputs(self):
        from kgc.synth import testdata_alias_df

        return self.spark.read.parquet(self.corpus_path), testdata_alias_df(self.spark)

    def build(self) -> tuple[float, str]:
        """pipeline.run with its defaults; timed from the call until the
        four sinks are written."""
        from kgc import pipeline

        out = self._next_out()
        docs, alias_df = self._inputs()
        t0 = time.perf_counter()
        stages = pipeline.run(self.spark, docs, alias_df=alias_df)
        for name in SINKS:
            stages[name].write.mode("overwrite").parquet(f"{out}/{name}")
        dt = time.perf_counter() - t0
        pipeline.release(stages)
        return dt, out

    def traced_build(self) -> tuple[float, str]:
        """The same build with TRACED_CALLS wrapped: pipeline.run composes
        the layers itself, each call in a span of its layer."""
        from kgc import pipeline
        from perfbench.spans import Tracer

        out = self._next_out()
        tr = Tracer(self.spark.sparkContext)
        held: list = []
        docs, alias_df = self._inputs()
        t0 = time.perf_counter()
        try:
            with tr.span("build"), traced_calls(tr, held):
                with tr.span("pipeline:run"):
                    stages = pipeline.run(self.spark, docs, alias_df=alias_df)
                with tr.span("sink"):
                    for name in SINKS:
                        stages[name].write.mode("overwrite").parquet(f"{out}/{name}")
            dt = time.perf_counter() - t0
            pipeline.release(stages)
        finally:
            for df in held:
                df.unpersist()
        self.traced.append((tr.spans, dt))
        return dt, out

    # --------------------------------------------------------- queries ---
    def served_kg(self):
        from functools import reduce

        from perfbench.checks import TRIPLE_COLS

        parts = [self.spark.read.parquet(p).select(*TRIPLE_COLS) for p in self.served]
        return reduce(lambda a, b: a.unionByName(b), parts)

    def query(self, kg, q, tracer=None) -> float:
        """One query, timed from the sparql_* call until the client has
        the result; a traced query has a plan and an exec span."""
        from kgc import graph

        fn = {"select": graph.sparql_query, "aggregate": graph.sparql_aggregate,
              "construct": graph.sparql_construct}[q.form]
        span = tracer.span if tracer else (lambda _: nullcontext())
        t0 = time.perf_counter()
        with span("graph:plan"):
            df = fn(kg, q.sparql)
        with span("graph:exec") as s:
            if q.form == "construct":
                out = os.path.join(self.work, "out", f"construct_{len(self.answers)}")
                df.write.mode("overwrite").parquet(out)
                result = out
            else:
                result = [tuple(r) for r in df.collect()]
            if s is not None:
                s.counts["rows_out"] = float(
                    len(result) if isinstance(result, list) else 0)
        dt = time.perf_counter() - t0
        self.answers.append((q, result))
        return dt

    def query_pass(self, kg, traced: bool = False) -> tuple[float | None, list[float]]:
        """One pass over the mix: (pass seconds, or None if a query
        raised; the latencies of the queries that returned)."""
        from perfbench.queries import MIX
        from perfbench.spans import Tracer

        tracer = Tracer(self.spark.sparkContext) if traced else None
        lat = []
        t0 = time.perf_counter()
        for q in MIX:
            r = self._op(self.query, kg, q, tracer)
            if r is not None:
                lat.append(r)
        dt = time.perf_counter() - t0
        if tracer:
            self.query_spans.append(tracer.spans)
        return (dt if len(lat) == len(MIX) else None), lat

    # ---------------------------------------------------------- checks ---
    def _check(self, ok, *args) -> None:
        """One output check; one that fails or raises counts as failed."""
        try:
            good = ok(*args)
        except Exception:
            traceback.print_exc()
            good = False
        if not good:
            self.failed += 1

    def check_outputs(self, expected: set[tuple]) -> None:
        """Every build that returned against the pipeline oracle, every
        answer against its DuckDB reference over the served parquet."""
        from perfbench import checks

        for out in self.build_outs:
            self._check(checks.triples_ok, out, expected)
        if not self.answers:
            return
        refs = checks.References(self.served)
        try:
            want = {}

            def answer_ok(q, got):
                if q.name not in want:
                    want[q.name] = refs.answer(q.sql)
                if isinstance(got, str):
                    got = checks.read_rows(got, ("subj", "pred", "obj"))
                return checks.same_answer(got, want[q.name], q.ordered)

            for q, got in self.answers:
                self._check(answer_ok, q, got)
        finally:
            refs.close()

    # ------------------------------------------------------------- run ---
    def run(self) -> tuple[dict, dict]:
        from perfbench import checks, probes, stats
        from perfbench.queries import MIX

        op = self.wl.op
        builds_run = op == "build" or self.trace
        stamps = [("start", time.perf_counter())]
        setup_s, session_s = self.setup()
        stamps.append(("setup", time.perf_counter()))
        control = probes.control_job(self.spark)
        probes.run_control(control)  # compile once, untimed
        expected = checks.expected_triples(self.corpus_path) if builds_run else set()
        stamps.append(("oracle", time.perf_counter()))

        # the cold operation: build_text's first build, query_kg's first
        # pass; a traced run makes both, as warm-up for what it traces
        cold_build = self.build_op(self.build) if builds_run else None
        # the served KG: the generated one, plus on build_text the cold
        # build's triples if that build returned
        self.served = [self.kg_path]
        if op == "build":
            self.served += [f"{o}/triples" for o in self.build_outs]
        kg = self.served_kg()
        cold_pass = self.query_pass(kg)[0] if op == "pass" or self.trace else None
        cold = cold_build if op == "build" else cold_pass
        stamps.append(("cold", time.perf_counter()))

        ops, traced_times, lat = [], [], []
        ctrl_before = probes.run_control(control)
        j0 = probes.cpu_jiffies()
        with probes.PeakRss() as rss:
            rss_start = probes.tree_rss_mb(os.getpid())
            t_start = time.perf_counter()

            def elapsed():
                return time.perf_counter() - t_start

            if not self.trace:
                for _ in range(max(MIN_OPS, int(self.seconds // NOMINAL_OP_S[op]))):
                    if op == "build":
                        dt = self.build_op(self.build)
                    else:
                        dt, q = self.query_pass(kg)
                        lat += q
                    if dt is not None:
                        ops.append(dt)
            else:
                # untraced and traced builds in turn for the first half
                # of the window, then traced passes over the mix
                n = 0
                while n < 2 or elapsed() < self.seconds / 2:
                    traced = n % 2 == 1
                    b = self.build_op(self.traced_build if traced else self.build)
                    if b is not None:
                        (traced_times if traced else ops).append(b)
                    n += 1
                passes = 0
                while passes < 1 or elapsed() < self.seconds:
                    lat += self.query_pass(kg, traced=True)[1]
                    passes += 1
        j1 = probes.cpu_jiffies()
        stamps.append(("window", time.perf_counter()))
        ctrl_after = probes.run_control(control)
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        _stop_jvm()
        stamps.append(("stop", time.perf_counter()))

        # ---- output checks, outside the timed window
        self.check_outputs(expected)
        stamps.append(("checks", time.perf_counter()))

        diag = {
            "workload": self.name, "seed": self.seed, "trace": int(self.trace),
            "op": op, "n_docs": self.wl.n_docs, "ops": len(ops),
            "op_s": [round(x, 3) for x in ops], "query_samples": len(lat),
            "control_before_s": round(ctrl_before, 4), "control_after_s": round(ctrl_after, 4),
            "steal_pct": round(probes.steal_pct(j0, j1), 3),
            "rss_window_start_mb": round(rss_start, 1), "peak_rss_mb": round(rss.peak_mb, 1),
            "failed_ratio": self.failed / self.attempted,
            "phase_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(stamps, stamps[1:])},
        }
        # not gated: docs_per_s and queries_per_s restate op_s_p50; the
        # query latencies and peak RSS (the JVM heap's high-water mark,
        # set by G1's adaptive sizing) spread past any usable bound
        if ops and op == "build":
            diag["docs_per_s"] = self.wl.n_docs * len(ops) / sum(ops)
        if ops and op == "pass" and not self.trace:
            diag["queries_per_s"] = len(MIX) * len(ops) / sum(ops)
        if lat:
            diag["query_s_p50"] = stats.median(lat)
        if len(lat) > stats.TAIL_SAMPLES_BEYOND:
            q_tail, q_pct, _ = stats.tail(lat)
            diag["query_s_tail"] = q_tail
            diag["query_tail_percentile"] = round(q_pct, 1)
        if not self.trace:
            metrics = end_to_end(setup_s, cold, ops)
        else:
            metrics = self.layer_report(session_s, ops, traced_times, app_id, diag)
        return diag, metrics

    def layer_report(self, session_s, builds, traced_times, app_id, diag) -> dict[str, float]:
        from perfbench import spans, stats

        groups = spans.aggregate_event_log(
            spans.read_events(spans.event_log_path(self.log_dir, app_id)))
        per_build = []
        for sp, dt in self.traced:
            layers = spans.by_layer(sp, groups)
            layers["gc_s"] = sum(v["gc_s"] for v in layers.values())
            layers["unaccounted_s"] = dt - sum(
                layers.get(name, {}).get("busy_s", 0.0)
                for name in BUILD_LAYERS + ("vocab", "sink"))
            per_build.append(layers)

        def med(f):
            return stats.median([f(b) for b in per_build]) if per_build else None

        def field(layer, f):
            return lambda b: b.get(layer, {}).get(f, 0.0)

        metrics = {"session.busy_s": session_s}
        for layer in BUILD_LAYERS:
            for f in LAYER_FIELDS + (PY_FIELDS if layer in PY_LAYERS else ()):
                metrics[f"{layer}.{f}"] = med(field(layer, f))
        metrics["canon.edges_in"] = med(field("canon", "edges_in"))
        metrics["mentions.per_segment"] = med(
            lambda b: _ratio(field("mentions", "rows_out")(b), field("segment", "rows_out")(b)))
        metrics["triples.dedup_ratio"] = med(
            lambda b: _ratio(field("triples", "rows_out")(b), field("triples", "rows_in")(b)))
        metrics["vocab.busy_s"] = med(field("vocab", "busy_s"))
        metrics["sink.busy_s"] = med(field("sink", "busy_s"))
        metrics["gc_s"] = med(lambda b: b["gc_s"])

        # graph layer: sums over one pass of the mix, median over passes
        per_pass = []
        for sp in self.query_spans:
            lm = spans.layer_metrics(sp, groups)
            tot = dict.fromkeys(GRAPH_FIELDS, 0.0)
            for s in sp:
                v = lm[s.id]
                tot["plan_s" if s.name == "graph:plan" else "exec_s"] += v["busy_s"]
                for f in ("jobs", "task_s", "shuffle_mb", "spill_mb"):
                    tot[f] += v[f]
                tot["rows_out"] += v.get("rows_out", 0.0)
            per_pass.append(tot)
        for f in GRAPH_FIELDS:
            metrics[f"graph.{f}"] = stats.median([p[f] for p in per_pass])
        if builds and traced_times:
            metrics["trace_overhead_s"] = stats.median(traced_times) - stats.median(builds)
        diag["traced_builds"] = len(traced_times)
        if per_build:
            diag["build_unaccounted_s"] = round(med(lambda b: b["unaccounted_s"]), 4)
        return {k: v for k, v in metrics.items() if v is not None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import __spark_entry__  # noqa: F401  (the pipeline oracle)
        import kgc.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the root of a kgc checkout ({e})", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        diag, metrics = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        _stop_jvm()
    if set(metrics) - set(units) or (bench.failed == 0 and set(metrics) != set(units)):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }))
    return 0


if __name__ == "__main__":
    # import the checkout's packages, and none of this directory's
    # modules by a bare name that could shadow the standard library
    sys.path[0] = ROOT
    sys.exit(main())
