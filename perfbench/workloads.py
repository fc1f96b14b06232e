"""The benchmark's two workloads.

Each workload runs in one driver process on ``local[cores]`` with one
closed-loop client: the next call starts when the previous one returns.

- ``queries``: two families of headline queries, each written to the
  ``noop`` sink, in one seed-permuted order per pass. ``LIGHT`` runs at
  sf0.01 with one row group per table: near the scheduling floor, query
  build and planning are a large share of every call and scans are one
  task each. ``HEAVY`` runs at sf0.05 with 50k-row row groups: scans
  split into several tasks and most of the time is in tasks. A run is
  session start, input generation and two untimed warm-up passes in a
  fixed order, the first of which collects the results for the oracle
  check (together ``setup_s``), then timed passes.
- ``dags``: the 7-stage parity DAG (CSV in, parquet at every stage, a
  Spark ML fit) and the 6-stage corpus DAG, each run cold into an empty
  directory, the corpus DAG then incrementally (epoch bumped), then both
  once more with every stage already materialized. There is no warm-up:
  a DAG is a batch job, and its cold run pays what a fresh session pays.
"""

from __future__ import annotations

import glob
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from bench import calibrate
from perfbench import fixture
from perfbench.trace import Span, Tracer
from tests.fixtures import write_fixtures

# Build- and scheduling-bound at sf0.01: k_core_knn is a driver-side loop
# that launches jobs while building, vocab_drift spends most of its call in
# the build, the rest are single-action queries near the scheduling floor.
LIGHT = [
    "k_core_knn",
    "vocab_drift",
    "exact_stratified_split",
    "knn_cosine",
    "tpch_q6_revenue",
    "dedup_exact",
]

# Execute-bound at sf0.05: a scan-aggregate, a shuffle join and a sketch.
HEAVY = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "ddsketch_quantiles",
]

# Nominal pass lengths on a 4-core host, which turn --seconds into a pass count.
QUERY_PASS_S = 6.0
DAG_PASS_S = 40.0

PARITY_STAGES = [
    "load_data", "load_test", "norm_denominators", "fit_model", "predict", "backtest",
    "final_results",
]
CORPUS_STAGES = [
    "corpus_curate", "corpus_dedup", "corpus_mixture", "corpus_pack", "corpus_shuffle",
    "corpus_report",
]
# (ran, skipped) for the cold, incremental and fully-skipped runs
PARITY_EXPECT = {
    "cold": (set(PARITY_STAGES), set()),
    "skip": ({"final_results"}, set(PARITY_STAGES) - {"final_results"}),
}
CORPUS_EXPECT = {
    "cold": (set(CORPUS_STAGES), set()),
    "incr": (
        {"corpus_shuffle", "corpus_report"},
        {"corpus_curate", "corpus_dedup", "corpus_mixture", "corpus_pack"},
    ),
    "skip": ({"corpus_report"}, set(CORPUS_STAGES) - {"corpus_report"}),
}


@dataclass
class Sizes:
    light_sf: float = 0.01
    heavy_sf: float = 0.05
    heavy_row_group: int = 50_000
    n_train: int = 5_000
    n_test: int = 1_250
    n_docs: int = 10_000


@dataclass
class Run:
    """What one run measured, before it becomes metrics."""

    tracer: Tracer
    cores: int
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    passes: list[Span] = field(default_factory=list)
    per_op: dict[str, list[float]] = field(default_factory=dict)
    timed: list[str] = field(default_factory=list)  # per_op keys of the timed operations
    extra: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def op(self, name: str, seconds: float, timed: bool = True) -> None:
        self.per_op.setdefault(name, []).append(seconds)
        if timed and name not in self.timed:
            self.timed.append(name)

    def op_medians(self) -> list[float]:
        """Each timed operation's median latency over the timed passes."""
        return [statistics.median(self.per_op[n]) for n in self.timed]


def n_passes(seconds: float, pass_s: float) -> int:
    """Timed passes for a run of ``seconds``: a fixed count, not "until
    the time is up", so every run has the same structure (the first timed
    pass is still warming up and would otherwise weigh more in some runs
    than in others)."""
    return max(1, round(seconds / pass_s))


# --- query workloads --------------------------------------------------------

def _run_query(run: Run, spark, fn, name: str, sf_dir: str, parent: Span, collect: bool,
               timed: bool = True):
    tr = run.tracer
    run.attempted += 1
    t0 = time.time()
    try:
        with tr.span(name, "query", parent) as q:
            with tr.span(name, "build", q):
                df = fn(spark, sf_dir)
            with tr.span(name, "action", q):
                if collect:
                    result = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    result = None
    except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
        run.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        return None
    if not collect and timed:
        run.op(name, time.time() - t0)
    return result


def check_queries(run: Run, results: dict, sf_dir: str, big_oracles: bool) -> None:
    """Compare each warm-up result with the registry's DuckDB oracle."""
    from pb_etl_spark.registry import all_oracles
    from tools.check_oracle import BIG_SF_ORACLES, compare, duck_con

    oracles = all_oracles()
    if big_oracles:
        oracles = {**oracles, **BIG_SF_ORACLES}
    con = duck_con(sf_dir)
    try:
        for name, sdf in results.items():
            if sdf is None:
                continue  # already counted as failed
            src = oracles.get(name)
            if src is None:
                run.fail(f"{name}: no oracle")
                continue
            try:
                odf = src(con) if callable(src) else con.execute(src).fetchdf()
                problems = compare(name, sdf, odf)
            except Exception as e:  # noqa: BLE001 - an oracle error fails the check
                problems = [f"oracle: {type(e).__name__}: {str(e)[:200]}"]
            if problems:
                run.fail(f"{name}: {problems[0]}")
    finally:
        con.close()


def run_queries(spark, run: Run, work: str, seed: int, seconds: float, sizes: Sizes,
                queries: dict | None = None) -> None:
    from pb_etl_spark.registry import all_queries

    queries = queries or all_queries()
    tr = run.tracer
    rng = random.Random(seed)
    light, heavy = os.path.join(work, "light"), os.path.join(work, "heavy")
    t0 = time.time()
    fixture.write_star(light, sizes.light_sf, seed)
    fixture.write_star(heavy, sizes.heavy_sf, seed, sizes.heavy_row_group)
    run.extra["setup.gen_s"] = time.time() - t0
    where = {**{n: light for n in LIGHT}, **{n: heavy for n in HEAVY}}

    t0 = time.time()
    # two warm-up passes in a fixed order: the first queries of a fresh
    # session pay for class loading and code generation, so a permuted
    # warm-up would move setup_s with the seed. The first collects the
    # results for the oracle check; the second lets the JIT catch up,
    # which on a loaded host takes more than one pass.
    order = LIGHT + HEAVY
    results = {}
    with tr.span("warmup", "pass") as warm:
        for name in order:
            results[name] = _run_query(run, spark, queries[name], name, where[name], warm, True)
        for name in order:
            _run_query(run, spark, queries[name], name, where[name], warm, False, timed=False)
    run.extra["setup.warm_s"] = time.time() - t0

    for _ in range(n_passes(seconds, QUERY_PASS_S)):
        rng.shuffle(order)
        with tr.span(f"pass{len(run.passes)}", "pass") as p:
            for name in order:
                _run_query(run, spark, queries[name], name, where[name], p, False)
        run.passes.append(p)
    if tr.spark is not None:  # the host anchor is a per-layer metric
        run.extra["calib_scan_s"] = calibrate(spark, light)

    check_queries(run, {n: results[n] for n in LIGHT}, light, big_oracles=False)
    check_queries(run, {n: results[n] for n in HEAVY}, heavy, big_oracles=True)


# --- DAG workload -----------------------------------------------------------

def _stages(terminal) -> list:
    out, todo = [], [terminal]
    while todo:
        s = todo.pop()
        if s not in out:
            out.append(s)
            todo.extend(s.deps.values())
    return out


def _traced_graph(run: Run, terminal, dag: str, holder: list):
    """Wrap every ``Stage.fn`` in a span under the DAG run's span. The
    salt hashes name, version, params and deps only, so wrapping changes
    no output path."""
    for stage in _stages(terminal):
        fn, name = stage.fn, stage.name

        def timed(spark, out, deps, fn=fn, name=name):
            with run.tracer.span(f"{dag}.{name}", "stage", holder[0]):
                return fn(spark, out, deps)

        stage.fn = timed
    return terminal


def _rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in glob.glob(f"{path}/*.parquet"))


def _run_dag(run: Run, spark, dag: str, kind: str, bump: int, base: str, parent: Span,
             facts: dict, seed: int, corpus_dir: str, csv_root: str) -> dict | None:
    from pb_etl_spark.corpus_pipeline import build_corpus_pipeline
    from pb_etl_spark.pipeline import build_graph
    from pb_etl_spark.plans.stages import StageRunner

    tr = run.tracer
    holder: list = [None]
    if dag == "parity":
        graph = build_graph(root=csv_root, seed=seed + bump)
        expect = PARITY_EXPECT[kind]
    else:
        graph = build_corpus_pipeline(corpus_dir, epoch=bump)
        expect = CORPUS_EXPECT[kind]
    graph = _traced_graph(run, graph, dag, holder)
    runner = StageRunner(spark, base)
    run.attempted += 1
    t0 = time.time()
    try:
        with tr.span(f"{dag}.{kind}", "dag", parent) as s:
            holder[0] = s
            report = runner.run(graph)
    except Exception as e:  # noqa: BLE001 - a failing DAG run is counted, not fatal
        run.fail(f"{dag}.{kind}: {type(e).__name__}: {str(e)[:200]}")
        return None
    run.op(f"{dag}_{kind}", time.time() - t0, timed=kind != "skip")
    if kind != "skip":
        run.extra["stages_ran"] = run.extra.get("stages_ran", 0) + len(runner.ran)
        run.extra["stages_skipped"] = run.extra.get("stages_skipped", 0) + len(runner.skipped)

    problems = []
    if (set(runner.ran), set(runner.skipped)) != expect or len(runner.ran) != len(set(runner.ran)):
        problems.append(f"ran={runner.ran} skipped={runner.skipped}")
    if dag == "parity":
        exp = report["expected"]
        if not math.isclose(report["actual"], facts["actual_rate"], rel_tol=1e-9):
            problems.append(f"actual {report['actual']} != {facts['actual_rate']}")
        if exp is None or not math.isfinite(exp) or not 0.0 <= exp <= 1.0:
            problems.append(f"expected {exp} not in [0, 1]")
        if kind == "cold":
            stages = {st.name: st for st in _stages(graph)}
            counts = {
                n: _rows(stages[n].out_path(base))
                for n in ("load_data", "load_test", "predict", "backtest")
            }
            want = {"load_data": facts["n_train"], "load_test": facts["n_test"],
                    "predict": facts["n_test"], "backtest": facts["n_test"]}
            if counts != want:
                problems.append(f"row counts {counts} != {want}")
    else:
        got = (report["n_docs"], report["n_tokens"], report["n_packs"])
        facts.setdefault("corpus", got)
        if got != facts["corpus"] or report["n_docs"] <= 0:
            problems.append(f"corpus report {got} != {facts['corpus']}")
    if problems:
        run.fail(f"{dag}.{kind}: {'; '.join(problems)}")
    return report


# (dag, kind, bump): the corpus incremental run bumps the epoch, so it
# re-runs exactly corpus_shuffle and corpus_report. The parity DAG's only
# partial invalidation (a new model seed) re-runs the ML fit, which would
# double the longest run, so parity is timed cold and fully skipped only.
TIMED_RUNS = (("parity", "cold", 0), ("corpus", "cold", 0), ("corpus", "incr", 1))
SKIP_RUNS = (("parity", "skip", 0), ("corpus", "skip", 1))


def _dag_runs(run: Run, spark, base: str, steps: tuple, parent: Span, *args) -> None:
    for dag, kind, bump in steps:
        _run_dag(run, spark, dag, kind, bump, f"{base}/{dag}", parent, *args)


def run_dags(spark, run: Run, work: str, seed: int, seconds: float, sizes: Sizes) -> None:
    """No warm-up: a DAG is a batch job, so its cold run starts on a fresh
    session, JIT and code generation included, as a user's would."""
    tr = run.tracer
    t0 = time.time()
    csv_root = os.path.join(work, "csv")
    facts = write_fixtures(csv_root, sizes.n_train, sizes.n_test, seed)
    corpus_dir = os.path.join(work, "corpus")
    fixture.write_documents(corpus_dir, sizes.n_docs, seed)
    run.extra["setup.gen_s"] = time.time() - t0
    run.extra["setup.warm_s"] = 0.0
    args = (facts, seed, corpus_dir, csv_root)

    for _ in range(n_passes(seconds, DAG_PASS_S)):
        base = f"{work}/dag{len(run.passes)}"
        with tr.span(f"pass{len(run.passes)}", "pass") as p:
            _dag_runs(run, spark, base, TIMED_RUNS, p, *args)
        run.passes.append(p)
        # the fully-skipped reruns stay outside the pass: they feed only
        # skip_check_s
        with tr.span(f"skip{len(run.passes)}", "skip") as s:
            _dag_runs(run, spark, base, SKIP_RUNS, s, *args)
        run.op("skip_check", s.seconds, timed=False)
        shutil.rmtree(base)
    # the host anchor is a per-layer metric; its tables are not an input of
    # the DAGs, so they are written after the timed runs and stay out of
    # setup_s
    if tr.spark is not None:
        star = os.path.join(work, "star")
        fixture.write_star(star, 0.01, seed)
        run.extra["calib_scan_s"] = calibrate(spark, star)
