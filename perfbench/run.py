"""Link-graph benchmark: one workload per run, every output checked.

Usage (from the repository root):

    python3 perfbench/run.py --workload pagerank-converge --seed 1 \
        --seconds 10 --trace 0

A run generates its corpus from ``--seed`` (perfbench/corpus.py), starts a
Spark session on ``local[<cpus>]``, builds the graph through the engine's
public API, runs the workload's untimed warm-up rounds, then repeats whole
timed rounds of its operations for about ``--seconds``. Every result is
checked against references made from the planted graph
(perfbench/oracle.py). The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (which also writes Spark's event log and tags every job with
the span that launched it). All files go under ``.perfbench_work/`` in the
repository root; the run's own directory is removed at exit.
"""

from __future__ import annotations

import sys
import time

T_START = time.monotonic()
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import warnings  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

DAMPING = 0.85
# `warmup`: untimed whole rounds before the timed ones. The first round in a
# fresh JVM is about a quarter slower (plan compilation, Python workers);
# a round of ~75 supersteps absorbs that itself, a round of a few does not.
WORKLOADS = {
    # ~75 short supersteps: fixed per-superstep cost dominates
    "pagerank-converge": {"repos": 5000, "ecosystems": 6, "warmup": 0},
    # fused WCC, fused label propagation and triangle count on one graph
    "communities": {"repos": 6000, "ecosystems": 6, "lp_rounds": 5,
                    "warmup": 1},
    # checkpointed PageRank stopped at `stop_at`, resumed to `supersteps`
    "pagerank-resume": {"repos": 5000, "ecosystems": 6, "stop_at": 2,
                        "supersteps": 4, "warmup": 1},
}
SPAN_NAMES = ("pagerank", "wcc", "labelprop", "triangle")
CKPT_KEYS = ("write_state_s", "write_state_calls", "write_lineage_s",
             "write_lineage_calls", "latest_complete_s", "state_mb",
             "lineage_rows")


class Run:
    """State of one benchmark run: session, graph, spans and findings."""

    def __init__(self, args, run_dir):
        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.trace = args.trace == 1
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.csrs = []
        self.spark = None
        self.gen_s = 0.0
        self.n_extracted = 0
        self.csr_mb = 0.0

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def op(self, fn):
        """One counted operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the run goes on and reports the failure
            self.failed += 1
            traceback.print_exc()
            return None


def _configure_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    for k in [k for k in os.environ if k.startswith("GDS_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_BLOCK_DIR"] = local
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # one string-hash layout for every Python worker of every run
    os.environ["PYTHONHASHSEED"] = "0"
    warnings.filterwarnings("ignore", category=UserWarning)


def _start_session(run: Run):
    from graph_data_science_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.run_dir}/tmp -XX:-UsePerfData "
            # the heap at its full size from the start, so GC does not
            # depend on how far it had grown when a round starts
            f"-Xms{os.environ['SPARK_DRIVER_MEM']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run.run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        events = os.path.join(run.run_dir, "events")
        os.makedirs(events)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + events
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(run: Run) -> list[int]:
    """Stop Spark, end the JVM and every Python worker; returns the pids
    that had to be killed."""
    from pyspark import SparkContext

    import tracing

    kids = tracing.descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    run.spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure: kill below
            proc.kill()
            proc.wait()
    return tracing.wait_gone(kids, timeout=30)


def _setup(run: Run, corpus, spans, csr_kinds):
    """Session, corpus read, extraction, graph build and CSR builds: the
    set-up every workload pays before its first operation."""
    from graph_data_science_spark.graph import from_edge_df
    from graph_data_science_spark.operators.labelprop import build_lp_csr
    from graph_data_science_spark.operators.wcc import build_wcc_csr
    from graph_data_science_spark.plans.fused import build_bucketed_csr
    from graph_data_science_spark.sources.corpus import extract_import_edges

    with spans.timed("session.start"):
        run.spark = _start_session(run)
    if run.trace:
        spans.spark = run.spark
    with spans.span("sources.corpus.extract"):
        raw = run.spark.read.parquet(corpus.corpus_dir)
        edges = extract_import_edges(raw).localCheckpoint(eager=True)
    with spans.span("graph.build"):
        g = from_edge_df(edges, weight="weight")
        g.edges = g.edges.localCheckpoint(eager=True)
        n = g.node_count()
    csr_makers = {
        "pagerank": lambda: build_bucketed_csr(g.edges, n),
        "wcc": lambda: build_wcc_csr(g),
        "labelprop": lambda: build_lp_csr(g),
    }
    csrs = {}
    with spans.span("plans.fused.csr_build"):
        for kind in csr_kinds:
            csrs[kind] = csr_makers[kind]()
            run.csrs.append(csrs[kind])
    return edges, g, csrs


def _check_setup(run: Run, corpus, edges, g, oracle):
    """Extracted edges equal the planted set; the id map is the sorted
    repo-name order."""
    import numpy as np

    got = edges.toPandas().sort_values(["src", "dst"])
    run.n_extracted = len(got)
    want_src = corpus.names[corpus.src]
    want_dst = corpus.names[corpus.dst]
    order = np.lexsort((want_dst, want_src))
    run.check(
        len(got) == corpus.n_edges
        and np.array_equal(got["src"].to_numpy(), want_src[order])
        and np.array_equal(got["dst"].to_numpy(), want_dst[order])
        and np.array_equal(got["weight"].to_numpy(),
                           corpus.weight[order].astype(float)),
        f"extracted edges differ from the planted set "
        f"({len(got)} vs {corpus.n_edges} rows)",
    )
    names, src, dst, _rank = oracle.internal_ids(
        corpus.names, corpus.src, corpus.dst
    )
    vmap = g.vertices.toPandas().sort_values("internal_id")
    run.check(
        np.array_equal(vmap["original_id"].to_numpy(), names)
        and np.array_equal(vmap["internal_id"].to_numpy(),
                           np.arange(len(names))),
        "vertex id map is not the sorted repo-name order",
    )
    return len(names), src, dst


def _rounds(run: Run, one_round) -> list[dict]:
    """The workload's warm-up rounds, then timed rounds for ``--seconds``:
    another starts only while the last one's length still fits, so a run
    ends near ``--seconds`` and holds at least one timed round. Every round
    is checked and counted alike; warm-up ones are marked ``warmup``."""
    out = []
    for _ in range(run.cfg["warmup"]):
        out.append(dict(one_round(len(out)), warmup=True))
    t_start = time.monotonic()
    last = 0.0
    while len(out) == run.cfg["warmup"] or (
            time.monotonic() - t_start + last <= run.args.seconds):
        t0 = time.monotonic()
        out.append(one_round(len(out)))
        last = time.monotonic() - t0
    return out


def _scores(df, n):
    import numpy as np

    pdf = df.toPandas()
    score = np.full(n, np.nan)
    score[pdf["internal_id"].to_numpy()] = pdf["score"].to_numpy()
    return score


def _check_scores(run, score, ref, what):
    import numpy as np

    err = float(np.max(np.abs(score - ref)))
    run.check(bool(np.isfinite(err)) and err <= 1e-6,
              f"{what}: max |score - reference| = {err:.3g} > 1e-6")


def _pagerank_round(run, g, csr, n, spans, ref, *, max_iterations,
                    l1_tolerance=None, want_supersteps, checkpoint=None,
                    stop_at=None):
    """One PageRank operation (two calls when resuming), timed under the
    ``pagerank`` span, and its checks."""
    from graph_data_science_spark.operators.pagerank import pagerank

    def call(iters):
        with spans.timed("operators.pagerank.call"):
            return pagerank(g, damping=DAMPING, tolerance=0.0,
                            max_iterations=iters, l1_tolerance=l1_tolerance,
                            csr=csr, checkpoint=checkpoint)

    def body():
        with spans.span("pagerank"):
            steps = []
            if stop_at is not None:
                run.attempted += 1  # the stopped call; the resume is op()'s
                first = call(stop_at)
                run.check(first.ran_iterations == stop_at,
                          f"first call ran {first.ran_iterations} "
                          f"supersteps, expected {stop_at}")
                steps += first.metrics
            out = call(max_iterations)
            steps += out.metrics
            with spans.timed("operators.pagerank.result"):
                score = _scores(out.scores, n)
        return out, steps, score

    t0 = time.monotonic()
    got = run.op(body)
    wall = time.monotonic() - t0
    if got is None:
        return {"call_s": wall, "supersteps": 0, "active": 0}
    out, steps, score = got
    _check_scores(run, score, ref, "pagerank")
    run.check(out.ran_iterations == want_supersteps,
              f"pagerank ran {out.ran_iterations} supersteps, reference "
              f"{want_supersteps}")
    return {"call_s": wall, "supersteps": len(steps),
            "active": sum(m["active"] for m in steps), "score": score}


def pagerank_converge(run, corpus, spans, oracle):
    edges, g, csrs = _setup(run, corpus, spans, ["pagerank"])
    setup_s = time.monotonic() - T_START - run.gen_s
    n, src, dst = _check_setup(run, corpus, edges, g, oracle)
    tol = 1e-6 * n
    ref, ref_steps = oracle.pagerank(n, src, dst, damping=DAMPING,
                                     max_iterations=1000, l1_tolerance=tol)

    def one(_r):
        res = _pagerank_round(run, g, csrs["pagerank"], n, spans, ref,
                              max_iterations=1000, l1_tolerance=tol,
                              want_supersteps=ref_steps)
        if "score" in res:
            resid = oracle.pagerank_residual(res["score"], src, dst, DAMPING)
            run.check(resid <= tol, f"pagerank L1 residual {resid:.3g} > "
                      f"tolerance {tol:.3g}")
        return res

    return setup_s, _rounds(run, one)


def pagerank_resume(run, corpus, spans, oracle):
    import pyarrow.parquet as pq

    from graph_data_science_spark.plans.checkpoint import CheckpointStore

    import tracing

    edges, g, csrs = _setup(run, corpus, spans, ["pagerank"])
    setup_s = time.monotonic() - T_START - run.gen_s
    n, src, dst = _check_setup(run, corpus, edges, g, oracle)
    k, stop_at = run.cfg["supersteps"], run.cfg["stop_at"]
    ref, ref_steps = oracle.pagerank(n, src, dst, damping=DAMPING,
                                     max_iterations=k)
    store_cls = tracing.TimingCheckpointStore if run.trace else CheckpointStore
    stores = []

    def one(r):
        base = os.path.join(run.run_dir, f"checkpoint-{r}")
        store = store_cls(run.spark, base)
        stores.append(store)
        res = _pagerank_round(run, g, csrs["pagerank"], n, spans, ref,
                              max_iterations=k, want_supersteps=ref_steps,
                              checkpoint=store, stop_at=stop_at)
        lineage = pq.read_table(os.path.join(base, "lineage"))
        steps = set(lineage.column("iteration").to_pylist())
        run.check(steps == set(range(1, k + 1)),
                  f"lineage covers supersteps {sorted(steps)}, expected "
                  f"1..{k}")
        res["disk_mb"] = tracing.dir_mb(base)
        shutil.rmtree(base)
        return res

    rounds = _rounds(run, one)
    if run.trace:
        for key in CKPT_KEYS:
            total = sum(s.stats[key] for s in stores)
            run.layer[f"plans.checkpoint.{key}"] = total / len(stores)
    return setup_s, rounds


def communities(run, corpus, spans, oracle):
    import glob

    import numpy as np

    from graph_data_science_spark.operators.labelprop import (
        label_propagation,
    )
    from graph_data_science_spark.operators.triangle import triangle_count
    from graph_data_science_spark.operators.wcc import wcc

    import tracing

    edges, g, csrs = _setup(run, corpus, spans, ["wcc", "labelprop"])
    setup_s = time.monotonic() - T_START - run.gen_s
    n, src, dst = _check_setup(run, corpus, edges, g, oracle)
    lp_rounds = run.cfg["lp_rounds"]
    comp_ref = oracle.components(n, src, dst)
    _names, _s, _d, rank = oracle.internal_ids(corpus.names, corpus.src,
                                               corpus.dst)
    eco = np.empty(n, np.int64)
    present = rank >= 0
    eco[rank[present]] = corpus.eco[present]
    eco_min = np.full(eco.max() + 1, n, np.int64)
    np.minimum.at(eco_min, eco, np.arange(n))
    run.check(np.array_equal(comp_ref, eco_min[eco]),
              "union-find components differ from the planted ecosystems")
    lp_ref = oracle.label_propagation(n, src, dst, lp_rounds)
    tri_ref, tri_global = oracle.triangles(n, src, dst)
    block_root = os.environ["SPARK_GRAFT_BLOCK_DIR"]

    def dense(pdf, col):
        arr = np.full(n, -1, np.int64)
        arr[pdf["internal_id"].to_numpy()] = pdf[col].to_numpy()
        return arr

    def one(_r):
        res = {"supersteps": 0, "active": 0}
        t0 = time.monotonic()
        mo = {}

        def run_wcc():
            with spans.span("wcc"), spans.timed("operators.wcc.call"):
                return dense(wcc(g, csr=csrs["wcc"], metrics_out=mo)
                             .toPandas(), "component")

        comp = run.op(run_wcc)
        if comp is not None:
            run.check(np.array_equal(comp, comp_ref),
                      "wcc partition/ids differ from union-find")
            res["supersteps"] += len(mo["supersteps"])
            res["active"] += sum(m["active"] for m in mo["supersteps"])
        lo = {}

        def run_lp():
            with spans.span("labelprop"), \
                    spans.timed("operators.labelprop.call"):
                return dense(label_propagation(
                    g, csr=csrs["labelprop"], max_iterations=lp_rounds,
                    metrics_out=lo).toPandas(), "label")

        lab = run.op(run_lp)
        if lab is not None:
            bad = int((lab != lp_ref).sum())
            run.check(bad == 0, f"label propagation: {bad} labels differ "
                      "from the synchronous-vote reference")
            res["supersteps"] += lo["ran_iterations"] + 1

        def run_tri():
            with spans.span("triangle"), \
                    spans.timed("operators.triangle.call"):
                out = triangle_count(g)
                per = dense(out.per_node.toPandas(), "triangles")
                out.per_node.unpersist()
                return per, out.global_count

        tri = run.op(run_tri)
        if tri is not None:
            run.check(np.array_equal(tri[0], tri_ref)
                      and tri[1] == tri_global,
                      f"triangle counts differ (global {tri[1]} vs "
                      f"{tri_global})")
        res["call_s"] = time.monotonic() - t0
        # triangle_count leaves its probe blocks until interpreter exit;
        # count them once, then drop them so rounds stay alike
        tri_dirs = glob.glob(os.path.join(block_root, "gds_tri_*"))
        res["disk_mb"] = sum(tracing.dir_mb(d) for d in tri_dirs)
        for d in tri_dirs:
            shutil.rmtree(d)
        return res

    return setup_s, _rounds(run, one)


def _median(rounds, key, default=0.0):
    vals = [r[key] for r in rounds if key in r and not r.get("warmup")]
    return statistics.median(vals) if vals else default


def _end_to_end(run, setup_s, rounds):
    import tracing

    run.csr_mb = sum(tracing.dir_mb(c.block_dir) for c in run.csrs)
    return {
        "setup_s": (setup_s, "s"),
        "call_s": (_median(rounds, "call_s"), "s"),
        "disk_mb": (run.csr_mb + _median(rounds, "disk_mb"), "MB"),
    }


def _per_layer(run, spans, rounds, events_by_span):
    import tracing

    n_rounds = len(rounds)
    out = {
        "session.start_s": (spans.seconds.get("session.start", 0.0), "s"),
        "sources.corpus.extract_s": (
            spans.seconds.get("sources.corpus.extract", 0.0), "s"),
        "sources.corpus.edges": (run.n_extracted, "count"),
        "graph.build_s": (spans.seconds.get("graph.build", 0.0), "s"),
        "plans.fused.csr_build_s": (
            spans.seconds.get("plans.fused.csr_build", 0.0), "s"),
        "plans.fused.csr_mb": (run.csr_mb, "MB"),
        "plans.fused.buckets": (sum(c.n_buckets for c in run.csrs), "count"),
        "plans.fused.hub_shards": (
            sum(sum((c.shard_map or {}).values()) for c in run.csrs),
            "count"),
        "plans.fused.supersteps": (_median(rounds, "supersteps"), "count"),
        "plans.fused.active_vertices": (_median(rounds, "active"), "count"),
    }
    for op in ("pagerank", "wcc", "labelprop", "triangle"):
        key = f"operators.{op}.call"
        out[f"{key}_s"] = (spans.seconds.get(key, 0.0) / n_rounds, "s")
    out["operators.pagerank.result_s"] = (
        spans.seconds.get("operators.pagerank.result", 0.0) / n_rounds, "s")
    for name in SPAN_NAMES:
        got = events_by_span.get(name, {})
        for key in tracing.SPAN_KEYS:
            unit = ("count" if key in ("jobs", "tasks")
                    else "MB" if key.endswith("_mb") else "s")
            out[f"{name}.spark.{key}"] = (got.get(key, 0.0) / n_rounds, unit)
    for key in CKPT_KEYS:
        unit = ("count" if key.endswith(("_calls", "_rows"))
                else "MB" if key.endswith("_mb") else "s")
        out[f"plans.checkpoint.{key}"] = (
            run.layer.get(f"plans.checkpoint.{key}", 0.0), unit)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graph_data_science_spark")):
        print(f"graph_data_science_spark not found under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure_env(run_dir)

    import corpus as corpus_mod
    import oracle
    import tracing

    run = Run(args, run_dir)
    cfg = run.cfg
    t0 = time.monotonic()
    corpus = corpus_mod.load_or_generate(
        os.path.join(WORK, "inputs"), cfg["repos"], cfg["ecosystems"],
        args.seed,
    )
    run.gen_s = time.monotonic() - t0
    spans = tracing.Spans()
    workload = {
        "pagerank-converge": pagerank_converge,
        "pagerank-resume": pagerank_resume,
        "communities": communities,
    }[args.workload]
    killed: list[int] = []
    try:
        try:
            setup_s, rounds = workload(run, corpus, spans, oracle)
            e2e = _end_to_end(run, setup_s, rounds)
            print("round seconds (warm-up first): " + json.dumps(
                [round(r["call_s"], 3) for r in rounds]), file=sys.stderr)
            print("span seconds: " + json.dumps(
                {k: round(v, 3) for k, v in spans.seconds.items()}),
                file=sys.stderr)
        finally:
            for c in run.csrs:
                c.cleanup()
            if run.spark is not None:
                killed = _stop_session(run)
        metrics = e2e
        if run.trace:
            events = tracing.span_metrics(
                tracing.read_event_log(os.path.join(run_dir, "events")),
                spans)
            metrics = _per_layer(run, spans, rounds, events)
            print("end-to-end (traced): " + json.dumps(
                {k: v for k, (v, _u) in e2e.items()}), file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    run.check(not killed, f"processes outlived the session: {killed}")
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
