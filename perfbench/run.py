#!/usr/bin/env python3
"""Benchmark of the crawl engine and the query board through their public
entry points: ``CrawlEngine.run`` (fresh and resumed) and the callables of
``plans.registry.queries()``.

Usage, from the repository root:

    python3 perfbench/run.py --workload crawl-page500 --seed 1 --seconds 1 --trace 0

Spark runs at ``local[nproc]`` in this one driver process.  Set-up (JVM and
session start, then a warm-up that pays JIT, codegen and Python-worker
start: the crawl's fresh first page, or two board queries on the sf0.001
tables) is timed as ``setup_s``.  The timed region then runs operations
until ``--seconds`` have passed (at least one; with ``run_seconds`` 1 and
every operation taking several seconds, exactly one); every operation's
output is checked afterwards, outside the timed region.  ``--trace 0``
prints the end-to-end metrics.  ``--trace 1`` first times one untraced
run as the reference for ``trace.overhead_frac``, then starts a fresh JVM
with the Spark event log on and prints the per-layer metrics of one traced
operation.  A fixed pure-Python loop is timed before set-up and
after the checks, as a reading of the host's speed.  The last stdout line is
the result object; the line before it records the seed, the host and each
operation.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout root: perfbench/ sits directly in it
PACKAGE = "hdx_metadata_crawler_spark"

# ---------------------------------------------------------------- workloads
# crawl-page500: the reference's page size with the default CrawlConfig
# (robots on, 2 rps) and 8x bodies.  The seeds fill exactly one page.  A
# fresh engine crawls that page and is stopped (max_rounds=1); this fresh
# round runs in set-up and is the warm-up (JIT, codegen, Python workers).
# The timed operation is the resume: a new engine's run(resume=True) reads
# the checkpoint back and crawls the discovery-and-retry round.  Per-round
# driver work, checkpoint writes, seen-store appends and the restart read
# path dominate it; the fetch itself does little.
CRAWL_PAGE_SIZE = 500
CRAWL_BODY_SCALE = 8
CRAWL_SEEDS = 500
CRAWL_MAX_ROUNDS = 2
# seed ids are drawn from this much of the synthetic universe; any range far
# below synthetic.DISCOVERED_BASE keeps discovered URLs distinct from seeds
CRAWL_UNIVERSE = 1_000_000

# analytics-board: registered queries over the test tables vendored in
# perfbench/data/, in this order, each materialized to the noop sink.  Every
# pass reads its own copy of the tables at a path no earlier pass in the
# process used, so the shared-frame memos (keyed by path) start empty and
# the first consumer pays its build.
# Eight of the fifteen queries the board was designed with: the full list
# made a run take 42 s on a fast host and 83-90 s on a slow one, which
# overruns the budget for the benchmark's whole set of runs.
BOARD = [
    "q1_pricing_summary",
    "top3_orders_per_customer",
    "classify_documents_full",
    "minhash_lsh_dedup",
    "knn_ivf",
    "stream_quality_gate",
    "span_reassembly",
    "politeness_schedule",
]
DATA = os.path.join(HERE, "data")
BOARD_DATA = "sf0.01"  # the tables the timed pass reads
BOARD_WARM_DATA = "sf0.001"
# DuckDB-oracle digests of BOARD on both table sets (checks.py recomputes it)
EXPECTED = os.path.join(HERE, "expected_board.json")
# Warm-up: one plain and one Python-stateful query on the sf0.001 tables.
# Most of a cold pass's extra cost is first use in the process (parquet and
# codegen start-up on the first query; Python-worker, Arrow and streaming
# start-up on the first applyInPandasWithState stream).
BOARD_WARMUP = ["q1_pricing_summary", "stream_quality_gate"]

WORKLOADS = ("crawl-page500", "analytics-board")


# ------------------------------------------------------------------ context
@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tmp: str
    nproc: int
    spark: object = None
    sessions: int = 0
    event_log_dir: str = ""


def start_session(ctx: Ctx, event_log: bool):
    from hdx_metadata_crawler_spark.session import get_spark

    ctx.sessions += 1
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.tmp, f"warehouse-{ctx.sessions}"),
        "spark.local.dir": os.path.join(ctx.tmp, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(ctx.tmp, f"eventlog-{ctx.sessions}")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        ctx.event_log_dir = log_dir
    ctx.spark = get_spark(
        f"perfbench-{ctx.workload}",
        master=f"local[{ctx.nproc}]",
        shuffle_partitions=max(ctx.nproc, 8),
        extra_conf=conf,
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return ctx.spark


def stop_session(ctx: Ctx) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None


def stop_jvm() -> None:
    """Shut the py4j gateway JVM (and the Python workers it forked) down and
    wait for it, so no process outlives the benchmark."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -------------------------------------------------------------------- stats
def median(xs):
    return statistics.median(xs) if xs else 0.0


def gmean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


@dataclass
class OpResult:
    wall: float
    cpu: dict
    attempted: int
    failed: int
    problems: list
    detail: dict


def timed_ops(ctx: Ctx, prepare, run_op, tracer) -> tuple[list[OpResult], dict]:
    """Run operations until ``ctx.seconds`` of operation time has passed (at
    least one).  ``prepare(i)`` builds operation i's inputs outside the
    timed wall and CPU window; ``run_op(i, tracer)`` returns an OpResult and
    ``check``, which runs the output check outside the timed wall and
    records failed operations and their problems on the OpResult."""
    from procstat import cpu_delta, host_cpu, load1, sample_tree, steal_frac

    results = []
    host0, load_start = host_cpu(), load1()
    spent = 0.0
    i = 0
    while i == 0 or spent < ctx.seconds:
        prepare(i)
        before = sample_tree()
        res, check = run_op(i, tracer)
        res.cpu = cpu_delta(before, sample_tree())
        spent += res.wall
        check(res)
        results.append(res)
        i += 1
    host = {"load1": load_start, "steal_frac": steal_frac(host0, host_cpu())}
    return results, host


# -------------------------------------------------------------------- crawl
def crawl_config():
    from hdx_metadata_crawler_spark.streaming.frontier import CrawlConfig

    return CrawlConfig(page_size=CRAWL_PAGE_SIZE, max_rounds=CRAWL_MAX_ROUNDS)


def crawl_seeds(seed: int, salt: str, n: int) -> list[str]:
    """A seeded sample of the synthetic universe.  It draws n/10 ids from
    each residue class of ``id % 10``, which fixes both the 70% hot-host
    share and the 10% of seeds that link two discovered datasets
    (``sources/synthetic.py``), so every seed crawls the same amount of
    work up to the hash-driven retries and robots rules.  The engine
    receives only the URL list."""
    from hdx_metadata_crawler_spark.sources import synthetic

    rng = random.Random(f"{seed}:{salt}")
    ids = [
        r + 10 * k
        for r in range(10)
        for k in rng.sample(range(CRAWL_UNIVERSE // 10), n // 10)
    ]
    return [synthetic.seed_url(i) for i in sorted(ids)]


def dir_stats(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            n_bytes += os.path.getsize(os.path.join(base, name))
            n_files += 1
    return n_bytes, n_files


def run_crawl_workload(ctx: Ctx, tracer) -> dict:
    from checks import check_crawl, expected_crawl, simulate_crawl
    from hdx_metadata_crawler_spark.streaming.frontier import CrawlEngine

    cfg = crawl_config()
    killed = {}  # op index -> (seeds, ckpt dir, fresh-run span, fresh-run rounds)

    def prepare(i):
        """Crawl op i's first page with a fresh engine and stop it there."""
        if i in killed:
            return
        seeds = crawl_seeds(ctx.seed, f"op{i}", CRAWL_SEEDS)
        ckpt = os.path.join(ctx.tmp, f"crawl-{ctx.sessions}-{i}")
        with tracer.span("crawl.run.fresh") as fresh:
            out = CrawlEngine(ctx.spark, ckpt, replace(cfg, max_rounds=1)).run(seed_urls=seeds)
        killed[i] = (seeds, ckpt, fresh, out["metrics"])

    setup = {}
    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        tracer.spark = start_session(ctx, event_log=tracer.enabled)
    setup["session_s"] = time.perf_counter() - t0
    with tracer.span("setup.warmup") as warm:
        prepare(0)
    setup["warmup_s"] = warm.wall
    setup["setup_s"] = time.perf_counter() - t0

    ops_detail = []

    def run_op(i, tracer):
        seeds, ckpt, fresh, fresh_rounds = killed.pop(i)
        engine = CrawlEngine(ctx.spark, ckpt, cfg)
        t = time.perf_counter()
        try:
            with tracer.span("crawl.run.resume") as resume:
                out = engine.run(resume=True)
        except Exception as e:  # a crawl that raises is a failed operation
            res = OpResult(time.perf_counter() - t, {}, 1, 1, [f"resume raised {e!r}"], {})
            return res, lambda res: None
        wall = time.perf_counter() - t
        resumed = [m for m in out["metrics"] if m["round"] >= len(fresh_rounds)]
        detail = {
            "rounds": fresh_rounds + resumed,
            "resumed_rounds": resumed,
            "wall": wall,
            "restart_s": wall - sum(m["wall_sec"] for m in resumed),
            "job_ids": list(fresh.job_ids()) + list(resume.job_ids()),
            "timed_job_ids": list(resume.job_ids()),
        }
        ckpt_bytes, ckpt_files = dir_stats(ckpt)
        wh = ctx.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        store_bytes, store_files = dir_stats(os.path.join(wh, engine._seen_table.lower()))
        detail["ckpt_bytes"] = ckpt_bytes + store_bytes
        detail["ckpt_files"] = ckpt_files + store_files
        ops_detail.append(detail)

        def check(res):
            # the killed-and-resumed crawl must equal an uninterrupted one
            with tracer.span("check.simulator") as sim_span:
                want = expected_crawl(simulate_crawl(seeds, cfg))
            detail["simulator_s"] = sim_span.wall
            with tracer.span("check.crawl"):
                res.problems.extend(check_crawl(out["state"], want))
            res.failed = 1 if res.problems else 0
            ctx.spark.sql(f"DROP TABLE IF EXISTS {engine._seen_table}")
            shutil.rmtree(ckpt, ignore_errors=True)

        return OpResult(wall, {}, 1, 0, [], detail), check

    results, host = timed_ops(ctx, prepare, run_op, tracer)
    return {"setup": setup, "results": results, "host": host, "ops": ops_detail}


# ---------------------------------------------------------------- analytics
def board_pass(ctx: Ctx, data_dir: str, tracer, names=BOARD) -> tuple[dict, dict]:
    """Run every board query once over ``data_dir``; returns per-query
    timings and the DataFrames (or the exception) for the check."""
    from hdx_metadata_crawler_spark.plans.registry import queries

    qs = queries()
    timings, frames = {}, {}
    for name in names:
        try:
            with tracer.span(f"q.{name}.call") as call:
                df = qs[name](ctx.spark, data_dir)
            with tracer.span(f"q.{name}.exec") as ex:
                df.write.format("noop").mode("overwrite").save()
            frames[name] = df
            timings[name] = {"call": call, "exec": ex}
        except Exception as e:  # a failing query is counted, the pass goes on
            frames[name] = e
            timings[name] = None
    return timings, frames


def copy_tables(ctx: Ctx, name: str, tag: str) -> str:
    """A private copy of the vendored tables ``name`` for one pass."""
    return shutil.copytree(os.path.join(DATA, name), os.path.join(ctx.tmp, f"{tag}-{ctx.sessions}"))


def run_board_workload(ctx: Ctx, tracer) -> dict:
    from checks import compare_digest, digest, load_expected

    setup = {}
    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        tracer.spark = start_session(ctx, event_log=tracer.enabled)
    setup["session_s"] = time.perf_counter() - t0
    t1 = time.perf_counter()
    with tracer.span("setup.warmup"):
        warm_dir = copy_tables(ctx, BOARD_WARM_DATA, "warm")
        _t, frames = board_pass(ctx, warm_dir, tracer, BOARD_WARMUP)
        broken = {n: repr(e) for n, e in frames.items() if isinstance(e, Exception)}
        if broken:
            raise RuntimeError(f"warm-up queries failed: {broken}")
    setup["warmup_s"] = time.perf_counter() - t1
    setup["setup_s"] = time.perf_counter() - t0

    ops_detail = []
    want = load_expected(EXPECTED, BOARD_DATA)
    data_dirs = {}

    def prepare(i):
        data_dirs[i] = copy_tables(ctx, BOARD_DATA, f"data{i}")

    def run_op(i, tracer):
        data_dir = data_dirs.pop(i)
        t = time.perf_counter()
        timings, frames = board_pass(ctx, data_dir, tracer)
        wall = time.perf_counter() - t
        problems = [f"{n}: {e!r}" for n, e in frames.items() if isinstance(e, Exception)]
        detail = {"wall": wall, "timings": timings}
        ops_detail.append(detail)

        def check(res):
            failed = {n for n, df in frames.items() if isinstance(df, Exception)}
            with tracer.span("check.collect"):
                for name, df in frames.items():
                    if name in failed:
                        continue
                    try:
                        rows = [r.asDict() for r in df.collect()]
                    except Exception as e:  # counted like a failure in the pass
                        res.problems.append(f"{name}: collect raised {e!r}")
                        failed.add(name)
                        continue
                    bad = compare_digest(name, digest(ROOT, df.columns, rows), want[name])
                    if bad:
                        res.problems.extend(bad)
                        failed.add(name)
            res.failed = len(failed)

        return OpResult(wall, {}, len(BOARD), 0, problems, detail), check

    results, host = timed_ops(ctx, prepare, run_op, tracer)
    return {"setup": setup, "results": results, "host": host, "ops": ops_detail}


RUNNERS = {"crawl-page500": run_crawl_workload, "analytics-board": run_board_workload}


# ------------------------------------------------------------------ metrics
def end_to_end(out: dict) -> dict:
    res = out["results"]
    attempted = sum(r.attempted for r in res)
    failed = sum(r.failed for r in res)
    return {
        "setup_s": {"value": out["setup"]["setup_s"], "unit": "s"},
        "cpu_s": {"value": median([sum(r.cpu.values()) for r in res]), "unit": "s"},
        "ok_frac": {"value": (attempted - failed) / attempted, "unit": "frac"},
    }


PER_LAYER_UNITS = {
    "wall_s": "s",
    "spark.jobs_per_round": "count",
    "spark.stages_per_round": "count",
    "spark.tasks_per_round": "count",
    "round_p50_s": "s",
    "round.count": "count",
    "round.fetch_phase_p50_s": "s",
    "round.checkpoint_p50_s": "s",
    "round.full_p50_s": "s",
    "round.tail_p50_s": "s",
    "urls_per_s": "1/s",
    "docs_per_s": "1/s",
    "restart_s": "s",
    "ckpt.bytes": "bytes",
    "ckpt.files": "count",
    "baseline.simulator_s": "s",
    "query_gmean_s": "s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "host.steal_frac": "frac",
    "host.load1": "procs",
    "host.cpu_loop_s": "s",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.pyworker_peak_rss_mb": "MB",
    "jvm.task_run_s": "s",
    "jvm.task_cpu_s": "s",
    "jvm.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "output.bytes": "bytes",
    "trace.overhead_frac": "frac",
}
for _q in BOARD:
    PER_LAYER_UNITS[f"q.{_q}.call_s"] = "s"
    PER_LAYER_UNITS[f"q.{_q}.exec_s"] = "s"
    PER_LAYER_UNITS[f"q.{_q}.jobs"] = "count"
    PER_LAYER_UNITS[f"q.{_q}.shuffle_bytes"] = "bytes"


def per_layer(ctx: Ctx, out: dict, untraced_wall: float, mem: dict, log) -> dict:
    """Per-layer values of the traced run; a layer the workload does not
    run (crawl rounds on the board, queries in a crawl) reads 0.
    ``wall_s`` is the untraced reference operation's wall."""
    v = {k: 0.0 for k in PER_LAYER_UNITS}
    res = out["results"]
    # task metrics cover the timed operation only, like cpu.jvm_s
    tot = log.totals([j for r in res for j in _op_jobs(r)])
    v.update(
        {
            "wall_s": untraced_wall,
            "cpu.driver_s": sum(r.cpu["driver"] for r in res) / len(res),
            "cpu.jvm_s": sum(r.cpu["jvm"] for r in res) / len(res),
            "cpu.pyworker_s": sum(r.cpu["pyworker"] for r in res) / len(res),
            "host.steal_frac": out["host"]["steal_frac"],
            "host.load1": out["host"]["load1"],
            "host.cpu_loop_s": median(out["host"]["cpu_loop_s"]),
            "mem.jvm_peak_rss_mb": mem["jvm"],
            "mem.pyworker_peak_rss_mb": mem["pyworker"],
            "jvm.task_run_s": tot.run_s / len(res),
            "jvm.task_cpu_s": tot.cpu_s / len(res),
            "jvm.gc_s": tot.gc_s / len(res),
            "shuffle.read_bytes": tot.shuffle_read_bytes / len(res),
            "shuffle.write_bytes": tot.shuffle_write_bytes / len(res),
            "spill.bytes": tot.spill_bytes / len(res),
            "output.bytes": tot.output_bytes / len(res),
            "trace.overhead_frac": median([r.wall for r in res]) / untraced_wall - 1.0,
        }
    )
    if ctx.workload.startswith("crawl") and out["ops"]:
        rounds = [m for d in out["ops"] for m in d["rounds"]]
        n_rounds = len(rounds)
        full = [m["wall_sec"] for m in rounds if m["n_page"] == CRAWL_PAGE_SIZE]
        tail = [m["wall_sec"] for m in rounds if m["n_page"] != CRAWL_PAGE_SIZE]
        ops = out["ops"]
        wall = sum(d["wall"] for d in ops)
        all_jobs = [j for d in ops for j in d["job_ids"]]  # fresh and resumed rounds
        rounds_tot = log.totals(all_jobs)
        v.update(
            {
                "spark.jobs_per_round": len(all_jobs) / n_rounds,
                "spark.stages_per_round": rounds_tot.stages / n_rounds,
                "spark.tasks_per_round": rounds_tot.tasks / n_rounds,
                "round_p50_s": median([m["wall_sec"] for m in rounds]),
                "round.count": n_rounds / len(ops),
                "round.fetch_phase_p50_s": median([m["fetch_phase_sec"] for m in rounds]),
                "round.checkpoint_p50_s": median([m["checkpoint_sec"] for m in rounds]),
                "round.full_p50_s": median(full),
                "round.tail_p50_s": median(tail),
                "urls_per_s": sum(m["n_page"] for d in ops for m in d["resumed_rounds"]) / wall,
                "docs_per_s": sum(m["n_ok"] for d in ops for m in d["resumed_rounds"]) / wall,
                "restart_s": median([d["restart_s"] for d in ops]),
                "ckpt.bytes": median([d["ckpt_bytes"] for d in ops]),
                "ckpt.files": median([d["ckpt_files"] for d in ops]),
                "baseline.simulator_s": median([d["simulator_s"] for d in ops]),
            }
        )
    else:
        per_q = {n: [] for n in BOARD}
        for d in out["ops"]:
            for n, t in d["timings"].items():
                if t is not None:
                    per_q[n].append(t)
        walls = []
        for n, ts in per_q.items():
            if not ts:
                continue
            call = median([t["call"].wall for t in ts])
            ex = median([t["exec"].wall for t in ts])
            jobs = [j for t in ts for s in (t["call"], t["exec"]) for j in s.job_ids()]
            qt = log.totals(jobs)
            walls.append(call + ex)
            v[f"q.{n}.call_s"] = call
            v[f"q.{n}.exec_s"] = ex
            v[f"q.{n}.jobs"] = len(jobs) / len(ts)
            v[f"q.{n}.shuffle_bytes"] = (qt.shuffle_read_bytes + qt.shuffle_write_bytes) / len(ts)
        v["query_gmean_s"] = gmean(walls)
    return {k: {"value": val, "unit": PER_LAYER_UNITS[k]} for k, val in v.items()}


def _op_jobs(res: OpResult):
    d = res.detail
    if "timed_job_ids" in d:
        return list(d["timed_job_ids"])
    timings = d.get("timings", {}).values()
    return [j for t in timings if t for s in (t["call"], t["exec"]) for j in s.job_ids()]


# --------------------------------------------------------------------- main
def run(ctx: Ctx) -> dict:
    from procstat import cpu_loop_s, sample_tree
    from tracing import Tracer, read_event_log

    runner = RUNNERS[ctx.workload]
    loop_before = cpu_loop_s()
    if not ctx.trace:
        out = runner(ctx, Tracer())
        out["host"]["cpu_loop_s"] = [loop_before, cpu_loop_s()]
        return {"out": out, "metrics": end_to_end(out)}
    ctx.seconds = 0  # one traced operation
    # The reference for trace.overhead_frac: one untraced run (set-up and
    # operation) in its own JVM, then the traced run in a fresh JVM, so
    # neither inherits the other's JIT state.  Python-side state of this
    # driver process carries over.
    ref_results = runner(ctx, Tracer())["results"]
    stop_session(ctx)
    stop_jvm()
    tracer = Tracer(enabled=True)
    out = runner(ctx, tracer)
    mem = sample_tree().rss_peak_mb
    stop_session(ctx)
    out["host"]["cpu_loop_s"] = [loop_before, cpu_loop_s()]
    log = read_event_log(ctx.event_log_dir)
    metrics = per_layer(ctx, out, median([r.wall for r in ref_results]), mem, log)
    out["results"] = ref_results + out["results"]
    out["spans"] = tracer.to_json()
    return {"out": out, "metrics": metrics}


def summarize(ctx: Ctx, out: dict) -> dict:
    res = out["results"]
    info = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": int(ctx.trace),
        "nproc": ctx.nproc,
        "load1": out["host"]["load1"],
        "steal_frac": out["host"]["steal_frac"],
        "cpu_loop_s": out["host"]["cpu_loop_s"],
        "setup": out["setup"],
        "ops": [
            {"wall_s": r.wall, "cpu": r.cpu, "attempted": r.attempted, "failed": r.failed}
            for r in res
        ],
        "problems": [p for r in res for p in r.problems],
    }
    if ctx.workload.startswith("crawl"):
        info["rounds"] = [
            [(m["round"], m["n_page"], m["wall_sec"]) for m in d["rounds"]] for d in out["ops"]
        ]
    if "spans" in out:
        info["spans"] = out["spans"]
    return info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    # everything Spark, its Python workers and tempfile create stays in tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if args.workload.startswith("crawl"):
        os.environ["SPARK_GRAFT_BODY_SCALE"] = str(CRAWL_BODY_SCALE)
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), tmp,
              len(os.sched_getaffinity(0)))
    try:
        result = run(ctx)
    finally:
        stop_session(ctx)
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    out = result["out"]
    res = out["results"]
    attempted = sum(r.attempted for r in res)
    failed = sum(r.failed for r in res)
    print(json.dumps({"info": summarize(ctx, out)}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
