"""Benchmark of the roddy_spark engine.

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 10 \
        --trace 0

Runs one workload (see workloads.py) from the root of a source checkout, in
one process on ``local[nproc]``: builds the session, generates the seeded
inputs, warms up, then runs operations back to back (closed loop, one
client) for ``--seconds`` and checks every output. Prints a table, then
one JSON line with the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``). Exits 1 when an output check
fails, 2 when the checkout holds no engine to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the end-to-end metrics under the names the engine's docs use for them
ALIASES = {
    "crawl_loop": ("crawl_urls_per_s", "crawl_batch_s_p50"),
    "frontier_level": ("level_urls_per_s", "level_s_p50"),
    "intake_stream": ("intake_urls_per_s", "intake_round_s_p50"),
    "clean_pipeline": ("clean_docs_per_s", "clean_run_s_p50"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(ALIASES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed phase: operations run until "
                        "it has passed (at least one) or the workload has "
                        "no more input")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke tests")
    return p.parse_args(argv)


def build_session(work: str, trace: bool):
    from roddy_spark.session import build_session as engine_session
    cores = len(os.sched_getaffinity(0))
    spark = engine_session(
        app_name="roddy-perfbench", cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, spans) -> None:
    """Stop the session, the JVM and the Python workers, and wait until
    each process has ended."""
    from pyspark import SparkContext
    pids = spans.descendants(spans.proc_tree(), os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        live = [p for p in pids if spans.running(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                os.kill(p, 9)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    return "ratio" if "frac" in name or "yield" in name else "count"


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def measure(wl, seconds: float, tracer, sampler):
    """Closed loop: the next operation starts when the previous returns.
    Returns the operations, the timed wall and the Python-worker CPU."""
    ops, wall, py_cpu = [], 0.0, 0.0
    from workloads import Op
    while (wall < seconds or not ops) and not wl.exhausted():
        py0 = sampler.sample()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                new = wl.op()
            else:
                with tracer.span("op"):
                    new = wl.op()
        except Exception as e:  # an operation that raises counts as failed
            traceback.print_exc()
            new = [Op(time.perf_counter() - t0, 0, False, repr(e))]
        wall += time.perf_counter() - t0
        py_cpu += sampler.sample() - py0
        ops.extend(new)
        if tracer is not None and hasattr(wl, "prefix_op") and new[-1].ok:
            new[-1].extra["prefix"] = wl.prefix_op()
    return ops, wall, py_cpu


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "roddy_spark"))
            and os.path.isfile(os.path.join(ROOT, "scripts",
                                            "submit_clean.py"))):
        print(f"perfbench: no roddy_spark engine under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-"
                                       f"{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # executors import the engine from the checkout, and every temporary
    # file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # for every JVM spark-submit starts: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ.setdefault("RODDY_DRIVER_MEM", "2g")
    import spans
    from workloads import WORKLOADS

    spark = sampler = tracer = None
    try:
        sampler = spans.TreeSampler()
        t0 = time.perf_counter()
        spark = build_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work, args.size)
        gen_s = timed(wl.generate)
        wl.expect()
        warm_s = timed(wl.warm)
        setup_s = session_s + gen_s + warm_s

        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            wl.install(tracer)
        sampler.start()
        sampler.sample()
        sampler.peak_rss = 0
        sampler.peak_parts = (0, 0, 0)
        ops, wall, py_cpu = measure(wl, args.seconds, tracer, sampler)
        sampler.stop()
        peak_rss = sampler.peak_rss
        failed = sum(not o.ok for o in ops)
        for o in ops:
            if not o.ok:
                print(f"check failed: {args.workload}: {o.note}",
                      file=sys.stderr)
        failed = min(len(ops), failed + wl.finish())

        items = sum(o.items for o in ops)
        op_p50 = statistics.median(o.secs for o in ops)
        e2e = {
            "items_per_s": (items / wall, "1/s"),
            "op_s_p50": (op_p50, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
        rate, p50 = ALIASES[args.workload]
        table = dict(e2e)
        table[rate] = e2e["items_per_s"]
        table[p50] = e2e["op_s_p50"]
        table["ops_failed_frac"] = (failed / max(len(ops), 1), "ratio")
        table["ops_attempted"] = (len(ops), "count")
        jvm, py_rss, n_py = sampler.peak_parts
        table["peak_rss.jvm_mb"] = (jvm / 2**20, "MB")
        table["peak_rss.python_workers_mb"] = (py_rss / 2**20, "MB")
        table["peak_rss.python_procs"] = (n_py, "count")
        table["setup.session_s"] = (session_s, "s")
        table["setup.generate_s"] = (gen_s, "s")
        table["setup.warm_s"] = (warm_s, "s")
        metrics = e2e
        if args.trace:
            tracer.close()
            op_tags = tracer.tags_under("op")
            jobs = [j for j in spans.rest_jobs(spark.sparkContext)
                    if op_tags & set(j["tags"])]
            detail = wl.detail(tracer, ops, jobs)
            n = len(ops)
            metrics = {
                "jobs_per_op": (len(jobs) / n, "count"),
                "exec_cpu_s_per_op": (sum(j["cpu_s"] for j in jobs) / n,
                                      "s"),
                "py_cpu_s_per_kitem": (py_cpu / (items / 1000), "s"),
                "shuffle_mb_per_op":
                    (sum(j["shuffle_b"] for j in jobs) / n / 2**20, "MB"),
                "traced_op_s_p50": (op_p50, "s"),
            }
            table.update(metrics)
            table.update({k: (v, unit_of(k)) for k, v in detail.items()})
            os.makedirs(os.path.join(HERE, "_results"), exist_ok=True)
            with open(os.path.join(HERE, "_results",
                                   f"{args.workload}-seed{args.seed}-"
                                   "trace.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "layers": detail,
                           "spans": [vars(s) | {"children": len(s.children)}
                                     for s in tracer.spans]}, f, indent=1)
        for k, (v, unit) in table.items():
            print(f"{args.workload:16s} {k:34s} {v:14.6g} {unit}")
        print(f"{args.workload:16s} {'op_s':34s} "
              f"{[round(o.secs, 3) for o in ops]}")
        print(json.dumps({
            "correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
        return 0 if failed == 0 else 1
    finally:
        if tracer is not None:
            tracer.close()
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        if spark is not None:
            shutdown(spark, spans)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
