#!/usr/bin/env python3
"""levsim benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Workloads, metrics and the layer map are described in perfbench/README.md;
metric names and units come from BENCHMARK.json at the checkout root.

``--trace 0`` reports the end-to-end metrics of untraced rounds.
``--trace 1`` runs one untraced and one traced round (after one warm round
for er_batch, whose untraced op is a cold job) and reports the per-layer
metrics plus the tracing overhead; its spans are written beside the results
in ``.perfbench_work/results/``.

Every scratch location (Spark local dirs, the kernel build cache, temp
files, the SQL warehouse) lives under ``.perfbench_work/`` in the
checkout, and no Python bytecode is written; each run gets a fresh
directory there and removes it on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LOAD_CYCLES = 3
WORKLOADS = ("er_batch", "incremental_catchup")  # workloads.WORKLOADS, before imports


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point Spark, the kernel cache and temp files at run_dir, write no bytecode,
    and drop inherited LEVSIM_* settings so every run uses the defaults."""
    for k in [k for k in os.environ if k.startswith("LEVSIM_")]:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", "spark.driver.host=127.0.0.1",
        "--conf", "spark.driver.bindAddress=127.0.0.1",
        # the traced run reads every job and stage back from the UI
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "pyspark-shell",
    ]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"'{a}'" for a in submit),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "LEVSIM_CACHE": os.path.join(run_dir, "levsim-cache"),
        "LEVSIM_DRIVER_MEM": "4g",
        "TMPDIR": tmp,
        # no bytecode is written into the checkout; existing caches are read
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    tempfile.tempdir = tmp
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    import tracer as tr

    proc = getattr(SparkContext._gateway, "proc", None)
    started = [p for p in tr.process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        live = tr.live_processes()
        alive = [p for p in started if p in live]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def bench(args, spec: dict, run_dir: str) -> dict:
    import tracer as tr
    import workloads

    from levsim import cbuild
    from levsim.session import get_spark

    cores = len(os.sched_getaffinity(0))
    sampler = tr.RssSampler()
    sampler.start()

    def tree_cpu():
        return tr.tree_cpu_s(os.getpid()) - sampler.cpu_s

    c0, t0 = tree_cpu(), time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # set-up phase -> [wall seconds, process-tree CPU seconds]
        setup = {"session": [time.perf_counter() - t0, tree_cpu() - c0]}

        def phase(fn, *a):
            c0, t0 = tree_cpu(), time.perf_counter()
            fn(*a)
            return [time.perf_counter() - t0, tree_cpu() - c0]

        def build():
            if cbuild.load() is None:
                raise RuntimeError("C kernels did not build")

        setup["compile"] = phase(build)
        tracer = tr.Tracer(spark, args.workload)
        w = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir, cores, tracer)
        cycles = [phase(w.load, i) for i in range(LOAD_CYCLES)]
        setup["load"] = [statistics.median(c[k] for c in cycles) for k in (0, 1)]
        setup["load_samples"] = cycles
        setup["warmup"] = phase(w.prepare)
        setup_wall_s, setup_cpu_s = (sum(setup[p][k] for p in ("session", "compile", "load",
                                                              "warmup")) for k in (0, 1))

        walls, cpus, pages, lat, failed_ops = [], [], [], [], 0
        sampler.peak = 0  # peak memory of the measured rounds only

        def one_round():
            nonlocal failed_ops
            p0, c0, t0 = w.done["pages"], tree_cpu(), time.perf_counter()
            try:
                ops = w.round()
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                print(f"round failed: {e!r}", file=sys.stderr)
                failed_ops += 1
                return None
            wall = time.perf_counter() - t0
            walls.append(wall)
            cpus.append(tree_cpu() - c0)
            pages.append(w.done["pages"] - p0)
            lat.extend(ops)
            w.scrub()
            return wall

        result: dict = {"workload": args.workload, "seed": args.seed, "cores": cores,
                        "seconds": args.seconds, "trace": args.trace, "setup": setup}
        if args.trace:
            tracer.install()
            for _ in range(w.trace_warmup):
                one_round()
            untraced = one_round()
            tracer.active, tracer.round = True, 1
            traced = one_round()
            tracer.active = False
            if untraced is None or traced is None:
                raise RuntimeError("a round of the traced run failed")
            layer = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            layer.update(tr.spark_layer_metrics(spark, tracer, cores))
            tracer.counts = w.layer_extras(layer)
            tracer.counts["trace.overhead_s"] = traced - untraced
            tracer.counts["round.wall_s"] = untraced
            tracer.counts["round.cpu_s"] = cpus[-2]
            tracer.counts["process.peak_rss_mb"] = sampler.peak / 1e6
            layer.update(tracer.counts)
            tracer.uninstall()
            metrics = {m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            # a fixed set of ops, so that every run does the same work however
            # fast the host is; --seconds is only recorded
            while w.more() and failed_ops < 3:
                one_round()
        peak_rss = sampler.peak
        if not walls:
            raise RuntimeError("no round completed")

        checks = []
        try:
            checks = w.checks()
        except Exception as e:  # noqa: BLE001 — a check that raises has failed
            checks = [("checks ran", False, repr(e))]
        # printed and stored, but not bounded: wall-clock figures follow the
        # host's CPU steal, and pair counts differ from seed to seed
        # (see perfbench/README.md)
        unbounded = {
            "setup_wall_s": setup_wall_s,
            "wall_s": statistics.median(walls),
            "pages_per_s": w.done["pages"] / sum(walls),
            "pairs_per_s": w.done["pairs"] / sum(walls),
            "pairs_per_cpu_s": w.done["pairs"] / sum(cpus),
            "catchup_p50_s": statistics.median(lat),
        }
        if not args.trace:
            e2e = {
                "setup_s": setup_cpu_s,
                "cpu_s": statistics.median(cpus),
                "pages_per_cpu_s": statistics.median(p / c for p, c in zip(pages, cpus)),
                "pair_f1": w.f1,
            }
            metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        failed_checks = sum(not ok for _, ok, _ in checks)
        result.update({
            "round_walls_s": walls,
            "round_cpu_s": cpus,
            "unbounded": unbounded,
            "op_latencies_s": lat,
            "work": w.done,
            "op_parts_s": w.parts,
            "peak_rss_mb": peak_rss / 1e6,
            "pair_f1": w.f1,
            "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
            "attempted": len(walls) + failed_ops + len(checks),
            "failed": failed_ops + failed_checks,
            "metrics": metrics,
        })
        if args.trace:
            result["spans_file"] = _result_path(args, "spans")
            tracer.dump(result["spans_file"], {"seed": args.seed, "cores": cores})
        return result
    finally:
        sampler.stop()
        stop_spark(spark)


def _result_path(args, kind: str) -> str:
    d = os.path.join(WORK_ROOT, "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}_seed{args.seed}_trace{args.trace}_{kind}.json")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "levsim", "__init__.py")):
        print("perfbench: no levsim package beside perfbench/ (run it from a full checkout)",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(WORK_ROOT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate(run_dir)
    try:
        res = bench(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(_result_path(args, "result"), "w") as f:
        json.dump(res, f, indent=1)

    print(f"workload {res['workload']}  seed {res['seed']}  cores {res['cores']}  "
          f"trace {res['trace']}")
    print(f"rounds {len(res['round_walls_s'])}  op samples {len(res['op_latencies_s'])}  "
          f"ops_failed/ops_total {res['failed']}/{res['attempted']}")
    for c in res["checks"]:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for name, m in res["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    # too unsteady across runs to bound (see perfbench/README.md)
    for name, v in res["unbounded"].items():
        print(f"{name} {v:.6g} {'1/s' if '_per_' in name else 's'} (unbounded)")
    print(f"peak_rss_mb {res['peak_rss_mb']:.6g} MB (unbounded)")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
