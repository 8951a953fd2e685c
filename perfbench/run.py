#!/usr/bin/env python3
"""Repository benchmark for tweetf0rm_spark.

    python3 perfbench/run.py --workload crawl-bfs --seed 1 --seconds 12 --trace 0

Runs one closed-loop workload (see perfbench/README.md) against the
public API on ``local[<cores>]`` in this process, checks its outputs,
prints every metric on its own line with its unit, and ends with one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same loop with per-layer spans (perfbench/trace.py) and reports the
per-layer metrics and the tracing overhead instead.

Everything it writes stays under the checkout: working state in
``.perfbench_work/`` (removed at exit), spans, fingerprints and the
run log in ``.perfbench_out/``.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: fixed driver heap; the JVM's peak RSS is printed against it
DRIVER_MEM = "2g"
#: input generation + materialization repeats; setup_s takes the median
SETUP_REPS = 2
#: end-to-end metrics every workload reports, in print order
END_TO_END = [
    ("setup_s", "s"),
    ("urls_per_s", "1/s"),
    ("pages_per_s", "1/s"),
    ("jvm_live_heap_mb", "MB"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    from tweetf0rm_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        # host-sized, as the session's own default intends ("≈ cores")
        "spark.sql.shuffle.partitions": str(cores),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.catalogImplementation": "in-memory",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:  # keep every job, stage and task in the status store
        conf.update({f"spark.ui.retained{k}": "1000000"
                     for k in ("Jobs", "Stages", "Tasks")})
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_live_heap_mb(spark) -> float:
    """Driver heap in use right after a full collection: what the
    engine keeps between operations (cached frames, broadcasts,
    catalog and status state), without the garbage of the last one."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def _record(out_dir: str, key: str, fp: str) -> bool:
    """Remember the first fingerprint seen for ``key``; False when a
    later run (traced or not) disagrees with it."""
    path = os.path.join(out_dir, "fingerprints.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    if key in known:
        return known[key] == fp
    known[key] = fp
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return True


def _untraced_p50(out_dir: str, workload: str, seed: int) -> float | None:
    """Median step time of earlier untraced runs of this workload in
    this checkout (same seed if there is one)."""
    path = os.path.join(out_dir, "runs.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        runs = [json.loads(ln) for ln in f if ln.strip()]
    runs = [r for r in runs if r["workload"] == workload and not r["trace"]]
    same = [r["p50"] for r in runs if r["seed"] == seed]
    vals = same or [r["p50"] for r in runs]
    return statistics.median(vals) if vals else None


def run(args, work: str, out_dir: str) -> dict:
    from perfbench.stats import summarize
    from perfbench.trace import Tracer, per_layer_names
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark)
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    try:
        gen_s = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(gen_s) + prep_s

        if args.trace:
            tracer.install()
            tracer.armed = True
        times, rates_u, rates_p = [], [], []
        attempted = failed = 0
        start = time.perf_counter()
        while attempted == 0 or time.perf_counter() - start < args.seconds:
            attempted += 1
            t = time.perf_counter()
            try:
                s = wl.step()
            except Exception:  # a failed operation counts toward error_rate
                traceback.print_exc()
                failed += 1
                break
            dt = s.get("t", time.perf_counter() - t)
            times.append(dt)
            rates_u.append(s["urls"] / dt)
            rates_p.append(s["pages"] / dt)
            failed += not s["ok"]
        tracer.armed = False
        if not times:
            raise RuntimeError("no operation completed")
        live = jvm_live_heap_mb(spark)
        rss = jvm_peak_rss_mb(spark)
        layer = tracer.per_layer() if args.trace else {}
        tracer.uninstall()
        fin = wl.finish()
    finally:
        stop_session(spark)

    key = f"{args.workload}/seed={args.seed}"
    fp_ok = _record(out_dir, key, fin["fingerprint"])
    failed += fin["failed"]
    correct = failed == 0 and not fin["violations"] and fp_ok

    lat = summarize(times)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"fingerprint={fin['fingerprint']}")
    print(f"# session_s={session_s:.3g} setup_reps_s={[round(x, 3) for x in gen_s]} "
          f"prepare_s={prep_s:.3g} timed_ops={[round(x, 3) for x in times]}")
    for v in fin["violations"]:
        print(f"# violation: {v}")
    if not fp_ok:
        print(f"# violation: fingerprint differs from an earlier run of {key}")

    if args.trace:
        p50 = lat["p50"]
        base = _untraced_p50(out_dir, args.workload, args.seed)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        metrics = {n: {"value": layer[n], "unit": u}
                   for n, u in per_layer_names()}
        for n, m in metrics.items():
            print(f"{n} {m['value']:.6g} {m['unit']}")
        if base:
            print(f"tracing_overhead {p50 - base:.6g} s "
                  f"({(p50 / base - 1) * 100:.1f}% of untraced wave_s_p50 {base:.4g} s)")
        else:
            print("tracing_overhead n/a (no untraced run of this workload "
                  "recorded in this checkout)")
    else:
        values = {
            "setup_s": setup_s,
            "urls_per_s": statistics.median(rates_u),
            "pages_per_s": statistics.median(rates_p),
            "jvm_live_heap_mb": live,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        for n, u in END_TO_END:
            print(f"{n} {values[n]:.6g} {u}")
        # printed only: see perfbench/README.md, "End-to-end metrics"
        print(f"jvm_peak_rss_mb {rss:.6g} MB")
        tail = "".join(f", {k}={v:.6g}" for k, v in lat.items() if k not in ("p50", "n"))
        print(f"wave_s_p50 {lat['p50']:.6g} s (n={lat['n']}{tail})")
        print(f"error_rate {failed / attempted:.6g} ratio ({failed}/{attempted})")

    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "p50": lat["p50"]}) + "\n")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tweetf0rm_spark", "__init__.py")):
        print("perfbench: the tweetf0rm_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.makedirs(out_dir, exist_ok=True)
    # keep every temp file (Python, JVM, Spark shuffle) in the checkout,
    # and let the Python workers import the package from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # the program's own defaults, not the caller's
    try:
        result = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
