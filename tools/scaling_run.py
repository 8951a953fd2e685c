#!/usr/bin/env python
"""North-rule scaling harness (BASELINE.json:L2,L14).

The rule's two-cluster-size criterion (throughput scaling efficiency
≥ 0.8 from N to 4N executors) cannot use a real cluster in this
sandbox, so — per the driver's instruction ("N and 4N cores") — we run
the SAME job on the SAME input at two parallelism levels and report
throughput at both plus

    efficiency = (urls_per_sec[4N] / urls_per_sec[N]) / 4

**The job** is the engine's candidate-scheduling path exactly as
``wave.run_wave`` executes it: raw (non-canonical) URLs →
``canonicalized()`` (builtin expression chain: lowercase host, strip
fragment/default port/tracker params, sort query keys, xxhash64,
registered-domain) → shuffle-hash anti-join dedupe against a
20%-overlap seen-set (the realistic join strategy at 10^10 keys — a
seen-set that big is never broadcast, and a broadcast build would be
serial driver work) → salted politeness top-k → noop sink. Scheduling
columns only (SURVEY.md §4 column discipline).

**Measurement design, forced by the host:** this VM advertises 32
vCPUs but the hypervisor delivers ~16 real cores with CPU-steal
storms lasting minutes (vmstat ``st`` ≈ 20%; an identical pure-CPU
job repeated back-to-back ranged 2.1s–27.5s; local[32] legs were
consistently slower than local[8] legs run minutes apart). Defaults
therefore: pair = local[4] vs local[16] (still N vs 4N), levels
interleaved across rounds — each round boots a fresh JVM per level
(no warm-pool bleed) and, by default, times 2 reps after one warm-up
execution — and the final
figure per level is the min across all rounds (the steal-free
estimate; both levels sample the same noise distribution over the
same wall-clock horizon). Shuffle goes to tmpfs so the comparison
measures compute + memory bandwidth, not one shared disk.

Usage:
    python tools/scaling_run.py [n_rows] [rounds]
    SPARK_GRAFT_SCALE_PAIR=8,32 python tools/scaling_run.py

Environment:
    SPARK_GRAFT_SCALE_PAIR    core counts N,4N compared (default 4,16)
    SPARK_GRAFT_SCALE_REPS    timed executions per level per round,
                              >= 1 (default 2)
    SPARK_GRAFT_SCALE_WARMUP  untimed warm-up executions before them,
                              >= 0 (default 1). With 0, the first timed
                              rep also pays JVM/JIT/codegen warm-up, so
                              keep REPS >= 2 unless a rep runs for many
                              minutes (10^8-row scale).

Prints one JSON line per round plus a final summary; appends the
result row to BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r'''
import json, os, sys, time
sys.path.insert(0, REPO_PLACEHOLDER)
from pyspark.sql import functions as F
from tweetf0rm_spark.session import get_spark
from tweetf0rm_spark.datagen import gen_frontier_df
from tweetf0rm_spark.operators.dedupe import anti_join_seen
from tweetf0rm_spark.operators.politeness import apply_politeness
from tweetf0rm_spark.wave import canonicalized

cores = int(sys.argv[1]); n_rows = int(sys.argv[2]); reps = int(sys.argv[3])
warmup = int(sys.argv[4])
os.makedirs("/dev/shm/spark-local", exist_ok=True)
spark = get_spark(f"scaling-{cores}", master=f"local[{cores}]",
                  extra_conf={"spark.sql.shuffle.partitions": str(cores * 4),
                              "spark.local.dir": "/dev/shm/spark-local"})

# raw non-canonical variants: every candidate URL pays canonicalization,
# exactly like run_wave's candidate path
raw = gen_frontier_df(spark, n_rows, n_partitions=cores * 4).select(
    F.concat(F.lit("HTTPS://"), F.upper(F.split("url", "://")[1]),
             F.lit("/?b=2&a=1&utm_source=x#frag")).alias("url"),
    "depth", "priority", F.lit("QUEUED").alias("state"),
    F.lit(0).alias("wave"))
cand = canonicalized(raw).select(
    "url", "url_hash", "registered_domain", "depth", "priority")
# seen-set = 20% hash-sample of the CANONICAL candidate space, so the
# anti-join really eliminates ~20% of rows (building it from unmangled
# URLs made every probe miss — the join did no real dedupe work).
# Materialized to parquet UNTIMED: in the engine the seen-set is a
# snapshot-table read from the previous wave, never recomputed from
# the candidate plan — deriving it lazily here re-ran the whole
# canonicalization a second time inside the timed job.
seen_dir = "/dev/shm/spark-local/seen"
cand.filter(F.pmod(F.col("url_hash"), F.lit(5)) == 0).select(
    "url", "url_hash").write.mode("overwrite").parquet(seen_dir)
seen = spark.read.parquet(seen_dir)
novel = anti_join_seen(cand, seen, hint="shuffle_hash")
batch = apply_politeness(novel, None, default_budget=64).filter(
    F.col("within_budget")).select(
    "url", "url_hash", "registered_domain", "depth", "priority", "host_rank")

for _ in range(warmup):
    batch.write.format("noop").mode("overwrite").save()   # warm-up
times = []
for _ in range(reps):
    t0 = time.time()
    batch.write.format("noop").mode("overwrite").save()
    times.append(round(time.time() - t0, 3))
print(json.dumps({"cores": cores, "times": times}))
spark.stop()
'''


def run_level(cores: int, n_rows: int, reps: int, warmup: int) -> list[float]:
    body = WORKER.replace("REPO_PLACEHOLDER", repr(REPO))
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(body)
        path = f.name
    try:
        out = subprocess.run(
            [sys.executable, path, str(cores), str(n_rows), str(reps),
             str(warmup)],
            capture_output=True, text=True, check=True,
        )
    finally:
        os.unlink(path)
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)["times"]


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    pair = tuple(
        int(x) for x in
        os.environ.get("SPARK_GRAFT_SCALE_PAIR", "4,16").split(",")
    )
    lo_c, hi_c = pair
    # At 10^8-row scale a rep is ~20 min at local[4]; JVM/JIT warm-up is
    # <1% of that, so the warm-up execution can be dropped to fit a round
    # in a session (SPARK_GRAFT_SCALE_WARMUP=0) — min-of-timed-reps stays
    # the steal-free estimator. Defaults preserve the original protocol.
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    warmup = int(os.environ.get("SPARK_GRAFT_SCALE_WARMUP", "1"))
    if reps < 1 or warmup < 0:
        sys.exit(
            f"scaling_run: need SPARK_GRAFT_SCALE_REPS >= 1 and "
            f"SPARK_GRAFT_SCALE_WARMUP >= 0 (got {reps} and {warmup})"
        )
    times: dict[int, list[float]] = {lo_c: [], hi_c: []}
    for r in range(rounds):
        for cores in pair:
            ts = run_level(cores, n_rows, reps=reps, warmup=warmup)
            times[cores].extend(ts)
            print(json.dumps({"round": r, "cores": cores, "times": ts}),
                  flush=True)
    lo_sec, hi_sec = min(times[lo_c]), min(times[hi_c])
    lo = {"cores": lo_c, "rows": n_rows, "sec": lo_sec,
          "urls_per_sec": round(n_rows / lo_sec, 1), "all": times[lo_c]}
    hi = {"cores": hi_c, "rows": n_rows, "sec": hi_sec,
          "urls_per_sec": round(n_rows / hi_sec, 1), "all": times[hi_c]}
    eff = (hi["urls_per_sec"] / lo["urls_per_sec"]) / (hi_c / lo_c)
    result = {
        "job": "canonicalize+dedupe+politeness wave "
               "(urls scheduled+deduped/sec)",
        "rows": n_rows,
        f"local{lo_c}": lo,
        f"local{hi_c}": hi,
        "scaling_efficiency": round(eff, 3),
        "criterion": "≥ 0.8 (BASELINE.json north_rule, N→4N)",
        "pass": eff >= 0.8,
    }
    print(json.dumps(result, ensure_ascii=False))

    row = (
        f"| {lo_c}→{hi_c} | {n_rows:,} | {lo['urls_per_sec']:,.0f} "
        f"| {hi['urls_per_sec']:,.0f} | {eff:.3f} "
        f"| {'PASS' if eff >= 0.8 else 'FAIL'} |\n"
    )
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(row)


if __name__ == "__main__":
    main()
