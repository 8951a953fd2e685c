"""Traced run: spans around the public functions each layer exposes.

The wrappers live here, not in the program: :meth:`Tracer.install`
swaps module/class attributes for wrapped versions (and
:meth:`Tracer.uninstall` puts them back). ``run_wave`` and
``Crawl.step`` look their callees up as module globals at call time,
so patching the module attribute also traces the calls they make.

Each span sets a Spark job group named after its span id, so every job
is attributed to the innermost open span. Because the program's
DataFrames are lazy, a wrapper also *materializes* the frame its
function returns (persist + count, in call order) — only in the traced
run — so each layer's work executes inside its own span. Job and stage
counts of a traced operation therefore include these count jobs.

Only the scheduling half of an operation is split this way: once the
fetch batch is ranked, later calls of the scheduling operators (the
canonicalize and dedupe of the outlinks, the next-frontier dedupe)
run unwrapped and stay lazy. A crawl wave executes them inside
``snapshots.commit``; a scheduling pass never executes them.

Spans stay in memory; :meth:`Tracer.dump` writes them at exit.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweetf0rm_spark import crawl, wave
from tweetf0rm_spark.canon import needs_general_canon_col
from tweetf0rm_spark.operators import dedupe, politeness, rank, robots, seenset
from tweetf0rm_spark.operators.politeness import N_SALTS
from tweetf0rm_spark.sources.snapshots import ParquetSnapshotStore

from .stats import self_times

#: spans of the scheduling pipeline, in pipeline order
SCHEDULE_SPANS = (
    "canon.canonicalized", "dedupe.within", "dedupe.against_seen",
    "seenset.probe", "dedupe.confirm", "robots.verdict", "politeness.apply",
    "rank.global_row_number",
)
#: every span a traced run may open, the workloads' roots first; a
#: span a workload never opens reports 0
ALL_SPANS = ("schedule.pass", "crawl.step", "wave.run_wave") + SCHEDULE_SPANS + (
    "extract.fetched", "seenset.update", "snapshots.commit", "crawl.compact")

#: per-layer ratios: metric → (span, numerator count, denominator count)
RATIOS = {
    "canon.udf_share": ("canon.canonicalized", "udf_rows", "rows"),
    "filters.bloom_pass_ratio": ("seenset.probe", "suspects", "rows"),
    "dedupe.novel_ratio": ("dedupe.against_seen", "rows", "candidates"),
    "robots.blocked_share": ("robots.verdict", "blocked", "rows"),
    "politeness.in_budget_share": ("politeness.apply", "in_budget", "rows"),
    "extract.null_html_share": ("extract.fetched", "null_html", "rows"),
}

#: per-layer quantities totalled per root operation (median over
#: roots); a ``max_`` count keeps its maximum instead of a sum
TOTALS = {
    "politeness.max_group_rows": ("politeness.apply", "max_group_rows", "count"),
    "snapshots.bytes_written": ("snapshots.commit", "bytes", "bytes"),
    "seenset.blob_bytes": ("seenset.update", "blob_bytes", "bytes"),
    "crawl.compact_bytes": ("crawl.compact", "bytes", "bytes"),
}

#: job/stage counts per root operation
JOB_COUNTS = {
    "crawl.step": ("crawl.spark_jobs_per_wave", "crawl.spark_stages_per_wave"),
    "schedule.pass": ("schedule.spark_jobs_per_pass",
                      "schedule.spark_stages_per_pass"),
}


def per_layer_names() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in report order;
    every workload reports all of them."""
    out = [(f"{s}_s", "s") for s in ALL_SPANS]
    out += [(m, "ratio") for m in RATIOS]
    out += [(m, unit) for m, (_, _, unit) in TOTALS.items()]
    out += [(m, "count") for ms in JOB_COUNTS.values() for m in ms]
    for s in ALL_SPANS:
        out += [(f"{s}.shuffle_write_bytes", "bytes"),
                (f"{s}.spill_bytes", "bytes"),
                (f"{s}.task_s_max_over_p50", "ratio")]
    return out


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        #: the concrete DataFrame class (it overrides ``mapInPandas``)
        self._df_cls = type(spark.range(0))
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.armed = False
        self._persisted: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(gid, gid)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "root": parent["root"] if parent else len(self.spans),
             "counts": {}}
        self.spans.append(s)
        self.stack.append(s)
        self._group(f"pb-span-{s['id']}")
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            self._group(f"pb-span-{self.stack[-1]['id']}" if self.stack else None)
            if parent is None:
                self.release()

    @contextmanager
    def root(self, name: str):
        """Root span of one closed-loop operation (no-op when disarmed)."""
        if not self.armed:
            yield None
            return
        with self.span(name) as s:
            yield s

    def materialize(self, s: dict, df: DataFrame, **conds) -> None:
        """Persist ``df`` and count its rows, and the rows where each
        named condition holds, in one Spark action (every action
        re-plans the frame's whole lineage on the driver)."""
        if not df.is_cached:
            df.persist()
            self._persisted.append(df)
        row = df.agg(F.count(F.lit(1)).alias("rows"), *[
            F.count(F.when(c, 1)).alias(k) for k, c in conds.items()]).first()
        for k, v in row.asDict().items():
            s["counts"][k] = s["counts"].get(k, 0) + int(v)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -------------------------------------------------------- wrappers
    def _wrap(self, name, fn, post):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            if not tracer.stack or (
                    name in SCHEDULE_SPANS and tracer.stack[0].get("ranked")):
                return fn(*a, **kw)
            with tracer.span(name) as s:
                out = fn(*a, **kw)
                post(s, out, a, kw)
            if name == "rank.global_row_number":
                tracer.stack[0]["ranked"] = True
            return out

        return wrapped

    def install(self) -> None:
        t = self

        def mat(s, out, a, kw):
            t.materialize(s, out)

        def canon(s, out, a, kw):
            t.materialize(s, out)
            n = a[0].agg(F.count(F.when(needs_general_canon_col(F.col("url")), 1)))
            s["counts"]["udf_rows"] = s["counts"].get("udf_rows", 0) + n.first()[0]

        def against_seen(s, out, a, kw):
            s["counts"]["candidates"] = a[0].count()
            t.materialize(s, out)

        def probe(s, out, a, kw):
            t.materialize(s, out, suspects=F.col("maybe_seen"))

        def verdict(s, out, a, kw):
            t.materialize(s, out, blocked=~F.col("robots_allowed"))

        def polite(s, out, a, kw):
            t.materialize(s, out, in_budget=F.col("within_budget"))
            salts = kw.get("n_salts", a[2] if len(a) > 2 else N_SALTS)
            top = (a[0].groupBy("registered_domain",
                                F.pmod(F.col("url_hash"), F.lit(salts)))
                   .count().agg(F.max("count")).first()[0])
            s["counts"]["max_group_rows"] = int(top or 0)

        def nothing(s, out, a, kw):
            pass

        def blobs(s, out, a, kw):
            t.materialize(s, out)
            n = out.agg(F.sum(F.length("filter"))).first()[0]
            s["counts"]["blob_bytes"] = int(n or 0)

        def commit(s, out, a, kw):
            store, snap, tables = a[0], a[1], a[2]
            s["counts"]["bytes"] = sum(
                _du(store._dir(name, snap)) for name in tables)

        def compact(s, out, a, kw):
            m = a[0]._read_compaction() or {}
            s["counts"]["bytes"] = sum(
                _du(m[k]) for k in ("path", "blob_path") if m.get(k))

        plan = [
            ("canon.canonicalized", canon, [(wave, "canonicalized")]),
            ("dedupe.within", mat, [(wave, "dedupe_within"), (dedupe, "dedupe_within")]),
            ("dedupe.against_seen", against_seen,
             [(wave, "dedupe_against_seen"), (seenset, "dedupe_against_seen")]),
            ("seenset.probe", probe, [(seenset, "probe_seen_blobs")]),
            ("dedupe.confirm", mat, [(seenset, "anti_join_seen_parts")]),
            ("robots.verdict", verdict, [(wave, "robots_verdict"), (robots, "robots_verdict")]),
            ("politeness.apply", polite,
             [(wave, "apply_politeness"), (politeness, "apply_politeness")]),
            ("rank.global_row_number", mat,
             [(wave, "global_row_number"), (rank, "global_row_number")]),
            ("wave.run_wave", nothing, [(wave, "run_wave"), (crawl, "run_wave")]),
            ("seenset.update", blobs, [(crawl, "update_seen_blobs")]),
            ("snapshots.commit", commit, [(ParquetSnapshotStore, "commit")]),
            ("crawl.compact", compact, [(crawl.Crawl, "compact")]),
        ]
        for name, post, targets in plan:
            fn = getattr(*targets[0])
            w = self._wrap(name, fn, post)
            for owner, attr in targets:
                self._patches.append((owner, attr, getattr(owner, attr)))
                setattr(owner, attr, w)

        step = crawl.Crawl.step

        @functools.wraps(step)
        def traced_step(crawl_self):
            with t.root("crawl.step"):
                return step(crawl_self)

        # run_wave's one mapInPandas is the Arrow fetch+extract; in a
        # crawl wave it must run in its own span before the outlinks
        # that read it (a scheduling pass never fetches)
        map_in_pandas = self._df_cls.mapInPandas

        @functools.wraps(map_in_pandas)
        def traced_map(df, *a, **kw):
            out = map_in_pandas(df, *a, **kw)
            if (t.stack and t.stack[-1]["name"] == "wave.run_wave"
                    and t.stack[0]["name"] == "crawl.step"):
                with t.span("extract.fetched") as e:
                    t.materialize(e, out, null_html=F.col("text").isNull())
            return out

        self._patches += [(crawl.Crawl, "step", step),
                          (self._df_cls, "mapInPandas", map_in_pandas)]
        crawl.Crawl.step = traced_step
        self._df_cls.mapInPandas = traced_map

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------- spark counters
    def spark_counters(self) -> dict[int, dict]:
        """Per span id: jobs, completed stages, shuffle-write bytes,
        spilled bytes and the worst per-stage task-time skew (max ÷
        median task duration) over the stages its jobs ran. A stage is
        charged to the first job that lists it."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        rows = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get().startswith("pb-span-"):
                ids = j.stageIds()
                rows.append((j.jobId(), int(g.get()[len("pb-span-"):]),
                             [ids.apply(k) for k in range(ids.size())]))
        owner: dict[int, int] = {}
        out: dict[int, dict] = {}
        for _, sid, stage_ids in sorted(rows):
            out.setdefault(sid, {"jobs": 0, "stages": 0, "shuffle": 0,
                                 "spill": 0, "skew": 0.0})["jobs"] += 1
            for st in stage_ids:
                owner.setdefault(st, sid)
        for st, sid in owner.items():
            sd = store.lastStageAttempt(st)
            if str(sd.status()) != "COMPLETE":
                continue
            c = out[sid]
            c["stages"] += 1
            c["shuffle"] += sd.shuffleWriteBytes()
            c["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tasks = store.taskList(st, sd.attemptId(), 1 << 30)
            durs = []
            for k in range(tasks.size()):
                d = tasks.apply(k).duration()
                if d.isDefined():
                    durs.append(d.get())
            if len(durs) >= 2 and statistics.median(durs) > 0:
                c["skew"] = max(c["skew"], max(durs) / statistics.median(durs))
        return out

    # ---------------------------------------------------------- report
    def per_layer(self) -> dict[str, float]:
        """Every per-layer metric: times, bytes, counts and skew are
        medians over operations of per-operation totals; ratios pool
        all operations."""
        spans = [s for s in self.spans if "end" in s]
        selft = self_times(spans)
        counters = self.spark_counters()
        ops: dict[int, dict[str, dict]] = {
            s["id"]: {} for s in spans if s["parent"] is None}
        root_of = {s["id"]: s["name"] for s in spans if s["parent"] is None}
        pooled: dict[str, dict[str, int]] = {}
        for s in spans:
            acc = ops[s["root"]].setdefault(s["name"], {
                "self": 0.0, "shuffle": 0, "spill": 0, "skew": 0.0,
                "jobs": 0, "stages": 0})
            acc["self"] += selft[s["id"]]
            c = counters.get(s["id"], {})
            for k in ("shuffle", "spill", "jobs", "stages"):
                acc[k] += c.get(k, 0)
            acc["skew"] = max(acc["skew"], c.get("skew", 0.0))
            p = pooled.setdefault(s["name"], {})
            for k, v in s["counts"].items():
                fold = max if k.startswith("max_") else (lambda x, y: x + y)
                acc[k] = fold(acc.get(k, 0), v)
                p[k] = fold(p.get(k, 0), v)

        def med(vals) -> float:
            vals = list(vals)
            return float(statistics.median(vals)) if vals else 0.0

        def per_op(name: str, key: str) -> float:
            return med(o[name].get(key, 0) for o in ops.values() if name in o)

        m: dict[str, float] = {}
        for s in ALL_SPANS:
            m[f"{s}_s"] = per_op(s, "self")
            m[f"{s}.shuffle_write_bytes"] = per_op(s, "shuffle")
            m[f"{s}.spill_bytes"] = per_op(s, "spill")
            m[f"{s}.task_s_max_over_p50"] = per_op(s, "skew")
        for metric, (s, num, den) in RATIOS.items():
            p = pooled.get(s, {})
            m[metric] = p.get(num, 0) / p[den] if p.get(den) else 0.0
        for metric, (s, key, _) in TOTALS.items():
            m[metric] = per_op(s, key)
        for root, (jobs, stages) in JOB_COUNTS.items():
            mine = [o for i, o in ops.items() if root_of[i] == root]
            m[jobs] = med(sum(a["jobs"] for a in o.values()) for o in mine)
            m[stages] = med(sum(a["stages"] for a in o.values()) for o in mine)
        return {n: m[n] for n, _ in per_layer_names()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
