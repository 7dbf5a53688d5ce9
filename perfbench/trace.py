"""Per-layer ledger for the traced run.

Each layer's public entry point is wrapped, from the benchmark's own
files, in a span. A span times the call, tags every Spark job the call
triggers with the span's name as the job group, and keeps counts taken
at the boundary. After the run the Spark event log gives each span's
jobs, tasks, executor time, shuffle bytes, task skew and failed tasks;
a job belongs to the innermost span open when it started.

Where a caller binds a function with ``from ... import``, the wrapper
goes on the name the caller looks up (``autolink.cluster_at_threshold``,
``incremental.connected_components``) under the layer's span name.

``predict`` and ``minhash_dedup_pairs`` return lazy frames, so their
work would land in the next eager consumer. Inside their spans the
traced run materializes the output once, consuming every column (an
aggregate over a hash of all columns, which a pruned ``count()`` would
skip). That extra work exists only in the traced run and shows up in
the reported tracing overhead.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from collections import defaultdict

from pyspark.sql import functions as F

# span name -> wrapped (module path, attribute) sites
SPANS = {
    "autolink.auto_link": [("auto_data_linkage_spark.autolink", "AutoLinker.auto_link")],
    "blocking.generate_blocking_rules": [
        ("auto_data_linkage_spark.blocking", "generate_blocking_rules")
    ],
    "tpe.suggest": [
        ("auto_data_linkage_spark.tpe", "TPESampler.suggest"),
        ("auto_data_linkage_spark.tpe", "TPESampler.observe"),
    ],
    "model.estimate_u": [("auto_data_linkage_spark.model", "FellegiSunterModel.estimate_u")],
    "model.estimate_m_em": [
        ("auto_data_linkage_spark.model", "FellegiSunterModel.estimate_m_em")
    ],
    "model.predict": [("auto_data_linkage_spark.model", "FellegiSunterModel.predict")],
    "cluster.connected_components": [
        ("auto_data_linkage_spark.cluster", "connected_components"),
        ("auto_data_linkage_spark.incremental", "connected_components"),
    ],
    "cluster.cluster_at_threshold": [
        ("auto_data_linkage_spark.cluster", "cluster_at_threshold"),
        ("auto_data_linkage_spark.autolink", "cluster_at_threshold"),
    ],
    "metrics.information_gain_power_ratio": [
        ("auto_data_linkage_spark.autolink", "information_gain_power_ratio")
    ],
    "autolink.incremental_update": [
        ("auto_data_linkage_spark.autolink", "AutoLinker.incremental_update")
    ],
    "incremental.incremental_assign": [
        ("auto_data_linkage_spark.incremental", "incremental_assign")
    ],
    "incremental.apply_increment": [("auto_data_linkage_spark.incremental", "apply_increment")],
    "pipeline.curate_documents": [
        ("auto_data_linkage_spark.operators.pipeline", "curate_documents")
    ],
    "dedup.minhash_dedup_pairs": [
        ("auto_data_linkage_spark.operators.dedup", "minhash_dedup_pairs")
    ],
    "dedup.incremental_near_dedup": [
        ("auto_data_linkage_spark.operators.dedup", "incremental_near_dedup")
    ],
    "bench.sink": [("perfbench.workloads", "sink")],  # the job's final collect
}
# per-span metrics: name -> unit (lower is better for all of them)
SPAN_METRICS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "shuffle_mb": "MB",
    "skew": "ratio",
    "failed_tasks": "count",
}
# boundary counts: name -> (unit, better)
COUNTERS = {
    "blocking.rules": ("count", "higher"),  # affordable rules generated
    # candidate pairs of the best model's rule / the rule's estimate
    "blocking.est_ratio": ("ratio", "lower"),
    "model.em_iters": ("count", "lower"),
    "model.pairs": ("count", "lower"),  # scored pairs predict returned
    "model.pair_yield": ("ratio", "higher"),  # of those, share >= 0.8
    "cluster.edges": ("count", "lower"),  # edges into driver union-find
    "incremental.delta_pairs": ("count", "lower"),  # fold match edges
    "dedup.lsh_pairs": ("count", "lower"),  # LSH candidates
    "dedup.verify_yield": ("ratio", "higher"),  # Jaccard-verified share
}
# whole traced region: name -> unit (lower is better)
RUN_METRICS = {
    "codegen.compile_s": "s",
    "codegen.compiles": "count",
    "jvm.gc_s": "s",
    "spill_mb": "MB",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}
ROOT = "bench"  # job group of traced work outside every layer span


def metric_specs() -> list[tuple[str, str, str]]:
    """``(name, unit, better)`` of every per-layer metric, in print order."""
    return (
        [(f"{s}.{m}", u, "lower") for s in SPANS for m, u in SPAN_METRICS.items()]
        + [(k, u, better) for k, (u, better) in COUNTERS.items()]
        + [(k, u, "lower") for k, u in RUN_METRICS.items()]
    )


def _resolve(module: str, attr: str):
    import importlib

    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for part in path:
        owner = getattr(owner, part)
    return owner, name


def _consume(df):
    """(rows, rows with match_probability >= 0.8 or None): one job that
    reads every column of ``df``."""
    aggs = [F.count(F.lit(1)).alias("n"), F.expr(
        "bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in df.columns) + "))"
    ).alias("h")]
    if "match_probability" in df.columns:
        aggs.append(F.sum((F.col("match_probability") >= 0.8).cast("long")).alias("hi"))
    row = df.agg(*aggs).collect()[0]
    return row["n"], (row["hi"] or 0) if "match_probability" in df.columns else None


class Tracer:
    """Spans, counters and the JVM-side readings of one traced region."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.stack: list[list] = []  # [name, start, child seconds]
        self.self_s: dict[str, float] = defaultdict(float)
        self.count: dict[str, float] = defaultdict(float)
        self._saved: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _tag(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        self.sc.setLocalProperty("spark.job.description", name)

    def enter(self, name: str) -> None:
        self.stack.append([name, time.perf_counter(), 0.0])
        self._tag(name)

    def exit(self) -> None:
        name, start, child = self.stack.pop()
        took = time.perf_counter() - start
        self.self_s[name] += took - child
        if self.stack:
            self.stack[-1][2] += took
            self._tag(self.stack[-1][0])
        else:
            self._tag(None)

    def parent(self) -> str | None:
        return self.stack[-2][0] if len(self.stack) > 1 else None

    def span(self, name: str, fn, after=None):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            self.enter(name)
            try:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(out, args, kwargs)
                return out
            finally:
                self.exit()

        return wrapped

    # -------------------------------------------------------- counters
    def _after_rules(self, rules, args, kwargs):
        self.count["blocking.rules"] += len(rules)

    def _after_em(self, iters, args, kwargs):
        self.count["model.em_iters"] += iters

    def _after_predict(self, df, args, kwargs):
        n, hi = _consume(df)
        self.count["model.pairs"] += n
        self.count["_model.pairs_hi"] += hi
        if kwargs.get("threshold", 0.0) == 0.0:
            # an unfiltered predict returns every candidate pair: the
            # actual pair count of the model's blocking rule
            self.count["_best_pairs"] = n
        if self.parent() == "incremental.incremental_assign":
            self.count["incremental.delta_pairs"] += n

    def _after_minhash(self, df, args, kwargs):
        n, _ = _consume(df)
        self.count["_dedup.verified"] += n

    def install(self) -> None:
        after = {
            "blocking.generate_blocking_rules": self._after_rules,
            "model.estimate_m_em": self._after_em,
            "model.predict": self._after_predict,
            "dedup.minhash_dedup_pairs": self._after_minhash,
        }
        for span, sites in SPANS.items():
            for module, attr in sites:
                owner, name = _resolve(module, attr)
                fn = owner.__dict__[name]
                self._saved.append((owner, name, fn))
                setattr(owner, name, self.span(span, fn, after.get(span)))
        # boundary counts inside two layers' private helpers: the edge
        # list the driver-side union-find receives, and the raw LSH
        # candidates before Jaccard verification
        owner, name = _resolve("auto_data_linkage_spark.cluster", "_union_find_components")
        uf = owner.__dict__[name]
        self._saved.append((owner, name, uf))

        def union_find(edge_rows, spark):
            self.count["cluster.edges"] += len(edge_rows)
            return uf(edge_rows, spark)

        setattr(owner, name, union_find)
        owner, name = _resolve("auto_data_linkage_spark.operators.dedup", "_banded_and_candidates")
        banded = owner.__dict__[name]
        self._saved.append((owner, name, banded))

        def banded_and_candidates(*args, **kwargs):
            out = banded(*args, **kwargs)
            self.count["dedup.lsh_pairs"] += out[1].count()
            return out

        setattr(owner, name, banded_and_candidates)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, fn = self._saved.pop()
            setattr(owner, name, fn)

    # ------------------------------------------------------ JVM readings
    def jvm_reading(self) -> dict:
        jvm = self.spark._jvm
        hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        n = hist.getCount()
        sample = list(hist.getSnapshot().getValues())
        # the histogram keeps a bounded sample; scale its sum to the count
        total_ms = sum(sample) * n / len(sample) if sample else 0.0
        gc_ms = sum(
            g.getCollectionTime()
            for g in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        return {"compiles": n, "compile_ms": total_ms, "gc_ms": gc_ms}

    def ledger(self, groups: dict, totals: dict, best_rule_estimate, untraced: float,
               traced: float, before: dict, after: dict) -> dict:
        """Every per-layer metric (name -> value) of the traced region;
        ``groups``/``totals`` come from :func:`read_event_log`."""
        out = {}
        for span in SPANS:
            out[f"{span}.self_s"] = self.self_s.get(span, 0.0)
            for m in SPAN_METRICS:
                if m != "self_s":
                    out[f"{span}.{m}"] = groups.get(span, {}).get(m, 0)
        c = self.count
        out.update({k: float(c.get(k, 0.0)) for k in COUNTERS})
        if c["model.pairs"]:
            out["model.pair_yield"] = c["_model.pairs_hi"] / c["model.pairs"]
        if c["dedup.lsh_pairs"]:
            out["dedup.verify_yield"] = c["_dedup.verified"] / c["dedup.lsh_pairs"]
        if best_rule_estimate:
            out["blocking.est_ratio"] = c["_best_pairs"] / best_rule_estimate
        out.update({
            "codegen.compile_s": (after["compile_ms"] - before["compile_ms"]) / 1000,
            "codegen.compiles": after["compiles"] - before["compiles"],
            "jvm.gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000,
            "spill_mb": totals["spill_mb"],
            "trace.job_s": traced,
            "trace.overhead_s": traced - untraced,
            "trace.unattributed_s": self.self_s.get(ROOT, 0.0),
        })
        return out


# ------------------------------------------------------------ event log
def read_event_log(evdir: str, app_id: str) -> tuple[dict, dict]:
    """Per job group: jobs, tasks, task seconds, shuffle MB, skew, failed
    tasks (stage re-attempts included); plus run totals of spill MB.
    Uses the event-log reader of tools/profile_bench.py."""
    from tools import profile_bench

    profile_bench.EVDIR = evdir
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    task_ms: dict[str, list] = defaultdict(list)
    shuffle: dict[str, int] = defaultdict(int)
    failed: dict[str, int] = defaultdict(int)
    spill = 0
    for line in profile_bench._open_event_lines(app_id):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                jobs[group] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[info["Stage ID"]] = group
                if info.get("Stage Attempt ID", 0) > 0:
                    failed[group] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            tm = ev.get("Task Metrics") or {}
            task_ms[group].append(tm.get("Executor Run Time", 0))
            rd = tm.get("Shuffle Read Metrics") or {}
            shuffle[group] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                failed[group] += 1
    per_group = {}
    for group in set(jobs) | set(task_ms):
        times = task_ms.get(group, [])
        med = statistics.median(times) if times else 0
        per_group[group] = {
            "jobs": jobs.get(group, 0),
            "tasks": len(times),
            "task_s": sum(times) / 1000,
            "shuffle_mb": shuffle.get(group, 0) / 2**20,
            "skew": max(times) / med if med else 0.0,
            "failed_tasks": failed.get(group, 0),
        }
    return per_group, {"spill_mb": spill / 2**20}


def event_log_conf(evdir: str) -> dict:
    """Session settings for a plain, single-file event log in ``evdir``
    (the layout :func:`read_event_log` reads)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
