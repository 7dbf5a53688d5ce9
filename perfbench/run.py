"""Benchmark of the linkage engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 1 --trace 0

Run it from the repository root. Workloads (perfbench/workloads.py):

- ``dedup``: zero-label ``AutoLinker.auto_link`` and its best
  clustering, then batch folds with ``AutoLinker.incremental_update``
  and full re-clusterings of the final table with the same model;
- ``curate``: the catalog's ``curate_documents`` query on a corpus with
  planted exact and near duplicates, then the catalog's
  ``incremental_dedup_docs`` fold and full MinHash + connected-components
  re-clusterings of the corpus.

``--seed`` drives every input: the same seed gives the same rows.

One driver process runs Spark on ``local[<all cores>]``, a fresh Spark
application per run. Set-up starts the session, builds the inputs and
runs the workload's job once, untimed, as a warm-up: that first pass
pays JIT, code generation and Python worker start-up, and its time goes
into ``setup_s``. The load is then a closed loop with one operation in
flight: the run repeats the job until ``--seconds`` have passed (at
least once), then times the workload's ``FOLDS`` folds and
``RECLUSTERS`` re-clusterings, then checks the outputs of every pass,
the warm-up's too. Checks and quality scoring run after the clock
stops. Every file the run writes goes under ``.bench_work/`` in the
current directory and is removed at the end.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``job_s`` (median warm job wall time), ``fold_s`` (median fold),
``recluster_s`` (median re-clustering of the final table with the model
or settings already chosen), ``f1`` (quality against the planted
truth), ``setup_s`` (session start, input build and the warm-up)
and ``peak_rss_mb`` (peak resident memory of this process plus its
JVM). With ``--trace 1`` the run times an untraced warm job and a
traced one after the warm-up, traces the folds and re-clusterings too,
and prints every per-layer metric of perfbench/trace.py (0 where the
workload does not enter a span).

Exit status: 0 when every check passed; 1 when a check or an operation
failed (the JSON line then has ``correct`` false, and ``failed`` counts
failed operations); 2 when the program under test is not in the
current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
# end-to-end metrics of the untraced run: name -> unit
END_TO_END = {
    "job_s": "s",
    "fold_s": "s",
    "recluster_s": "s",
    "f1": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
RECLUSTERS = 3  # timed full re-clusterings per run; the median is reported
TRACED_JOB = 2  # the traced run, after the warm-up: an untraced job, a traced one


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["dedup", "curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _peak_rss_mb(pids) -> float:
    """Sum of the processes' peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and put the
    package on the Python workers' path (pandas UDFs such as the
    jaro_winkler comparison import it there)."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _session(work: str, trace: bool):
    from auto_data_linkage_spark.session import get_spark

    from perfbench.trace import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at its maximum size, so the JVM's peak RSS does
        # not depend on when the collector chose to grow it
        "spark.driver.defaultJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "events")))
    cpus = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class _Ops:
    """Attempted and failed operation counts; a failure is printed and
    counted, and the run goes on."""

    def __init__(self):
        self.attempted = self.failed = 0

    def timed(self, fn, *args):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001 - counted in `failed`, never dropped
            self.failed += 1
            traceback.print_exc()
            return None, None
        return time.perf_counter() - t0, out


def _measure(args, spark, work: str, t_session: float) -> tuple[dict, list[str], _Ops]:
    """Set-up, the timed loop and the checks of one run, on a live
    session. Returns (metrics as name -> (value, unit), problems, ops)."""
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, args.seed, work)
    ops = _Ops()
    t0 = time.perf_counter()
    wl.make_inputs()
    t_inputs = time.perf_counter() - t0
    t0 = time.perf_counter()
    _, warm = ops.timed(wl.job)
    t_warm = time.perf_counter() - t0
    results = [] if warm is None else [warm]

    job_times, fold_times, recluster_times = [], [], []
    reclustered = tracer = None
    start = time.perf_counter()

    def more() -> bool:
        # closed loop, one job in flight
        if args.trace:
            return len(job_times) < TRACED_JOB
        return not job_times or time.perf_counter() - start < args.seconds

    while warm is not None and more() and ops.failed < 3:
        if args.trace and len(job_times) == TRACED_JOB - 1 and tracer is None:
            tracer = tr.Tracer(spark)
            tracer.install()
            tracer.enter(tr.ROOT)
            before = tracer.jvm_reading()
        took, out = ops.timed(wl.job)
        if took is not None:
            job_times.append(took)
            results.append(out)
    if job_times:
        for i in range(wl.FOLDS):
            took, _ = ops.timed(wl.fold, i)
            if took is not None:
                fold_times.append(took)
        for _ in range(RECLUSTERS):
            took, reclustered = ops.timed(wl.recluster)
            if took is not None:
                recluster_times.append(took)
    if tracer is not None:
        tracer.exit()
        after = tracer.jvm_reading()
        tracer.uninstall()
    rss = _peak_rss_mb([os.getpid(), _jvm_pid()])
    rss_py = _peak_rss_mb([os.getpid()])

    t_check = time.perf_counter()
    if warm is None:
        problems = ["the warm-up job failed"]
    elif not job_times:
        problems = ["no timed job succeeded"]
    elif ops.failed:
        problems = [f"{ops.failed} of {ops.attempted} operations failed"]
    else:
        problems = wl.check(results, reclustered)
    t_check = time.perf_counter() - t_check
    print(
        f"perfbench {args.workload} seed={args.seed}: session {t_session:.1f}s, "
        f"inputs {t_inputs:.1f}s, warm-up {t_warm:.1f}s, jobs {_rounded(job_times)}, "
        f"folds {_rounded(fold_times)}, reclusters {_rounded(recluster_times)}, "
        f"checks {t_check:.1f}s, peak RSS {rss:.0f} MB ({rss_py:.0f} MB in Python)",
        file=sys.stderr,
    )
    if problems:
        return {}, problems, ops
    if tracer is not None:
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes and closes the event log
        groups, totals = tr.read_event_log(os.path.join(work, "events"), app_id)
        linker = getattr(wl, "linker", None)
        estimate = linker.best_trial.rule.estimated_pairs if linker is not None else None
        untraced, traced = job_times[-2:]
        values = tracer.ledger(groups, totals, estimate, untraced, traced, before, after)
        return {n: (values[n], unit) for n, unit, _ in tr.metric_specs()}, problems, ops
    values = {
        "job_s": statistics.median(job_times),
        "fold_s": statistics.median(fold_times),
        "recluster_s": statistics.median(recluster_times),
        "f1": wl.f1(results),
        "setup_s": t_session + t_inputs + t_warm,
        "peak_rss_mb": rss,
    }
    return {k: (values[k], unit) for k, unit in END_TO_END.items()}, problems, ops


def _rounded(times) -> list:
    return [round(t, 2) for t in times]


def run(args) -> tuple[dict, int]:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        metrics, problems, ops = _measure(args, spark, work, time.perf_counter() - t0)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    for p in problems:
        print(f"CHECK FAILED [{args.workload} seed={args.seed}]: {p}", file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, 0 if not problems else 1


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "auto_data_linkage_spark")):
        print(
            f"perfbench: no auto_data_linkage_spark package under {ROOT}; "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    result, code = run(args)
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
