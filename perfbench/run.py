"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The process makes the workload's inputs
from the seed, runs the jobs the workload depends on in child processes,
starts one Spark session at ``local[nproc]``, then runs the workload's
``spark_submit_job.py`` job pass after pass in that session: one cold pass,
then timed passes for ``--seconds``. It checks the last pass's outputs and
prints the end-to-end metrics (``--trace 0``) or, in a separate traced run,
the per-layer metrics (``--trace 1``). See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS, run_job, stop_spark  # noqa: E402

MIN_TIMED = 2
MIN_TIMED_TRACED = 4  # traced runs alternate passes with and without the event log

END_TO_END = {"setup_s": "s", "job_s": "s", "cold_job_s": "s", "written_mb": "MB",
              "triple_f1": "ratio"}
SPARK_LAYERS = ("fused.vocab_scan", "fused.map_stage", "triples.sink", "catalog.commit",
                "mentions.detect", "linking.link", "candidates", "features.pairs",
                "features.compute", "trainer.label", "trainer.solve")
SPARK_COUNTERS = {"jobs": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
                  "shuffle_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "mentions.doc_us": "us", "fused.doc_us": "us",
    "fused.vocab_scan_s": "s", "fused.vocab_surfaces": "count",
    "fused.link_map_s": "s", "fused.link_map_entries": "count",
    "fused.map_stage_s": "s", "fused.triples": "count",
    "triples.sink_s": "s", "triples.sink_mb": "MB", "triples.sink_files": "count",
    "catalog.commit_s": "s", "catalog.commit_mb": "MB",
    "mentions.detect_s": "s", "mentions.rows": "count",
    "linking.link_s": "s", "linking.linked_rows": "count",
    "candidates.s": "s", "candidates.roots": "count", "candidates.rows": "count",
    "features.pairs_s": "s", "features.pairs": "count",
    "features.compute_s": "s", "features.rows": "count",
    "trainer.label_s": "s", "trainer.positive_share": "ratio",
    "trainer.solve_s": "s", "trainer.weights": "count",
    **{f"spark.{layer}.{c}": u for layer in SPARK_LAYERS for c, u in SPARK_COUNTERS.items()},
    "spark.busy_share": "ratio",
    "jvm.peak_rss_mb": "MB", "python.peak_rss_mb": "MB",
    "unattributed_s": "s", "trace_overhead_s": "s",
}
# span name -> per-layer time metric
LAYER_TIME = {"fused.vocab_scan": "fused.vocab_scan_s", "fused.link_map": "fused.link_map_s",
              "fused.map_stage": "fused.map_stage_s", "triples.sink": "triples.sink_s",
              "catalog.commit": "catalog.commit_s", "mentions.detect": "mentions.detect_s",
              "linking.link": "linking.link_s", "candidates": "candidates.s",
              "features.pairs": "features.pairs_s", "features.compute": "features.compute_s",
              "trainer.label": "trainer.label_s", "trainer.solve": "trainer.solve_s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, traced: bool) -> None:
    """Environment of the Spark session, set before its JVM starts: every
    CPU of this process, the checkout on the workers' path, scratch inside
    the work dir, and in a traced run the event log."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["OBIE_DRIVER_JAVA_OPTS"] = " ".join(filter(None, [
        os.environ.get("OBIE_DRIVER_JAVA_OPTS"), f"-Djava.io.tmpdir={work}/tmp"]))
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if traced:
        submit.append(trace.event_log_args(os.path.join(work, "eventlog")))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


class Passes:
    """Runs the workload's job pass after pass; each pass writes under its
    own directory, and only the newest successful one is kept."""

    def __init__(self, spark, wl, tracer):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.attempted = self.failed = 0
        self.last_ok: str | None = None

    def run(self, label: str) -> float | None:
        out = self.wl.path(f"pass-{self.attempted}")
        os.makedirs(out)
        self.attempted += 1
        span = self.tracer.span(label) if self.tracer else nullcontext()
        try:
            with span:
                t = time.perf_counter()
                run_job(*self.wl.job(out))
                dt = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            # every pass starts from what a fresh job submission sees
            self.spark.catalog.clearCache()
        print(f"perfbench: pass {self.attempted - 1} ({label}) {dt:.3f} s", file=sys.stderr)
        if self.last_ok:
            shutil.rmtree(self.last_ok)
        self.last_ok = out
        return dt


def measure(passes: Passes, seconds: float, switch=None) -> dict:
    """Cold pass, then timed passes for ``seconds``. With an event-log
    ``switch`` the timed passes run without and with the event log in the
    order U L L U, which cancels a linear drift of pass time."""
    cold = passes.run("cold")
    # The pass time falls for about five passes after the cold one (JIT). A
    # full benchmark session (4 + 22 x workloads runs in 3,420 s) leaves no
    # room for warm-up passes once the cold pass runs in a fresh session, so
    # the timed passes follow it and sit at the same point of that curve in
    # every run.
    timed = {False: [], True: []}
    n_min = MIN_TIMED_TRACED if switch else MIN_TIMED
    start = time.perf_counter()
    i = 0
    while i < n_min or time.perf_counter() - start < seconds:
        logged = switch is None or i % 4 in (1, 2)
        if switch:
            switch.set(logged)
        t = passes.run("pass" if logged else "pass.unlogged")
        if t is not None:
            timed[logged].append(t)
        i += 1
    if switch:
        switch.set(True)
    if not timed[True] or cold is None:
        raise RuntimeError(f"{passes.failed} of {passes.attempted} passes failed")
    return {"cold": cold, "timed": timed[True], "unlogged": timed[False]}


def layer_metrics(tracer, spark, wl, last_pass, session_s, times) -> dict:
    """Per-layer metrics of a traced run."""
    m = {"session.start_s": session_s}
    m |= wl.trace_layers(spark, tracer, last_pass)
    for span, name in LAYER_TIME.items():
        m[name] = tracer.seconds(span)
    job_s = statistics.median(times["timed"])
    m["unattributed_s"] = job_s - sum(tracer.seconds(s) for s in wl.job_layers)
    m["trace_overhead_s"] = job_s - statistics.median(times["unlogged"])
    m["jvm.peak_rss_mb"], m["python.peak_rss_mb"] = trace.peak_rss_mb()
    stop_spark(spark)
    counters = trace.spark_layer_counters(
        trace.read_event_log(wl.path("eventlog")))
    empty = {c: 0 for c in SPARK_COUNTERS}
    for layer in SPARK_LAYERS:
        for c, v in counters.get(layer, empty).items():
            m[f"spark.{layer}.{c}"] = v
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["spark.busy_share"] = counters.get("pass", empty)["task_s"] / (sum(times["timed"]) * cores)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "spark_submit_job.py"))
            and os.path.isdir(os.path.join(ROOT, "obiemachinelearningframework_spark"))):
        print(f"perfbench: no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, traced)

    # the dependency jobs run in child processes before this process starts
    # its own JVM, so the session below is fresh at the cold pass
    wl = WORKLOADS[args.workload](work, args.seed)
    wl.setup()

    from obiemachinelearningframework_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START
    tracer = trace.Tracer(spark) if traced else None

    passes = Passes(spark, wl, tracer)
    try:
        times = measure(passes, args.seconds, trace.EventLogSwitch(spark) if traced else None)
        with tracer.span("check") if traced else nullcontext():
            f1 = wl.check(spark, passes.last_ok)
    except Exception:
        # a failed pass or check still reports the passes it counted
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": passes.attempted,
                          "failed": passes.failed, "metrics": {}}), flush=True)
        stop_spark(spark)
        return 1
    if traced:
        values = layer_metrics(tracer, spark, wl, passes.last_ok, session_s, times)
        tracer.write(os.path.join(work, "spans.json"))
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "job_s": statistics.median(times["timed"]),
                  "cold_job_s": times["cold"], "written_mb": wl.written_mb(passes.last_ok),
                  "triple_f1": f1}
        stop_spark(spark)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": True, "attempted": passes.attempted,
                      "failed": passes.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
