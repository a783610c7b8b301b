"""Throughput scaling of the extract job from N to 4N cores, on this machine.

    python tools/scaling.py        # writes BENCH/BASELINE.md

4N is the machine's width (``session.local_cpus()``), N a quarter of it. The
inputs are perfbench's ``extract_full`` at DOCS documents, whose set-up
trains the model once. Its job, ``spark_submit_job.py extract
--checkpoint-dir``, is submitted through ``spark-submit --py-files
dist/obie_spark.zip`` at both levels, one input split per file, each run in
its own JVM. The levels are interleaved, each keeps its fastest run, steal is
recorded around every run, and both must write the same number of triples.

Efficiency is thr(4N) / (4 * thr(N)) on the process wall time of each submit
and on the job's own ``wall_s`` from ``_metrics.jsonl``. Each run's Spark
event log splits the job into its SQL actions, so the report names the part
that scales worst, in seconds, beside the machine's ceiling: a no-Spark
worker pool doing the same kind of pandas/regex/numpy work at N and 4N.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import FILES, MODEL_DOCS, ExtractFull  # noqa: E402

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"
REPORT = os.path.join(ROOT, "BENCH", "BASELINE.md")
# documents extracted per run: at 2,000 the fixed costs dominate a pass
DOCS = 20_000
SEED = 7
# runs per level; each level keeps its fastest
RUNS = 3
# the same heap at both levels, well above what one pass over DOCS needs
DRIVER_MEMORY = "4g"
# the north rule's bar for thr(4N) / (4 * thr(N))
GATE = 0.8
# tasks per ceiling trial, per worker at 4N
CEILING_TASKS_PER_WORKER = 4


def read_cpu_times() -> dict:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return dict(zip(names, (int(x) for x in parts[1 : len(names) + 1])))


def steal_pct(before: dict, after: dict) -> float:
    d = {k: after[k] - before[k] for k in before}
    tot = sum(d.values())
    return 100.0 * d["steal"] / tot if tot else 0.0


def levels(cpus: int) -> tuple[int, int]:
    """(N, 4N) for a machine of ``cpus`` cores."""
    if cpus < 4:
        raise SystemExit(f"N->4N needs at least 4 CPUs; this machine has {cpus}")
    return cpus // 4, cpus // 4 * 4


def schedule(lo: int, hi: int, runs: int) -> list[int]:
    """The level of each run in order: the two levels alternate, so a burst
    of steal falls on both rather than on one."""
    return [level for _ in range(runs) for level in (lo, hi)]


def _work(seed: int) -> int:
    """One unit of fused-kernel-shaped work: pandas string ops, regex and
    a little numpy, the per-document mix of ``operators/fused.py``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    total = 0
    for _ in range(30):
        s = pd.Series(
            ["the quick brown fox %d jumps over" % (seed * 1000 + j) for j in range(2000)]
        )
        total += s.str.extractall(r"(\w{4,})").size
        a = rng.random((200, 200))
        total += int((a @ a).sum()) % 7
    return total


def _ready(barrier) -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401

    barrier.wait(timeout=300)


def trial(workers: int, tasks: int) -> dict:
    """One run of ``tasks`` units of ``_work`` on a pool of ``workers``,
    timed from when every worker has imported its libraries."""
    ctx = mp.get_context("spawn")
    ready = ctx.Barrier(workers + 1)
    with ctx.Pool(workers, initializer=_ready, initargs=(ready,)) as p:
        ready.wait(timeout=300)
        b = read_cpu_times()
        t0 = time.perf_counter()
        p.map(_work, range(tasks))
        dt = time.perf_counter() - t0
    return {"level": workers, "wall_s": round(dt, 2), "tasks_per_s": round(tasks / dt, 3),
            "steal_pct": round(steal_pct(b, read_cpu_times()), 2)}


def actions(event_log: str, work: str) -> list[list]:
    """[label, seconds] of each Spark SQL action in one run's event log, in
    issue order; a label is Spark's description, paths cut to file names,
    and the tables under ``work`` the action reads and writes."""
    io = (("reads", r"Location: \w+ \[file:([^\],]+)"),
          ("writes", r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: file:([^,]+)"))
    spans = {}
    with open(event_log) as f:
        for e in map(json.loads, f):
            if e["Event"].endswith("SQLExecutionStart"):
                plan = e["physicalPlanDescription"]
                tables = [f"{verb} {os.path.relpath(m.group(1), work)}"
                          for verb, pattern in io if (m := re.search(pattern, plan))]
                label = re.sub(r"\S*/", "", e["description"])
                if tables:
                    label += f" ({', '.join(tables)})"
                spans[e["executionId"]] = [label, -e["time"]]
            elif e["Event"].endswith("SQLExecutionEnd"):
                spans[e["executionId"]][1] += e["time"]
    return [[label, round(ms / 1000, 2)] for _, (label, ms) in sorted(spans.items())]


def efficiency(lo: int, hi: int, t_lo: float, t_hi: float) -> float:
    """thr(hi) / ((hi / lo) * thr(lo)) for the same work done in t_lo and t_hi."""
    return t_lo * lo / (t_hi * hi)


def summarize(lo: int, hi: int, job_runs: list[dict], ceiling_runs: list[dict]) -> dict:
    """Best run per level, the efficiencies and where the time goes.

    ``job_runs`` hold ``level``, ``triples``, ``process_s`` (wall time of
    the submit), ``wall_s`` (the job's own) and ``actions``;
    ``ceiling_runs`` hold ``level`` and ``tasks_per_s``. Refuses levels
    that wrote different triple counts: they did not run the same job."""
    runs = {lv: [r for r in job_runs if r["level"] == lv] for lv in (lo, hi)}
    counts = {lv: {r["triples"] for r in runs[lv]} for lv in (lo, hi)}
    if len(counts[lo]) != 1 or counts[lo] != counts[hi]:
        raise ValueError(f"triple counts differ between runs: {counts}")
    best = {lv: min(runs[lv], key=lambda r: r["wall_s"]) for lv in (lo, hi)}
    process_s = {lv: min(r["process_s"] for r in runs[lv]) for lv in (lo, hi)}
    wall_s = {lv: best[lv]["wall_s"] for lv in (lo, hi)}
    ceiling = {lv: max(r["tasks_per_s"] for r in ceiling_runs if r["level"] == lv)
               for lv in (lo, hi)}
    # the job's time split into its Spark actions (same order at both
    # levels), the driver's time between them, and the submit's time
    # outside the job; "excess" is what a part costs at hi beyond t_lo*lo/hi
    labels = {lv: [a[0] for a in best[lv]["actions"]] for lv in (lo, hi)}
    if labels[lo] != labels[hi]:
        raise ValueError(f"the levels ran different Spark actions: {labels}")
    parts = [["start-up and stop outside the job",
              *(best[lv]["process_s"] - wall_s[lv] for lv in (lo, hi))]]
    parts += [[f"action {i}: {a[0]}", a[1], b[1]]
              for i, (a, b) in enumerate(zip(best[lo]["actions"], best[hi]["actions"]))]
    parts.append(["driver outside Spark actions",
                  *(wall_s[lv] - sum(s for _, s in best[lv]["actions"]) for lv in (lo, hi))])
    for p in parts:
        p.append(p[2] - p[1] * lo / hi)
    return {
        "lo": lo, "hi": hi, "triples": counts[lo].pop(),
        "process_s": process_s, "wall_s": wall_s, "parts": parts,
        "eff_process": efficiency(lo, hi, process_s[lo], process_s[hi]),
        "eff_job": efficiency(lo, hi, wall_s[lo], wall_s[hi]),
        "ceiling": ceiling,
        "eff_ceiling": ceiling[hi] * lo / (ceiling[lo] * hi),
    }


def report(s: dict, job_runs: list[dict], ceiling_runs: list[dict], cpus: int) -> str:
    lo, hi, n = s["lo"], s["hi"], s["triples"]
    worst = max(s["parts"], key=lambda p: p[3])
    shortfall = sum(p[3] for p in s["parts"])
    met = {True: "met", False: "not met"}
    return "\n".join([
        "# BENCH: N -> 4N scaling of the extract job",
        "",
        f"Written by `python tools/scaling.py` on a {cpus}-CPU machine: `spark_submit_job"
        f".py extract --checkpoint-dir` over perfbench's `extract_full` inputs at {DOCS:,} "
        f"code documents in {FILES} parquet files (one input split each), submitted through "
        f"`spark-submit --py-files dist/obie_spark.zip` with a {DRIVER_MEMORY} driver heap, "
        f"one JVM per run, with a model trained once on {MODEL_DOCS} other documents. The "
        f"levels ran interleaved, {RUNS} runs each, and each keeps its fastest. Process "
        "time is the whole submit; job time is the `wall_s` in the job's `_metrics.jsonl`, "
        "from its session to its commit.",
        "",
        "| level | process (s) | triples/s | job (s) | triples/s | triples |",
        "|---|---|---|---|---|---|",
        *(f"| local[{lv}] | {s['process_s'][lv]:.2f} | {n / s['process_s'][lv]:,.0f} "
          f"| {s['wall_s'][lv]:.2f} | {n / s['wall_s'][lv]:,.0f} | {n:,} |" for lv in (lo, hi)),
        "",
        f"- **Efficiency thr{hi} / ({hi // lo} * thr{lo}) on process time: "
        f"{s['eff_process']:.3f}** (gate >= {GATE}: {met[s['eff_process'] >= GATE]})",
        f"- **Efficiency on the job's own time: {s['eff_job']:.3f}** "
        f"(gate: {met[s['eff_job'] >= GATE]})",
        f"- Machine ceiling, no Spark, {lo} -> {hi} workers: {s['eff_ceiling']:.3f} "
        f"({s['ceiling'][lo]:.3f} and {s['ceiling'][hi]:.3f} tasks/s)",
        "",
        "## Where the time goes",
        "",
        f"Each level's fastest job run, split by its Spark event log. Excess is a "
        f"part's time at local[{hi}] beyond its local[{lo}] time divided by {hi // lo}: "
        "what it costs the efficiency, in seconds.",
        "",
        f"| part | local[{lo}] (s) | local[{hi}] (s) | excess (s) |",
        "|---|---|---|---|",
        *(f"| {p[0]} | {p[1]:.2f} | {p[2]:.2f} | {p[3]:.2f} |" for p in s["parts"]),
        "",
        f"The part that holds the efficiency down most is {worst[0]}: {worst[3]:.2f} s "
        f"of the {shortfall:.2f} s by which local[{hi}] misses perfect scaling.",
        "",
        "## Runs",
        "",
        "| run | level | process (s) | job (s) | triples | steal % |",
        "|---|---|---|---|---|---|",
        *(f"| {i} | local[{r['level']}] | {r['process_s']:.2f} | {r['wall_s']:.2f} "
          f"| {r['triples']:,} | {r['steal_pct']:.2f} |" for i, r in enumerate(job_runs)),
        "",
        "| trial | workers | wall (s) | tasks/s | steal % |",
        "|---|---|---|---|---|",
        *(f"| {i} | {r['level']} | {r['wall_s']:.2f} | {r['tasks_per_s']:.3f} "
          f"| {r['steal_pct']:.2f} |" for i, r in enumerate(ceiling_runs)),
        "",
    ])


def submit(cores: int, *argv: str, cwd: str) -> tuple[float, str]:
    """Run the ``spark_submit_job.py`` in ``cwd`` through spark-submit at
    ``local[cores]``; returns the process wall time and the event log."""
    log = tempfile.mkdtemp(prefix="eventlog_", dir=cwd)
    cmd = [
        SPARK_SUBMIT, "--master", f"local[{cores}]", "--driver-memory", DRIVER_MEMORY,
        "--conf", f"spark.sql.shuffle.partitions={FILES}",
        # splits sized from FILES rather than from the core count: one split
        # per input file, and the same splits of the sink's files, at both levels
        "--conf", f"spark.sql.files.minPartitionNum={FILES}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.eventLog.enabled=true", "--conf", f"spark.eventLog.dir=file://{log}",
        "--conf", "spark.eventLog.compress=false", "--conf", "spark.eventLog.rolling.enabled=false",
        "--py-files", os.path.join(ROOT, "dist", "obie_spark.zip"),
        os.path.join(cwd, "spark_submit_job.py"), *argv,
    ]
    # the zip is the import source, as on a cluster: the job script runs
    # from a copy in ``cwd``, away from the package's source tree
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable, PYTHONPATH="")
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, env=env,
                       timeout=1800)
    dt = time.perf_counter() - t0
    if p.returncode:
        raise SystemExit(f"{argv[0]} at local[{cores}] failed:\n{p.stderr[-3000:]}")
    (name,) = os.listdir(log)
    return dt, os.path.join(log, name)


def _extract_run(cores: int, workload: ExtractFull) -> dict:
    out = workload.path("run")
    before = read_cpu_times()
    process_s, event_log = submit(cores, *workload.job(out), cwd=workload.work)
    steal = steal_pct(before, read_cpu_times())
    with open(os.path.join(out, "ck", "_metrics.jsonl")) as f:
        (rec,) = [r for r in map(json.loads, f) if r.get("stage") == "triples"]
    shutil.rmtree(out)
    return {"level": cores, "process_s": round(process_s, 2), "wall_s": rec["wall_s"],
            "triples": rec["n_triples"], "steal_pct": round(steal, 2),
            "actions": actions(event_log, workload.work)}


def main() -> None:
    from obiemachinelearningframework_spark.session import local_cpus
    from tools.make_pyfiles import build

    cpus = local_cpus()
    lo, hi = levels(cpus)
    build()
    work = tempfile.mkdtemp(prefix="obie_scaling_")
    try:
        shutil.copy(os.path.join(ROOT, "spark_submit_job.py"), work)
        workload = ExtractFull(work, SEED, docs=DOCS)
        workload.setup()
        job_runs = []
        for cores in schedule(lo, hi, RUNS):
            job_runs.append(_extract_run(cores, workload))
            print(json.dumps(job_runs[-1]), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ceiling_runs = []
    for workers in schedule(lo, hi, RUNS):
        ceiling_runs.append(trial(workers, CEILING_TASKS_PER_WORKER * hi))
        print(json.dumps(ceiling_runs[-1]), flush=True)

    s = summarize(lo, hi, job_runs, ceiling_runs)
    with open(REPORT, "w") as f:
        f.write(report(s, job_runs, ceiling_runs, cpus))
    print(f"efficiency local[{lo}] -> local[{hi}]: process {s['eff_process']:.3f}, "
          f"job {s['eff_job']:.3f}, machine ceiling {s['eff_ceiling']:.3f} -> {REPORT}")


if __name__ == "__main__":
    main()
