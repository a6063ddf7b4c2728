"""Extraction benchmark: one workload, one seed, one JSON result.

Run from the repository root:

    python3 perfbench/run.py --workload mix_extract --seed 1 --seconds 6 --trace 0

Spark runs on local[nproc] with one Spark driver process and one job at a
time (a closed loop). ``--trace 0`` prints the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` makes a separate traced run and prints
the per-layer metrics (``perfbench/layer_map.json`` says what each one
measures). The last line of standard output is the result: {"correct",
"attempted", "failed", "metrics"}. Everything the run writes goes under
.perfbench_work/ in the repository root.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
# the engine and this package are imported from the checkout this file is
# in; outside a checkout the import fails and the run exits non-zero
sys.path.insert(0, ROOT)

from perfbench import probes  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WARMUPS = 4       # untimed jobs between the set-up and the timed jobs
MIN_REPS = 3      # timed jobs per run, at least


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Tally:
    """Attempted and failed operations: jobs, follow-ups, output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def operation(wl, spark, tally: Tally, clock, counter=None):
    """One job into a fresh output. Returns None if the job raised, else
    (wall s, wall s minus the time stolen from the VM meanwhile, CPU s,
    (jobs, stages, group) when a JobCounter is given)."""
    wl.reset()
    tally.add(1, 0)
    c0, s0 = clock(), probes.steal_s()
    try:
        if counter is None:
            t0 = time.perf_counter()
            wl.job(spark)
            dt, counts = time.perf_counter() - t0, None
        else:
            _, dt, *counts = counter.run(wl.job, spark)
    except Exception:
        traceback.print_exc()
        tally.add(0, 1)
        return None
    return dt, dt - (probes.steal_s() - s0), clock() - c0, counts


def follow_up(wl, spark, tally: Tally, counter=None) -> dict:
    """The workload's untimed follow-up (chat_commit: the resume)."""
    extra = wl.follow_up(spark, counter)
    tally.add(1, extra.pop("failed"))
    return extra


def medians(runs: list) -> tuple[float, float, float]:
    """Median wall, steal-corrected wall and CPU seconds of the jobs that
    did not raise."""
    ok = [r for r in runs if r is not None]
    if not ok:
        raise RuntimeError("every timed job failed")
    return tuple(statistics.median(r[k] for r in ok) for k in range(3))


def end_to_end(wl, seed: int, seconds: int, work: str, tally: Tally):
    # set-up: the process's first SparkSession (session.get_spark launches
    # the JVM), seeded input generation and the cold first job
    clock = probes.CpuClock()
    c0, t0 = clock(), time.perf_counter()
    spark = probes.start_session(work)
    wl.prepare(seed)
    operation(wl, spark, tally, clock)
    setup = clock() - c0
    log(f"set-up cpu {setup:.2f} s wall {time.perf_counter() - t0:.2f} s")
    for _ in range(WARMUPS):
        operation(wl, spark, tally, clock)
    runs = []
    t_end = time.perf_counter() + seconds
    while len(runs) < MIN_REPS or time.perf_counter() < t_end:
        runs.append(operation(wl, spark, tally, clock))
    log(f"jobs (wall, steal-corrected wall, cpu) {runs}")
    _wall, fair, cpu = medians(runs)
    follow_up(wl, spark, tally)              # once, on the last output
    log(f"turns_per_s (steal-corrected wall, not gated) {wl.n / fair:.1f}")
    metrics = {
        "turns_per_cpu_s": wl.n / cpu,
        "setup_s": setup,
        "out_bytes_per_in_byte": wl.output_bytes() / wl.input_bytes(),
        "worker_rss_mb": probes.peak_rss_mb()[1],
    }
    tally.add(*wl.check(spark))
    return metrics


def traced(wl, seed: int, work: str, tally: Tally):
    spark = probes.start_session(work, event_log=True)
    wl.prepare(seed)
    clock = probes.CpuClock()
    # the untraced runs' warm-up, so that the JVM has stopped getting
    # faster before the ledger rounds compare their steps with the job
    for _ in range(1 + WARMUPS):
        operation(wl, spark, tally, clock)
    counter = probes.JobCounter(spark)
    m: dict = {}
    runs, groups = [], []

    def traced_job():
        run = operation(wl, spark, tally, clock, counter)
        runs.append(run)
        if run is not None:
            m["spark.jobs"], m["spark.stages"], group = run[3]
            groups.append(group)
            m.update(follow_up(wl, spark, tally, counter))

    # the timed job and the ledger steps share each round
    ledger, total = probes.cumulative_ledger(
        wl.ledger(spark),
        lambda: shutil.rmtree(wl.ledger_out, ignore_errors=True), traced_job)
    m.update(ledger)
    job_s, fair, cpu = medians(runs)
    m["trace.job_s"] = job_s
    m["trace.job_cpu_s"] = cpu
    m["turns_per_s"] = wl.n / fair
    m["ledger.coverage"] = total / job_s
    m.update(wl.job_layers(m["spark.jobs"], job_s, total))
    m["spark.jvm_rss_mb"] = probes.peak_rss_mb()[0]
    tally.add(*wl.check(spark))
    extra, attempted, failed = wl.extra_layers(spark)
    m.update(extra)
    tally.add(attempted, failed)
    log(f"ledger {m}")

    texts = [r["text"] for r in wl.rows[:wl.micro]]
    text_m, html_s, segment_s = probes.text_microbench(texts)
    m.update(text_m)
    m.update(probes.arrow_microbench(wl.arrow_batches(len(texts)), html_s,
                                     segment_s))
    return m, groups


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # names and units come from BENCHMARK.json; layer_map.json adds what
    # each metric measures and the workloads whose runs enter its layer
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "layer_map.json")) as f:
        layer_map = json.load(f)["metrics"]
    names = {d["name"] for kind in ("end_to_end", "per_layer")
             for d in bench[kind]}
    if names != set(layer_map):
        raise RuntimeError("BENCHMARK.json and layer_map.json name "
                           f"different metrics: {names ^ set(layer_map)}")
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the Python workers import the engine from the checkout too, and
    # everything Spark and Python write stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()
    wl = WORKLOADS[args.workload](work)
    tally = Tally()
    try:
        if args.trace:
            m, groups = traced(wl, args.seed, work, tally)
        else:
            m = end_to_end(wl, args.seed, args.seconds, work, tally)
    finally:
        probes.stop_spark()
    props = probes.input_properties([r["text"] for r in wl.rows], wl.micro)
    if args.trace:
        m.update(probes.event_log_task_metrics(
            os.path.join(work, "eventlog"), groups))
        m["error_rate"] = tally.failed / tally.attempted
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    # an end-to-end metric is measured on every workload
    missing = [d["name"] for d in bench[kind] if d["name"] not in m
               and wl.name in layer_map[d["name"]].get("measured_on",
                                                       [wl.name])]
    if missing:
        raise RuntimeError(f"{wl.name} did not measure {missing}")
    # a layer the workload never enters reads 0 (layer_map: measured_on)
    metrics = {d["name"]: {"value": float(m.get(d["name"], 0.0)),
                           "unit": d["unit"]} for d in bench[kind]}
    print(json.dumps({"workload": wl.name, "seed": args.seed,
                      "input": props}))
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
