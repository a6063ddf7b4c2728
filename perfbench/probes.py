"""Measurement helpers: the Spark session, job/stage counts, process
memory, event-log task metrics and the in-process Python microbench.

Everything here observes the engine from outside, through its public
functions, Spark's status tracker, /proc and Spark's event log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import subprocess
import time
from collections import defaultdict

from texoo_spark.arrow_extract import extract_turns_arrow
from texoo_spark.html import looks_like_html, strip_html
from texoo_spark.session import get_spark
from texoo_spark.textops import (DISCARD, extract_arrays_lean,
                                 sent_pos_detect, tokenize_pos,
                                 tokenize_pos_range)

# the condition under which extract_arrays_lean leaves its fast path
# (newline, tab, NBSP or any other whitespace that is not a plain space)
NONSPACE_WS = re.compile(r"[^\S ]")

TRACE_REPS = 5    # repetitions of each timed step of the traced run


def start_session(work: str, event_log: bool = False):
    """local[nproc] session with the engine's defaults (session.get_spark)
    and bench.py's 8 MB scan splits. The traced session adds the event
    log; nothing else differs between traced and untraced runs."""
    n = len(os.sched_getaffinity(0))
    conf = {"spark.sql.files.maxPartitionBytes": "8388608",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            # no hsperfdata file under /tmp: the run writes only in work
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{n}]",
                      shuffle_partitions=max(2 * n, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class JobCounter:
    """Counts the Spark jobs and stages one call launches, by running the
    call under its own job group and asking the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, fn, *args, **kwargs):
        """Returns (result, seconds, jobs, stages, group)."""
        group = f"perfbench-{self.n}"
        self.n += 1
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = sum(len(info.stageIds) for info in
                     (tracker.getJobInfo(j) for j in jobs) if info)
        return out, dt, len(jobs), stages, group


def cumulative_ledger(steps, reset=None, each_round=None):
    """Median wall time of each cumulative step; a step's self time is its
    median minus the previous step's. Steps run round-robin, TRACE_REPS
    rounds, so JIT warm-up and host load drift spread evenly over all of
    them. ``each_round`` runs last in every round, right after the last
    step, which does the same work, so that warm-up left over the rounds
    touches the two alike. Returns ({name: self time}, total)."""
    times: dict[str, list[float]] = {name: [] for name, _ in steps}
    for _ in range(TRACE_REPS):
        for name, step in steps:
            if reset is not None:
                reset()
            t0 = time.perf_counter()
            step()
            times[name].append(time.perf_counter() - t0)
        if each_round is not None:
            each_round()
    out, prev = {}, 0.0
    for name, _ in steps:
        cum = statistics.median(times[name])
        out[name] = cum - prev
        prev = cum
    return out, prev


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for path in glob.glob("/proc/[0-9]*/stat"):
        fields = _stat(path)[1]
        if fields:
            kids[int(fields[1])].append(int(path.split("/")[2]))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid() -> int:
    from pyspark import SparkContext
    return int(SparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _tree(root: int) -> list[int]:
    kids = _children()
    todo, pids = [root], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, []))
    return pids


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file; ("", []) if gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return "", []
    head, tail = s.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _cpu_ticks(fields: list[str]) -> int:
    """utime + stime + cutime + cstime, in clock ticks."""
    return sum(int(x) for x in fields[11:15]) if fields else 0


class CpuClock:
    """CPU seconds used by this process, the Spark JVM once it runs and
    every process under the JVM, leaving out the JVM's JIT compiler
    threads (the JVM compiling itself, which decays over the first dozen
    jobs). Time the hypervisor steals from the VM is not CPU time, so on a
    shared host this clock is far steadier than wall time."""

    def __init__(self):
        self.jvm: int | None = None
        self.tick = os.sysconf("SC_CLK_TCK")
        # last CPU ticks seen per compiler thread; a thread that exits
        # keeps its share in the process totals, so it stays subtracted
        self.compiler: dict[str, int] = {}

    def __call__(self) -> float:
        from pyspark import SparkContext
        if self.jvm is None and SparkContext._jvm is not None:
            self.jvm = _jvm_pid()
        ticks = 0
        if self.jvm is not None:
            for path in glob.glob(f"/proc/{self.jvm}/task/*/stat"):
                comm, fields = _stat(path)
                if "Compiler" in comm and fields:
                    self.compiler[path] = int(fields[11]) + int(fields[12])
            ticks = sum(_cpu_ticks(_stat(f"/proc/{pid}/stat")[1])
                        for pid in _tree(self.jvm))
        t = os.times()
        return ((ticks - sum(self.compiler.values())) / self.tick
                + t.user + t.system)


def steal_s() -> float:
    """Seconds of wall time the hypervisor has stolen from this VM so far,
    per CPU: the steal column of /proc/stat's cpu line (summed over the
    CPUs) divided by the number of CPUs. Subtracted from a job's wall
    time, it leaves the time the job would have taken on an idle host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM of the Spark JVM, and the sum of VmHWM over every process
    under it (the PySpark daemon and its Python workers), in MB."""
    jvm, *workers = _tree(_jvm_pid())
    return _vm_hwm_kb(jvm) / 1024.0, sum(map(_vm_hwm_kb, workers)) / 1024.0


def stop_spark() -> None:
    """Stop the active Spark context, if any, and wait for the JVM process
    this Python process launched to exit."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def event_log_task_metrics(log_dir: str, groups: list[str]) -> dict:
    """Task metrics of the jobs run under ``groups``, from Spark's JSON
    event log (read after the session stopped): per group, the skew
    (max/median task run time) of its busiest stage, its JVM GC seconds
    and its spilled MB. Returns medians over the groups."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "**", "events_*"),
                          recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in groups:
                        for s in ev["Stage IDs"]:
                            stage_group[s] = g
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                    tasks[ev["Stage ID"]].append(ev["Task Metrics"])
    per_group: dict[str, dict[int, list[dict]]] = defaultdict(dict)
    for stage, g in stage_group.items():
        if tasks.get(stage):
            per_group[g][stage] = tasks[stage]
    skew, gc, spill = [], [], []
    for stages in per_group.values():
        busiest = max(stages.values(),
                      key=lambda ts: sum(t["Executor Run Time"] for t in ts))
        run = [t["Executor Run Time"] for t in busiest]
        skew.append(max(run) / max(statistics.median(run), 1))
        every = [t for ts in stages.values() for t in ts]
        gc.append(sum(t["JVM GC Time"] for t in every) / 1000.0)
        spill.append(sum(t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"]
                         for t in every) / 1e6)
    if not skew:
        raise RuntimeError("event log holds no task of the traced jobs")
    return {"spark.task_skew": statistics.median(skew),
            "spark.gc_s": statistics.median(gc),
            "spark.spill_mb": statistics.median(spill)}


# ---------------------------------------------------------------------------
# inputs and the in-process Python microbench
# ---------------------------------------------------------------------------

def input_properties(texts: list[str], sample: int) -> dict:
    """Size of the input, and the share of turns that take the HTML strip
    and the segmentation fallback (on the first ``sample`` turns)."""
    head = texts[:sample]
    stripped = [strip_html(t)["main_text"] if looks_like_html(t) else t
                for t in head]
    return {"turns": len(texts),
            "text_bytes": sum(len(t.encode()) for t in texts),
            "mean_chars_per_turn": sum(map(len, texts)) / len(texts),
            "html.stripped_frac": sum(map(looks_like_html, head)) / len(head),
            "textops.fallback_frac":
                sum(NONSPACE_WS.search(t) is not None for t in stripped)
                / len(head)}


def _median_s(fn) -> float:
    """Median wall seconds of TRACE_REPS calls of fn()."""
    times = []
    for _ in range(TRACE_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class _MapperShim:
    """Stands in for a DataFrame so extract_turns_arrow hands back the
    mapInArrow function it would ship to the Python workers."""

    def mapInArrow(self, fn, schema):
        return fn


def text_microbench(texts: list[str]):
    """Per-turn costs of the Python text layers on a fixed sample, run in
    this process: HTML detect + strip, sentence detection, tokenization,
    and the whole lean segmentation the extraction lanes call. Returns
    (metrics, html seconds, segmentation seconds) for the whole sample."""
    n = len(texts)
    stripped = [strip_html(t)["main_text"] if looks_like_html(t) else t
                for t in texts]
    sents = [sent_pos_detect(t) for t in stripped]
    lean = [NONSPACE_WS.search(t) is None for t in stripped]

    def html():
        for t in texts:
            if looks_like_html(t):
                strip_html(t)

    def sentence():
        for t in stripped:
            sent_pos_detect(t)

    def tokenize():
        for t, spans, fast in zip(stripped, sents, lean):
            b: list[int] = []
            e: list[int] = []
            for sb, se in spans:
                if fast:
                    tokenize_pos_range(t, sb, se, b, e)
                else:
                    tokenize_pos(t[sb:se])

    def segment():
        for t in stripped:
            extract_arrays_lean(t, DISCARD)

    out = [extract_arrays_lean(t, DISCARD) for t in stripped]
    html_s = _median_s(html)
    segment_s = _median_s(segment)
    us = 1e6 / n
    metrics = {
        "html.strip_us_per_turn": html_s * us,
        "html.stripped_frac": sum(map(looks_like_html, texts)) / n,
        "textops.sentence_us_per_turn": _median_s(sentence) * us,
        "textops.tokenize_us_per_turn": _median_s(tokenize) * us,
        "textops.segment_us_per_turn": segment_s * us,
        "textops.fallback_frac": (n - sum(lean)) / n,
        "textops.tokens_per_turn": sum(len(o[1]) for o in out) / n,
        "textops.sentences_per_turn": sum(len(o[3]) for o in out) / n,
    }
    return metrics, html_s, segment_s


def arrow_microbench(batches: list, html_s: float, segment_s: float) -> dict:
    """The mapInArrow mapper of extract_turns_arrow run in-process on
    RecordBatches: Arrow bytes entering and leaving it per turn, and its
    own build cost (mapper time minus HTML strip and segmentation)."""
    mapper = extract_turns_arrow(_MapperShim())
    n = sum(b.num_rows for b in batches)
    out: list = []

    def run():
        out[:] = list(mapper(iter(batches)))

    total = _median_s(run)
    return {
        "arrow_extract.build_us_per_turn":
            (total - html_s - segment_s) * 1e6 / n,
        "arrow_extract.bytes_in_per_turn":
            sum(b.nbytes for b in batches) / n,
        "arrow_extract.bytes_out_per_turn": sum(b.nbytes for b in out) / n,
    }
