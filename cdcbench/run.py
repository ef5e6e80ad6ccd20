"""CDC ingest benchmark for canal_spark.

    python3 cdcbench/run.py --workload replay_hot --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One driver process starts Spark
on local[<cpus>], builds the workload's changelog from `--seed`, runs
its set-up and warm-up, then repeats the workload for `--seconds`
seconds. Every repetition is checked row by row against the sequential
oracle. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones (tracing off).
With `--trace 1` the repetitions alternate between untraced and traced,
and the metrics are the per-layer ones from the traced repetitions,
plus the tracing overhead (traced minus untraced wall time per epoch).
All data, Spark scratch space and temporary files live under
`.cdcbench_work/` in the checkout and are removed on exit; span logs of
traced runs are kept under `.cdcbench_out/`.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metrics (tracing off): name -> unit
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "epoch_latency_p50_s": "s",
    "epoch_latency_tail_s": "s",
    "scan_latency_p50_s": "s",
    "changes_latency_p50_s": "s",
    "peak_rss_mb": "MB",
}
#: per-layer metrics (traced repetitions): name -> unit
PER_LAYER = {
    "epoch.partition_extents_s": "s/epoch",
    "txn.committed_watermarks_s": "s/epoch",
    "txn.committed_watermarks_calls": "calls/epoch",
    "engine.run_self_s": "s/epoch",
    "engine.spark_jobs_per_epoch": "jobs/epoch",
    "engine.spark_tasks_per_epoch": "tasks/epoch",
    "merge.merge_epoch_s": "s/epoch",
    "merge.append_epoch_s": "s/epoch",
    "lww.keys_per_event": "rows/event",
    "table.commit_s": "s/epoch",
    "table.bytes_written_per_event": "B/event",
    "table.meta_bytes_per_epoch": "B/epoch",
    "table.read_s": "s/read",
    "table.read_changes_s": "s/read",
    "table.fragment_files_max_per_bucket": "files",
    "table.files_live": "files",
    "table.compact_files_s": "s/epoch",
    "table.compact_files_calls": "calls/epoch",
    "trace.overhead_s": "s/epoch",
}
SPARK_DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("replay_hot", "mor_read_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: self-test sizes")
    return p.parse_args(argv)


def check_checkout() -> str | None:
    for rel in ("canal_spark/engine.py", "tests/oracle_replay.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a canal_spark checkout"
    return None


def start_spark(work: str):
    """A SparkSession on local[<cpus>] whose scratch and temporary
    files all stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # knobs that would make results depend on the caller's environment
    for k in ("CANAL_SPARK_MASTER", "CANAL_SPARK_DRIVER_MEM", "CANAL_SPARK_PREFER_SMJ",
              "CANAL_SPARK_SHJ_LOCAL_MAP", "SPARK_GRAFT_CPUS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from canal_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        app="cdcbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": SPARK_DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": (
                f"-Xms{SPARK_DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def jvm_process(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    proc = jvm_process(spark)
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when
    its stdin closes)."""
    proc = jvm_process(spark)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to a kill
                proc.kill()
                proc.wait()


class JobCounter:
    """Exact Spark job and task counts of engine work, from the status
    tracker. Benchmark-side actions run under HARNESS_GROUP and are
    left out; engine jobs carry no job group."""

    def __init__(self, spark, harness_group: str) -> None:
        self.tr = spark.sparkContext.statusTracker()
        self.group = harness_group
        self.jobs = 0
        self.tasks = 0
        self._mark = -1

    def _settle(self, timeout: float = 10.0) -> list[int]:
        """Job ids once the listener has caught up with every job."""
        deadline = time.perf_counter() + timeout
        last = None
        while True:
            ids = sorted(
                set(self.tr.getJobIdsForGroup(None)) | set(self.tr.getJobIdsForGroup(self.group))
            )
            state = (ids[-1:], list(self.tr.getActiveJobsIds()), list(self.tr.getActiveStageIds()))
            if (state == last and not state[1] and not state[2]) or time.perf_counter() > deadline:
                return ids
            last = state
            time.sleep(0.05)

    def start(self) -> None:
        ids = self._settle()
        self._mark = ids[-1] if ids else -1

    def stop(self) -> None:
        self._settle()
        jobs = [j for j in self.tr.getJobIdsForGroup(None) if j > self._mark]
        stages = set()
        for j in jobs:
            info = self.tr.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        self.jobs += len(jobs)
        for s in stages:
            st = self.tr.getStageInfo(s)
            if st is not None:
                self.tasks += st.numCompletedTasks


def run_phases(w, seconds: float, trace: bool):
    """Repeat the workload for `seconds`. With `trace`, repetitions
    alternate untraced / traced. Returns (untraced, traced, tracer,
    job counter)."""
    from tracing import Tracer
    from workloads import HARNESS_GROUP, Phase

    plain, traced = Phase(), Phase()
    tracer = Tracer() if trace else None
    jobs = JobCounter(w.spark, HARNESS_GROUP) if trace else None
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        use_trace = trace and i % 2 == 1
        ph = traced if use_trace else plain
        if use_trace:
            tracer.rep += 1
            w.collect_layout = True
            jobs.start()
            tracer.install()
        t0 = time.perf_counter()
        try:
            w.rep(ph, tracer if use_trace else None)
        finally:
            ph.rep_wall_s.append(time.perf_counter() - t0)
            if use_trace:
                tracer.uninstall()
                jobs.stop()
                w.collect_layout = False
        i += 1
        # start another repetition only if at least half of one fits,
        # so the number of repetitions does not flip on small timing
        # differences; a traced run needs one of each kind
        if time.perf_counter() + ph.rep_wall_s[-1] / 2 > deadline and (not trace or i >= 2):
            break
    return plain, traced, tracer, jobs


def end_to_end(ph, setup_s: float, rss_mb: float) -> tuple[dict, str]:
    from workloads import median, tail

    tail_v, tail_p = tail(ph.epoch_s)
    values = {
        "setup_s": setup_s,
        "events_per_s": ph.events / sum(ph.epoch_s),
        "epoch_latency_p50_s": median(ph.epoch_s),
        "epoch_latency_tail_s": tail_v,
        "scan_latency_p50_s": median(ph.scan_s),
        "changes_latency_p50_s": median(ph.changes_s),
        "peak_rss_mb": rss_mb,
    }
    note = f"epoch_latency_tail_s is p{tail_p:.0f} of {len(ph.epoch_s)} epoch samples"
    return values, note


def per_layer(plain, traced, tracer, jobs) -> dict:
    from tracing import self_times
    from workloads import median

    epochs = traced.epochs
    spans = tracer.spans

    def per_epoch_s(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name) / epochs

    def calls(name: str) -> float:
        return sum(1 for s in spans if s.name == name) / epochs

    def per_read(name: str) -> float:
        return median([s.dur for s in spans if s.name == name])

    lay = traced.layout
    events = sum(x["events"] for x in lay)
    return {
        "epoch.partition_extents_s": per_epoch_s("epoch.partition_extents"),
        "txn.committed_watermarks_s": per_epoch_s("txn.committed_watermarks"),
        "txn.committed_watermarks_calls": calls("txn.committed_watermarks"),
        "engine.run_self_s": sum(self_times(spans, "engine.run")) / epochs,
        "engine.spark_jobs_per_epoch": jobs.jobs / epochs,
        "engine.spark_tasks_per_epoch": jobs.tasks / epochs,
        "merge.merge_epoch_s": per_epoch_s("merge.merge_epoch"),
        "merge.append_epoch_s": per_epoch_s("merge.append_epoch"),
        "lww.keys_per_event": sum(x["frag_rows"] for x in lay) / events,
        "table.commit_s": per_epoch_s("table.commit"),
        "table.bytes_written_per_event": sum(x["data_bytes"] for x in lay) / events,
        "table.meta_bytes_per_epoch": sum(x["meta_bytes"] for x in lay) / epochs,
        "table.read_s": per_read("table.read"),
        "table.read_changes_s": per_read("table.read_changes"),
        "table.fragment_files_max_per_bucket": max(x["frag_max"] for x in lay),
        "table.files_live": median([x["files_live"] for x in lay]),
        "table.compact_files_s": per_epoch_s("table.compact_files"),
        "table.compact_files_calls": calls("table.compact_files"),
        "trace.overhead_s": sum(traced.rep_wall_s) / epochs
        - sum(plain.rep_wall_s) / plain.epochs,
    }


def measure(spark, args, work: str, t_start: float) -> dict:
    from workloads import FULL, TINY, WORKLOADS, Phase

    t_jvm = time.perf_counter() - t_start
    w = WORKLOADS[args.workload](spark, work, args.seed, FULL if args.scale == "full" else TINY)
    t0 = time.perf_counter()
    w.setup()
    t_inputs = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = Phase()
    for _ in range(w.scale.warmup_reps):
        w.rep(warm)
    t_warm = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start
    print(f"setup_s {setup_s:.2f}: interpreter+JVM {t_jvm:.2f}, inputs+oracle+seed "
          f"{t_inputs:.2f}, warm-up {t_warm:.2f} ({w.scale.warmup_reps} repetitions)")

    plain, traced, tracer, jobs = run_phases(w, args.seconds, bool(args.trace))
    phases = (warm, plain, traced)
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    print(f"failed_ratio {failed}/{attempted}; {plain.epochs} untraced and "
          f"{traced.epochs} traced epochs in {len(plain.rep_wall_s)}+"
          f"{len(traced.rep_wall_s)} repetitions")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {}}
    if failed:
        return result
    if args.trace:
        values = per_layer(plain, traced, tracer, jobs)
        units = PER_LAYER
        out = os.path.join(ROOT, ".cdcbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"{len(tracer.spans)} spans written to {os.path.relpath(path, ROOT)}")
    else:
        values, note = end_to_end(plain, setup_s, peak_rss_mb(spark))
        units = END_TO_END
        print(note)
    result["metrics"] = {k: {"value": values[k], "unit": units[k]} for k in units}
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = check_checkout()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spark = start_spark(work)
        try:
            result = measure(spark, args, work, T_START)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
