"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload spans_giant --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, starts ``session.get_spark(cores=<usable CPUs>)`` in this
process, runs a cold job and then warm jobs for ``--seconds`` through
``checkpoint.run_denoise_job`` (each with a fresh run id, output and
manifest), checks every job's output and manifest, and prints as its
last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics of
``perfbench/layers.py``. The line before it is a ``context`` object
(core count, load average, sample counts, workload order, input
properties). Scratch files live under ``.perfbench/`` in the working
directory; per-run inputs and outputs are deleted at exit.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

MIN_WARM_JOBS = 3  # the first warm job still pays JIT warm-up; the median skips it
JOB_TIMEOUT_S = 100.0  # a job still running after this is cancelled
WARM_DEADLINE_S = 110.0  # no warm job starts later than this into the run


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> dict[str, int]:
    """Proportional resident bytes (shared pages split among their
    sharers) of ``pid`` and its descendants, by command name. Plain RSS
    would count pages shared by the forked Python workers, or by a
    short-lived child the JVM forks, once per process."""
    out: dict[str, int] = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration, IndexError, ValueError):
            continue
        out[comm] = out.get(comm, 0) + pss_kb * 1024
    return out


class PeakMemorySampler:
    """Peak resident memory (PSS) of this process tree (driver, JVM,
    Python workers), sampled from /proc while active."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            by_comm = tree_pss_bytes(me)
            self.peak = max(self.peak, sum(by_comm.values()))
            for comm, n in by_comm.items():
                self.peak_by_command[comm] = max(self.peak_by_command.get(comm, 0), n)

    def __enter__(self) -> "PeakMemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Job:
    k: int
    run_id: str
    out_dir: str
    manifest_dir: str
    start_us: int
    seconds: float
    summary: dict | None
    error: str | None
    n_groups: int
    check: object = None  # checks.JobCheck, filled after timing

    @property
    def failed(self) -> bool:
        if self.error or self.summary is None or self.check is None:
            return True
        return (
            self.summary.get("groups_run") != self.n_groups
            or self.summary.get("groups_skipped") != 0
            or not self.check.ok
        )

    def commit_intervals(self) -> list[float]:
        """Seconds from job start to the first manifest commit and
        between consecutive commits: the work a crash would lose."""
        ts = [self.start_us, *(self.check.commits_us if self.check else [])]
        return [(b - a) / 1e6 for a, b in zip(ts, ts[1:])]


class Bench:
    """One workload's session, jobs and checks inside one process."""

    def __init__(self, workload: str, seed: int, work_dir: str, cores: int):
        from perfbench import inputs

        self.inputs_mod = inputs
        self.wl = inputs.WORKLOADS[workload]
        self.seed = seed
        self.work = work_dir
        self.cores = cores
        self.spark = None
        self.jobs: list[Job] = []
        self.bucket_of: dict[str, int] | None = None

    # -- inputs and session -------------------------------------------

    def generate(self) -> float:
        t = time.perf_counter()
        self.inp = self.inputs_mod.build(
            self.wl, self.seed, os.path.join(self.work, "in"), procs=min(self.cores, 4)
        )
        return time.perf_counter() - t

    def start_session(self, extra_conf: dict | None = None) -> float:
        """Session start plus input and lexicon read: everything before
        the first job can run. Returns its seconds."""
        from hocr_de_noising_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=extra_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.source = self.spark.read.parquet(self.inp.source_path)
        self.lexicon_df = self.spark.read.parquet(self.inp.lexicon_path)
        return time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- jobs -----------------------------------------------------------

    def job_input(self):
        if not self.wl.pages:
            return self.source
        from hocr_de_noising_spark.operators.hocr import hocr_words_to_spans, parse_hocr_auto

        return hocr_words_to_spans(parse_hocr_auto(self.source, triage="checkpoint"))

    def run_job(self, group: str | None = None) -> Job:
        from hocr_de_noising_spark.checkpoint import run_denoise_job

        k = len(self.jobs)
        run_id = f"{self.wl.name}-s{self.seed}-p{os.getpid()}-j{k}"
        out_dir = os.path.join(self.work, f"out-{k}")
        manifest_dir = os.path.join(self.work, f"manifest-{k}")
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, run_id)
        watchdog = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        start_us = int(time.time() * 1e6)
        t = time.perf_counter()
        summary = error = None
        try:
            summary = run_denoise_job(
                self.spark,
                self.job_input(),
                self.lexicon_df,
                out_dir,
                manifest_dir,
                params=self.inputs_mod.PARAMS,
                run_id=run_id,
                n_groups=self.inputs_mod.N_GROUPS,
                variant=self.wl.variant,
            )
        except Exception as exc:  # a failed job is a measured outcome
            error = f"{type(exc).__name__}: {exc}"[:500]
        seconds = time.perf_counter() - t
        watchdog.cancel()
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        job = Job(k, run_id, out_dir, manifest_dir, start_us, seconds, summary, error,
                  self.inputs_mod.N_GROUPS)
        self.jobs.append(job)
        return job

    def warm_jobs(self, seconds: float, t_run0: float) -> list[Job]:
        """Jobs for ``seconds`` (at least MIN_WARM_JOBS), none started
        later than WARM_DEADLINE_S after ``t_run0``."""
        jobs: list[Job] = []
        t0 = time.perf_counter()
        while len(jobs) < MIN_WARM_JOBS or time.perf_counter() - t0 < seconds:
            if jobs and time.perf_counter() - t_run0 > WARM_DEADLINE_S:
                break
            jobs.append(self.run_job())
        return jobs

    # -- checks ---------------------------------------------------------

    def check_jobs(self) -> None:
        """Run the correctness gates of every job not yet checked."""
        from hocr_de_noising_spark.checkpoint import bucket_col
        from perfbench.checks import check_job

        if self.bucket_of is None:
            ids = self.spark.createDataFrame([(d,) for d in self.inp.spans_in], "doc_id string")
            self.bucket_of = {
                r.doc_id: r.b
                for r in ids.select("doc_id", bucket_col("doc_id", self.inputs_mod.PARAMS).alias("b")).collect()
            }
        for job in self.jobs:
            if job.check is None:
                job.check = check_job(
                    job.out_dir, job.manifest_dir, job.run_id, self.inp.golden,
                    self.inp.spans_in, self.bucket_of, self.inputs_mod.PARAMS.n_buckets,
                )


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait until it and
    every process it started (Python workers) have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    pids = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    import numpy as np

    return float(np.percentile(values, q)) if values else float("nan")


def end_to_end_metrics(bench: Bench, setup_s: float, cold: Job, warm: list[Job], peak_rss: int) -> dict:
    jobs = [cold, *warm]
    ok = [j for j in warm if not j.failed]
    job_s = statistics.median(j.seconds for j in (ok or warm))
    intervals = [x for j in warm for x in j.commit_intervals()]
    checked = [j.check for j in jobs if j.check is not None]
    golden = sum(c.golden_matched for c in checked) / max(1, sum(c.golden_total for c in checked))
    manifest = sum(c.manifest_matched for c in checked) / max(1, sum(c.manifest_total for c in checked))
    n_failed = sum(j.failed for j in jobs)
    m = {
        "setup_s": (setup_s, "s"),
        "cold_job_s": (cold.seconds, "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (len(bench.inp.golden) / job_s, "docs/s"),
        "group_commit_s_p50": (pct(intervals, 50), "s"),
        "group_commit_s_p90": (pct(intervals, 90), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "golden_match_rate": (golden, "ratio"),
        "manifest_match_rate": (manifest, "ratio"),
        "ok_run_frac": ((len(jobs) - n_failed) / len(jobs), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def record_run(state_dir: str, entry: dict) -> list[str]:
    """Append this run to the checkout's run log; return the workload
    order of every run logged so far, this one last."""
    path = os.path.join(state_dir, "runs.jsonl")
    order = []
    if os.path.exists(path):
        with open(path) as f:
            order = [json.loads(line)["workload"] for line in f if line.strip()]
    with open(path, "a") as f:
        f.write(json.dumps(entry) + "\n")
    return [*order, entry["workload"]]


def run(args) -> dict:
    # imports count towards set-up, as every spark-submit pays them
    import hocr_de_noising_spark.checkpoint  # noqa: F401
    import hocr_de_noising_spark.operators  # noqa: F401
    from perfbench import inputs

    import_s = time.perf_counter() - _T_PROCESS
    if args.workload not in inputs.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(inputs.WORKLOADS)}")

    cores = usable_cpus()
    state_dir = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(state_dir, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every scratch file (Spark local dirs, Python and JVM temp files)
    # stays inside the checkout, under this run's work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    load_start = loadavg()

    bench = Bench(args.workload, args.seed, work, cores)
    phases: dict = {}
    try:
        gen_s = bench.generate()
        # process start until the first job can run: imports, JVM and
        # session start, input and lexicon read (input generation is the
        # benchmark's own cost, reported in context as generate_s)
        setup_s = import_s + bench.start_session()
        if args.trace:
            from perfbench.layers import traced_run

            metrics, extra = traced_run(bench, state_dir, _T_PROCESS)
        else:
            cold = bench.run_job()
            with PeakMemorySampler() as mem:
                warm = bench.warm_jobs(args.seconds, _T_PROCESS)
            t = time.perf_counter()
            bench.check_jobs()
            phases["checks_s"] = time.perf_counter() - t
            metrics = end_to_end_metrics(bench, setup_s, cold, warm, mem.peak)
            extra = {
                "warm_job_samples_s": [j.seconds for j in warm],
                "peak_rss_mb_by_command": {k: v / 2**20 for k, v in mem.peak_by_command.items()},
            }
        jobs = bench.jobs
        failures = [
            {"job": j.k, "error": j.error, "summary": j.summary,
             "check_errors": j.check.errors if j.check else None,
             "golden": [j.check.golden_matched, j.check.golden_total] if j.check else None,
             "manifest": [j.check.manifest_matched, j.check.manifest_total] if j.check else None}
            for j in jobs if j.failed
        ]
    finally:
        t = time.perf_counter()
        bench.stop_session()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        phases["shutdown_s"] = time.perf_counter() - t

    entry = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "generate_s": gen_s,
        "setup_s": setup_s,
        "jobs": len(jobs),
        "failed": len(failures),
        "phases": phases,
        "wall_s": time.perf_counter() - _T_PROCESS,
    }
    entry["workload_order"] = record_run(state_dir, entry)
    context = {**entry, "input": bench.inp.props, "failures": failures, **extra}
    return {
        "context": context,
        "result": {
            "correct": not failures,
            "attempted": len(jobs),
            "failed": len(failures),
            "metrics": metrics,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import hocr_de_noising_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps({"context": out["context"]}), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
