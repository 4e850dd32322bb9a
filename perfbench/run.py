"""Benchmark runner: one workload, one seed, one closed-loop window.

    python3 perfbench/run.py --workload typed-flagship --seed 1 \\
        --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Run from the repository root.  The run starts Spark on ``local[nproc]``
with ``spark.sql.shuffle.partitions = nproc``, sets the workload up
six times (session start, input generation and write, opening the
inputs), runs one warm-up cycle of the workload's jobs, then runs them
as a closed loop: one driver thread submits the next job only after the
previous one finished and its output was checked.  The loop starts
cycles for ``--seconds`` and runs at least three, but starts none after
``DEADLINE_S`` of run time.
It prints the effective Spark settings, every metric by name, unit and
sample count, and every sample; its last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See ``perfbench/README.md``.

Every file the run writes goes under ``.perfbench_work/`` in the
repository root; a traced run leaves its spans there.  Before it exits,
the run stops the JVM and waits until every process it started has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 6            # set-ups per run; setup_s is their median
DEADLINE_S = 90       # start no cycle after this much run time
SPARK_KEYS = ("spark.master", "spark.driver.memory",
              "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
              "spark.sql.files.maxPartitionBytes")
END_TO_END = ("setup_s", "docs_per_s", "batch_s_p50")
STOP_GRACE_S = 60     # wait this long for started processes, then kill
PR_SET_CHILD_SUBREAPER = 36


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(4, total // 4 // (1 << 30)))}g"


def configure_env(work: str) -> None:
    """Keep Spark's and the JVM's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # C1 only; the caller's own options come last, so they can override
    # it (a C2 control run sets -XX:TieredStopAtLevel=4)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
        + os.environ.get("JAVA_TOOL_OPTIONS", ""))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so a
    process the JVM leaves behind is re-parented here and can be reaped."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def on_signal(signum, _frame):
    """Turn SIGTERM/SIGINT into an exit that runs every ``finally``."""
    raise SystemExit(128 + signum)


def descendants() -> list[tuple[int, str]]:
    """``(pid, state)`` of every process below this one, zombies too: a
    zombie has ended but stays until its parent reaps it."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        kids.setdefault(int(fields[1]), []).append((int(d), fields[0]))
    out, todo = [], [os.getpid()]
    while todo:
        for pid, state in kids.get(todo.pop(), ()):
            todo.append(pid)
            out.append((pid, state))
    return out


def reap() -> None:
    """Collect every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> None:
    """Stop the Spark JVM and every process started under this one, and
    wait until each has ended and been reaped.  The JVM's gateway exits
    when its stdin closes; its orphans are re-parented here (see
    ``adopt_orphans``); a process still alive after ``STOP_GRACE_S`` is
    killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        reap()
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            for pid, state in left:
                if state != "Z":
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def start_spark(cores: int):
    from jsonschema_rs_spark.session import get_spark

    spark = get_spark(app="perfbench", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate() -> float:
    """Fixed pure-Python CPU work: the host's speed in this window."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this Python process."""
    jvm = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1])
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm + own) / 1024


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile ``q`` of the samples."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def commit_clock(log: list):
    """Timestamp every ``checkpoint.write_entry`` call into ``log``;
    returns the function that removes the clock."""
    from perfbench.tracing import rebind

    def make(fn):
        def write_entry(*a, **k):
            out = fn(*a, **k)
            log.append(time.perf_counter())
            return out
        return write_entry
    return rebind("jsonschema_rs_spark.checkpoint", "write_entry", make)


class Loop:
    """Closed-loop job driver: samples, failures and commit intervals."""

    def __init__(self, t_start: float):
        self.t_start = t_start
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.commits: list[float] = []

    def one(self, job, tracer=None) -> None:
        """Run ``job`` once: reset, time, check, record.  A traced job
        ends before its check, so the check is in no span."""
        if job.reset:
            job.reset()
        stamps: list[float] = []
        undo = commit_clock(stamps)
        if tracer is not None:
            tracer.begin_job(self.attempted, job.name)
        t0 = time.perf_counter()
        try:
            try:
                out = job.run()
                dt = time.perf_counter() - t0
            finally:
                if tracer is not None:
                    tracer.end_job()
                undo()
            ok = job.check(out)
        except Exception:
            traceback.print_exc()
            ok = False
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: job {job.name} failed its check",
                  file=sys.stderr)
            return
        self.samples.setdefault(job.name, []).append(dt)
        self.commits += [b - a for a, b in zip(stamps, stamps[1:])]

    def cycle(self, jobs, tracer=None) -> float:
        t0 = time.perf_counter()
        for job in jobs:
            self.one(job, tracer)
        return time.perf_counter() - t0

    def past_deadline(self) -> bool:
        return time.perf_counter() - self.t_start > DEADLINE_S


def window(loop: Loop, jobs, seconds: float, tracer=None):
    """Starts loop cycles for ``seconds``, at least three, none after the
    run's deadline.  With a tracer, untraced and traced cycles alternate,
    so both see the same stretch of the run.  Returns the untraced and
    traced primary-job samples."""
    split: tuple[list, list] = ([], [])
    t0 = time.perf_counter()
    i = 0
    while i < 3 or time.perf_counter() - t0 < seconds:
        traced = tracer is not None and i % 2 == 1
        done = len(loop.samples.get(jobs[0].name, ()))
        if traced:
            tracer.install()
        try:
            loop.cycle(jobs, tracer if traced else None)
        finally:
            if traced:
                tracer.remove()
        if len(loop.samples.get(jobs[0].name, ())) > done:
            split[traced].append(loop.samples[jobs[0].name][-1])
        i += 1
        if loop.past_deadline():
            break
    return split


def run_workload(workload, args, cores: int, base: str, work: str,
                 t_start: float) -> int:
    from perfbench import tracing as T

    wl = workload(os.path.join(work, "data"), args.seed, cores)
    spark = None
    loop = Loop(t_start)
    try:
        calib = [calibrate()]
        setup = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_spark(cores)
            shutil.rmtree(wl.root, ignore_errors=True)
            wl.write_inputs()
            wl.open(spark)
            setup.append(time.perf_counter() - t0)
        jobs = wl.jobs()
        warm = Loop(t_start)
        warmup = warm.cycle(jobs)
        if warm.failed:
            print("perfbench: the warm-up cycle failed", file=sys.stderr)
            return 1
        tracer = None
        if args.trace:
            tracer = T.Tracer(spark, want_plans=any(
                j.name == "dataset" for j in jobs))
        untraced, traced = window(loop, jobs, args.seconds, tracer)
        calib.append(calibrate())
        rss = peak_rss_mb(spark)
        conf = dict(spark.sparkContext.getConf().getAll())
    finally:
        if spark is not None:
            spark.stop()

    print(f"perfbench workload={wl.name} seed={args.seed} nproc={cores} "
          f"seconds={args.seconds} trace={args.trace} docs={wl.docs}")
    print("spark " + " ".join(f"{k}={conf.get(k)}" for k in SPARK_KEYS))
    s = loop.samples
    names = [j.name for j in jobs]
    if not all(s.get(n) for n in names) or (args.trace and not traced):
        print("perfbench: a job has no successful sample", file=sys.stderr)
        return 1
    med = {n: statistics.median(s[n]) for n in names}
    report = {
        "setup_s": (statistics.median(setup), "s", len(setup)),
        "docs_per_s": (wl.docs / med[names[0]], "docs/s", len(s[names[0]])),
        "batch_s_p50": (med[names[1]], "s", len(s[names[1]])),
        "failed_ratio": (loop.failed / loop.attempted, "ratio",
                         loop.attempted),
        "warmup_s": (warmup, "s", 1),
        "peak_rss_mb": (rss, "MB", 1),
        "host.calib_s": (statistics.median(calib), "s", len(calib)),
    }
    if loop.commits:
        c = loop.commits
        report["part_commit_s_p50"] = (quantile(c, 0.5), "s", len(c))
        report["part_commit_s_p80"] = (quantile(c, 0.8), "s", len(c))
    for name, (v, unit, n) in report.items():
        print(f"metric {name} {v:.6g} {unit} n={n}")
    print("samples setup " + " ".join(f"{x:.3f}" for x in setup))
    for name, xs in s.items():
        print(f"samples {name} " + " ".join(f"{x:.3f}" for x in xs))

    correct = loop.failed == 0
    if args.trace:
        layer = T.per_layer_metrics(tracer, tracer.jobs, len(traced), cores, {
            "calib_s": statistics.median(calib),
            "overhead_ratio": (statistics.median(traced)
                               / statistics.median(untraced)),
            "bytes_written": wl.bytes_written(),
            "unfinished_bytes": wl.unfinished_bytes,
        })
        for name, v in layer.items():
            print(f"layer {name} {v:.6g} {T.PER_LAYER_UNITS[name]} "
                  f"n={len(traced)}")
        if layer["trace.coverage"] < 0.9:
            print("perfbench: layer self times cover less than 90% of the "
                  "job wall time", file=sys.stderr)
            correct = False
        with open(os.path.join(base, f"trace-{wl.name}-{args.seed}.json"),
                  "w") as f:
            json.dump([vars(sp) for sp in tracer.spans], f)
        metrics = {k: {"value": v, "unit": T.PER_LAYER_UNITS[k]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": report[k][0], "unit": report[k][1]}
                   for k in END_TO_END}
    print(json.dumps({"correct": correct,
                      "attempted": loop.attempted, "failed": loop.failed,
                      "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", default="typed-flagship")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_start = time.perf_counter()
    adopt_orphans()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import jsonschema_rs_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    if args.workload == "all":
        rc = 0
        try:
            for name in WORKLOADS:
                child = subprocess.Popen(
                    [sys.executable, os.path.abspath(__file__), "--workload",
                     name, "--seed", str(args.seed), "--seconds",
                     str(args.seconds), "--trace", str(args.trace)],
                    cwd=ROOT)
                try:
                    rc |= child.wait()
                finally:
                    # on the way out, let the child stop its own JVM and
                    # remove its files
                    if child.poll() is None:
                        child.terminate()
                        child.wait()
        finally:
            stop_processes()
        return rc
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have: {', '.join(WORKLOADS)}, all)", file=sys.stderr)
        return 2

    cores = host_cores()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    configure_env(work)
    try:
        return run_workload(WORKLOADS[args.workload], args, cores, base,
                            work, t_start)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
