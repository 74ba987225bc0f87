"""Repository benchmark: one workload per invocation, timed from outside.

Run from the repository root::

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 \
        --seconds 30 --trace 0

The benchmark generates its inputs from ``--seed`` under
``.perfbench_work/`` (deleted on exit), drives the package's public entry
points on ``local[<cores>]`` in a closed loop with one client, checks every
output, and prints the metrics. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` re-runs the
workload with the Spark event log on and reports the per-layer metrics.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))


def tail_percentile(samples: list[float]) -> str:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, or 'none' when there are too few samples."""
    n = len(samples)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(samples, n=100, method="inclusive")
            return f"p{p}={q[p - 1]:.4f}"
    return "none"


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS bytes by pid) of every process, read
    from /proc (psutil is not installed)."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited between listdir and open
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    return children, rss


def descendants(children: dict[int, list[int]], pid: int) -> list[int]:
    out, todo = [], list(children.get(pid, ()))
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(children.get(child, ()))
    return out


class TreeRss:
    """Peak resident set of this process tree, sampled from /proc on a
    thread: the whole tree (the Python driver, the JVM, and the Python
    workers the JVM's worker daemon forks), and the workers alone."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_tree = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        children, rss = process_table()
        me = os.getpid()
        tree = [me] + descendants(children, me)
        # the JVM is this process's child; the worker daemon and its
        # forked workers sit below it
        workers = [pid for jvm in children.get(me, ())
                   for pid in descendants(children, jvm)]
        self.peak_tree = max(self.peak_tree,
                             sum(rss.get(p, 0) for p in tree))
        self.peak_workers = max(self.peak_workers,
                                sum(rss.get(p, 0) for p in workers))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the py4j gateway's JVM down and wait until every process this
    one started has ended: the JVM exits when its stdin closes, and the
    Python worker daemon and its workers exit with it. Stragglers are
    killed once ``timeout`` has passed."""
    import signal

    from pyspark import SparkContext

    started = descendants(process_table()[0], os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        # reap this process's own exited children
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        left = [pid for pid in started if _alive(pid)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


class Bench:
    """One benchmark run: the Spark session, timed calls and their job
    groups, and the tally of attempted and failed iterations."""

    def __init__(self, nproc: int) -> None:
        self.work = WORK
        self.nproc = nproc
        self.master = f"local[{nproc}]"
        self.spark = None
        self.event_log_dir: str | None = None
        self.calls: dict[str, tuple[float, float]] = {}
        self.attempted = 0
        self.failed = 0
        self.jvm_start_s: float | None = None

    def start_session(self, event_log: bool = False) -> float:
        """Create the session and run one trivial job; return the seconds
        taken (the set-up a user of the package pays). A session already
        running is stopped first; the JVM stays up."""
        from gemini_ocr_batch_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData",
        }
        if event_log:
            self.calls = {}
            self.event_log_dir = os.path.join(WORK, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        first = self.jvm_start_s is None
        wall0, t0 = time.time(), time.perf_counter()
        self.spark = get_spark(master=self.master, extra_conf=conf)
        self.spark.range(1).count()
        setup = time.perf_counter() - t0
        if first:  # launcher + JVM boot, up to the SparkContext's creation
            self.jvm_start_s = self.spark.sparkContext.startTime / 1000 - wall0
        _log(f"session up in {setup:.3f} s (event log: {event_log})")
        return setup

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def timed(self, group: str, fn):
        """Run ``fn()`` under job group ``group``; return (result, secs)."""
        self.spark.sparkContext.setJobGroup(group, group)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        finally:
            secs = time.perf_counter() - t0
            self.calls[group] = (wall0, wall0 + secs)
            _log(f"{group} {secs:.3f} s")
            self.spark.sparkContext.setJobGroup("perfbench", "perfbench")
        return out, secs

    def iteration(self, fn):
        """One closed-loop iteration: ``fn()`` returns its result or raises
        (an exception or a failed output check). Returns None on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed iteration is counted
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            raise AssertionError(f"output check failed: {what}")

    def host(self) -> dict:
        """Where the numbers were taken; call while the session is up."""
        import pyspark

        with open("/proc/meminfo", encoding="ascii") as fh:
            mem_kb = next(int(line.split()[1]) for line in fh
                          if line.startswith("MemTotal:"))
        return {
            "nproc": self.nproc,
            "mem_gb": round(mem_kb / 2**20, 1),
            "master": self.master,
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty(
                "java.version"),
            "python": platform.python_version(),
            "machine": platform.machine(),
        }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gemini_ocr_batch_spark")):
        print("perfbench: run from the repository root (no "
              "gemini_ocr_batch_spark package here)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = load_spec()
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
        "SPARK_GRAFT_CPUS": str(nproc),
        # Spark scratch space (shuffle, spills) inside the working
        # directory: the package's default, /dev/shm, is outside it
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        # the package's driver-heap knob: under its 24g default the heap,
        # and with it peak_rss_mb, follows the GC's sizing (3.1-5.8 GB
        # over five pipeline_mixed runs), not the program's needs
        "SPARK_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(WORK, "tmp"),
    })
    b = Bench(nproc)
    steal0, total0 = cpu_ticks()
    try:
        with TreeRss() as rss:
            samples, layers, host = workloads.WORKLOADS[args.workload](
                b, args.seed, args.seconds, bool(args.trace))
        samples["peak_rss_mb"] = [rss.peak_tree / 2**20]
        layers["workers.peak_rss_mb"] = rss.peak_workers / 2**20
        # CPU time the hypervisor gave to other guests during the run: a
        # run with a high share is slowed by its neighbours, not the code
        steal1, total1 = cpu_ticks()
        host["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    finally:
        b.stop_session()
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)

    if args.trace:
        values = {name: layers.get(name, 0.0) for name in units}
        for name in units:
            print(f"# {name:<34} {values[name]:>14.4f} {units[name]}")
    else:
        values = {}
        for name in units:
            s = samples.get(name, [])
            values[name] = statistics.median(s) if s else 0.0
            print(f"# {name:<14} {values[name]:>14.4f} {units[name]:<6} "
                  f"n={len(s)} tail={tail_percentile(s)}")
        print(f"# workers.peak_rss_mb {layers['workers.peak_rss_mb']:.4f} MB "
              "(the Python workers' part of peak_rss_mb)")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "host": host,
                      "failure_ratio": b.failed / max(1, b.attempted)}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }))
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
