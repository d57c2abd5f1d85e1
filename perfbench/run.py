"""Benchmark entry point.

    python3 perfbench/run.py --workload elt_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, closed loop,
``local[$(nproc)]``. The run sets up a Spark session, generates the
workload's inputs from ``--seed``, runs the workload's ``warm_ops``
untimed warm-up operations on inputs a tenth the size, then runs
operations until they have taken ``--seconds`` seconds in total (at
least one), checking every operation's output outside the timed region.

Set-up and operation times are reported as they would read on a host of
the benchmark's own: on a virtual machine that shares its host, the
hypervisor hands a varying share of the CPU time this machine asks for
to other tenants (the steal column of /proc/stat), and every interval
stretches with it. Each interval's wall time is multiplied by one minus
the share stolen during it, slice by slice (see ``UndisturbedClock``).
The wall time and the stolen share of the set-up and of every operation
are printed and kept in the artifact.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns the
Spark event log on, alternates traced operations (each layer under its
own span and job group) with untraced ones, and reports the per-layer
metrics, including the tracing overhead.

Every metric is printed with its unit; the last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``. The
full record (spans, per-group counters, operation times, check results)
goes to ``.perfbench/artifacts/``, keyed by source revision, cpus, seed,
workload and trace flag, and is never overwritten.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
#: local[n] with n = the cores this process may run on (what nproc prints)
CPUS = len(os.sched_getaffinity(0))
PACKAGE = "sfcrimedatapipeline_spark"
#: driver JVM heap, initial = maximum (see start_session)
DRIVER_MEMORY = "2g"
#: input scale of the untimed warm-up operations: they pay the fresh JVM's
#: class loading, code generation and most JIT compilation on the same
#: code paths at a tenth of the work
WARM_SCALE = 0.1

END_TO_END = {
    "setup_s": "s",
    "op_wall_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "ops_ok_ratio": "ratio",
}

#: Every per-layer metric: (name, unit, better, the end-to-end metric it
#: should move). Every traced run reports all of them, zero for a layer
#: the workload does not run.
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s"),
    ("session.worker_warm_s", "s", "lower", "setup_s"),
    ("sources.csv.wall_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("sources.csv.cpu_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("sources.csv.input_bytes", "bytes", "lower", "elt_refresh: rows_per_s"),
    ("operators.keys.wall_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("operators.keys.jobs", "count", "lower", "elt_refresh: rows_per_s"),
    ("operators.keys.shuffle_write_bytes", "bytes", "lower", "elt_refresh: rows_per_s"),
    ("plans.dims.wall_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.dims.shuffle_write_bytes", "bytes", "lower", "elt_refresh: rows_per_s"),
    ("plans.dims.rows_out", "rows", "higher", "elt_refresh: rows_per_s"),
    ("plans.fact.build_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.fact.wall_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.fact.shuffle_read_bytes", "bytes", "lower", "elt_refresh: rows_per_s"),
    ("plans.fact.spill_bytes", "bytes", "lower", "elt_refresh: rows_per_s"),
    ("plans.fact.null_fk_rows", "rows", "lower", "elt_refresh: rows_per_s"),
    ("plans.fact.serve_wall_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.fact.serve_keep_ratio", "ratio", "higher", "elt_refresh: rows_per_s"),
    ("plans.build_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.exec_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.result_transfer_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.sched_leftover_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("plans.jobs", "count", "lower", "elt_refresh: rows_per_s"),
    ("sources.tables.write_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("sources.tables.bytes_written", "bytes", "lower", "elt_refresh: rows_per_s"),
    ("sources.tables.files_written", "count", "lower", "elt_refresh: rows_per_s"),
    ("sources.tables.write_ratio", "ratio", "lower", "elt_refresh: rows_per_s"),
    ("sources.tables.scan_bytes", "bytes", "lower", "corpus_curation: rows_per_s"),
    ("sources.serve.export_s", "s", "lower", "elt_refresh: rows_per_s"),
    ("functions.caching.peak_storage_bytes", "bytes", "lower", "both: peak_rss_mb, rows_per_s"),
    ("functions.caching.cached_rdds", "count", "lower", "both: peak_rss_mb, rows_per_s"),
    ("operators.dedup.minhash_wall_s", "s", "lower", "corpus_curation: rows_per_s"),
    ("operators.dedup.candidate_pairs", "count", "lower", "corpus_curation: rows_per_s"),
    ("operators.dedup.verified_pairs", "count", "higher", "corpus_curation: rows_per_s"),
    ("operators.dedup.lsh_precision", "ratio", "higher", "corpus_curation: rows_per_s"),
    ("operators.dedup.emb_lsh_wall_s", "s", "lower", "corpus_curation: rows_per_s"),
    ("operators.corpus.cc_two_phase_wall_s", "s", "lower", "corpus_curation: rows_per_s"),
    ("operators.corpus.cc_two_phase_jobs", "count", "lower", "corpus_curation: rows_per_s"),
    ("operators.corpus.cc_label_prop_wall_s", "s", "lower", "corpus_curation: rows_per_s"),
    ("operators.corpus.cc_label_prop_jobs", "count", "lower", "corpus_curation: rows_per_s"),
    ("operators.corpus.curate_wall_s", "s", "lower", "corpus_curation: rows_per_s"),
    ("operators.graph.pagerank_wall_s", "s", "lower", "corpus_curation: rows_per_s"),
    ("operators.graph.pagerank_jobs", "count", "lower", "corpus_curation: rows_per_s"),
    ("python.bytes_sent", "bytes", "lower", "corpus_curation: rows_per_s"),
    ("python.bytes_received", "bytes", "lower", "corpus_curation: rows_per_s"),
    ("python.rows", "rows", "lower", "corpus_curation: rows_per_s"),
    ("spark.jobs", "count", "lower", "both: rows_per_s"),
    ("spark.tasks", "count", "lower", "both: rows_per_s"),
    ("spark.cpu_s", "s", "lower", "both: rows_per_s"),
    ("spark.gc_s", "s", "lower", "both: rows_per_s"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "both: rows_per_s"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "both: rows_per_s"),
    ("spark.spill_bytes", "bytes", "lower", "both: rows_per_s"),
    ("spark.sched_delay_s", "s", "lower", "both: rows_per_s"),
    ("spark.failed_tasks", "count", "lower", "both: ops_ok_ratio"),
    ("trace.op_wall_s", "s", "lower", "none (the traced operation itself)"),
    ("trace.overhead_s", "s", "lower", "none (cost of tracing)"),
]


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and the Python processes among its
    descendants (the PySpark daemon and workers). Other children, such as
    a just-forked ``chmod`` that still shares the JVM's pages, are left
    out. RSS is sampled every 0.2 s; the process tree, which costs a walk
    over /proc, is re-read every 2 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._pids = [pid]
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        tree, todo = [self.pid], list(children.get(self.pid, []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().startswith("python"):
                        tree.append(pid)
            except OSError:
                continue
        return tree

    def _rss(self) -> int:
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self):
        n = 0
        while not self._stop_event.is_set():
            if n % 10 == 0:
                self._pids = self._tree()
            self.peak = max(self.peak, self._rss())
            n += 1
            self._stop_event.wait(0.2)

    def stop(self) -> int:
        self._stop_event.set()
        self.join(timeout=5)
        self._pids = self._tree()
        self.peak = max(self.peak, self._rss())
        return self.peak


class StoragePoller(threading.Thread):
    """Peak bytes held by cached RDD blocks, and peak number of cached
    RDDs, while it runs: the JVM's storage status, polled every 0.1 s."""

    def __init__(self, sc):
        super().__init__(daemon=True)
        self.jsc = sc._jsc.sc()
        self.peak_bytes = 0
        self.peak_rdds = 0
        self._stop_event = threading.Event()

    def _sample(self) -> None:
        infos = self.jsc.getRDDStorageInfo()
        self.peak_bytes = max(self.peak_bytes, sum(i.memSize() + i.diskSize() for i in infos))
        self.peak_rdds = max(self.peak_rdds, len(infos))

    def run(self):
        while not self._stop_event.is_set():
            self._sample()
            self._stop_event.wait(0.1)

    def stop(self) -> tuple[int, int]:
        self._stop_event.set()
        self.join(timeout=30)
        return self.peak_bytes, self.peak_rdds


def _revision() -> str:
    """Git sha of the checkout, or a digest of the package sources when
    the checkout is not a git repository."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        proc = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
        )
        if proc.returncode == 0:
            return proc.stdout.strip()[:12]
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return "src-" + h.hexdigest()[:12]


def cpu_times() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine so far, summed over its
    CPUs, from /proc/stat. Stolen time is time a CPU here was ready to run
    while the hypervisor ran another tenant; (0, 0) where the kernel does
    not report it."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:9]]
        user, nice, system, _idle, _iowait, irq, softirq, steal = ticks
    except (OSError, ValueError):
        return 0.0, 0.0
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def stolen_share(before, after) -> float:
    """Share of the CPU time this machine asked for between two
    ``cpu_times()`` readings that the host gave to other tenants."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


class UndisturbedClock(threading.Thread):
    """A clock that runs at the speed this machine's work ran. When a
    share s of the CPU time this machine asked for goes to other tenants,
    its work runs at 1 - s of full speed, so each slice of wall time
    counts 1 - s of its length: the clock reads the time the work would
    have taken on a host of its own. The share is taken per slice, every
    0.2 s and at every read, since it changes within seconds."""

    PERIOD = 0.2

    def __init__(self, start: float):
        """``start``: the ``time.perf_counter()`` the clock reads 0 at"""
        super().__init__(daemon=True)
        self._lock = threading.Lock()
        self._stop_event = threading.Event()
        self.start_wall, self.start_cpu = start, cpu_times()
        self._t, self._cpu = self.start_wall, self.start_cpu
        self._value = 0.0

    def read(self) -> float:
        with self._lock:
            t, cpu = time.perf_counter(), cpu_times()
            self._value += (t - self._t) * (1.0 - stolen_share(self._cpu, cpu))
            self._t, self._cpu = t, cpu
            return self._value

    def run(self):
        while not self._stop_event.wait(self.PERIOD):
            self.read()

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)


class Interval:
    """Wall time, undisturbed time and stolen share of one interval, from
    now or from when ``clock`` read 0."""

    def __init__(self, clock: UndisturbedClock, from_clock_start: bool = False):
        self.clock = clock
        if from_clock_start:
            self._wall, self._clock, self._cpu = clock.start_wall, 0.0, clock.start_cpu
        else:
            self._wall, self._clock, self._cpu = time.perf_counter(), clock.read(), cpu_times()

    def stop(self) -> dict:
        return {
            "wall_s": time.perf_counter() - self._wall,
            "undisturbed_s": self.clock.read() - self._clock,
            "steal_share": stolen_share(self._cpu, cpu_times()),
        }


def _warm_batches(batches):
    yield from batches


def start_session(work: str, log_dir: str | None):
    """The program's own session factory, plus benchmark settings that
    keep every file inside the checkout and stdout free of progress bars."""
    from sfcrimedatapipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM spark-submit starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size: with the program's growable 8g heap, peak RSS
        # follows when G1 decides to expand it. Nothing is pre-touched, so
        # RSS still follows how much of the heap the program reaches
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    if log_dir is not None:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _artifact_path(meta: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench", "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{meta['revision']}_c{meta['cpus']}_s{meta['seed']}_{meta['workload']}_t{meta['trace']}"
    n = 0
    while True:
        path = os.path.join(out_dir, f"{stem}{'' if n == 0 else f'_{n}'}.json")
        try:
            with open(path, "x"):
                return path
        except FileExistsError:
            n += 1


def attempt(fn, check, cleanup, before_check=lambda: None):
    """Run one operation and check its output: (wall seconds, problems).

    An exception or a failed check is returned as a problem, so one bad
    operation is counted as failed instead of ending the run. The check
    and ``cleanup`` run outside the timed region.
    """
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:
        wall = time.perf_counter() - t0
        cleanup()
        return wall, ["raised: " + traceback.format_exc(limit=3)[-800:]]
    wall = time.perf_counter() - t0
    before_check()
    try:
        problems = check(out)
    except Exception:
        problems = ["check raised: " + traceback.format_exc(limit=3)[-800:]]
    cleanup()
    return wall, problems


def end_to_end(setup_s, walls, problems_by_op, items, peak_rss_bytes) -> dict:
    """End-to-end metrics of one run, plus ``failed`` and
    ``ops_failed_ratio``; an operation with any problem counts as failed.
    Time and throughput are taken from the median untraced operation."""
    attempted = len(problems_by_op)
    failed = sum(1 for p in problems_by_op if p)
    op_wall_s = statistics.median(walls["untraced"] or walls["traced"])
    return {
        "setup_s": setup_s,
        "op_wall_s": op_wall_s,
        "rows_per_s": items / op_wall_s,
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "ops_ok_ratio": (attempted - failed) / attempted,
        "ops_failed_ratio": failed / attempted,
        "failed": failed,
    }


def layer_metrics(tracer, counters, job_spans, layer_sums, n_traced, session, walls):
    """Every per-layer metric, per traced operation."""
    from perfbench import tracing as trace

    n = max(1, n_traced)

    def g(prefix, key):
        return trace.sum_groups(counters, prefix)[key] / n

    def w(prefix):
        return tracer.wall(prefix) / n

    total = trace.traced_total(counters)
    m = {row[0]: 0.0 for row in PER_LAYER}
    m.update({k: v / n for k, v in layer_sums.items()})
    m["session.start_s"] = session["start_s"]
    m["session.worker_warm_s"] = session["worker_warm_s"]
    m["sources.csv.wall_s"] = w("sources.csv")
    m["sources.csv.cpu_s"] = g("sources.csv", "cpu_s")
    m["sources.csv.input_bytes"] = g("sources.csv", "csv_scan_bytes")
    m["operators.keys.wall_s"] = w("operators.keys")
    m["operators.keys.jobs"] = g("operators.keys", "jobs")
    m["operators.keys.shuffle_write_bytes"] = g("operators.keys", "shuffle_write_bytes")
    m["plans.dims.wall_s"] = w("plans.dims")
    m["plans.dims.shuffle_write_bytes"] = g("plans.dims", "shuffle_write_bytes")
    m["plans.fact.wall_s"] = w("plans.fact")
    m["plans.fact.shuffle_read_bytes"] = g("plans.fact", "shuffle_read_bytes")
    m["plans.fact.spill_bytes"] = g("plans.fact", "spill_bytes")
    m["plans.fact.serve_wall_s"] = w("plans.serve_query")
    m["plans.build_s"] = w("plans.build")
    m["plans.exec_s"] = w("plans.exec")
    m["plans.result_transfer_s"] = w("plans.collect") - w("plans.exec")
    busy = trace.union_length(job_spans.get("plans.collect", [])) / n
    m["plans.sched_leftover_s"] = w("plans.collect") - busy if busy else 0.0
    m["plans.jobs"] = g("plans.exec", "jobs")
    m["sources.tables.write_s"] = w("sources.tables.write")
    m["sources.tables.scan_bytes"] = total["scan_bytes"] / n
    m["sources.serve.export_s"] = w("sources.serve")
    m["operators.dedup.minhash_wall_s"] = w("operators.dedup.minhash")
    m["operators.dedup.emb_lsh_wall_s"] = w("operators.dedup.emb_lsh")
    for algo in ("two_phase", "label_prop"):
        m[f"operators.corpus.cc_{algo}_wall_s"] = w(f"operators.corpus.cc_{algo}")
        m[f"operators.corpus.cc_{algo}_jobs"] = g(f"operators.corpus.cc_{algo}", "jobs")
    m["operators.corpus.curate_wall_s"] = w("operators.corpus.curate")
    m["operators.graph.pagerank_wall_s"] = w("operators.graph.pagerank")
    m["operators.graph.pagerank_jobs"] = g("operators.graph.pagerank", "jobs")
    m["python.bytes_sent"] = total["python_bytes_sent"] / n
    m["python.bytes_received"] = total["python_bytes_received"] / n
    m["python.rows"] = total["python_rows"] / n
    for key in ("jobs", "tasks", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "sched_delay_s", "failed_tasks"):
        m[f"spark.{key}"] = total[key] / n
    if walls["traced"]:
        m["trace.op_wall_s"] = statistics.median(walls["traced"])
    if walls["traced"] and walls["untraced"]:
        m["trace.overhead_s"] = m["trace.op_wall_s"] - statistics.median(walls["untraced"])
    return m


def main(argv=None) -> int:
    # set-up is timed from the start of the process
    clock = UndisturbedClock(start=T_START)
    clock.start()
    try:
        return _main(argv, clock)
    finally:
        clock.stop()


def _main(argv, clock: UndisturbedClock) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the package too: they inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    wl = WORKLOADS[args.workload](os.path.join(work, "timed"), args.seed)
    warm = WORKLOADS[args.workload](os.path.join(work, "warm"), args.seed, scale=WARM_SCALE)
    meta = {
        "revision": _revision(),
        "cpus": CPUS,
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "driver_memory": DRIVER_MEMORY,
        **wl.shape(),
    }
    try:
        res = measure(args, wl, warm, work, log_dir, clock)
        return report(args, meta, wl, res, log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, wl, warm, work: str, log_dir: str | None, clock: UndisturbedClock) -> dict:
    """Set up, generate inputs, warm up, then run operations for
    ``args.seconds``; the JVM has exited when this returns."""
    from perfbench.tracing import Tracer

    res: dict = {"session": {"worker_warm_s": 0.0}}
    spark = None
    sampler = None
    try:
        t = time.perf_counter()
        spark = start_session(work, log_dir)
        res["session"]["start_s"] = time.perf_counter() - t
        sc = spark.sparkContext
        if wl.uses_python:
            t = time.perf_counter()
            sc.setJobGroup("bench.warmup", "bench")
            spark.range(4 * CPUS, numPartitions=CPUS).mapInPandas(_warm_batches, "id long").count()
            res["session"]["worker_warm_s"] = time.perf_counter() - t
        res["setup"] = Interval(clock, from_clock_start=True).stop()

        t = time.perf_counter()
        wl.prepare()
        warm.prepare()
        res["inputs_s"] = time.perf_counter() - t

        def op(fn, group, kind, w=wl):
            """Run and check one operation; its problems, and its wall
            time into ``res["ops"][kind]``"""
            sc.setJobGroup(group, "bench")
            interval = {}

            def timed():
                span = Interval(clock)
                try:
                    return fn()
                finally:
                    interval.update(span.stop())

            _wall, found = attempt(
                timed, w.check, spark.catalog.clearCache, lambda: sc.setJobGroup("bench.check", "bench")
            )
            res["ops"][kind].append(interval)
            return found

        res["ops"] = {"warmup": [], "traced": [], "untraced": []}
        res["warm_problems"] = []
        for _ in range(wl.warm_ops):
            res["warm_problems"] += op(lambda: warm.run(spark), "bench.warmup", "warmup", warm)

        tracer = res["tracer"] = Tracer(sc)
        layer_sums = res["layer_sums"] = {}
        ops = res["ops"]
        problems = res["problems"] = []
        sampler = RssSampler(sc._gateway.proc.pid)
        sampler.start()
        while True:
            # in a traced run, traced and untraced operations alternate
            if log_dir is not None and len(ops["traced"]) <= len(ops["untraced"]):
                layer: dict[str, float] = {}
                poller = StoragePoller(sc)
                poller.start()
                found = op(lambda: wl.run_traced(spark, tracer, layer), "bench.traced", "traced")
                peak_bytes, peak_rdds = poller.stop()
                layer["functions.caching.peak_storage_bytes"] = float(peak_bytes)
                layer["functions.caching.cached_rdds"] = float(peak_rdds)
                for k, v in layer.items():
                    layer_sums[k] = layer_sums.get(k, 0.0) + v
            else:
                found = op(lambda: wl.run(spark), "bench.untraced", "untraced")
            problems.append(found)
            measured = sum(o["wall_s"] for o in ops["traced"] + ops["untraced"])
            # a traced run needs one operation of each kind
            if measured >= args.seconds and (log_dir is None or ops["untraced"]):
                break
        res["peak_rss"] = sampler.stop()
        sampler = None
        res["write_ratio"] = wl.write_ratio() if hasattr(wl, "write_ratio") else 0.0
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            stop_session(spark)
    return res


def report(args, meta: dict, wl, res: dict, log_dir: str | None) -> int:
    """Write the artifact and print every metric; the last line is the
    one-line JSON result."""
    from perfbench import tracing

    problems = res["problems"]
    walls = {kind: [o["undisturbed_s"] for o in res["ops"][kind]] for kind in ("traced", "untraced")}
    e2e = end_to_end(res["setup"]["undisturbed_s"], walls, problems, wl.items, res["peak_rss"])
    attempted, failed = len(problems), e2e.pop("failed")
    correct = failed == 0 and not res["warm_problems"]
    record = {
        "meta": meta,
        "setup": {**res["setup"], **res["session"], "inputs_s": res["inputs_s"]},
        "warmup": {"ops": res["ops"]["warmup"], "problems": res["warm_problems"]},
        "ops": {"traced": res["ops"]["traced"], "untraced": res["ops"]["untraced"], "problems": problems},
        "end_to_end": e2e,
        "write_ratio": res["write_ratio"],
    }
    if log_dir is not None:
        counters, job_spans = tracing.group_counters(tracing.event_log_file(log_dir))
        layer = layer_metrics(
            res["tracer"], counters, job_spans, res["layer_sums"], len(walls["traced"]), res["session"], walls
        )
        record.update({"per_layer": layer, "spans": res["tracer"].with_self_time(), "groups": counters})
        metrics = {name: {"value": layer[name], "unit": unit} for name, unit, _, _ in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END.items()}
    path = _artifact_path(meta)
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} ops_failed_ratio = {e2e['ops_failed_ratio']:.6g} ratio")
    print(f"{args.workload} {attempted} timed operations, {failed} failed")
    intervals = [("set-up", res["setup"])] + [
        (f"{kind} operation", o) for kind, rows in res["ops"].items() for o in rows
    ]
    for what, o in intervals:
        print(
            f"{args.workload} {what}: {o['wall_s']:.3f} s wall, {o['steal_share']:.1%} stolen, "
            f"{o['undisturbed_s']:.3f} s undisturbed"
        )
    print(f"{args.workload} output check: {'PASS' if correct else 'FAIL'}")
    for i, found in enumerate([res["warm_problems"]] + problems):
        for msg in found:
            print(f"  {'warm-up' if i == 0 else f'op {i}'}: {msg}")
    print(f"{args.workload} artifact: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
