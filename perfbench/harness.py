"""Process environment, clocks, statistics and index-shape readers.

Everything a run writes (Spark local dirs, the JVM's temp dir, Python
temp files, event logs, indexes) lands under one run directory inside
``perfbench/_work``; the directory is removed when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

perf = time.perf_counter
_CLK = os.sysconf("SC_CLK_TCK")


def prepare_env(run_dir: str) -> str:
    """Point every temp-file writer of this process and its children
    (JVM launcher, JVM, Python workers) into ``run_dir``. Must run
    before the first Spark session starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # Python workers unpickle engine functions by module path
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return tmp


def start_session(run_dir: str, ncpu: int, event_log_dir: str | None = None):
    from elasticsearch_osmosis_plugin_spark.session import get_session

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(app_name="perfbench", master=f"local[{ncpu}]",
                        shuffle_partitions=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit; the event log is complete only after this."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()          # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_s() -> float:
    """CPU-seconds used by the whole container (cgroup), so JVM and
    Python-worker time count too; steal does not inflate it."""
    for path in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/unified/cpu.stat"):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith("usage_usec "):
                        return int(line.split()[1]) / 1e6
        except OSError:
            pass
    try:
        with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as f:
            return int(f.read()) / 1e9
    except OSError:
        pass
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _CLK


def steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK


def p50(xs) -> float:
    return float(statistics.median(xs))


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


class CpuRotation:
    """Pins the calling thread to each allowed CPU in turn, one timed
    call per CPU. On a shared host the per-CPU speed of single-threaded
    code differs by up to 2x and changes over time (sibling-thread
    contention); rotating spreads every driver-local measurement evenly
    over the CPUs instead of over whichever one the scheduler picked."""

    def __init__(self):
        self.cpus = sorted(os.sched_getaffinity(0))
        self._i = 0

    def next(self) -> int:
        cpu = self.cpus[self._i % len(self.cpus)]
        self._i += 1
        os.sched_setaffinity(0, {cpu})
        return cpu

    def release(self) -> None:
        os.sched_setaffinity(0, set(self.cpus))


def balanced_p50(samples) -> float:
    """Mean over CPUs of the per-CPU median of (cpu, value) samples."""
    by_cpu: dict[int, list[float]] = {}
    for cpu, x in samples:
        by_cpu.setdefault(cpu, []).append(x)
    return statistics.fmean(statistics.median(v) for v in by_cpu.values())


def files_bytes(root: str) -> int:
    return sum(os.path.getsize(f)
               for f in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


_STREAMS = ("doc_ids_vb", "tfs_vb", "dls_vb", "pos_vb")


def index_shape(index_path: str) -> dict:
    """Exact index shape from parquet footers (row counts, per-column
    compressed bytes) plus the two small count columns (posting ``n``,
    dictionary ``df``) the footers do not sum."""
    import pyarrow.parquet as pq

    def tables(*names):
        out = []
        for n in names:
            out += glob.glob(os.path.join(index_path, n, "**", "*.parquet"),
                             recursive=True)
        return sorted(out)

    shape = {"n_postings": 0, "n_posting_rows": 0, "n_terms": 0, "sum_df": 0}
    col_bytes = dict.fromkeys(_STREAMS, 0)
    for f in tables("postings", "postings_merged"):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        shape["n_posting_rows"] += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                if col.path_in_schema in col_bytes:
                    col_bytes[col.path_in_schema] += col.total_compressed_size
        if md.num_rows:
            shape["n_postings"] += int(pf.read(columns=["n"])["n"].to_numpy().sum())
    for f in tables("dictionary"):
        pf = pq.ParquetFile(f)
        shape["n_terms"] += pf.metadata.num_rows
        if pf.metadata.num_rows:
            shape["sum_df"] += int(pf.read(columns=["df"])["df"].to_numpy().sum())
    n = max(shape["n_postings"], 1)
    for s in _STREAMS:
        shape[f"{s[:-3]}_bytes_per_posting"] = col_bytes[s] / n
    shape["postings_bytes"] = (files_bytes(os.path.join(index_path, "postings"))
                               + files_bytes(os.path.join(index_path, "postings_merged")))
    shape["docstats_bytes"] = files_bytes(os.path.join(index_path, "docstats"))
    shape["dictionary_bytes"] = files_bytes(os.path.join(index_path, "dictionary"))
    shape["index_bytes"] = (shape["postings_bytes"] + shape["docstats_bytes"]
                            + shape["dictionary_bytes"])
    return shape


class Run:
    """State of one benchmark run: operation and failure counts, the
    end-to-end values, and the optional tracer."""

    def __init__(self, spark, run_dir: str, seed: int, seconds: float,
                 smoke: bool, tracer=None):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.seconds, self.smoke, self.tracer = seconds, smoke, tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}      # BENCHMARK.json end_to_end names
        self.named: dict[str, tuple] = {}    # workload metrics: name -> (value, unit)
        self.setup: dict[str, float] = {"session_s": 0.0, "corpus_s": 0.0,
                                         "index_s": 0.0}
        self.shape: dict = {}                # index_shape() of the built index
        self.build_metas: list[tuple] = []   # (meta.json, wall_s) per build
        self.walls: dict[str, list[float]] = {}   # op kind -> walls
        self.cold_sum_df = 0                 # sum of query-term df, cold phase
        self.cache_delta: dict = {}          # serve cache counters, warm phase

    def op(self, label: str, fn, *args, driver_cpu: bool = False, **kwargs):
        """Run one engine operation; returns (result, wall_s, cpu_s).
        CPU is the container's (Spark work runs in the JVM and Python
        workers), or with ``driver_cpu`` this process's alone, for
        driver-local calls. Traced runs tag the operation's Spark jobs
        with ``label`` so the event log attributes them."""
        ctx = contextlib.nullcontext()
        if self.tracer is not None:
            if not driver_cpu:          # driver-local calls run no Spark job
                self.spark.sparkContext.setJobGroup(label, label)
            ctx = self.tracer.op(label)
        clock = time.process_time if driver_cpu else cpu_s
        self.attempted += 1
        c0 = clock()
        t0 = perf()
        with ctx:
            out = fn(*args, **kwargs)
        dt = perf() - t0
        dc = clock() - c0
        self.walls.setdefault(label.split(":")[0], []).append(dt)
        return out, dt, dc

    def expect(self, ok: bool, what: str) -> bool:
        """Record one wrong result (call at most once per operation)."""
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


def same_ranking(a, b, tol: float = 1e-9) -> bool:
    """Same doc ids in the same order, scores equal within ``tol``."""
    return (len(a) == len(b)
            and all(x[0] == y[0] and abs(x[1] - y[1]) <= tol for x, y in zip(a, b)))
