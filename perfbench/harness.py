"""Per-run context shared by the workloads: an isolated run directory
inside the checkout, the Spark session, memory and directory probes,
and the result the command prints."""

from __future__ import annotations

import gc
import os
import resource
import shutil
import sys
import time
from dataclasses import dataclass, field

from spans import Tracer


def dir_files(path: str) -> dict[str, int]:
    """Relative file path -> size for every file under ``path``."""
    out: dict[str, int] = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:  # removed between listing and stat
                pass
    return out


def bytes_added(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files in ``after`` that are new or changed."""
    return sum(size for p, size in after.items() if before.get(p) != size)


@dataclass
class Outcome:
    """What a workload reports back to the command."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def op(self, ok: bool, what: str = "") -> None:
        """Count one operation or output check; ``what`` says why it
        failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Run:
    """One benchmark run: fresh warehouse, checkpoint, Spark local and
    scratch directories under ``<checkout>/.bench_run/``, removed at
    the end; one Spark session on ``local[nproc]``."""

    def __init__(self, checkout: str, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.checkout = checkout
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.dir = os.path.join(checkout, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.tracer = Tracer()
        self.t0 = time.time()
        self.session_s = 0.0
        self.trace_dump: list[dict] | None = None  # spans of a traced run

    def path(self, *parts: str) -> str:
        """A path under the run directory; its parent exists."""
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def mkdir(self, *parts: str) -> str:
        """A directory under the run directory, created."""
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def __enter__(self) -> "Run":
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "cwd"):
            os.makedirs(os.path.join(self.dir, sub))
        # Everything the run writes stays in its directory: Python and
        # JVM temp files, Spark's local dirs, and the package's
        # cwd-relative ``.tmp/scratch``.
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        import tempfile

        tempfile.tempdir = None
        os.chdir(os.path.join(self.dir, "cwd"))
        return self

    def start_session(self):
        """Start the session through the package's ``get_spark``; a
        traced run also writes Spark's event log, uncompressed."""
        from dish_data_pipeline_spark import get_spark

        # The package's own heap setting stays. The JVM options repeat
        # the package's (-Xlog...) and add only what keeps the run's
        # files in its directory.
        conf = {
            "spark.driver.extraJavaOptions": (
                "-Xlog:all=warning:stderr -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')}"
            ),
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",  # one file
                "spark.eventLog.dir": os.path.join(self.dir, "eventlog"),
            })
        t = time.time()
        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{self.cores}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - t
        self.tracer.spark = self.spark
        return self.spark

    def mark(self, label: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"# {self.workload} +{time.time() - self.t0:.1f}s {label}", file=sys.stderr, flush=True)

    def ops(self, nominal_s: float) -> int:
        """How many whole operations to measure: as many as fill
        ``seconds`` at ``nominal_s`` each, at least one. Fixed before
        measuring, so runs of a slower and a faster commit do the same
        work. A traced run makes exactly two, and traces half of the
        work in each."""
        return 2 if self.trace else max(1, round(self.seconds / nominal_s))

    def setup_done(self) -> float:
        """End of set-up: seconds since the run started. Also moves
        the benchmark's own long-lived objects (inputs, models) out of
        the garbage collector's way, so collections during measurement
        scan only what the program allocates."""
        gc.collect()
        gc.freeze()
        return time.time() - self.t0

    def isolate(self) -> None:
        """bench.py's isolation between queries: release operator
        caches, clear the catalog cache, unpersist every persistent
        RDD synchronously, then collect garbage in Python and the JVM."""
        from dish_data_pipeline_spark.cache_registry import release_caches

        spark = self.spark
        release_caches()
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        gc.collect()
        spark._jvm.System.gc()

    def retained_mem_mb(self) -> float:
        """Memory the program holds once the measured operations are
        done: the JVM heap in use after full collections, the JVM's
        non-heap pools (metaspace, class space, code heaps) at their
        peak, and the Python process's peak resident set. Read once,
        after the last measured operation. Spark frees broadcast and
        cached blocks from a cleaner thread once a collection has found
        them unreachable, so collections repeat until the heap stops
        shrinking. Transient heap use is left out: how much of it G1
        promotes before it dies follows the young-generation size G1
        picks, which follows the machine's speed, not the program."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        pools = [(str(p.getName()), str(p.getType().name()) == "HEAP", p) for p in mf.getMemoryPoolMXBeans()]
        heap = float("inf")
        for _ in range(5):
            gc.collect()
            self.spark._jvm.System.gc()
            now = sum(p.getUsage().getUsed() for _, is_heap, p in pools if is_heap) / 2**20
            if now > heap - 1.0:
                break
            heap = now
            time.sleep(0.2)
        heap = min(heap, now)
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        non_heap = {name: p.getPeakUsage().getUsed() / 2**20 for name, is_heap, p in pools if not is_heap}
        self.mark("retained MB: python %.1f, heap %.1f, " % (py_mb, heap)
                  + ", ".join(f"{k} {v:.1f}" for k, v in non_heap.items()))
        return py_mb + heap + sum(non_heap.values())

    def event_log(self) -> str | None:
        """The traced run's event log file."""
        d = os.path.join(self.dir, "eventlog")
        files = sorted(os.listdir(d)) if os.path.isdir(d) else []
        return os.path.join(d, files[0]) if files else None

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    def __exit__(self, *exc) -> bool:
        try:
            self.stop_session()
        finally:
            os.chdir(self.checkout)
            shutil.rmtree(self.dir, ignore_errors=True)
            parent = os.path.dirname(self.dir)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
        return False

