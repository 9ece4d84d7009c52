"""Shared plumbing for the benchmark: paths, the source digest that keys
cached fixtures, statistics helpers, peak RSS, the fault-path probe, the
Spark session and seeded corpus staging.

Importing this module starts nothing; every side effect is in a
function the caller invokes.
"""

from __future__ import annotations

import contextlib
import ctypes
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "data_prepper_spark"
CACHE = os.path.join(BENCH_DIR, ".cache")

# One index layout for every workload: 8 term buckets and 4 docID ranges
# keep per-build file counts small at the sizes this benchmark builds.
INDEX_CFG = dict(range_bits=2, block_size=128, n_buckets=8)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_digest(root: str = ROOT) -> str:
    """sha256 over the package's .py sources (path + bytes), so an index
    cached for one version of the code is never served to another."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    files = []
    for d, dirs, names in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# ----------------------------------------------------------------- stats

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, -(-len(xs) * q // 100))  # ceil(n*q/100), at least 1
    return float(xs[int(rank) - 1])


def beyond(values, q: float) -> int:
    """Samples strictly above the q-th percentile (tail sample count)."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def median(values) -> float:
    return float(statistics.median(values))


def iqr_share(values) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# ------------------------------------------------------------ process RSS

def _status_kb(pid, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    task = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task)
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"{task}/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except FileNotFoundError:
            continue
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except FileNotFoundError:
        return ""


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        c = todo.pop()
        out.append(c)
        todo += _children(c)
    return out


def _jvm_tree() -> list[int]:
    """This process's JVM child and the JVM's descendants: the pyspark
    daemon and the Python workers it forked."""
    out = []
    for c in _children(os.getpid()):
        if "java" in _cmdline(c):
            out += [c, *_descendants(c)]
    return out


def reset_peak_rss() -> None:
    """Restart the peak-RSS count (VmHWM) of this process, its JVM and the
    JVM's Python workers from their current RSS (Linux ``clear_refs``
    value 5), after handing freed heap back to the OS, so that a later
    peak_rss_mb() covers only what ran after this call."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass
    for pid in ("self", *_jvm_tree()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) in MB of this process, and the sum of the peaks of
    its JVM and the JVM's live Python workers (0 without a JVM)."""
    jvm = sum(_status_kb(p, "VmHWM") for p in _jvm_tree())
    return _status_kb("self", "VmHWM") / 1024.0, jvm / 1024.0


# ------------------------------------------------------- fault-path probe

def fault_eff(procs: int) -> float:
    """Minor-fault service efficiency from ``tools/fault_probe.py`` with
    0.25 s legs: N-process allocate-and-touch rate over N x the 1-process
    rate.  Near 1.0 means the host is not serializing page faults."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "fault_probe.py"),
         "--procs", str(procs), "--dur", "0.25"],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=120,
    )
    return float(json.loads(p.stdout.strip().splitlines()[-1])["fault_eff"])


# -------------------------------------------------------- host speed probe

# Milliseconds each kind of reference kernel takes at host factor 1.0.
# Fixed constants: they only set the scale of the normalised times, and
# parent and child of a change use the same ones.
REF_MS = {"cpu": 2.5, "serial": 4.5, "parallel": 8.5}


class HostSpeed:
    """How fast the shared host runs this process right now, sampled as
    the time of a fixed reference kernel that does not touch the engine.
    This host's cores slow down by up to 2x for seconds to minutes at a
    time when other tenants load it, mostly without steal time; a time
    divided by factor_at() is the time the same work takes at the
    reference speed.

    The kernel is made of the kinds of work the workloads are made of,
    one kind of kernel per workload:

    * "serial" (serve_hot): interpreted Python, a cache-resident numpy
      sort (64k floats) and random reads from memory (a 32 MB gather), on
      the wall clock, between queries;
    * "parallel" (serve_cold): the same plus a read of a 50k-row parquet
      buffer through pyarrow's thread pool, as cold serving reads its
      postings, so that it also slows when fewer cores are free;
    * "cpu" (ingest): the Python loop and the sort only, on the sampling
      thread's CPU clock, from a background thread while Spark works on
      every core: CPU time leaves out the time the sampler waits for a
      core the build holds, and these two parts hardly touch memory the
      build shares.
    """

    EVERY_S = 0.25

    def __init__(self, kind: str):
        import numpy as np

        self.kind = kind
        self.samples: list[tuple[float, float]] = []  # (perf_counter, ms)
        rng = np.random.default_rng(0)
        self._small = rng.random(1 << 16)
        if kind != "cpu":
            self._big = rng.random(1 << 22)
            self._idx = rng.integers(0, 1 << 22, 1 << 17)
        self._parquet = None
        if kind == "parallel":
            import io

            import pyarrow as pa
            import pyarrow.parquet as pq

            buf = io.BytesIO()
            pq.write_table(pa.table({"k": rng.integers(0, 5000, 50_000),
                                     "v": rng.random(50_000)}), buf, row_group_size=10_000)
            self._parquet = buf.getvalue()
        self._next = 0.0
        for _ in range(3):  # first calls pay for imports and allocations
            self.kernel_ms()

    def kernel_ms(self) -> float:
        import numpy as np

        clock = time.thread_time if self.kind == "cpu" else time.perf_counter
        t0 = clock()
        x = 0
        for i in range(15_000):
            x += i * i % 7
        np.sort(self._small)
        if self.kind != "cpu":
            np.take(self._big, self._idx)
        if self._parquet is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq

            pq.read_table(pa.BufferReader(self._parquet), filters=[("k", "=", 7)])
        return (clock() - t0) * 1e3

    def sample(self, n: int = 1) -> None:
        for _ in range(n):
            self.samples.append((time.perf_counter(), self.kernel_ms()))
        self._next = time.perf_counter() + self.EVERY_S

    def tick(self) -> None:
        """One sample if EVERY_S has passed since the last."""
        if time.perf_counter() >= self._next:
            self.sample()

    @contextlib.contextmanager
    def in_background(self):
        """Sample every EVERY_S from a background thread while the body
        runs."""
        stop = threading.Event()

        def loop():
            while not stop.wait(self.EVERY_S):
                self.sample()

        sampler = threading.Thread(target=loop, daemon=True)
        sampler.start()
        try:
            yield
        finally:
            stop.set()
            sampler.join()

    def ref_ms(self) -> float:
        return median([ms for _, ms in self.samples])

    def factor(self) -> float:
        """The host factor over the whole run."""
        return self.ref_ms() / REF_MS[self.kind]

    def factor_at(self, t0: float, t1: float, pad_s: float = 1.0) -> float:
        """The host factor around an operation that ran from *t0* to *t1*
        (perf_counter): from the samples taken within *pad_s* of it, since
        the host's speed also drifts within a run; the whole run's when
        there are none."""
        near = [ms for t, ms in self.samples if t0 - pad_s <= t <= t1 + pad_s]
        return median(near) / REF_MS[self.kind] if near else self.factor()


# ------------------------------------------------------------- filesystem

def du(path: str) -> int:
    """Bytes of all regular files under *path*."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_json_atomic(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


# ------------------------------------------------------------ environment

def prepare_env(work: str) -> None:
    """Process environment shared by the driver, the JVM and its Python
    workers: the package importable from any cwd, temp files inside the
    run's work dir, and the allocator tuning the package requires."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from data_prepper_spark import envtune

    envtune.apply_malloc_tuning()


def spark_session(work: str, event_log: str | None = None):
    """local[nproc] session sized for this host (4g driver heap, shuffle
    partitions = cores), with the Spark event log enabled only when
    *event_log* is a directory to write it to.  The young generation is
    fixed at 1g, so the JVM's RSS follows the work and not G1's adaptive
    young sizing, which moved a build's peak by a fifth between runs."""
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # no hsperfdata file in the system temp dir: the run writes only
        # under its work dir
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn1g")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ----------------------------------------------------------------- corpus

def pages_frame(indices, url_from=None):
    """corpus.gen_pages rows for *indices*, warc_ts as UTC.  *url_from*
    (same length) re-labels row j with the url of doc url_from[j]: new
    content under an existing url, i.e. an upsert."""
    import numpy as np

    from data_prepper_spark.corpus import gen_pages

    df = gen_pages(np.asarray(indices, dtype=np.int64))
    if url_from is not None:
        df["url"] = gen_pages(np.asarray(url_from, dtype=np.int64))["url"].to_numpy()
    df["warc_ts"] = df["warc_ts"].dt.tz_localize("UTC")
    return df


def write_pages(path: str, indices, url_from=None) -> str:
    """Stage seeded pages to one parquet file (Spark reads it as the
    corpus.PAGES_SCHEMA shape)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.Table.from_pandas(pages_frame(indices, url_from), preserve_index=False)
    tmp = f"{path}.tmp{os.getpid()}"
    pq.write_table(tbl, tmp, coerce_timestamps="us")
    os.replace(tmp, path)
    return path


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }
