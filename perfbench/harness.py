"""Session, warm-up, closed-loop timing and process-tree sampling.

Everything the benchmark writes (inputs, outputs, Spark scratch, JVM
temp files, results) stays under ``<checkout>/.perfbench_work``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "universal_pdf_extractor_spark"
WORK = ROOT / ".perfbench_work"
DRIVER_HEAP = "2g"           # fits a 15 GB host with room for the workers
WARMUP_MAX_RUNS = 3         # warm-up runs at most, the cold one included
WARMUP_STEADY = 0.20         # a run within 20% of the previous one is steady
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every temp and scratch location into ``work`` and make the
    package importable in the driver and in the Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, spark-submit's launcher included: temp files in ``tmp``
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    sys.path.insert(0, str(ROOT))


def start_session(work: Path):
    from pyspark.sql import SparkSession

    n = nproc()
    # a fixed, pre-touched heap (-Xms = -Xmx) keeps the JVM's resident
    # memory from depending on when the collector grew or touched the heap
    java_opts = f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        # same session settings as bench.py, at this host's core count
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _descendants(root: int) -> list[int]:
    children = _children_map()
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError):
        return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared with other processes are split
    between them instead of counted in full by each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_memory(root: int, skip: int = -1) -> dict:
    """Resident memory of ``root``'s descendants but ``skip``: RSS of its
    children (the driver JVM) plus PSS below them, where the Python
    workers forked from one daemon share most of their pages.  PSS is
    only read for those small processes because it walks every mapping
    of the process.  Bytes in total and per part, and the worker count.

    A child of the JVM that still runs the JVM's executable is a process
    the JVM is spawning (posix_spawn/vfork), caught before its exec: it
    shares the JVM's address space, so its PSS would count the whole JVM
    a second time.  Such children are left out."""
    children = _children_map()
    jvm = workers = n_workers = 0
    for child in children.get(root, []):
        if child == skip:
            continue
        jvm += _rss_bytes(child)
        exe = _exe(child)
        stack = [pid for pid in children.get(child, []) if _exe(pid) != exe]
        while stack:
            pid = stack.pop()
            workers += _pss_bytes(pid)
            n_workers += 1
            stack.extend(children.get(pid, []))
    return {"total": jvm + workers, "jvm": jvm, "workers": workers,
            "n_workers": n_workers}


def _sample_until_eof(root: int, interval: float) -> None:
    """Sampler process body: once stdin closes, print the largest sample
    taken, as JSON."""
    stop = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), stop.set()), daemon=True).start()
    peak = {"total": 0}
    while not stop.is_set():
        sample = tree_memory(root, skip=os.getpid())
        if sample["total"] > peak["total"]:
            peak = sample
        stop.wait(interval)
    print(json.dumps(peak), flush=True)


class RssSampler:
    """Peak resident memory of the driver JVM and its Python workers
    (``tree_memory``) while the block runs: the largest of samples taken
    every ``interval`` seconds by a separate process, so that sampling
    takes no time from the driver's Python thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak: dict = {"total": 0}

    def __enter__(self):
        self._proc = subprocess.Popen(
            [sys.executable, __file__, "--sample", str(os.getpid()), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc):
        out, _ = self._proc.communicate(input="", timeout=60)
        self.peak = json.loads(out)


class Warmup:
    """Decides when set-up ends.  Full-size runs are warm-up until one
    lands within WARMUP_STEADY of the run before it; that steady run is
    the first measured run, and set-up is everything before it.  After
    WARMUP_MAX_RUNS warm-up runs the next run is measured regardless."""

    def __init__(self, t_setup: float):
        self.t_setup = t_setup
        self.times: list[float] = []
        self.setup_s: float | None = None

    def settled(self, wall: float | None, t_run: float) -> bool:
        """Record a run of ``wall`` seconds that started at ``t_run``
        (``wall`` is None if it raised); True once measuring has begun."""
        if self.setup_s is not None:
            return True
        if (wall is not None and len(self.times) < WARMUP_MAX_RUNS
                and (not self.times
                     or abs(wall - self.times[-1]) > WARMUP_STEADY * self.times[-1])):
            self.times.append(wall)
            return False
        self.setup_s = t_run - self.t_setup
        return True


def dir_bytes(path) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parquet_data_bytes(path) -> int:
    """Compressed bytes of the column chunks of every parquet file under
    ``path``: the data written, without the per-file framing whose total
    depends on how many of a plan's partitions happened to hold rows."""
    import pyarrow.parquet as pq

    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                meta = pq.ParquetFile(os.path.join(d, f)).metadata
                total += sum(meta.row_group(i).column(j).total_compressed_size
                             for i in range(meta.num_row_groups)
                             for j in range(meta.num_columns))
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def context(seed: int, corpus, load_before, warm_times) -> dict:
    import pyarrow
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        res = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True)
        commit = res.stdout.strip() or None
    src = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        src.update(p.relative_to(ROOT).as_posix().encode())
        src.update(p.read_bytes())
    return {
        "seed": seed, "nproc": nproc(), "driver_heap": DRIVER_HEAP,
        "loadavg_before": list(load_before), "loadavg_after": list(os.getloadavg()),
        "git_commit": commit, "package_sha256": src.hexdigest(),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "input": {"turns": corpus.turns, "conversations": len(corpus.conversations),
                  "documents": corpus.documents, "bytes": corpus.bytes},
        "warmup_runs_s": warm_times,
    }


def write_result(name: str, payload: dict) -> Path:
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{name}.json"
    path.write_text(json.dumps(payload, indent=1, sort_keys=True, default=str))
    return path


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


if __name__ == "__main__" and sys.argv[1:2] == ["--sample"]:
    _sample_until_eof(int(sys.argv[2]), float(sys.argv[3]))
