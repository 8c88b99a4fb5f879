"""Shared plumbing for the benchmark: paths, Spark session, inputs,
fingerprints, statistics, host-noise and memory probes, spans, and the
Spark status REST API reader.

Everything here runs inside the checkout: scratch, Spark local dirs, temp
files and the warehouse all live under ``<root>/.perfbench``.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import threading
import time
import urllib.request
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
GRAPH = "https://ontograph.dev/code"
N_REPOS = 50


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def driver_memory_gb() -> int:
    """A quarter of physical RAM, whole GB, between 1 and 2: the inputs are
    small, and the host is shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return 2
    return max(1, min(2, kb // (4 * 1024 * 1024)))


# -- environment and session ----------------------------------------------


def prepare_environment(run_dir: Path) -> None:
    """Point every scratch location of Spark, the JVM and Python at the run
    directory, and pass the package path to Spark's Python workers."""
    for sub in ("spark-local", "tmp", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    import tempfile

    tempfile.tempdir = str(run_dir / "tmp")


def start_spark(run_dir: Path, ui: bool):
    from pyspark.sql import SparkSession

    cpus, mem = cpu_count(), driver_memory_gb()
    tmp = run_dir / "tmp"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ontograph-spark-perfbench")
        .config("spark.driver.memory", f"{mem}g")
        # C1 only: at this scale the JVM side is planning and scheduling,
        # not hot loops, and C1 reaches its steady state after one warm-up
        # operation where tiered C2 keeps speeding up for ~5 (measured). C1
        # compiles everything warm, so it gets the tiered code cache size.
        # A fixed heap keeps the peak RSS from following GC sizing choices.
        # No perf-data file in the system temp directory.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
            f"-XX:ReservedCodeCacheSize=240m -Xms{mem}g -XX:-UsePerfData",
        )
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.limit.initialNumPartitions", "64")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    if ui:
        builder = (
            builder.config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
        )
    # the JVM and its Python workers inherit stderr as their stdout: the
    # last line of this process's stdout is the result
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        spark = builder.getOrCreate()
    finally:
        os.dup2(saved, 1)
        os.close(saved)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def clear_persisted(spark) -> None:
    """Drop the DISK_ONLY caches a construct_kg plan leaves behind, so every
    repetition starts from the same state."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    alive = [p for p in pids if Path(f"/proc/{p}").exists()]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if Path(f"/proc/{p}").exists()]
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


# -- inputs ---------------------------------------------------------------


def row_offset(seed: int) -> int:
    """The seed picks a disjoint window of synthetic row ids."""
    return 10_000_000 * (seed % 1000)


def render_rows(offset: int, n: int) -> list[tuple[str, str, str, str, str]]:
    from ontograph_spark.pipeline.repo_source import render_row

    return [render_row(i, N_REPOS) for i in range(offset, offset + n)]


def write_repo_table(rows, path: Path, files: int) -> None:
    """The repo table as ``files`` parquet files, so the scan has one split
    per file."""
    import pandas as pd

    from ontograph_spark.pipeline.repo_source import REPO_SCHEMA

    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    cols = REPO_SCHEMA.fieldNames()
    step = max(1, -(-len(rows) // files))
    for k in range(0, len(rows), step):
        pd.DataFrame(rows[k : k + step], columns=cols).to_parquet(
            path / f"part-{k // step:05d}.parquet", index=False
        )


def read_repo_table(spark, path: Path):
    from ontograph_spark.pipeline.repo_source import REPO_SCHEMA

    return spark.read.schema(REPO_SCHEMA).parquet(str(path))


def load_oracle():
    """The pure-Python construction oracle of the pipeline's golden tests."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_pipeline_oracle", ROOT / "tests" / "test_pipeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.oracle_quads


def expected_quads(spark, rows) -> set[tuple[str, str, str, str]]:
    """Oracle quads for ``rows`` plus the ontology schema quads."""
    from ontograph_spark.pipeline.construct import schema_quads

    gold = load_oracle()(rows, GRAPH)
    gold |= {
        (r["subj"], r["pred"], r["obj"], r["graph"])
        for r in schema_quads(spark, GRAPH).collect()
    }
    return gold


# -- fingerprints ---------------------------------------------------------

_SEP = "\x1f"


def quad_hash(s: str, p: str, o: str, g: str) -> int:
    d = hashlib.sha256(_SEP.join((s, p, o, g)).encode()).hexdigest()
    return int(d[:15], 16)


def py_fingerprint(quads) -> tuple[int, int]:
    """(count, order-independent sum of 60-bit quad hashes)."""
    n, total = 0, 0
    for q in quads:
        n += 1
        total += quad_hash(*q)
    return n, total


def df_fingerprint(df) -> tuple[int, int, int]:
    """(count, distinct count, hash sum) of a quad DataFrame in one job;
    the hash is the same as :func:`quad_hash`."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(
            F.sha2(F.concat_ws(_SEP, "subj", "pred", "obj", "graph"), 256), 1, 15
        ),
        16,
        10,
    ).cast("decimal(38,0)")
    key = F.concat_ws(_SEP, "subj", "pred", "obj", "graph")
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(key).alias("d"),
        F.sum(h).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["d"]), int(row["h"] or 0)


# -- statistics and probes ------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1])."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = max(0, min(len(v) - 1, int(-(-q * len(v) // 1)) - 1))
    return v[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def cpu_sample() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError):
        return 0, 0


class HostNoise:
    """1-minute loadavg at the start and the CPU steal share over the run,
    so an outlying run explains itself."""

    def __init__(self) -> None:
        self.load1 = os.getloadavg()[0]
        self._s0, self._t0 = cpu_sample()

    def report(self) -> dict:
        s1, t1 = cpu_sample()
        return {
            "load1": round(self.load1, 2),
            "steal_frac": round((s1 - self._s0) / max(t1 - self._t0, 1), 4),
            "cpus": cpu_count(),
        }


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(spark) -> float:
    """CPU time (user + system, own + reaped children) of the driver Python
    process, the driver JVM and the JVM's Python workers. A child that
    exits is reaped into its parent's counters, so deltas stay whole."""
    pids = {os.getpid()}
    jpid = jvm_pid(spark)
    if jpid is not None:
        pids.update(process_tree(jpid))
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark, extra_kb: int = 0) -> float:
    """Peak RSS of the driver Python process, the driver JVM and the JVM's
    Python workers (each process's high-water mark, summed), plus
    ``extra_kb`` for processes that already exited."""
    pids = {os.getpid()}
    jpid = jvm_pid(spark)
    if jpid is not None:
        pids.update(process_tree(jpid))
    return (sum(vm_hwm_kb(p) for p in pids) + extra_kb) / 1024.0


def dir_bytes(path: Path) -> int:
    """On-disk bytes under ``path``, each inode counted once (hard links
    shared between snapshots are not double-counted)."""
    seen, total = set(), 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                st = os.lstat(os.path.join(dirpath, name))
            except OSError:
                continue
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


# -- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls into
    the program's layers. Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. in another process; both
        use the system-wide monotonic clock)."""
        with self._lock:
            self._next += 1
            sid = self._next
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "start": start, "end": end}
            )
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by child
        spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


class SparkStatus:
    """Job and stage totals from Spark's monitoring REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read().decode())

    def snapshot(self) -> dict:
        """Settle the listener bus (job list stable across two polls), then
        read the job ids and completed-stage metrics."""
        prev = None
        for _ in range(20):
            jobs = self._get("/jobs")
            state = (len(jobs), sum(1 for j in jobs if j["status"] == "RUNNING"))
            if state == prev and state[1] == 0:
                break
            prev = state
            time.sleep(0.25)
        stages = self._get("/stages?status=complete")
        return {
            "jobs": {j["jobId"] for j in jobs},
            "stages": {(s["stageId"], s["attemptId"]): s for s in stages},
        }

    def delta(self, before: dict, after: dict, wall_s: float) -> dict:
        new = [s for k, s in after["stages"].items() if k not in before["stages"]]
        run_ms = sum(s.get("executorRunTime", 0) for s in new)
        return {
            "spark.jobs": len(after["jobs"] - before["jobs"]),
            "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in new),
            "spark.task_cpu_s": sum(s.get("executorCpuTime", 0) for s in new) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in new) / 1e3,
            "spark.spill_mb": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in new
            )
            / 2**20,
            "spark.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in new)
            / 2**20,
            "spark.busy_frac": run_ms / 1e3 / max(wall_s * self.cores, 1e-9),
        }
