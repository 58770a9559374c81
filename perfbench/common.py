"""Shared plumbing for the benchmark: checkout paths, the Spark process
environment, sessions, spans, host interference readings and records.

Everything the benchmark writes lands under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(WORK, "data")
RECORDS = os.path.join(WORK, "records")
CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "jsonschema_spark", "engine.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")))


def prepare_process_env(eventlog_dir: str | None = None) -> None:
    """Environment for the driver JVM and the Python workers, set before
    pyspark starts its gateway. Workers need the package on PYTHONPATH.
    With ``eventlog_dir`` every session writes a Spark event log there."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, DATA, RECORDS):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM, the launcher's too, keeps its files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    conf = {"spark.ui.showConsoleProgress": "false", "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + eventlog_dir,
                     "spark.eventLog.compress": "false",
                     # plan nodes in the log keep full scan paths (fact scans)
                     "spark.sql.maxMetadataStringLength": "100000"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def new_session():
    """(Re)create the engine's session. The JVM stays up between sessions,
    so only the first call pays its launch."""
    from jsonschema_spark.engine import get_session

    spark = get_session("perfbench", parallelism=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def sink_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (q in [0, 1])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256("\n".join("\x1f".join(r) for r in sorted(rows))
                          .encode()).hexdigest()[:16]


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's checksum and marker
    files are not counted as files but their bytes are."""
    total = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
            if not f.startswith((".", "_")):
                files += 1
    return total, files


class Tracer:
    """Spans (name, start, end, parent, run id) around calls into the
    engine's layers. When active, each span also sets the Spark job group
    and description of the calling thread, so the event log attributes the
    span's Spark work to it."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()

    def span(self, name: str, desc: str | None = None, parent: str | None = None):
        return _Span(self, name, desc or name, parent)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, desc: str, parent: str | None):
        self.t, self.name, self.desc, self.parent = tracer, name, desc, parent

    def __enter__(self):
        stack = self.t._local.__dict__.setdefault("stack", [])
        self.parent = self.parent or (stack[-1] if stack else None)
        stack.append(self.name)
        if self.t.spark is not None:
            self.t.spark.sparkContext.setJobGroup(self.name, self.desc)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        stack = self.t._local.stack
        stack.pop()
        if self.t.spark is not None:
            sc = self.t.spark.sparkContext
            if stack:
                sc.setJobGroup(stack[-1], stack[-1])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.t.spans.append({"name": self.name, "start": self.start, "end": end,
                             "parent": self.parent, "run_id": self.t.run_id})
        return False


def _tree_pids() -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            parent[int(d)] = int(raw[raw.rfind(")") + 2:].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    Python workers, reaped ones included (through their parents' child
    times). CPU time a hypervisor steals from the VM is not in it."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ticks += sum(int(x) for x in raw[raw.rfind(")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb() -> float:
    """Resident memory of this process, the driver JVM and the Python
    workers (everything below this process)."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class HostMonitor:
    """Interference readings for a run: host CPU steal and the CPU other
    processes burned (``tools/scaling_bench.py``'s /proc helpers), plus the
    peak resident memory of the benchmark's process tree, sampled."""

    def __init__(self, interval: float = 0.25):
        from scaling_bench import read_load, read_steal

        self._read_load, self._read_steal = read_load, read_steal
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._steal0, self._load0 = self._read_steal(), self._read_load()
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            self._stop.wait(self._interval)

    def __exit__(self, *exc):
        from scaling_bench import other_load_pct, steal_pct

        self._stop.set()
        self._thread.join()
        self.steal_pct = steal_pct(self._steal0, self._read_steal())
        self.other_load_pct = other_load_pct(self._load0, self._read_load())
        return False


def code_version() -> str:
    """The commit when the checkout is a git repository, else a digest of
    the engine's sources (the checkout a benchmark runs in may have no
    history)."""
    try:
        out = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "jsonschema_spark"))):
        files.extend(os.path.join(d, f) for f in sorted(fs) if f.endswith(".py"))
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def archive(record: dict) -> str:
    """Write ``record`` as a new file named by code version, workload, seed
    and timestamp; an existing record is never overwritten."""
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(record["started"]))
    base = f"{record['version']}_{record['workload']}_s{record['seed']}_t{record['trace']}_{stamp}"
    path = os.path.join(RECORDS, base + ".json")
    n = 1
    while os.path.exists(path):
        path = os.path.join(RECORDS, f"{base}_{n}.json")
        n += 1
    with open(path, "x") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return path
