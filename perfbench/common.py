"""Shared pieces of the benchmark: environment record, session sizing,
process-tree memory sampling, quantiles, and the run result.

The engine under test is imported from the checkout's
``crypto_market_data_etl_spark`` package; nothing here reaches into it
beyond its public functions.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import signal
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
GEN = Path(__file__).resolve().parent / "gen.py"

#: streaming state-store instances (= shuffle partitions at query start):
#: ~150 instrument keys need few, and each one adds fixed cost to every
#: trigger (on 4 cores, 2 per query halved the live latency of 4)
CANDLE_STATE_PARTITIONS = 2
OFI_STATE_PARTITIONS = 2
OFI_BUCKETS = 8


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def head_sha() -> str:
    """HEAD of the checkout when it is itself a git work tree, else
    ``unknown`` (a copy of the files without ``.git`` has no HEAD)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != ROOT:
        return "unknown"
    return lines[1]


def package_sha256() -> str:
    """Digest of the engine's source files: which code ran, with or without
    git."""
    h = hashlib.sha256()
    pkg = ROOT / "crypto_market_data_etl_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def environment() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_bytes() / 2**30, 1),
        "loadavg_before": list(os.getloadavg()),
        "sha": head_sha(),
        "package_sha256": package_sha256(),
        "spark": pyspark.__version__,
        "arrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


#: Spark driver heap: well below physical RAM, which other processes share; the inputs
#: are small
DRIVER_MEMORY = "3g"


def start_session(cores: int, work: Path, event_log: Path | None = None):
    """``local[cores]`` session whose scratch space stays under ``work``.

    Shuffle partitions follow the box's core count on every pass, so a
    ``local[1]`` baseline runs the same plans on fewer cores."""
    from crypto_market_data_etl_spark.session import get_spark

    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Python workers import the engine too, whatever directory they start in
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # temporary files of this process, the JVMs it launches and the workers
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = None
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = str(event_log)
        confs["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name="perfbench", cpus=cores, shuffle_partitions=nproc(), extra_confs=confs
    )


def quantile(values: list[float], q: float, weights: list[float] | None = None) -> float:
    """Weighted quantile, lower interpolation: the smallest value whose
    cumulative weight reaches ``q`` of the total."""
    if not values:
        return math.nan
    weights = weights or [1.0] * len(values)
    pairs = sorted(zip(values, weights))
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total - 1e-9:
            return v
    return pairs[-1][0]


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        return math.nan
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _process_table() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str]]:
    """Children, RSS bytes and state of every process, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    state: dict[int, str] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = pages * page
        state[pid] = fields[0]
    return children, rss, state


def _descendants(root: int) -> list[int]:
    """Every process below ``root`` that has not yet exited (zombies left
    out)."""
    children, _, state = _process_table()
    found, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        if state.get(pid) != "Z":
            found.append(pid)
        stack.extend(children.get(pid, ()))
    return found


def _tree_rss(root: int) -> int:
    """Summed RSS of ``root`` and all of its descendants."""
    children, rss, _ = _process_table()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    process whose parent ends first (a Python worker of the Spark JVM, or
    the JVM of a child pass) stays below it until ``stop_processes``
    ends it; and turn SIGTERM into an exit that runs ``finally`` blocks."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The Spark JVM outlives ``spark.stop()``: it exits only when its stdin
    closes, which otherwise happens after this process has gone. Close it
    here and wait; then end whatever is still below this process (workers,
    generators, child passes), politely first and then by force."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc = pyspark.SparkContext
        gateway = sc._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                if sc._active_spark_context is not None:
                    sc._active_spark_context.stop()
                gateway.shutdown()
            except Exception:  # the JVM may have gone already
                pass
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=grace)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            sc._gateway = sc._jvm = None
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, grace / 2), (signal.SIGKILL, grace)):
        deadline = time.time() + wait_s
        while True:
            _reap()
            alive = _descendants(me)
            if not alive:
                return
            if time.time() > deadline:
                break
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


class RssSampler:
    """Samples the benchmark's process tree every ``period`` seconds on a
    daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def run_generator(kind: str, seed: int, out: Path, *args: str) -> subprocess.Popen:
    """Start the generator as one single-threaded process."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1", TMPDIR=str(out.parent))
    return subprocess.Popen(
        [sys.executable, str(GEN), kind, "--seed", str(seed), "--out", str(out), *args],
        env=env,
    )


def finish(gen: subprocess.Popen, timeout: float = 170) -> None:
    """Wait for a generator; raise if it failed."""
    if gen.wait(timeout=timeout) != 0:
        raise RuntimeError(f"generator {gen.args[2]} exited with {gen.returncode}")


def measure_rounds(res: "Result", seconds: float, n_items: int, one_round) -> int:
    """Repeat ``one_round(r)`` until ``seconds`` have passed, at least once.
    ``one_round`` returns when its timed part started (after any
    preparation) and when its first output was written; the round's end is
    its last. Sets throughput (items per second of the median round) and,
    over rounds, the latency to the first output (``latency_*``) and to the
    last (``side_latency_*``). Returns the number of rounds."""
    walls, first, last = [], [], []
    t_end = time.time() + seconds
    while not walls or time.time() < t_end:
        t0, t_first = one_round(len(walls))
        t1 = time.time()
        walls.append(t1 - t0)
        first.append((t_first - t0) * 1000)
        last.append((t1 - t0) * 1000)
    res.e2e["throughput_per_s"] = n_items / quantile(walls, 0.5)
    for prefix, values in (("latency", first), ("side_latency", last)):
        res.e2e[f"{prefix}_p50_ms"] = quantile(values, 0.5)
        res.e2e[f"{prefix}_p90_ms"] = quantile(values, 0.9)
    return len(walls)


@dataclass
class Result:
    """What one workload pass measured.

    ``e2e`` holds the end-to-end metrics, ``layers`` the per-layer ones (a
    traced pass only), ``report`` the workload's own names for its headline
    figures, and ``attempted``/``failed`` count micro-batches, jobs and
    output checks."""

    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.mismatches.append(what)
