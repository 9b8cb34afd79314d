"""Shared pieces of the benchmark: statistics, the system-under-test
process accounting read from /proc, the host-load sentinel, process
hygiene and the result line."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "old_original_java_little_horse_spark"
NCPU = len(os.sched_getaffinity(0))
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


# -- statistics --------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


# -- /proc accounting ----------------------------------------------------------

def read_proc_stat(pid: int) -> dict | None:
    """utime+stime (+ reaped children) in ms, RSS in MB, session id,
    command name — or None if the process is gone or a zombie."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    if f[0] in ("Z", "X"):
        return None
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return {"pid": pid, "ppid": int(f[1]), "sid": int(f[3]), "comm": comm,
            "cpu_ms": ticks * 1000.0 / CLK_TCK,
            "rss_mb": int(f[21]) * PAGE_MB}


def all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def session_procs(sids: set[int]) -> list[dict]:
    out = []
    for pid in all_pids():
        st = read_proc_stat(pid)
        if st is not None and st["sid"] in sids:
            out.append(st)
    return out


def host_cpu() -> dict:
    """Busy and steal jiffies of the whole host, from /proc/stat."""
    f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    v = [int(x) for x in f]
    busy = v[0] + v[1] + v[2] + v[5] + v[6] + (v[7] if len(v) > 7 else 0)
    return {"busy_ms": busy * 1000.0 / CLK_TCK,
            "steal_ms": (v[7] if len(v) > 7 else 0) * 1000.0 / CLK_TCK}


def loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def self_cpu_ms() -> float:
    t = os.times()
    return (t.user + t.system + t.children_user + t.children_system) * 1000.0


class SutMonitor:
    """Samples the CPU and summed RSS of every process in the system
    under test: each process started in a session of its own is
    registered by its session id, so the JVM and Spark's Python worker
    daemon (which leaves its parent's process group, not its session)
    are counted while the generator and DuckDB are not.

    CPU per process is kept as the last value seen, so a process that
    exits between two samples keeps the CPU it had used."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.sids: set[int] = set()
        self.main_pids: set[int] = set()
        self._last: dict[int, dict] = {}
        self.rss_peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def add_session(self, pid: int) -> None:
        with self._lock:
            self.sids.add(pid)
            self.main_pids.add(pid)

    def start(self) -> "SutMonitor":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        with self._lock:
            procs = session_procs(self.sids)
            for st in procs:
                self._last[st["pid"]] = st
            self.rss_peak_mb = max(self.rss_peak_mb,
                                   sum(st["rss_mb"] for st in procs))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def _kind(self, st: dict) -> str:
        if st["comm"] == "java":
            return "jvm"
        if st["pid"] in self.main_pids:
            return "driver_py"
        return "workers_py"

    def cpu_by_kind(self) -> dict[str, float]:
        """Cumulative CPU (ms) by process kind, sampled now."""
        self.sample()
        out = {"jvm": 0.0, "driver_py": 0.0, "workers_py": 0.0}
        with self._lock:
            # A reaped child's CPU moves into its parent's cutime, so a
            # pid no longer alive is counted only if its parent is gone
            # too (otherwise it would be counted twice).
            alive = {pid for pid in self._last if Path(f"/proc/{pid}").exists()}
            for pid, st in self._last.items():
                if pid not in alive and st["ppid"] in alive:
                    continue
                out[self._kind(st)] += st["cpu_ms"]
        return out


class Window:
    """CPU of the system under test and of the host over one timed
    window, plus the host-load sentinel (load average, steal time and
    CPU used outside the system under test and the generator)."""

    def __init__(self, mon: SutMonitor):
        self.mon = mon
        self.t0 = time.monotonic()
        self.sut0 = mon.cpu_by_kind()
        self.host0 = host_cpu()
        self.self0 = self_cpu_ms()
        self.load0 = loadavg()

    def close(self) -> dict:
        wall_ms = (time.monotonic() - self.t0) * 1000.0
        sut1, host1, self1 = self.mon.cpu_by_kind(), host_cpu(), self_cpu_ms()
        sut = {k: sut1[k] - self.sut0[k] for k in sut1}
        sut_total = sum(sut.values())
        gen = self1 - self.self0
        busy = host1["busy_ms"] - self.host0["busy_ms"]
        return {
            "t0": self.t0, "t1": self.t0 + wall_ms / 1000.0,
            "wall_ms": wall_ms,
            "sut_cpu_ms": sut_total,
            "sut_cpu_by_kind_ms": sut,
            "sentinel": {
                "loadavg_start": self.load0,
                "loadavg_end": loadavg(),
                "steal_ms": host1["steal_ms"] - self.host0["steal_ms"],
                "busy_ms": busy,
                "generator_cpu_ms": gen,
                "other_cpu_ms": max(0.0, busy - sut_total - gen),
                "ncpu": NCPU,
            },
        }


def steal_share(sentinel: dict) -> float:
    """Share of the time the vCPUs were running or wanted to run that
    the hypervisor gave to something else: steal over busy time, which
    includes steal.  Being a ratio of times, it does not grow with the
    number of vCPUs the system under test keeps busy."""
    return sentinel["steal_ms"] / sentinel["busy_ms"] if sentinel["busy_ms"] > 0 else 0.0


# -- process hygiene -----------------------------------------------------------

def fresh_dir(d: Path) -> Path:
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    return d.resolve()


def bench_env(run_dir: Path) -> dict:
    """Environment for every process of the system under test: temp
    files, Spark's local dirs and the JVM's temp dir inside the run
    directory, and the repository root importable."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "PYTHONUNBUFFERED": "1",
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_CPUS": str(NCPU),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    return env


def spawn(argv: list[str], run_dir: Path, log_name: str,
          mon: SutMonitor | None, extra_env: dict | None = None) -> subprocess.Popen:
    """Start one system-under-test process in a session of its own."""
    env = bench_env(run_dir)
    env.update(extra_env or {})
    log = open(run_dir / log_name, "ab")
    try:
        p = subprocess.Popen(argv, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
    finally:
        log.close()
    if mon is not None:
        mon.add_session(p.pid)
    return p


def end_session(p: subprocess.Popen, grace: float = 30.0,
                first_signal: int = signal.SIGINT) -> list[dict]:
    """Stop `p` and every process of its session; return the ones that
    had to be killed.  `first_signal` goes to the leader alone (the
    server shuts its engines down on SIGINT); after `grace` seconds
    every process left in the session gets SIGTERM, then SIGKILL."""
    sid = p.pid
    if p.poll() is None:
        try:
            p.send_signal(first_signal)
        except ProcessLookupError:
            pass
        try:
            p.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            pass
    killed = []
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = session_procs({sid})
        if not left:
            break
        killed = killed or left
        for st in left:
            try:
                os.kill(st["pid"], sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while session_procs({sid}) and time.monotonic() < deadline:
            time.sleep(0.1)
    if p.poll() is None:
        p.wait(timeout=10)
    if session_procs({sid}):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")
    return killed


# -- HTTP ----------------------------------------------------------------------

def http(base: str, method: str, path: str, body=None, timeout: float = 120.0):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(base + path, data=data, method=method,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


# -- output --------------------------------------------------------------------

def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]],
         detail: dict, detail_path: Path) -> None:
    """Write the detail file, print a short detail line, then the
    result as the last line of standard output."""
    detail_path.parent.mkdir(parents=True, exist_ok=True)
    detail_path.write_text(json.dumps(detail, indent=1, default=str))
    print(json.dumps({"detail_file": str(detail_path),
                      "sentinel": detail.get("sentinel")}, default=str))
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
