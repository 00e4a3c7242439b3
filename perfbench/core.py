"""Measurement core: run environment, Spark session, closed-loop op runner,
statistics, peak memory and the per-run host record.

An *op* is one client request (a job through ``JobRegistry.run_sync``).
A workload hands the runner *cycles*: lists of ops that together form the
workload's mix. The single client submits each op only after the previous
one finished (closed loop), and measuring stops at the first cycle boundary
after ``--seconds`` (and not before the second cycle), so every run
measures whole cycles and the mix is the same whatever the seed.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import time
from dataclasses import dataclass, field

def process_start_monotonic() -> float:
    """Process start on the monotonic clock, read from /proc so set-up
    time includes interpreter start-up."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        return time.monotonic() - max(age, 0.0)
    except (OSError, ValueError, IndexError):
        return time.monotonic()


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------------------
# Run environment (everything the run writes stays inside the checkout)
# ---------------------------------------------------------------------------

@dataclass
class RunDirs:
    work: str       # <checkout>/.perfbench — inputs cache + results
    run: str        # per-process scratch, removed at exit

    @property
    def inputs(self) -> str:
        return os.path.join(self.work, "inputs")


def make_dirs(checkout: str) -> RunDirs:
    work = os.path.join(checkout, ".perfbench")
    run = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(run, d), exist_ok=True)
    # Python's tempfile (and the stream reader's link dir) and Spark's
    # shuffle/spill directories stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(run, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run, "spark-local")
    # the JVMs' perf-data files would go to /tmp: off for the launcher JVM
    # here, for the driver JVM in spark_conf
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    return RunDirs(work=work, run=run)


def spark_conf(dirs: RunDirs) -> dict:
    tmp = os.path.join(dirs.run, "tmp")
    derby = os.path.join(dirs.run, "derby")
    return {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={derby} "
            f"-Dderby.stream.error.file={derby}/derby.log -XX:-UsePerfData"),
        "spark.sql.warehouse.dir": os.path.join(dirs.run, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(dirs: RunDirs):
    from etl_load_spark.session import get_spark
    spark = get_spark("perfbench", extra_conf=spark_conf(dirs))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Session stop: the driver JVM exits on its own only some time after this
# process has gone, and the Python worker daemons it forked after it; a run
# ends neither of them late, so it kills and waits for the whole tree.
# ---------------------------------------------------------------------------

def _proc_table() -> dict:
    """pid -> (ppid, start ticks, state) of every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(name)] = (int(fields[1]), int(fields[19]), fields[0])
    return table


def _tree(roots) -> dict:
    """pid -> start ticks of the ``roots`` and all their descendants."""
    table = _proc_table()
    found = {p: table[p][1] for p in roots if p in table}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, start, _) in table.items():
            if ppid in found and pid not in found:
                found[pid] = start
                grew = True
    return found


def _alive(tree: dict) -> dict:
    """The processes of ``tree`` that still run (same pid and start time,
    not a zombie)."""
    table = _proc_table()
    return {p: s for p, s in tree.items()
            if p in table and table[p][1] == s and table[p][2] != "Z"}


def _signal_all(tree: dict, sig) -> None:
    for pid in _alive(tree):
        try:
            os.kill(pid, sig)
        except OSError:
            pass


def _wait_gone(tree: dict, seconds: float) -> dict:
    end = time.monotonic() + seconds
    alive = _alive(tree)
    while alive and time.monotonic() < end:
        time.sleep(0.05)
        alive = _alive(tree)
    return alive


def stop_session(spark, grace_s: float = 10.0) -> None:
    """Stop ``spark``, then end its JVM and every process the JVM started,
    and return only once all of them are gone."""
    import signal
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    roots = [proc.pid] if proc is not None else []
    try:
        roots.append(jvm_pid(spark))
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    tree = _tree(roots)
    try:
        spark.stop()
    finally:
        tree.update(_tree(roots))
        # the gateway JVM exits when its stdin closes
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        if _wait_gone(tree, grace_s):
            _signal_all(tree, signal.SIGTERM)
            if _wait_gone(tree, grace_s):
                _signal_all(tree, signal.SIGKILL)
                _wait_gone(tree, grace_s)
        if proc is not None:
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Ops and the closed loop
# ---------------------------------------------------------------------------

@dataclass
class Op:
    """One client request. ``fn()`` runs it and returns the number of
    items (source rows, events) it accounted for; ``check()``
    (run after the clock stops) returns None when the output is correct,
    else a description of the mismatch. ``pre()`` runs before the clock
    starts (the stream workload lands its increment there)."""
    kind: str
    fn: object
    check: object = None
    pre: object = None


@dataclass
class Sample:
    kind: str
    seconds: float
    items: int
    ok: bool
    error: str | None = None


@dataclass
class LoopResult:
    samples: list = field(default_factory=list)
    wall_s: float = 0.0
    cycles: int = 0


def run_op(op: Op, on_done=None, on_start=None) -> Sample:
    try:
        if op.pre is not None:
            op.pre()
    except Exception as e:  # noqa: BLE001
        return Sample(op.kind, 0.0, 0, False, f"pre: {e}")
    if on_start is not None:
        on_start(op)
    t0 = time.perf_counter()
    try:
        items = int(op.fn())
        dt = time.perf_counter() - t0
        err = op.check() if op.check else None
    except Exception as e:  # noqa: BLE001 — every failure is counted
        dt = time.perf_counter() - t0
        items, err = 0, f"{type(e).__name__}: {str(e)[:300]}"
    s = Sample(op.kind, dt, items, err is None, err)
    if on_done is not None:
        on_done(op, s)
    return s


#: a run measures at least this many cycles, so a slow stretch of the host
#: cannot leave a run with a fraction of the usual samples
MIN_CYCLES = 2


def closed_loop(cycles, seconds: float) -> LoopResult:
    """Run whole cycles from the ``cycles`` iterator until ``seconds`` have
    elapsed (checked at cycle boundaries)."""
    res = LoopResult()
    t0 = time.perf_counter()
    for cycle in cycles:
        for op in cycle:
            res.samples.append(run_op(op))
        res.cycles += 1
        if res.cycles >= MIN_CYCLES and time.perf_counter() - t0 >= seconds:
            break
    res.wall_s = time.perf_counter() - t0
    return res


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail_stat(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic that still has
    ``TAIL_BEYOND`` samples above it — the 11th-largest sample — never
    below the upper median when a run has fewer than 2×``TAIL_BEYOND``
    samples."""
    xs = sorted(values)
    n = len(xs)
    i = max(n - 1 - TAIL_BEYOND, n // 2)
    return xs[i], 100.0 * (i + 1) / n


def op_metrics(loop: LoopResult) -> dict:
    good = [s for s in loop.samples if s.ok]
    times = [s.seconds for s in good] or [float("nan")]
    busy = sum(s.seconds for s in good)
    items = sum(s.items for s in good)
    tail, pct = tail_stat(times)
    return {"op_s.p50": statistics.median(times), "op_s.tail": tail,
            "items_per_s": items / busy if busy > 0 else float("nan"),
            "_tail_pct": pct, "_n": len(good), "_items": items}


# ---------------------------------------------------------------------------
# Memory and host record
# ---------------------------------------------------------------------------

def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    return sum(vals[:8]), steal


class HostRecord:
    """CPU steal share and load over the run, plus nproc and versions —
    saved with each result so a contention wave on the box can be told
    apart from a regression."""

    def __init__(self):
        self.t0 = _cpu_ticks()
        self.load_start = os.getloadavg()[0]

    def finish(self, spark) -> dict:
        total1, steal1 = _cpu_ticks()
        d_total = max(total1 - self.t0[0], 1)
        rec = {"nproc": nproc(),
               "steal_share": (steal1 - self.t0[1]) / d_total,
               "load1_start": self.load_start,
               "load1_end": os.getloadavg()[0],
               "python": platform.python_version()}
        try:
            rec["spark"] = spark.version
            rec["java"] = str(spark._jvm.java.lang.System
                              .getProperty("java.version"))
        except Exception:  # noqa: BLE001 — a record, never a failure
            pass
        return rec


def save_result(dirs: RunDirs, name: str, payload: dict) -> str:
    out = os.path.join(dirs.work, "results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{name}-{int(time.time() * 1000)}.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True, default=str)
    return path
