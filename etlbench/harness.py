"""The measurement loop: set up, warm up, run timed batches, gate them.

End-to-end metrics (``--trace 0``):

- ``setup_s``      process start to a warm session: Spark session, input
                   generation, source staging and the workload's checked
                   warm-up batches (a nightly job pays JIT warm-up on every
                   run), less steal time like ``batch_s``;
- ``batch_s``      median time of a timed batch: its wall time less the
                   share the hypervisor gave the machine's CPUs to other
                   guests (see ``unstolen``);
- ``rows_per_s``   the workload's input rows per batch / batch time,
                   median over batches;
- ``peak_rss_mb``  peak resident memory of the process tree (Python,
                   the driver JVM and any Python workers), summed;
- ``storage_amp``  bytes written under the staging and warehouse layers
                   per byte of source the batch reads, median.

Every timed batch counts, failed or not. Failed or incorrect batches and
tasks are counted in ``failed`` out of ``attempted``; a batch counts once
plus once per task it runs.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

DRIVER_MEM = "2g"


def proc_start_time() -> float:
    """Wall-clock time this process started (Linux /proc), so set-up
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError, StopIteration):
        return time.time()


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole machine so far, in clock
    ticks, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def unstolen(wall: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``wall`` less the share of the interval in which the machine's
    CPUs were runnable but the hypervisor ran other guests (steal time).

    On a shared host a batch's wall time tracks the neighbours' load:
    10-15% steal stretches an ETL batch, whose Spark jobs run one after
    another, by 30-50%. Stolen ticks over stolen plus busy ticks is the
    share of the time the benchmark wanted a CPU and was refused one;
    the CPU-bound batch is stretched by that share, so removing it gives
    the time the batch takes on CPUs of its own. Without steal (bare
    metal, an idle host) this is the wall time."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return wall * (1 - steal / (busy + steal)) if busy + steal > 0 else wall


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak RSS) over the process and its descendants."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for ln in f:
                    if ln.startswith("VmHWM:"):
                        total_kb += int(ln.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def file_states(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def bytes_written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) new or rewritten between two ``file_states``."""
    new = [s for p, s in after.items() if before.get(p) != s]
    return sum(s[2] for s in new), len(new)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xms: a heap fixed at its maximum, so peak RSS does not follow GC
    # ergonomics (a growing heap spread it by 13-18% between runs)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_env(work: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import betl_spark from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
    )


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.batches: list[dict] = []
        self.attempted = self.failed = 0
        self.setup_s = 0.0
        self.build_spark_s = 0.0
        self.spark = None
        self.tracer = None
        self.wl = None
        self.rss_mb = 0.0
        self.persisted_rdds: list[int] = []

    def run_batch(self, i: int, traced: bool = False) -> dict:
        wl, tracer = self.wl, self.tracer
        before = file_states(wl.out_dir)
        if tracer is not None:
            tracer.enabled = traced
            tracer.begin_batch(i)
        cpu0 = cpu_jiffies()
        t0 = time.perf_counter()
        try:
            tasks = wl.batch(i)
            errors: list[str] = []
        except Exception:  # a failed batch is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            tasks, errors = 0, ["batch raised"]
        wall = time.perf_counter() - t0
        batch_time = unstolen(wall, cpu0, cpu_jiffies())
        if tracer is not None:
            tracer.end_batch()
            tracer.enabled = False
            self.persisted_rdds.append(tracer.persisted_rdds())
        written, files = bytes_written(before, file_states(wl.out_dir))
        if not errors:
            errors = wl.check(i)
        self.attempted += 1 + tasks
        # a gate checks a batch's outputs as a whole, so a mismatch fails
        # the batch and every task in it
        self.failed += (1 + tasks) if errors else 0
        for e in errors[:5]:
            print(f"[{self.workload} batch {i}] {e}", file=sys.stderr)
        return {
            "i": i, "wall": wall, "time": batch_time, "tasks": tasks, "errors": errors,
            "rows_in": wl.rows_in, "src_bytes": wl.src_bytes,
            "written": written, "files": files, "traced": traced,
        }

    def execute(self, t_start: float, cpu_start: tuple[int, int]) -> None:
        from betl_spark import build_spark

        import workloads

        set_env(self.work)
        if self.trace:
            import spans

            self.tracer = spans.Tracer()
        t0 = time.perf_counter()
        self.spark = build_spark(
            app_name=f"etlbench-{self.workload}", extra_conf=spark_conf(self.work, self.trace)
        )
        self.build_spark_s = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.install(self.spark)
        self.wl = workloads.WORKLOADS[self.workload](
            self.seed, os.path.join(self.work, "wl"), self.spark
        )
        self.wl.setup()
        # warm-up: checked, not timed; the first batches after it run while
        # the JIT still compiles the hot paths of the batch before
        for i in range(self.wl.warmup_batches):
            self.run_batch(i)
        self.setup_s = unstolen(time.time() - t_start, cpu_start, cpu_jiffies())
        t_meas = time.perf_counter()
        # at least two timed batches, so batch_s is a median even when one
        # batch outlasts the run; a traced run interleaves traced and
        # untraced batches in the order T U U T T U ..., at least four, so
        # it measures its own tracing overhead without favouring either side
        # by position (the first timed batches still run faster each time)
        n, min_batches = 0, 2 if self.tracer is None else 4
        while n < min_batches or time.perf_counter() - t_meas < self.seconds:
            self.batches.append(self.run_batch(
                self.wl.warmup_batches + n, traced=self.tracer is not None and (n + 1) % 4 < 2
            ))
            n += 1
        self.rss_mb = peak_rss_mb(os.getpid())

    def metrics(self) -> dict:
        """End-to-end metrics, or per-layer ones for a traced run. Call
        after the session stopped, so the event log is complete."""
        if self.tracer is None:
            return self.end_to_end()
        return self.tracer.per_layer(self, self.wl, os.path.join(self.work, "eventlog"))

    def end_to_end(self) -> dict:
        bs = self.batches
        return {
            "setup_s": (self.setup_s, "s"),
            "batch_s": (statistics.median(b["time"] for b in bs), "s"),
            "rows_per_s": (statistics.median(b["rows_in"] / b["time"] for b in bs), "1/s"),
            "peak_rss_mb": (self.rss_mb, "MB"),
            "storage_amp": (statistics.median(b["written"] / b["src_bytes"] for b in bs), "ratio"),
        }
