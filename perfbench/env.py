"""Host fitting, run directories, process-tree RSS and session lifetime.

Every artefact a run leaves (staged inputs, catalogs, Spark local dirs,
warehouse, derby home, JVM temp files, traces, results) lands under
`<checkout>/.perfbench_work/`, which `.gitignore` lists, so a run never
dirties the tree and never writes outside the checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "_intelligent_document_ai_for_field_extraction_from_invoices_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def total_mem_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """One sixth of the host's RAM, 1-4 GiB: 2g on a 15 GiB host (the
    inputs are tens of MiB; bench.py's 24g default exceeds such a host)."""
    return f"{max(1, min(4, int(total_mem_gib() // 6)))}g"


def git_commit() -> str:
    # the ceiling keeps git from walking above the checkout
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10,
                             env=env)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stamp(seed: int) -> dict:
    import pyspark  # noqa: PLC0415

    return {
        "nproc": nproc(),
        "mem_gib": round(total_mem_gib(), 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "commit": git_commit(),
        "seed": seed,
    }


def prepare(run_dir: str) -> dict[str, str]:
    """Create the run's directories and point every Spark/JVM/Python
    scratch location at them. Must run before pyspark starts a JVM."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("inputs", "catalogs", "local", "tmp", "warehouse",
                      "derby")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # -XX:TieredStopAtLevel=1 (C1 JIT only): a run lives about a minute,
    # and on a 4-core host the C2 compiler threads took ~1/3 of the CPU of
    # every timed iteration, so iterations kept speeding up and runs
    # spread widely; with C1 only, iterations need ~35% less CPU and level
    # off after the warm-up. The package's own sessions run the default
    # tiered JIT, so JVM-side figures here are C1 figures (METRICS.md).
    # -XX:-UsePerfData: no hsperfdata files in the system temp directory.
    java_opts = ("-XX:TieredStopAtLevel=1 -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={dirs['tmp']} "
                 f"-Dderby.system.home={dirs['derby']}")
    os.environ.update({
        # workers import the package (and nothing from the caller's cwd)
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_LAUNCHER_OPTS": java_opts,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
            f"--conf spark.local.dir={dirs['local']}",
            "--conf spark.ui.showConsoleProgress=false",
            # the tracer reads every job/stage of a run from the status
            # store; keep them all (a run has a few thousand at most)
            "--conf spark.ui.retainedJobs=20000",
            "--conf spark.ui.retainedStages=20000",
            f'--driver-java-options "{java_opts}"',
            "pyspark-shell",
        ]),
    })
    return dirs


def start_session():
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.session import (  # noqa: E501, PLC0415
        get_spark,
    )

    spark = get_spark("perfbench", cores=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # started = able to run a job
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit (its
    Python worker daemon exits with it)."""
    from pyspark import SparkContext  # noqa: PLC0415

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    return [c for c, _ in descendant_edges(pid)]


def descendant_edges(pid: int) -> list[tuple[int, int]]:
    """(child, parent) for every descendant of pid."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append((c, p))
            todo.append(c)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including their reaped children. Time the hypervisor
    steals from the host's vCPUs is not in it, unlike wall time."""
    me = os.getpid()
    ticks = 0
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cu cs
    return ticks / CLK_TCK


def steal_ticks() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) over every CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak RSS of this process plus all its descendants (driver JVM and
    Python workers), sampled every `period` seconds on a daemon thread.

    A JVM child that still runs the JVM's own executable is a fork that
    has not yet exec'ed its command (its name is the forking thread's,
    e.g. "Executor task l"): its RSS is the JVM's own pages, so counting it
    would add the JVM's RSS a second time. Such children are skipped."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kib = 0
        self.peak_parts: dict[str, int] = {}  # command -> KiB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _sample(self) -> None:
        me = os.getpid()
        parts: dict[str, int] = {}
        pids = [me]
        for child, parent in descendant_edges(me):
            exe = _exe(child)
            if exe is not None and exe == _exe(parent) and (
                    os.path.basename(exe) == "java"):
                continue
            pids.append(child)
        for p in pids:
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            parts[comm] = parts.get(comm, 0) + _rss_kib(p)
        total = sum(parts.values())
        if total > self.peak_kib:
            self.peak_kib, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


def wait_for_children(timeout: float = 60.0) -> None:
    """Block until every process this run started has exited."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
