"""Process plumbing: Spark session start and stop, the in-process WSGI
client, resident-memory and host diagnostics."""

from __future__ import annotations

import hashlib
import io
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every temporary and Spark-local directory into ``work`` and
    put the repo root on ``PYTHONPATH``.  Spark's Python workers are
    separate interpreters started from the JVM: they inherit the
    environment, not this process's ``sys.path``, and without the root
    on ``PYTHONPATH`` the worker daemon module
    (``rhq_metrics_spark.pydaemon``) fails to import, so every Python
    job dies in ``PythonWorkerFactory.startDaemon`` whenever the
    working directory is not the repo root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(work: Path, event_log: bool = False):
    """``get_spark`` at ``local[nproc]`` with the package defaults, plus
    deployment settings that keep every file inside ``work`` and the
    console free of progress bars, and two departures.  The driver heap
    is 1 GiB to 3 GiB instead of the package's 8 GiB cap over the JVM's
    small default start.  From that small start, heap growth steps
    landed at different moments in each run and moved peak resident
    memory by up to 30 %; the cap keeps a run small on a shared
    machine.  And the JIT compiler threads stay up for the JVM's whole
    life, so :func:`jit_cpu_s` can tell their CPU time apart."""
    from rhq_metrics_spark import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if event_log:
        (work / "eventlog").mkdir(exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(work / "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(master=f"local[{cpus()}]", extra_conf=conf)


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the context, close the gateway and wait for the JVM to exit
    (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stat(path: str) -> list[str]:
    """Fields of a ``/proc`` stat file after the command name."""
    return Path(path).read_text().rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds, user and system, of this process and every process
    below it (the JVM and its Python workers), with the reaped children
    of each included.  The kernel leaves time stolen by the hypervisor
    out of these counters, and time spent waiting for a core, so they
    move much less than wall time with the load of other processes and
    machines."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                f = _stat(f"/proc/{d}/stat")
            except OSError:
                continue
            # ppid; utime + stime + cutime + cstime
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads.  They live as long
    as the JVM because :func:`start_spark` turns off the dynamic number
    of compiler threads, so none of their time is lost when one exits."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            if "CompilerThre" not in Path(f"/proc/{jvm}/task/{tid}/comm").read_text():
                continue
            f = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_split_s(jvm: int | None) -> tuple[float, float]:
    """``(work, jit)``: CPU seconds of the process tree without JIT
    compilation, and of the JIT compiler threads.  A run is too short
    for the JIT to settle: in the first minutes compiling takes more
    than half of all CPU time and falls op by op, while the rest stays
    level.  A long-running server pays the compilation once, so an
    op's cost is the work."""
    jit = jit_cpu_s(jvm) if jvm else 0.0
    return tree_cpu_s() - jit, jit


def host_speed_mb_s(mib: int = 32) -> float:
    """MD5 throughput over ``mib`` MiB: a host-speed stamp that makes
    machine drift visible next to the timings."""
    buf = b"\x5a" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(mib):
        h.update(buf)
    return mib / (time.perf_counter() - t0)


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the machine so far (``/proc/stat``)."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def diagnostics() -> dict:
    steal, total = cpu_ticks()
    return {"host_md5_mb_s": round(host_speed_mb_s(), 1),
            "loadavg": list(os.getloadavg()), "cpus": cpus(),
            "steal_ticks": steal, "cpu_ticks": total}


class Client:
    """In-process WSGI client for :class:`rhq_metrics_spark.http.MetricsApp`
    (one request at a time, as wsgiref's single-threaded ``serve()``
    handles them)."""

    base = "/hawkular/metrics"

    def __init__(self, app):
        self.app = app

    def __call__(self, method: str, path: str, tenant: str, body=None):
        payload = b"" if body is None else json.dumps(body).encode()
        path, _, query = path.partition("?")
        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": self.base + path,
            "QUERY_STRING": query,
            "CONTENT_TYPE": "application/json",
            "CONTENT_LENGTH": str(len(payload)),
            "wsgi.input": io.BytesIO(payload),
            "HTTP_HAWKULAR_TENANT": tenant,
        }
        status = []
        raw = b"".join(self.app(environ, lambda s, h: status.append(s)))
        return int(status[0].split()[0]), (json.loads(raw) if raw else None)


def dir_files(root: Path) -> dict[str, int]:
    """``{path: size}`` of every regular file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out
