"""Process isolation for one benchmark run: a fresh working directory, the
server spawned in its own process group, peak RSS of the whole process
tree sampled from /proc, and the tree killed at exit."""

from __future__ import annotations

import os
import signal
import socket
import subprocess
import sys
import threading
import time

from servebench.wire import PgConn, WireError


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_mb(pids: list[int]) -> float:
    """Resident memory of the processes in MB, as proportional set size:
    pages shared between the forked Python workers count once."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return kb / 1024


class RssSampler:
    """Samples the resident memory of a process tree every ``period``
    seconds and keeps the peak."""

    def __init__(self, pid: int, period: float = 0.25):
        self.pid, self.period, self.peak = pid, period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, rss_mb(tree(self.pid)))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak


def spark_env(root: str, workdir: str) -> dict[str, str]:
    """Environment for a Spark process of one run: every core, a 1 GB
    driver heap, and scratch space inside the run's working directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "PYTHONPATH": root + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def stop_children() -> None:
    """Terminate every descendant of this process (an in-process Spark
    session's JVM and its Python workers) and wait until each has ended."""
    pids = [p for p in tree(os.getpid()) if p != os.getpid()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while alive and time.monotonic() < deadline:
            time.sleep(0.05)
            alive = [p for p in alive if _alive(p)]


class Server:
    """The two front doors over one engine, started from a fresh working
    directory. With ``spans_out`` set, the benchmark's launcher wraps the
    layer functions before it calls the server's ``main()``."""

    def __init__(self, root: str, workdir: str, sf_dir: str, spans_out: str | None = None):
        self.pg_port, self.ch_port = free_port(), free_port()
        self.data_dir = os.path.join(workdir, "data")
        args = ["--pg-port", str(self.pg_port), "--ch-port", str(self.ch_port),
                "--data-dir", self.data_dir, "--sf-dir", sf_dir]
        if spans_out:
            cmd = [sys.executable, os.path.join(root, "servebench", "launcher.py"), spans_out, *args]
        else:
            cmd = [sys.executable, "-m", "duck_server_spark.server", *args]
        env = spark_env(root, workdir)
        if spans_out:
            env["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 pyspark-shell"
        self.log = open(os.path.join(workdir, "server.log"), "wb")
        self.t_spawn = time.monotonic()
        self.proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=self.log,
                                     stderr=subprocess.STDOUT, start_new_session=True)
        self.rss = RssSampler(self.proc.pid)

    def wait_ready(self, timeout: float = 120.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}")
            try:
                c = PgConn("127.0.0.1", self.pg_port)
                c.simple("SELECT 1")
                c.close()
                return
            except (OSError, WireError):
                time.sleep(0.1)
        raise RuntimeError("server not ready in time")

    def stop(self) -> float:
        """Stop the whole process tree (the JVM and Spark's Python daemon
        included); returns the peak RSS in MB."""
        peak = self.rss.stop()
        pids = tree(self.proc.pid)
        # the server process first: a traced launcher writes its spans
        # (asking the still-running JVM for the job list) before it exits
        self.proc.terminate()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        try:
            os.killpg(self.proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            alive = [p for p in pids if _alive(p)]
            for p in alive:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
            while alive and time.monotonic() < deadline:
                time.sleep(0.05)
                alive = [p for p in alive if _alive(p)]
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.log.close()
        return peak


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
