"""Boot the real entrypoint (``python -m cowsdb_spark``) as a subprocess.

The server is sized from the host and keeps every byte it writes
under the benchmark's scratch directory:

- ``SPARK_GRAFT_CPUS`` is the number of usable cores (``nproc``);
- ``SPARK_DRIVER_MEMORY`` is an eighth of available memory in whole
  GiB, between 1 and 4 GiB (the box is shared, and a heap that stops
  growing early keeps the server's RSS steady from run to run);
- the warehouse, the user-files directory (the ``file()`` root), the
  Spark local dirs, the JVM and Python temp dirs and the working
  directory (Derby and ``spark-warehouse`` land there) all live
  under the scratch directory.

The server runs in a session of its own; its process tree (the Python
driver, the JVM it launches, the pyspark daemon and workers) is found
by parent pid, stopped and waited for together.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_heap_gb() -> int:
    with open("/proc/meminfo") as f:
        info = {line.split(":")[0]: int(line.split()[1]) for line in f}
    avail_gb = info.get("MemAvailable", info["MemTotal"]) / (1 << 20)
    return max(1, min(4, int(avail_gb / 8)))


def proc_table() -> dict[int, tuple[str, int, list[str]]]:
    """pid -> (comm, ppid, the stat fields after the comm) of every
    live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw.rsplit(")", 1)[1].split()
        if fields[0] != "Z":  # fields[0] is the state, fields[1] the parent
            out[int(name)] = (raw[raw.index("(") + 1:raw.rindex(")")], int(fields[1]), fields)
    return out


def tree_pids(root: int, table: dict | None = None) -> list[int]:
    """``root`` and its live descendants. The pyspark daemon moves into
    a process group of its own, so the tree is walked by parent."""
    table = proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (_comm, ppid, _f) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root] if root in table else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class Server:
    """One server process tree with its own scratch directory."""

    def __init__(self, run_dir: str, files_dir: str, traced: bool = False,
                 spans_path: str | None = None):
        self.run_dir = run_dir
        self.files_dir = files_dir
        self.traced = traced
        self.spans_path = spans_path
        self.proc: subprocess.Popen | None = None
        self.http_port = 0
        self.native_port = 0

    def _env(self) -> dict:
        tmp = os.path.join(self.run_dir, "tmp")
        local = os.path.join(self.run_dir, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(host_cpus()),
            SPARK_DRIVER_MEMORY=f"{host_heap_gb()}g",
            MOOSPARK_WAREHOUSE=os.path.join(self.run_dir, "warehouse"),
            MOOSPARK_USER_FILES_DIR=self.files_dir,
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYTHONPATH=REPO_ROOT,
            PYTHONDONTWRITEBYTECODE="1",
        )
        env.pop("MOOSPARK_EXTRA_CONF", None)
        if self.spans_path:
            env["PERFBENCH_SPANS"] = self.spans_path
        return env

    def start(self, timeout: float = 150.0) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        args = ["--host", "127.0.0.1", "--port", "0", "--native-port", "0"]
        if self.traced:
            cmd = [sys.executable, os.path.join(BENCH_DIR, "traced_server.py"), *args]
        else:
            cmd = [sys.executable, "-m", "cowsdb_spark", *args]
        out_path = os.path.join(self.run_dir, "server.out")
        with open(out_path, "w") as out, open(os.path.join(self.run_dir, "server.err"), "w") as err:
            self.proc = subprocess.Popen(
                cmd, cwd=self.run_dir, env=self._env(), stdout=out, stderr=err,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
        deadline = time.monotonic() + timeout
        while not (self.http_port and self.native_port):
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with code {self.proc.returncode}; see {out_path}")
            if time.monotonic() > deadline:
                raise RuntimeError("server did not report its ports in time")
            time.sleep(0.02)
            with open(out_path) as f:
                for line in f:
                    if line.startswith("HTTP API:"):
                        self.http_port = int(line.rsplit(":", 1)[1])
                    elif line.startswith("Native protocol:"):
                        self.native_port = int(line.rsplit(":", 1)[1])
        while True:
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{self.http_port}/ping", timeout=5) as r:
                    if r.read() == b"Ok\n":
                        return
            except OSError:
                if time.monotonic() > deadline:
                    raise
                time.sleep(0.05)

    @property
    def pid(self) -> int:
        return self.proc.pid

    def stop(self, timeout: float = 30.0) -> None:
        """SIGTERM the driver (its handler exits cleanly, which lets the
        traced launcher write its spans), then make sure nothing of its
        process tree survives, and wait for all of it."""
        if self.proc is None:
            return
        pids = tree_pids(self.proc.pid)
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        deadline = time.monotonic() + 10.0
        while True:
            table = proc_table()
            live = [p for p in pids if p in table]
            if not live:
                break
            if time.monotonic() > deadline + 10.0:
                raise RuntimeError(f"server processes {live} did not exit")
            if time.monotonic() > deadline:
                for p in live:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)
        self.proc = None
