"""Start the NDJSON service as a subprocess and talk to it over one
local TCP connection."""

from __future__ import annotations

import json
import os
import re
import signal
import socket
import subprocess
import sys
import time

from machine import process_tree

READY_TIMEOUT_S = 120
CLOSE_TIMEOUT_S = 60


class ServiceError(RuntimeError):
    pass


class Service:
    """One service process and one client connection to it.

    ``argv`` is the command that starts the service; it must accept
    the service's own flags (``--data-dir --root --port --master``).
    stderr (Spark's log and the ``READY <port>`` line) goes to
    ``log_path``."""

    def __init__(self, argv: list[str], *, data_dir: str, root: str,
                 master: str, log_path: str, cwd: str, env: dict):
        self.log_path = log_path
        self._log = open(log_path, "wb")
        self.proc = subprocess.Popen(
            [*argv, "--data-dir", data_dir, "--root", root, "--port", "0",
             "--master", master],
            cwd=cwd, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=self._log)
        self.pid = self.proc.pid
        port = self._wait_ready()
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb")

    def _wait_ready(self) -> int:
        deadline = time.monotonic() + READY_TIMEOUT_S
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise ServiceError(f"service exited with {self.proc.returncode}; "
                                   f"log: {self.log_path}")
            with open(self.log_path, "rb") as f:
                m = re.search(rb"^READY (\d+)$", f.read(), re.M)
            if m:
                return int(m.group(1))
            time.sleep(0.05)
        raise ServiceError("service did not print READY in time")

    def call(self, req: dict, rid: str = "") -> dict:
        """Send one request, return its (single) response dict. ``rid``
        tags the request: ``t…`` marks the timed phase in a trace."""
        line = json.dumps({"id": rid, **req}, separators=(",", ":"))
        self.sock.sendall(line.encode() + b"\n")
        raw = self.rfile.readline()
        if not raw:
            raise ServiceError("service closed the connection")
        return json.loads(raw)

    def close(self) -> int:
        """Ask the service to shut down and wait until it and the JVM
        it started have ended; kill what is left after a minute."""
        tree = process_tree(self.pid)
        try:
            self.call({"op": "shutdown"})
        except (OSError, ServiceError, ValueError):
            pass
        for f in (self.rfile, self.sock):
            try:
                f.close()
            except OSError:
                pass
        deadline = time.monotonic() + CLOSE_TIMEOUT_S
        try:
            rc = self.proc.wait(CLOSE_TIMEOUT_S)
            while time.monotonic() < deadline and any(_alive(p) for p in tree[1:]):
                time.sleep(0.05)
        except subprocess.TimeoutExpired:
            rc = None
        for p in reversed(tree):
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        if rc is None:
            rc = self.proc.wait()
        self._log.close()
        return rc


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def service_argv(traced: bool, spans_path: str | None) -> list[str]:
    """The shipped entry point, or the benchmark's tracing launcher
    around the same ``service.main``."""
    if not traced:
        return [sys.executable, "-m", "mongo_olap_spark.service"]
    here = os.path.dirname(os.path.abspath(__file__))
    return [sys.executable, os.path.join(here, "launch.py"), "--spans", spans_path, "--"]
