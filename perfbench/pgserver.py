"""A throwaway PostgreSQL server kept inside the benchmark's build directory.

``initdb`` runs once per checkout; every run starts the server on a free
loopback port and stops it before exiting. Postgres refuses to run as
root, so under root each server command runs in a user namespace that
maps the caller to ``nobody``: the files stay the caller's, and nothing
outside the data directory changes.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import socket
import subprocess

NOBODY = 65534


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class LocalPostgres:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.data = os.path.join(self.root, "pgdata")
        self.log = os.path.join(self.root, "pg.log")
        self.port: int | None = None

    def _run(self, *argv: str) -> None:
        prefix: list[str] = []
        if os.geteuid() == 0:
            prefix = ["unshare", "--user", f"--map-user={NOBODY}", f"--map-group={NOBODY}"]
        proc = subprocess.run(
            prefix + list(argv), stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
            text=True, timeout=60,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"{argv[0]} failed: {proc.stderr.strip()}")

    @property
    def dsn(self) -> str:
        return f"host=127.0.0.1 port={self.port} user=postgres dbname=postgres"

    def start(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        if not os.path.exists(os.path.join(self.data, "PG_VERSION")):
            shutil.rmtree(self.data, ignore_errors=True)
            self._run("initdb", "-D", self.data, "-A", "trust", "-U", "postgres")
        if os.path.exists(os.path.join(self.data, "postmaster.pid")):
            # a killed earlier run left its server up: take it down first
            try:
                self._run("pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop")
            except RuntimeError:
                os.remove(os.path.join(self.data, "postmaster.pid"))
        port = free_port()
        # TCP only and file-backed dynamic shared memory, so the server
        # writes nothing outside its data directory (no socket file, no
        # /dev/shm segments); fsync off keeps disk flush stalls, and
        # autovacuum off keeps background vacuums, out of the timings
        opts = (
            f"-p {port} -c listen_addresses=127.0.0.1 "
            "-c unix_socket_directories='' -c dynamic_shared_memory_type=mmap "
            "-c fsync=off -c autovacuum=off"
        )
        try:
            self._run("pg_ctl", "-D", self.data, "-o", opts, "-l", self.log, "-w", "start")
        except RuntimeError:
            # a postmaster that never became ready may still be running
            with contextlib.suppress(RuntimeError):
                self._run("pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop")
            raise
        self.port = port

    def stop(self) -> None:
        if self.port is None:
            return
        self._run("pg_ctl", "-D", self.data, "-m", "fast", "-w", "stop")
        self.port = None

    def connect(self):
        from apitap_spark.sinks import pgwire

        return pgwire.connect(self.dsn)
