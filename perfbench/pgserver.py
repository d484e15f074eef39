"""A throwaway PostgreSQL server owned by the benchmark.

The server's data directory lives inside the benchmark's work directory.
PostgreSQL refuses to run as root, so when the benchmark runs as root the
server runs as the ``postgres`` system user; ``setpriv`` keeps the
capabilities that let it reach a work directory under a root-only parent.
Unix sockets are off (their paths have a length limit); clients connect
over TCP on 127.0.0.1.

Flush policy: ``fsync=off``, ``synchronous_commit=off`` and
``full_page_writes=off`` — durability is not under test, and the same
policy holds for the Parquet side, whose writes are never fsynced either.
``pg_stat_statements`` is preloaded so statement counts can be read.
"""

from __future__ import annotations

import glob
import os
import shutil
import signal
import socket
import subprocess
import time

from simple_anonymizer_spark.sources import pgwire

SERVER_OPTS = [
    "-c", "listen_addresses=127.0.0.1",
    "-c", "unix_socket_directories=",
    "-c", "fsync=off",
    "-c", "synchronous_commit=off",
    "-c", "full_page_writes=off",
    "-c", "shared_preload_libraries=pg_stat_statements",
    "-c", "pg_stat_statements.track=all",
    "-c", "max_connections=100",
    "-c", "shared_buffers=64MB",
    "-c", "autovacuum=off",  # its table reads would land in the pass counters
]


def _pg_bin(name: str) -> str:
    """From PATH, else the newest Debian-layout install."""
    found = shutil.which(name)
    if found:
        return found
    for d in sorted(glob.glob("/usr/lib/postgresql/*/bin"), reverse=True):
        path = os.path.join(d, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"PostgreSQL binary {name!r} not found")


def _as_postgres(argv: list[str]) -> list[str]:
    if os.geteuid() != 0:
        return argv
    caps = "+dac_override,+dac_read_search"
    return ["setpriv", "--reuid=postgres", "--regid=postgres", "--init-groups",
            f"--inh-caps={caps}", f"--ambient-caps={caps}", *argv]


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    """``start`` runs initdb and the server; ``stop`` (safe to call after a
    failed or partial start) shuts it down and waits for it to exit."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self.data_dir = os.path.join(base_dir, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None
        self._log = None

    def start(self) -> None:
        os.makedirs(self.data_dir)
        if os.geteuid() == 0:
            shutil.chown(self.data_dir, "postgres", "postgres")
        subprocess.run(
            _as_postgres([_pg_bin("initdb"), "-D", self.data_dir, "-A", "trust",
                          "--no-sync", "-U", "postgres", "-E", "UTF8"]),
            check=True, capture_output=True, timeout=120,
        )
        self._log = open(os.path.join(self.base_dir, "server.log"), "wb")
        self.proc = subprocess.Popen(
            _as_postgres([_pg_bin("postgres"), "-D", self.data_dir,
                          "-p", str(self.port), *SERVER_OPTS]),
            stdout=self._log, stderr=subprocess.STDOUT,
        )
        deadline = time.monotonic() + 60
        while True:
            try:
                self.connect().close()
                break
            except (OSError, pgwire.Error):  # not listening / still starting
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError("PostgreSQL did not start; see server.log")
                time.sleep(0.05)

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            # SIGQUIT = immediate shutdown: nothing here needs to survive.
            self.proc.send_signal(signal.SIGQUIT)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc = None
        if self._log is not None:
            self._log.close()
            self._log = None

    def connect(self, database: str = "postgres") -> pgwire.Connection:
        return pgwire.connect(host="127.0.0.1", port=self.port,
                              user="postgres", database=database)

    def options(self, database: str) -> dict[str, str]:
        """Read options for ``spark.read.format("pgwire")``."""
        return {"host": "127.0.0.1", "port": str(self.port),
                "user": "postgres", "database": database}
