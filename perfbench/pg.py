"""A throwaway PostgreSQL cluster owned by one benchmark run.

Started the way the repository's real-Postgres tests start theirs:
initdb + pg_ctl on a private unix socket. initdb and the server refuse
to run as root, so as root they run in a user namespace that maps the
caller to the ``postgres`` account's ids: the server sees a non-root
user while its files stay owned by the caller, inside the run's
directory. Where user namespaces are unavailable, they drop to the
``postgres`` user with ``runuser`` and the cluster lives under /tmp,
which that user can enter; so does a cluster whose socket path would
exceed the unix-socket limit. The cluster keeps the server's default
flush policy (fsync and synchronous_commit on), and ``settings()``
reports it. ``stop()`` removes it, and the caller calls ``stop()`` on
every exit path.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

#: The reference sink's table definition (link is the merge key).
COLUMNS = (
    "link VARCHAR PRIMARY KEY, ads_type VARCHAR, property_type VARCHAR, "
    "name VARCHAR, location VARCHAR, lot_size INT, building_size INT, "
    "n_bedroom INT, n_bathroom INT, n_carport INT, "
    "additional_features VARCHAR, price_rp BIGINT"
)
COLUMN_NAMES = [c.split()[0] for c in COLUMNS.split(", ")]


#: ``sun_path`` holds 107 bytes; the server appends ``/.s.PGSQL.5432``
MAX_SOCKET_PATH = 107


def _userns_works() -> bool:
    try:
        r = subprocess.run(
            ["unshare", "--user", "--map-user=postgres", "--map-group=postgres", "true"],
            capture_output=True, timeout=30,
        )
    except OSError:
        return False
    return r.returncode == 0


class ThrowawayPostgres:
    def __init__(self):
        self.base: str | None = None
        self.sock: str | None = None
        self._data: str | None = None
        self._running = False
        self._prefix: list[str] = []

    def _run(self, args: list[str]) -> subprocess.CompletedProcess:
        return subprocess.run(
            [*self._prefix, *args], capture_output=True, text=True, timeout=120
        )

    def start(self, base: str) -> str:
        """initdb + start in ``base``; returns the socket directory
        (pgwire's dsn)."""
        for tool in ("initdb", "pg_ctl"):
            if not shutil.which(tool):
                raise RuntimeError(f"postgres server binary {tool!r} not found")
        sock_file = os.path.join(base, "sock", ".s.PGSQL.5432")
        in_base = len(sock_file.encode()) <= MAX_SOCKET_PATH
        if os.geteuid() == 0:
            in_base = in_base and _userns_works()
            self._prefix = (
                ["unshare", "--user", "--map-user=postgres", "--map-group=postgres"]
                if in_base else ["runuser", "-u", "postgres", "--"]
            )
        self.base = base if in_base else tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
        self._data = os.path.join(self.base, "data")
        self.sock = os.path.join(self.base, "sock")
        os.makedirs(self._data)
        os.makedirs(self.sock)
        if self._prefix[:1] == ["runuser"]:
            subprocess.run(["chown", "-R", "postgres:postgres", self.base], check=True)
        r = self._run(
            ["initdb", "-D", self._data, "--auth=trust", "--username=postgres",
             "-E", "UTF8"]
        )
        if r.returncode != 0:
            raise RuntimeError(f"initdb failed: {r.stderr[-500:]}")
        r = self._run(
            ["pg_ctl", "-D", self._data, "-w",
             "-o", f"-c listen_addresses='' -c unix_socket_directories={self.sock}",
             "-l", os.path.join(self.base, "log"), "start"]
        )
        if r.returncode != 0:
            raise RuntimeError(f"pg_ctl start failed: {r.stderr[-500:]}")
        self._running = True
        return self.sock

    def connect(self):
        from etl_property_rumah123_spark.sinks.pgwire import PgConnection

        return PgConnection(self.sock)

    def run(self, sql: str) -> list[tuple]:
        conn = self.connect()
        try:
            return conn.run(sql)
        finally:
            conn.close()

    def settings(self) -> dict[str, str]:
        rows = self.run(
            "SELECT name, setting FROM pg_settings WHERE name IN "
            "('fsync', 'synchronous_commit', 'wal_sync_method', 'server_version')"
        )
        return dict(rows)

    def stop(self) -> None:
        if self._running:
            self._run(["pg_ctl", "-D", self._data, "-m", "immediate", "-w", "stop"])
            self._running = False
        if self.base:
            shutil.rmtree(self.base, ignore_errors=True)
            self.base = None
