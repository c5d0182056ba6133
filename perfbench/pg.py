"""Scratch PostgreSQL 15 for the ``import`` workload.

Same recipe as tests/test_pg_real.py: ``initdb``/``pg_ctl`` through
``runuser -u postgres`` (the server refuses uid 0), trust auth, no TCP
listener, one private unix-socket directory. The cluster is a throwaway,
so it runs without fsync: an import's time is then the program's work
(export, COPY streaming) and not the host disk's flush latency, which on a
shared machine varies from run to run. The cluster lives under the
benchmark's work directory when the ``postgres`` user can reach it and the
socket path fits the kernel's limit; otherwise under a private directory in
/tmp. ``ScratchPostgres`` is a context manager: the server is stopped and
its files removed on every exit path, including a failed run.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile

PG_BIN = "/usr/lib/postgresql/15/bin"
PORT = 55437
_RUN_PG = ["runuser", "-u", "postgres", "--"]
_MAX_SOCKET_PATH = 100  # sun_path holds 107 characters on Linux; keep a margin


class PostgresUnavailable(RuntimeError):
    """No runnable PostgreSQL server in this environment."""


def _run(argv: list[str]) -> None:
    try:
        subprocess.run(argv, capture_output=True, check=True, timeout=60)
    except subprocess.CalledProcessError as e:
        err = e.stderr.decode("utf-8", "replace").strip()
        raise PostgresUnavailable(f"{os.path.basename(argv[len(_RUN_PG)])}: {err}") from None


def _postgres_can_write(path: str) -> bool:
    probe = subprocess.run(_RUN_PG + ["test", "-w", path], capture_output=True)
    return probe.returncode == 0


class ScratchPostgres:
    """``with ScratchPostgres(work_dir) as pg: pg.dsn`` — a started server."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.root: str | None = None
        self.data: str | None = None
        self.dsn: str | None = None

    def _make_root(self) -> str:
        root = os.path.join(self.work_dir, "pg")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        shutil.chown(root, "postgres", "postgres")
        sock = os.path.join(root, "sock", f".s.PGSQL.{PORT}")
        if len(sock) <= _MAX_SOCKET_PATH and _postgres_can_write(root):
            return root
        shutil.rmtree(root, ignore_errors=True)
        root = tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
        shutil.chown(root, "postgres", "postgres")
        return root

    def __enter__(self) -> "ScratchPostgres":
        if not (os.path.isdir(PG_BIN) and shutil.which("psql") and shutil.which("runuser")):
            raise PostgresUnavailable(f"need {PG_BIN}, psql and runuser")
        try:
            self.root = self._make_root()
        except (OSError, LookupError) as e:  # not root, or no postgres user
            raise PostgresUnavailable(str(e)) from None
        try:
            sock = os.path.join(self.root, "sock")
            self.data = os.path.join(self.root, "data")
            _run(_RUN_PG + ["mkdir", sock])
            _run(_RUN_PG + [f"{PG_BIN}/initdb", "-D", self.data, "-A", "trust"])
            _run(_RUN_PG + [
                f"{PG_BIN}/pg_ctl", "-D", self.data, "-w",
                "-o", f"-k {sock} -p {PORT} -c listen_addresses='' -c fsync=off "
                "-c synchronous_commit=off -c full_page_writes=off",
                "-l", os.path.join(self.root, "pg.log"), "start",
            ])
        except BaseException:
            self.close()
            raise
        self.dsn = f"postgresql://postgres@/postgres?host={sock}&port={PORT}"
        return self

    def close(self) -> None:
        if self.data and os.path.exists(os.path.join(self.data, "postmaster.pid")):
            subprocess.run(
                _RUN_PG + [f"{PG_BIN}/pg_ctl", "-D", self.data, "-m", "immediate", "-w", "stop"],
                capture_output=True, timeout=60,
            )
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = self.data = self.dsn = None

    def __exit__(self, *exc) -> None:
        self.close()
