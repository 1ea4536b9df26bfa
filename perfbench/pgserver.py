"""A private PostgreSQL 15 server for one benchmark run.

PostgreSQL refuses to run as root, so when the benchmark runs as root the
server runs as the unprivileged user `pgx`; a checkout under a 0700 home
directory is unreadable to that user, so the data directory lives outside
it. It lives on tmpfs (/dev/shm, else /tmp): the server keeps the durability
defaults, fsync=on and synchronous_commit=on, so every commit still flushes
its WAL, but a shared machine's disk latency does not become the noise of
the measurement. The server listens on a unix socket only. `stop()` is
idempotent and removes the data directory; run.py calls it on every exit
path.
"""
import os
import shutil
import subprocess
import tempfile

PG_USER = "pgx"
BIN_DIRS = ["/usr/local/bin", "/usr/bin", "/usr/lib/postgresql/15/bin"]
SHM = "/dev/shm"


def _bin(name):
    for d in BIN_DIRS:
        p = os.path.join(d, name)
        if os.access(p, os.X_OK):
            return p
    raise RuntimeError(f"PostgreSQL binary {name} not found")


def _as_user(cmd):
    return ["runuser", "-u", PG_USER, "--"] + cmd if os.geteuid() == 0 else cmd


class Server:
    def __init__(self):
        self.base = tempfile.mkdtemp(prefix="perfbench_pg_", dir=SHM if os.path.isdir(SHM) else None)
        self.data = os.path.join(self.base, "data")
        self.socket = os.path.join(self.base, "sock")
        self.user = PG_USER if os.geteuid() == 0 else os.environ.get("USER", "postgres")
        self.running = False

    def _run(self, cmd, check=True):
        r = subprocess.run(_as_user(cmd), capture_output=True, cwd=self.base)
        if check and r.returncode != 0:
            raise RuntimeError(f"{cmd[0]} failed: {r.stderr.decode(errors='replace')[-2000:]}")
        return r

    def start(self):
        os.makedirs(self.socket)
        if os.geteuid() == 0:
            subprocess.run(["chown", "-R", PG_USER, self.base], check=True)
        self._run([_bin("initdb"), "-D", self.data, "-A", "trust", "-U", self.user,
                   "--no-sync", "-E", "UTF8", "--locale=C"])
        self._run([_bin("pg_ctl"), "-D", self.data, "-l", os.path.join(self.base, "log"),
                   "-w", "-o", f"-k {self.socket} -c listen_addresses=''", "start"])
        self.running = True

    def _psql(self, sql, stdout):
        cmd = [_bin("psql"), "-h", self.socket, "-U", self.user, "-d", "postgres",
               "-X", "-q", "-v", "ON_ERROR_STOP=1", "-c", sql]
        r = subprocess.run(_as_user(cmd), stdout=stdout, stderr=subprocess.PIPE, cwd=self.base)
        if r.returncode != 0:
            raise RuntimeError(f"psql failed: {r.stderr.decode(errors='replace')[-2000:]}")

    def psql(self, sql):
        self._psql(sql, subprocess.DEVNULL)

    def copy_out_csv(self, table, path):
        """Dump a table as CSV through psql, independent of the program."""
        with open(path, "wb") as out:
            self._psql(f"COPY {table} TO STDOUT (FORMAT csv)", out)

    def stop(self):
        if self.running:
            # -w: returns once the server has shut down
            self._run([_bin("pg_ctl"), "-D", self.data, "-m", "fast", "-w", "stop"], check=False)
            self.running = False
        shutil.rmtree(self.base, ignore_errors=True)
