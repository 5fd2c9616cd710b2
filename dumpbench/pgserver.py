"""A throwaway local PostgreSQL for the pg_export workload.

Started the way deploy/smoke.sh starts one: initdb with trust auth, pg_ctl
on a free localhost port with fsync off, commands run as the `postgres` user
when the benchmark runs as root (the server refuses to run as root). The
data directory sits in the run's work directory when that user can write
there; otherwise (a checkout under a private home directory) in a private
temporary directory that stop() removes.
"""
import io
import os
import pwd
import shutil
import socket
import subprocess
import tempfile

import pyarrow.csv as pacsv

BIN_DIRS = ["/usr/lib/postgresql/15/bin", "/usr/lib/postgresql/16/bin",
            "/usr/lib/postgresql/14/bin"]
USER = "graft"
DATABASE = "postgres"


def _bin_dir():
    for d in BIN_DIRS:
        if os.access(os.path.join(d, "initdb"), os.X_OK):
            return d
    found = shutil.which("initdb")
    if found:
        return os.path.dirname(os.path.realpath(found))
    raise SystemExit("pg_export needs PostgreSQL server binaries (initdb, pg_ctl)")


def _free_port():
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


class Server:
    def __init__(self, workdir):
        self.bin = _bin_dir()
        self.as_root = os.geteuid() == 0
        self.port = _free_port()
        self.private_root = None
        root = os.path.join(workdir, "pg")
        if self.as_root:
            pw = pwd.getpwnam("postgres")
            if not self._postgres_can_write(workdir):
                root = tempfile.mkdtemp(prefix="dumpbench_pg_")
                self.private_root = root
            os.makedirs(root, exist_ok=True)
            os.chown(root, pw.pw_uid, pw.pw_gid)
        else:
            os.makedirs(root, exist_ok=True)
        self.root = root
        self.data = os.path.join(root, "data")
        self.started = False

    def _postgres_can_write(self, path):
        return subprocess.run(["su", "-s", "/bin/sh", "postgres", "-c",
                               f"test -w '{path}' && test -x '{path}'"]).returncode == 0

    def _run(self, cmd):
        if self.as_root:
            argv = ["su", "-s", "/bin/sh", "postgres", "-c", f"cd / && {cmd}"]
        else:
            argv = ["sh", "-c", cmd]
        proc = subprocess.run(argv, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"{cmd}: {proc.stdout[-2000:]}")

    def start(self):
        self._run(f"{self.bin}/initdb -D {self.data} --auth=trust --auth-host=trust "
                  f"-U {USER} -E UTF8 >/dev/null")
        self._run(f"{self.bin}/pg_ctl -D {self.data} -w -t 30 -l {self.root}/log "
                  f"-o \"-p {self.port} -k {self.root} -c listen_addresses=127.0.0.1 "
                  f"-c fsync=off -c synchronous_commit=off -c full_page_writes=off\" "
                  f"start >/dev/null")
        self.started = True

    def psql(self, sql=None, stdin=None, csv_out=False):
        cmd = ["psql", "-h", "127.0.0.1", "-p", str(self.port), "-U", USER, "-d", DATABASE,
               "-v", "ON_ERROR_STOP=1", "-q", "-X"]
        if csv_out:
            cmd.append("--csv")
        if sql is not None:
            cmd += ["-c", sql]
        proc = subprocess.run(cmd, input=stdin, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            raise RuntimeError(f"psql failed: {proc.stderr[-2000:]}")
        return proc.stdout

    def load(self, tables):
        """Creates and fills every table: name -> (DDL, pyarrow table)."""
        for name, (ddl, table) in tables.items():
            self.psql(ddl)
            buf = io.BytesIO()
            pacsv.write_csv(table, buf, pacsv.WriteOptions(include_header=False))
            self.psql(f"\\copy {name} FROM STDIN WITH (FORMAT csv)",
                      stdin=buf.getvalue().decode())
        self.psql("ANALYZE")

    def query_csv(self, sql):
        return self.psql(sql, csv_out=True)

    def jdbc(self):
        return {"host": "127.0.0.1", "port": self.port, "database": DATABASE,
                "user": USER, "password": "trust"}

    def stop(self):
        try:
            if self.started:
                self._run(f"{self.bin}/pg_ctl -D {self.data} -m immediate -w stop >/dev/null")
        finally:
            if self.private_root:
                shutil.rmtree(self.private_root, ignore_errors=True)


def start(workdir):
    server = Server(workdir)
    try:
        server.start()
    except BaseException:
        server.stop()
        raise
    return server
