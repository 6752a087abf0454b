"""Build the checkout, prepare the data, and run graft.server.ServerMain.

The server is launched the way ``sbt runMain graft.server.ServerMain``
launches it (the build's own classpath and run/javaOptions), but from a
plain ``java`` command so that sbt's start-up is not part of set-up time.
Everything the benchmark writes stays under ``.bench_build/perfbench``.
"""
import hashlib
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

import pgclient

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# Heap the server runs with. build.sbt reads it from SPARK_DRIVER_MEM
# (8g when unset); pinned so that runs on any host compare.
SERVER_HEAP = "4g"
SF001 = os.path.join(HERE, "data", "sf0.01")
# keeps every JVM from writing its hsperfdata file outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, files in os.walk(base):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(log):
    """Compile the program and the tracing agent once per source state;
    returns {classpath, java_options, agent_jar, oracle_sql, source}."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(build.sbt and src/main/scala not found)")
    src = tree_hash([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                     os.path.join(ROOT, "project", "build.properties"),
                     os.path.join(HERE, "agent")])
    state = os.path.join(WORK, f"build-{src}.json")
    if os.path.exists(state):
        with open(state) as f:
            return json.load(f)
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=SERVER_HEAP)
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J" + NO_PERF_DATA, "compile",
         "export Runtime/fullClasspath", "print Compile/run/javaOptions"],
        cwd=ROOT, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        sys.exit("perfbench: sbt build failed")
    lines = out.stdout.splitlines()
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    cp = [ln for ln in lines if ln.startswith(classes)][-1].strip()
    opts = [ln[2:].strip() for ln in lines if ln.startswith("* ")]
    log(f"build: sbt compile {time.time() - t0:.1f} s")

    jar = _build_agent(cp, os.path.join(WORK, f"agent-{src}"))
    dump = subprocess.run(
        ["java", NO_PERF_DATA, "-cp", cp + os.pathsep + jar, "perfbench.DumpSql"],
        check=True, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=300)
    oracle_sql = json.loads(dump.stdout)
    info = {"classpath": cp, "java_options": opts, "agent_jar": jar,
            "oracle_sql": oracle_sql, "source": src}
    with open(state + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(state + ".tmp", state)
    log(f"build: done in {time.time() - t0:.1f} s")
    return info


def _build_agent(cp, out_dir):
    """javac + jar of agent/*.java (the tracing agent, its listeners and
    DumpSql) against the program's classpath; returns the jar."""
    shutil.rmtree(out_dir, ignore_errors=True)
    classes = os.path.join(out_dir, "classes")
    os.makedirs(classes)
    agent_src = os.path.join(HERE, "agent")
    sources = sorted(os.path.join(agent_src, f) for f in os.listdir(agent_src) if f.endswith(".java"))
    subprocess.run(["javac", "-J" + NO_PERF_DATA, "-nowarn", "-cp", cp, "-d", classes] + sources,
                   check=True, stdin=subprocess.DEVNULL, timeout=300)
    manifest = os.path.join(out_dir, "MANIFEST.MF")
    with open(manifest, "w") as f:
        f.write("Premain-Class: perfbench.Agent\n")
    jar = os.path.join(out_dir, "agent.jar")
    subprocess.run(["jar", "-J" + NO_PERF_DATA, "cfm", jar, manifest, "-C", classes, "."],
                   check=True, stdin=subprocess.DEVNULL, timeout=120)
    return jar


def scaled_dir():
    """sf0.1-sized tables for bulk_io: lineitem, orders and events are
    the sf0.01 files replicated 10x with disjoint keys (600k, 150k and
    100k rows); the small tables are copied as they are."""
    out = os.path.join(WORK, "data", "sf0.01x10")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    os.makedirs(out, exist_ok=True)
    keys = {"lineitem": ["l_orderkey"], "orders": ["o_orderkey"], "events": ["event_id"]}
    for f in sorted(os.listdir(SF001)):
        name = f[:-len(".parquet")]
        if name not in keys:
            shutil.copyfile(os.path.join(SF001, f), os.path.join(out, f))
            continue
        t = pq.read_table(os.path.join(SF001, f))
        parts = []
        for k in range(10):
            p = t
            for col in keys[name]:
                i = p.schema.get_field_index(col)
                p = p.set_column(i, col, pc.add(p.column(col), pa.scalar(k * 10_000_000, p.schema.field(col).type)))
            parts.append(p)
        pq.write_table(pa.concat_tables(parts), os.path.join(out, f))
    open(os.path.join(out, "DONE"), "w").close()
    return out


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One ServerMain process. ``trace_path`` turns on the tracing agent
    and its SparkListener (the traced run only)."""

    def __init__(self, build_info, sf_dir, run_dir, trace_path=None):
        self.port = free_port()
        self.run_dir = run_dir
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java"] + build_info["java_options"] + [NO_PERF_DATA, f"-Djava.io.tmpdir={tmp}"]
        if trace_path:
            cmd += [f"-javaagent:{build_info['agent_jar']}={trace_path}",
                    "-Dspark.extraListeners=perfbench.ExecListener"]
        cmd += ["-cp", build_info["classpath"], "graft.server.ServerMain",
                str(self.port), sf_dir]
        self.xmx = next((o for o in build_info["java_options"] if o.startswith("-Xmx")), "")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        self.log_path = os.path.join(run_dir, f"server-{self.port}.log")
        self.t_launch = time.monotonic()
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                         stdout=log, stderr=subprocess.STDOUT)

    def wait_ready(self, timeout_s=150):
        """Seconds from launch to the first answered SELECT 1."""
        deadline = self.t_launch + timeout_s
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}; see {self.log_path}")
            try:
                c = pgclient.Conn("127.0.0.1", self.port, timeout_s=60, connect_timeout_s=5)
            except OSError:
                time.sleep(0.05)
                continue
            try:
                r = c.query("SELECT 1")
            finally:
                c.close()
            if r.error is None and r.nrows == 1:
                return time.monotonic() - self.t_launch
            raise RuntimeError(f"SELECT 1 failed: {r.error}")
        raise RuntimeError(f"server not ready after {timeout_s} s; see {self.log_path}")

    def connect(self, timeout_s):
        return pgclient.Conn("127.0.0.1", self.port, timeout_s=timeout_s)

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def stop(self, kill=False):
        """SIGTERM (the tracing agent writes its spans on exit), or
        SIGKILL for a launch that only measured set-up."""
        if self.proc.poll() is None and kill:
            self.proc.kill()
            self.proc.wait()
        elif self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
