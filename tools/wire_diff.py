#!/usr/bin/env python3
"""Byte-level wire diff of two builds of the server.

    python3 tools/wire_diff.py [--extended] [--corpus TSV] BUILD_A.json BUILD_B.json [SF_DIR]

Each BUILD_*.json is the build state perfbench writes for a checkout
(`.bench_build/perfbench/build-<hash>.json`: classpath, java options
and the SparkEntry.oracleSql texts). The script launches one
graft.server.ServerMain per build on the same data (default: the
perfbench sf0.01 parquet), then sends every oracle statement that
perfbench does not list as failing to both over one client, in the same
order, and compares the RowDescription, DataRow and CommandComplete
bytes. With --extended, B gets each statement as one unnamed
Parse/Bind/Describe/Execute/Sync round trip instead of a Query, and its
bytes must still match A's simple-query bytes. Rows whose order differs
between the two runs (statements without ORDER BY, or ties under one)
are compared as multisets and reported separately, each by name.

With --corpus TSV (tools/conformance_corpus.tsv or
tools/semantics_corpus.tsv) the statements are the file's third column
instead, in file order, setup and DDL included, each named by its first
column and line. An ErrorResponse is then compared by its SQLSTATE
only: error messages carry plan ids that differ from run to run.
Run it from the root of a checkout; exit status 1 on any difference.
"""
import json
import os
import socket
import struct
import sys
import tempfile

ROOT = os.getcwd()
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import server  # noqa: E402
import workloads  # noqa: E402


class Raw:
    """pg v3 client that keeps every backend message as raw bytes."""

    def __init__(self, port):
        self.sock = socket.create_connection(("127.0.0.1", port), 30)
        self.sock.settimeout(600)
        self.f = self.sock.makefile("rb")
        body = (struct.pack("!i", 196608) + b"user\0diff\0database\0main\0\0")
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self.until_ready()

    def until_ready(self):
        out = []
        while True:
            t = self.f.read(1)
            (n,) = struct.unpack("!i", self.f.read(4))
            out.append((t, self.f.read(n - 4)))
            if t == b"Z":
                return out

    def frame(self, t, body):
        return t + struct.pack("!i", len(body) + 4) + body

    def query(self, sql):
        self.sock.sendall(self.frame(b"Q", sql.encode() + b"\0"))
        return self.until_ready()

    def extended(self, sql):
        """unnamed statement and portal, no parameters, text results"""
        self.sock.sendall(
            self.frame(b"P", b"\0" + sql.encode() + b"\0" + struct.pack("!h", 0)) +
            self.frame(b"B", b"\0\0" + struct.pack("!hhh", 0, 0, 0)) +
            self.frame(b"D", b"P\0") +
            self.frame(b"E", b"\0" + struct.pack("!i", 0)) +
            self.frame(b"S", b""))
        return self.until_ready()


def corpus_statements(path):
    """(name, sql) of each statement line of a probe corpus TSV"""
    out = []
    with open(path, encoding="utf-8") as f:
        for n, line in enumerate(f, 1):
            parts = line.rstrip("\n").split("\t", 2)
            if len(parts) == 3 and not parts[0].startswith("--"):
                out.append((f"{parts[0]}@{n}", parts[2]))
    return out


def sqlstate(body):
    """the SQLSTATE field of an ErrorResponse body"""
    for field in body.split(b"\0"):
        if field[:1] == b"C":
            return field[1:]
    return b""


def main():
    argv = sys.argv[1:]
    corpus = None
    if "--corpus" in argv:
        k = argv.index("--corpus")
        corpus = argv[k + 1]
        del argv[k:k + 2]
    args = [a for a in argv if a != "--extended"]
    if len(args) < 2:
        sys.exit(__doc__)
    builds = [json.load(open(p)) for p in args[:2]]
    sf_dir = args[2] if len(args) > 2 else server.SF001
    if corpus:
        stmts = corpus_statements(corpus)
    else:
        sql = builds[0]["oracle_sql"]
        stmts = [(n, sql[n]) for n in sorted(sql) if n not in workloads.KNOWN_FAILING]
    kept = (lambda t, body: (t, sqlstate(body)) if corpus and t == b"E" else (t, body))
    run_dir = tempfile.mkdtemp(prefix="wire_diff-", dir=server.WORK if os.path.isdir(server.WORK) else None)
    servers = [server.Server(b, sf_dir, os.path.join(run_dir, str(i))) for i, b in enumerate(builds)]
    try:
        for s in servers:
            s.wait_ready()
        conns = [Raw(s.port) for s in servers]
        runs = [conns[0].query, conns[1].extended if "--extended" in argv else conns[1].query]
        same = 0
        reordered, differ = [], []
        for n, text in stmts:
            got = [[kept(*m) for m in run(text) if m[0] in (b"T", b"D", b"C", b"E")]
                   for run in runs]
            if got[0] == got[1]:
                same += 1
                continue
            a, b = got
            i = next((k for k in range(min(len(a), len(b))) if a[k] != b[k]), min(len(a), len(b)))
            if sorted(a) == sorted(b):
                reordered.append(n)
                print(f"REORDERED {n}: the same {len(a)} messages, in another order from message {i}")
            else:
                differ.append(n)
                print(f"DIFF {n}: {len(a)} vs {len(b)} messages, first at {i}: "
                      f"{a[i] if i < len(a) else None!r} / {b[i] if i < len(b) else None!r}")
        print(json.dumps({"statements": len(stmts), "identical": same,
                          "identical_as_multiset": len(reordered), "reordered": reordered,
                          "different": differ}))
        return 1 if differ else 0
    finally:
        for s in servers:
            s.stop()


if __name__ == "__main__":
    sys.exit(main())
