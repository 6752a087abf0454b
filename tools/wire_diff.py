#!/usr/bin/env python3
"""Byte-level wire diff of two builds of the server.

    python3 tools/wire_diff.py BUILD_A.json BUILD_B.json [SF_DIR]

Each BUILD_*.json is the build state perfbench writes for a checkout
(`.bench_build/perfbench/build-<hash>.json`: classpath, java options
and the SparkEntry.oracleSql texts). The script launches one
graft.server.ServerMain per build on the same data (default: the
perfbench sf0.01 parquet), then sends every oracle statement that
perfbench does not list as failing to both over one client, in the same
order, and compares the RowDescription, DataRow and CommandComplete
bytes. Rows whose order differs between the two runs (statements
without ORDER BY) are compared as multisets and reported separately.
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

    def query(self, sql):
        body = sql.encode() + b"\0"
        self.sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        return self.until_ready()


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    builds = [json.load(open(p)) for p in sys.argv[1:3]]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else server.SF001
    sql = builds[0]["oracle_sql"]
    names = [n for n in sorted(sql) if n not in workloads.KNOWN_FAILING]
    run_dir = tempfile.mkdtemp(prefix="wire_diff-", dir=server.WORK if os.path.isdir(server.WORK) else None)
    servers = [server.Server(b, sf_dir, os.path.join(run_dir, str(i))) for i, b in enumerate(builds)]
    try:
        for s in servers:
            s.wait_ready()
        conns = [Raw(s.port) for s in servers]
        same = reordered = 0
        differ = []
        for n in names:
            got = [[m for m in c.query(sql[n]) if m[0] in (b"T", b"D", b"C", b"E")] for c in conns]
            if got[0] == got[1]:
                same += 1
            elif sorted(got[0]) == sorted(got[1]):
                reordered += 1
            else:
                differ.append(n)
                a, b = got
                i = next((k for k in range(min(len(a), len(b))) if a[k] != b[k]), min(len(a), len(b)))
                print(f"DIFF {n}: {len(a)} vs {len(b)} messages, first at {i}: "
                      f"{a[i] if i < len(a) else None!r} / {b[i] if i < len(b) else None!r}")
        print(json.dumps({"statements": len(names), "identical": same,
                          "identical_as_multiset": reordered, "different": differ}))
        return 1 if differ else 0
    finally:
        for s in servers:
            s.stop()


if __name__ == "__main__":
    sys.exit(main())
