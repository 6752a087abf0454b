#!/usr/bin/env python3
"""Wire-path benchmark for graft: the shipped graft.server.ServerMain,
driven over the PostgreSQL wire protocol, every answer checked against
DuckDB on the same parquet files.

    python3 perfbench/run.py --workload analytic|bulk_io \\
        --seed N --seconds S --trace 0|1 [--full]

Run it from the root of a checkout; the first run builds the program
(sbt) and the tracing agent (javac). Each run starts fresh servers: with
--trace 0 it launches the server SETUP_LAUNCHES times (setup_s is the
median launch-to-first-SELECT-1) and runs the workload on the last one;
with --trace 1 it launches one server with the tracing agent, and
reports per-layer metrics instead. --full runs every oracle statement
once (analytic only) and names those that fail; it is a report, not a
benchmark run.

Output: readable lines, then as the last line one JSON object
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import oracle
import server
import tracing
import workloads

SETUP_LAUNCHES = 2
WORKLOADS = ("analytic", "bulk_io")
E2E = [("setup_s", "s"), ("throughput_qps", "1/s"), ("latency_gmean_ms", "ms"),
       ("first_row_ms_p50", "ms"), ("result_mb_s", "MB/s")]


def log(msg):
    print(msg, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def percentile(values, q):
    """Nearest-rank percentile; None when fewer than 10 samples lie
    beyond it (the sample cannot support it)."""
    v = sorted(values)
    if not v or len(v) * (1 - q) < 10:
        return None
    return v[min(len(v) - 1, int(q * len(v)))]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10, stdin=subprocess.DEVNULL).stdout.strip() or None
    except OSError:
        return None


def layer_probe(srv):
    """Traced runs only: one statement per write-side layer (COPY in,
    UPDATE, DELETE, catalog), so that every layer has a reading on every
    workload. Returns its Stats; they count as attempted."""
    conn = srv.connect(workloads.STATEMENT_TIMEOUT_S)
    ok = lambda res: None
    steps = [
        ("ddl", "DROP TABLE IF EXISTS bench_probe", None, ok),
        ("ddl", "CREATE TABLE bench_probe (k BIGINT, v BIGINT)", None, ok),
        ("ingest", "COPY bench_probe FROM STDIN (FORMAT csv)", [b"1,10\n2,20\n3,30\n"],
         lambda res: None if res.tag == "COPY 3" else f"tag {res.tag}"),
        ("write", "UPDATE bench_probe SET v = v + 1 WHERE k = 1", None,
         lambda res: None if res.tag == "UPDATE 1" else f"tag {res.tag}"),
        ("write", "DELETE FROM bench_probe WHERE k = 2", None,
         lambda res: None if res.tag == "DELETE 1" else f"tag {res.tag}"),
        ("read", workloads.CATALOG_PROBE, None, ok),
        ("read", "SELECT count(*) AS n, sum(v) AS s FROM bench_probe", None,
         workloads.expect_rows([("2", "41")])),
        ("ddl", "DROP TABLE bench_probe", None, ok),
    ]
    stats = []
    try:
        for kind, sql, data, check in steps:
            fn = (lambda c, s=sql, d=data: c.copy_in(s, d)) if data else (lambda c, s=sql: c.query(s))
            stats.append(workloads._run(conn, kind, "probe", fn, check))
    finally:
        conn.close()
    return workloads.settle(stats)


def end_to_end(stats, wall_s, setups):
    """The BENCHMARK.json metrics. Latency is a geometric mean: a run
    holds a few statement kinds whose latencies differ by 10x, so the
    median is the latency of whichever kind sits in the middle and
    swung 30% from run to run."""
    ok = [s for s in stats if s.ok]
    lat = [s.latency_ms for s in ok]
    first = [s.first_row_ms for s in ok if s.first_row_ms is not None]
    row_time_s = sum(s.latency_ms for s in ok if s.rows) / 1000.0
    return {
        "setup_s": statistics.median(setups),
        "throughput_qps": len(ok) / wall_s,
        "latency_gmean_ms": statistics.geometric_mean(lat),
        "first_row_ms_p50": statistics.median(first),
        "result_mb_s": sum(s.result_bytes for s in ok) / 1e6 / row_time_s,
    }


def report_extra(stats, rss_mb):
    """Metrics printed but not in BENCHMARK.json: the ingest rate applies
    to bulk_io only (every BENCHMARK.json metric must be reported by
    every workload), and the server's peak RSS (VmHWM) follows the JVM's
    heap growth, which spread 17-68% from run to run."""
    ok = [s for s in stats if s.ok]
    out = {"server_rss_mb": rss_mb,
           "error_rate": (len(stats) - len(ok)) / max(len(stats), 1),
           "latency_p50_ms": statistics.median(s.latency_ms for s in ok),
           "latency_p90_ms": percentile([s.latency_ms for s in ok], 0.9),
           "statements": len(stats)}
    ingest = [s for s in ok if s.kind == "ingest"]
    if ingest:
        out["ingest_mb_s"] = sum(s.sent_bytes for s in ingest) / 1e6 / (
            sum(s.latency_ms for s in ingest) / 1000.0)
    rows = [s for s in ok if s.rows]
    cpu = sum(s.client_cpu_ms for s in rows)
    busy = sum(s.latency_ms for s in rows)
    # the client is not the bottleneck when it spends well under the
    # statements' wall time on its own CPU
    out["client_cpu_share"] = cpu / busy if busy else 0.0
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="analytic: every oracle statement once, failures named")
    args = ap.parse_args()
    if args.full and args.workload != "analytic":
        ap.error("--full applies to the analytic workload")

    t_start = time.monotonic()
    info = server.build(log)
    run_dir = os.path.join(server.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    atexit.register(shutil.rmtree, run_dir, True)
    load_before = os.getloadavg()
    sf_dir = server.scaled_dir() if args.workload == "bulk_io" else server.SF001
    con = oracle.connect(sf_dir)

    # ---- inputs and expected answers, before any clock starts
    oracle_sql = info["oracle_sql"]
    if args.workload == "analytic":
        names = sorted(oracle_sql) if args.full else workloads.ANALYTIC
        expected = workloads.analytic_prepare(oracle_sql, con, names, server.WORK,
                                              server.tree_hash([server.SF001]))
    else:
        prep = workloads.bulk_io_prepare(con, args.seed)

    t_prep = time.monotonic()
    trace_path = os.path.join(run_dir, "trace.json") if args.trace else None
    launches = 1 if args.trace or args.full else SETUP_LAUNCHES
    setups, srv = [], None
    probe_stats = []
    try:
        for i in range(launches):
            srv = server.Server(info, sf_dir, run_dir, trace_path)
            setups.append(srv.wait_ready())
            if i < launches - 1:
                srv.stop(kill=True)
        t_ready = time.monotonic()
        c = srv.connect(workloads.STATEMENT_TIMEOUT_S)
        master = oracle.wire_rows(c.query("SELECT current_setting('spark.master') AS m"))[0][0]
        c.close()
        snaps = []

        def before_window():
            """Traced runs: snapshot the counters, then probe the layers."""
            if args.trace:
                snaps.append(tracing.mark(trace_path, 1))
                probe_stats.extend(layer_probe(srv))

        if args.workload == "analytic":
            if args.full:
                stats, wall = workloads.analytic(srv, args.seed, 0, oracle_sql, expected, names,
                                                 before_window, workloads.FULL_TIMEOUT_S,
                                                 warm_up=False)
            else:
                stats, wall = workloads.analytic(srv, args.seed, args.seconds, oracle_sql,
                                                 expected, names, before_window)
        else:
            stats, wall = workloads.bulk_io(srv, args.seed, args.seconds, con, prep, before_window)
        t_window = time.monotonic() - wall
        if args.trace:
            snaps.append(tracing.mark(trace_path, 2))
        rss_mb = srv.peak_rss_mb()
    finally:
        if srv is not None:
            srv.stop(kill=not args.trace)
    load_after = os.getloadavg()
    t_stop = time.monotonic()

    stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "nproc": nproc(), "spark_master": master,
             "xmx": srv.xmx, "loadavg_before": load_before, "loadavg_after": load_after,
             "git_commit": git_commit(), "source_sha256_16": info["source"],
             "sf_dir": os.path.relpath(sf_dir, server.ROOT), "setup_launches": launches}
    all_stats = probe_stats + workloads.settle(stats)
    failures = [s for s in all_stats if not s.ok]
    for s in failures:
        log(f"FAILED {s.kind} {s.name}: {(s.why or '')[:300]}")
    if args.full:
        failed_names = sorted({s.name for s in failures})
        log(f"full pass: {len(stats) - len(failures)}/{len(stats)} succeeded; "
            f"error_rate = {len(failures)}/{len(stats)}; failing: {', '.join(failed_names)}")
        known = sorted(workloads.KNOWN_FAILING)
        log(f"known failing on this commit: {', '.join(known)}"
            f" ({'same set' if failed_names == known else 'DIFFERENT set'})")

    trace_problems = []
    if args.trace:
        with open(trace_path) as f:
            full = json.load(f)
        metrics, extra = tracing.layer_metrics(snaps[0], snaps[1], full, all_stats, nproc())
        trace_problems = extra["problems"]
        stamp["default_parallelism"] = extra["default_parallelism"]
        shutil.copyfile(trace_path, os.path.join(server.WORK, f"trace-{args.workload}.json"))
        log(f"trace: {extra['calls']} instrumented calls at {extra['ns_per_call']:.0f} ns each; "
            f"overhead {metrics['trace.overhead_ms']:.1f} ms of "
            f"{extra['client_latency_ms']:.0f} ms client latency "
            f"({100 * metrics['trace.overhead_ms'] / max(extra['client_latency_ms'], 1e-9):.2f}%)")
        log("trace self time (ms): " + ", ".join(
            f"{k} {v:.1f}" for k, v in extra["self_ms"].items()))
        for p in trace_problems:
            log(f"TRACE BROKEN: {p}")
        units = dict(tracing.METRICS)
    else:
        metrics = end_to_end(stats, wall, setups)
        units = dict(E2E)
        for k, v in report_extra(stats, rss_mb).items():
            log(f"report {k} = {v}")
        for name in sorted({s.name for s in stats}):
            lat = [s.latency_ms for s in stats if s.name == name and s.ok]
            if lat:
                log(f"statement {name}: n={len(lat)} p50={statistics.median(lat):.1f} ms")
        log(f"setup launches (s): {', '.join(f'{s:.3f}' for s in setups)}")
    t_end = time.monotonic()
    log(f"timing (s): build+prep {t_prep - t_start:.1f}, launches {t_ready - t_prep:.1f}, "
        f"before window {t_window - t_ready:.1f}, window {wall:.1f}, "
        f"after window {t_stop - t_window - wall:.1f}, checks {t_end - t_stop:.1f}")
    log("stamp " + json.dumps(stamp))
    for k, v in metrics.items():
        log(f"metric {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failures and not trace_problems,
        "attempted": len(all_stats),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    # a SIGTERM unwinds like an error, so that the server is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
