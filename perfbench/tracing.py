"""Per-layer metrics of the traced run.

The agent (agent/Agent.java) snapshots its counters when the benchmark
drops a mark file, and writes every span when the server exits. The
layer window runs from mark 1 (before the layer probe) to mark 2 (after
the workload). Time units: the agent's span clock is the JVM's
System.nanoTime, which on Linux is CLOCK_MONOTONIC like the client's
time.monotonic_ns, so spans and client statements share one clock.
"""
import json
import os
import time

# (metric name, unit) in the order BENCHMARK.json lists them
METRICS = [
    ("server.session_setup_ms", "ms"), ("server.encode_ms", "ms"),
    ("server.encode_bytes", "bytes"), ("server.wire_ms", "ms"),
    ("server.copy_in_ms", "ms"), ("server.dml_ms", "ms"), ("server.catalog_ms", "ms"),
    ("plans.rewrite_ms", "ms"), ("engine.query_ms", "ms"),
    ("catalyst.parsing_ms", "ms"), ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"), ("exec.scheduler_delay_ms", "ms"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.input_bytes", "bytes"),
    ("exec.rows_read_per_row_returned", "ratio"), ("exec.empty_task_ratio", "ratio"),
    ("exec.slot_util", "ratio"), ("trace.overhead_ms", "ms"),
]


def mark(trace_path, k, timeout_s=30):
    """Ask the agent for snapshot k and wait for it."""
    open(f"{trace_path}.mark{k}", "w").close()
    snap = f"{trace_path}.snap{k}"
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(snap):
        if time.monotonic() > deadline:
            raise RuntimeError("tracing agent did not answer a snapshot mark")
        time.sleep(0.005)
    with open(snap) as f:
        return json.load(f)


def _union_ms(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e6


PHASES = ("parsing", "analysis", "optimization", "planning")


def hook_problems(s1, s2):
    """Why the layer readings cannot be trusted, or an empty list: the
    agent failed to instrument a class or found no target method, or a
    wrapped layer or a Catalyst phase had no call in the window. The
    layer probe and the workload call every one of them, so a layer at 0
    means its hook is broken (a renamed or moved method), not that the
    layer got faster."""
    out = [f"agent: {s2['errors']}"] if s2["errors"] else []
    out += [f"no call of {n} in the window" for n in s2["layers"]
            if s2["layers"][n]["calls"] == s1["layers"][n]["calls"]]
    out += [f"no time in catalyst phase {p}" for p in PHASES
            if s2["phases_ns"].get(p, 0) == s1["phases_ns"].get(p, 0)]
    return out


def layer_metrics(s1, s2, full, stats, nproc):
    """Metric dict from two snapshots, the final dump and the client's
    Stats of the layer window (probe + workload)."""
    L1, L2 = s1["layers"], s2["layers"]
    d = lambda name, key="total_ns": L2[name][key] - L1[name][key]
    e = lambda key: s2["exec"][key] - s1["exec"][key]
    ph = lambda p: (s2["phases_ns"].get(p, 0) - s1["phases_ns"].get(p, 0)) / 1e6
    lo, hi = s1["mono_ns"], s2["mono_ns"]
    window_ms = (hi - lo) / 1e6

    # session set-up, Engine.query, Catalyst phases and Spark jobs per
    # connection, as one union: client latency outside it and outside
    # encoding is socket, protocol and row iteration in the server JVM
    offset = full["mono_ns"] - full["epoch_ms"] * 1_000_000
    busy = {}
    for sp in full["spans"]:
        layer, pid, _stmt, t0, t1 = sp[:5]
        if layer in (1, 2, 3, 9, 10) and lo <= t0 and t1 <= hi:
            busy.setdefault(pid, []).append((t0, t1))
    for pid, a_ms, b_ms in full["jobs"]:
        a, b = a_ms * 1_000_000 + offset, b_ms * 1_000_000 + offset
        if lo <= a and b <= hi:
            busy.setdefault(pid, []).append((a, b))
    busy_ms = sum(_union_ms(v) for v in busy.values())
    encode_ms = d("server.encode") / 1e6
    latency_ms = sum(s.latency_ms for s in stats if s.latency_ms == s.latency_ms)
    rows = sum(s.rows for s in stats)
    calls = sum(L2[n]["calls"] - L1[n]["calls"] for n in L2)
    tasks = e("tasks")
    m = {
        "server.session_setup_ms": sum(d(n, "setup_ns") for n in (
            "server.new_session", "server.functions_reg", "server.tables_reg")) / 1e6,
        "server.encode_ms": encode_ms,
        "server.encode_bytes": d("server.encode", "bytes"),
        "server.wire_ms": max(0.0, latency_ms - busy_ms - encode_ms),
        "server.copy_in_ms": d("server.copy_in") / 1e6,
        "server.dml_ms": d("server.dml") / 1e6,
        "server.catalog_ms": d("server.catalog") / 1e6,
        "plans.rewrite_ms": d("plans.rewrite") / 1e6,
        "engine.query_ms": d("engine.query") / 1e6,
        **{f"catalyst.{p}_ms": ph(p) for p in PHASES},
        "exec.ms": e("job_ms"), "exec.jobs": e("jobs"), "exec.stages": e("stages"),
        "exec.tasks": tasks, "exec.task_run_ms": e("task_run_ms"),
        "exec.task_cpu_ms": e("task_cpu_ns") / 1e6, "exec.gc_ms": e("gc_ms"),
        "exec.scheduler_delay_ms": e("scheduler_delay_ms"),
        "exec.shuffle_write_bytes": e("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": e("shuffle_read_bytes"),
        "exec.spill_bytes": e("spill_bytes"), "exec.input_bytes": e("input_bytes"),
        "exec.rows_read_per_row_returned": e("input_records") / max(rows, 1),
        "exec.empty_task_ratio": e("empty_tasks") / max(tasks, 1),
        "exec.slot_util": e("task_run_ms") / (window_ms * nproc),
        "trace.overhead_ms": calls * s2["ns_per_call"] / 1e6,
    }
    self_ms = {n: d(n, "self_ns") / 1e6 for n in L2}
    extra = {"self_ms": self_ms, "calls": calls, "ns_per_call": s2["ns_per_call"],
             "client_latency_ms": latency_ms, "default_parallelism": s2["default_parallelism"],
             "problems": hook_problems(s1, s2)}
    return m, extra
