"""The closed-loop runner shared by every workload.

A workload object provides:

- ``setup_rounds`` and ``load()``: build the inputs and load them; ``load``
  runs ``setup_rounds`` times and the median round counts toward ``setup_s``;
- ``warmup()``: untimed first executions of every op class;
- ``passes()``: an endless iterator of passes, each a list of ops; an op is a
  dict with ``cls`` and ``fn`` (``fn()`` runs it and returns its units of
  work); ``whole_passes`` says whether a run may stop inside a pass;
- ``check(ops)``: oracle verdicts for the executed ops, as
  ``(checks, mismatches, details)``;
- ``extras(trace)``: workload-specific figures for the report.
"""

from __future__ import annotations

import os
import signal
import statistics
import time

import envpin
import stats
import tracing

# Bounded metrics. The client's wall-clock latency and throughput move with
# the CPU a shared host steals (20-30 % run-to-run spreads measured on a
# 4-core VM), so they are reported unbounded, beside the per-layer metrics.
END_TO_END = ("setup_s", "cpu_ms_per_op")
UNITS = {
    "setup_s": "s", "cpu_ms_per_op": "ms",
    "client.latency_ms_p50": "ms", "client.throughput_ops_s": "1/s",
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s", "spark.exec_ms": "ms", "spark.jobs_per_op": "count",
    "trace.overhead_pct": "%", "store.version_rows_per_op": "count",
    "node.plan_cache_hit_ratio": "ratio", "operators.graph.cc_rounds": "count",
    "operators.dedup.planted_recall": "ratio", "operators.dedup.pair_precision": "ratio",
    "store.stored_bytes_per_user_byte": "ratio", "txlog.bytes_per_user_byte": "ratio",
    "docstore.bytes_per_user_byte": "ratio",
}
# per-layer self-time shares of the traced timed phase (span name -> metric)
SELF_SHARES = {
    "store.submit": "store.submit_pct", "store.commit": "store.commit_pct",
    "store.entity": "store.entity_pct", "store.history": "store.history_pct",
    "store.history_scan": "store.history_scan_pct", "txlog.append": "txlog.append_pct",
    "docstore.submit": "docstore.submit_pct", "node.await": "node.await_pct",
    "node.catalog": "node.catalog_pct", "datalog.compile": "datalog.compile_pct",
    "datalog.pull": "datalog.pull_pct", "sql.sql_q": "sql.sql_q_pct",
    "spark.exec": "spark.exec_pct",
}
# benchmark-made stage spans: inclusive shares (their Spark work is inside)
STAGE_SHARES = {
    "operators.textops.analyze": "operators.textops.analyze_pct",
    "operators.dedup.exact": "operators.dedup.exact_pct",
    "operators.dedup.minhash_lsh": "operators.dedup.minhash_lsh_pct",
    "operators.graph.components": "operators.graph.components_pct",
}
PER_LAYER = (
    ["client.latency_ms_p50", "client.throughput_ops_s", "session.start_s",
     "memory.peak_rss_mb", "spark.exec_ms", "spark.jobs_per_op", "trace.overhead_pct"]
    + list(SELF_SHARES.values()) + ["store.bulk_ingest_setup_pct"] + list(STAGE_SHARES.values())
    + ["store.version_rows_per_op", "node.plan_cache_hit_ratio", "operators.graph.cc_rounds",
       "operators.dedup.planted_recall", "operators.dedup.pair_precision",
       "store.stored_bytes_per_user_byte", "txlog.bytes_per_user_byte",
       "docstore.bytes_per_user_byte"]
)
for _m in PER_LAYER:
    UNITS.setdefault(_m, "%" if _m.endswith("_pct") else "ratio")


class Ctx:
    """What a workload sees of the run: arguments, paths, session, tracer."""

    def __init__(self, args, workdir: str, tracer: tracing.Tracer):
        self.seed = args.seed
        self.scale = args.scale
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.tracer = tracer
        self.spark = None

    def path(self, *parts) -> str:
        p = os.path.join(self.workdir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def jobs(self) -> int:
        """Spark job ids handed out so far (the next job id)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def proc_age_s() -> float:
    """Seconds since this process started (from /proc; 0 if unavailable)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def cpu_s(pids) -> float:
    """CPU seconds (user + system, own and reaped children) of the processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def timed_phase(ctx: Ctx, wl, seconds: float) -> dict:
    lat: dict[str, list[float]] = {}
    jobs: dict[str, int] = {}
    ops: list[dict] = []
    work = 0.0
    exceptions = 0
    pids = {os.getpid()} | _descendants(os.getpid())
    cpu0, (steal0, total0) = cpu_s(pids), host_ticks()
    t0 = time.perf_counter()
    deadline = t0 + seconds
    done = False
    n_passes = 0
    for pass_ops in wl.passes():
        for op in pass_ops:
            ctx.tracer.request = len(ops)
            j0 = ctx.jobs()
            a = time.perf_counter()
            with ctx.tracer.span(f"op.{op['cls']}"):
                try:
                    work += op["fn"]()
                except Exception as e:  # counted, reported, never fatal
                    op["error"] = repr(e)
                    exceptions += 1
            op["s"] = time.perf_counter() - a
            op["jobs"] = ctx.jobs() - j0
            lat.setdefault(op["cls"], []).append(op["s"])
            jobs[op["cls"]] = jobs.get(op["cls"], 0) + op["jobs"]
            ops.append(op)
            if time.perf_counter() >= deadline and not wl.whole_passes:
                done = True
                break
        n_passes += 1
        now = time.perf_counter()
        # whole passes: stop at the pass boundary nearest the deadline
        if done or now >= deadline or (
            wl.whole_passes and now + (now - t0) / n_passes / 2 >= deadline
        ):
            break
    elapsed = time.perf_counter() - t0
    pids |= _descendants(os.getpid())
    cpu = cpu_s(pids) - cpu0
    steal1, total1 = host_ticks()
    all_s = [op["s"] for op in ops]
    head = getattr(wl, "latency_classes", None)
    head_s = [op["s"] for op in ops if head is None or op["cls"] in head]
    return {
        "t0": t0, "t1": t0 + elapsed, "elapsed_s": elapsed, "ops": ops, "work": work,
        "exceptions": exceptions,
        "throughput_ops_s": work / elapsed,
        "cpu_ms_per_op": 1000.0 * cpu / max(1, len(ops)),
        "host_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "latency_ms": {k: _ms(stats.summary(v)) for k, v in sorted(lat.items())},
        "latency_ms_all": _ms(stats.summary(all_s)),
        "latency_ms_headline": _ms(stats.summary(head_s)),
        "jobs_per_op": {k: jobs[k] / len(lat[k]) for k in sorted(lat)},
    }


def _ms(s: dict) -> dict:
    return {k: (v * 1000 if isinstance(v, float) and k != "n" else v) for k, v in s.items()}


def layer_metrics(spans: list[dict], phase: dict, setup_spans: list[dict], setup_wall: float):
    wall = phase["elapsed_s"]
    n_ops = max(1, len(phase["ops"]))
    tot = tracing.layer_totals(spans)
    out = {}
    for name, metric in SELF_SHARES.items():
        out[metric] = 100.0 * tot.get(name, {}).get("self_s", 0.0) / wall
    for name, metric in STAGE_SHARES.items():
        out[metric] = 100.0 * tot.get(name, {}).get("total_s", 0.0) / wall
    out["spark.exec_ms"] = 1000.0 * tot.get("spark.exec", {}).get("total_s", 0.0) / n_ops
    out["spark.jobs_per_op"] = sum(op["jobs"] for op in phase["ops"]) / n_ops
    q_calls = tot.get("node.q", {}).get("calls", 0)
    compiles = sum(
        1 for s in spans
        if s["name"] == "datalog.compile" and s["parent"] is not None
        and spans[s["parent"]]["name"] == "node.q"
    )
    out["node.plan_cache_hit_ratio"] = (1.0 - compiles / q_calls) if q_calls else 0.0
    stot = tracing.layer_totals(setup_spans)
    out["store.bulk_ingest_setup_pct"] = (
        100.0 * stot.get("store.bulk_ingest", {}).get("total_s", 0.0) / setup_wall
    )
    return out, {k: v for k, v in sorted(tot.items())}, q_calls


def _descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                kids.setdefault(ppid, []).append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM gateway and every process they started, and
    wait for each to end."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.time() + 20
        for sig in (signal.SIGTERM, signal.SIGKILL):
            while any(_alive(p) for p in procs) and time.time() < deadline:
                time.sleep(0.1)
            for p in procs:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.time() + 10
        for p in procs:  # reap our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except OSError:
                pass


def run(args, t_proc0: float, workdir: str, outdir: str, env: dict) -> tuple[dict, dict]:
    import workloads

    tracer = tracing.Tracer()
    ctx = Ctx(args, workdir, tracer)
    if args.trace:
        tracer.install()
        tracer.enabled = True
    from crux_spark import get_spark

    a = time.perf_counter()
    ctx.spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - a
    age0 = proc_age_s() - (time.perf_counter() - t_proc0)
    t_ready = time.perf_counter()
    try:
        wl = workloads.make(args.workload, ctx)
        loads = []
        for _ in range(wl.setup_rounds):
            a = time.perf_counter()
            wl.load()
            loads.append(time.perf_counter() - a)
        a = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - a
        setup_s = max(0.0, age0) + (t_ready - t_proc0) + statistics.median(loads) + warm_s
        setup_wall = max(0.0, age0) + (time.perf_counter() - t_proc0)
        setup_spans = tracer.window(t_proc0, time.perf_counter())
        tracer.enabled = False
        plain = timed_phase(ctx, wl, args.seconds)
        traced = None
        if args.trace:
            tracer.enabled = True
            traced = timed_phase(ctx, wl, args.seconds)
            tracer.enabled = False
        all_ops = plain["ops"] + (traced["ops"] if traced else [])
        t_timed = time.perf_counter()
        checks, mismatches, details = wl.check(all_ops)
        extras = wl.extras(bool(args.trace))
        t_checked = time.perf_counter()
        jvm_pid = int(ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        peak_rss_mb = envpin.vm_hwm_mb(os.getpid()) + envpin.vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(ctx.spark)
        tracer.uninstall()
    t_stopped = time.perf_counter()

    exceptions = plain["exceptions"] + (traced["exceptions"] if traced else 0)
    attempted = len(all_ops) + wl.state_checks
    failed = exceptions + mismatches
    e2e = {"setup_s": setup_s, "cpu_ms_per_op": plain["cpu_ms_per_op"]}
    client = {
        "client.latency_ms_p50": plain["latency_ms_headline"]["p50"],
        "client.throughput_ops_s": plain["throughput_ops_s"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "env": env,
        "setup": {"session_start_s": session_start_s, "load_rounds_s": loads, "warmup_s": warm_s},
        "clock_s": {"timed_end": t_timed - t_proc0, "checked": t_checked - t_proc0,
                    "stopped": t_stopped - t_proc0},
        "timed": _phase_report(plain),
        "end_to_end": e2e,
        "client": client,
        "memory.peak_rss_mb": peak_rss_mb,
        "error_rate": failed / max(1, attempted),
        "exceptions": exceptions, "oracle_checks": checks, "oracle_mismatches": mismatches,
        "oracle_details": details[:20],
        "errors": [op["error"] for op in all_ops if "error" in op][:20],
        "extras": extras,
    }
    metrics = dict(e2e)
    if args.trace:
        spans = tracer.window(traced["t0"], traced["t1"])
        layers, totals, q_calls = layer_metrics(spans, traced, setup_spans, setup_wall)
        layers.update(client)
        layers["session.start_s"] = session_start_s
        layers["memory.peak_rss_mb"] = peak_rss_mb
        layers["trace.overhead_pct"] = 100.0 * (
            traced["latency_ms_headline"]["p50"] / plain["latency_ms_headline"]["p50"] - 1.0
        )
        for k in ("store.version_rows_per_op", "operators.graph.cc_rounds",
                  "operators.dedup.planted_recall", "operators.dedup.pair_precision",
                  "store.stored_bytes_per_user_byte", "txlog.bytes_per_user_byte",
                  "docstore.bytes_per_user_byte"):
            layers[k] = float(extras.get(k, 0.0))
        report["traced"] = _phase_report(traced)
        report["per_layer"] = layers
        report["layer_totals_s"] = totals
        report["node_q_calls"] = q_calls
        metrics = {k: layers[k] for k in PER_LAYER}
        tracer.dump(os.path.join(outdir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    line = {
        "correct": failed == 0 and checks > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()},
    }
    return report, line


def _phase_report(p: dict) -> dict:
    return {
        "elapsed_s": p["elapsed_s"], "ops": len(p["ops"]), "work": p["work"],
        "throughput_ops_s": p["throughput_ops_s"], "cpu_ms_per_op": p["cpu_ms_per_op"],
        "host_steal_pct": p["host_steal_pct"], "latency_ms": p["latency_ms"],
        "latency_ms_all": p["latency_ms_all"], "latency_ms_headline": p["latency_ms_headline"],
        "jobs_per_op": p["jobs_per_op"],
    }
