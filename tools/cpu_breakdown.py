"""Where a perfbench workload's CPU goes: per op class, per process and
per JVM thread group.

Builds a perfbench workload in-process from perfbench's own modules
(unchanged), runs its load rounds and warm-up, then ``--passes`` passes,
and prints:

  - CPU per op of each op class, split into this Python process, the
    JVM and the JVM's children (Python workers), with Spark jobs per op;
  - JVM CPU by thread group: executor tasks, py4j (driver-side planning
    on the py4j connection threads), C1 and C2 compiler threads, GC,
    the VM thread and the rest. ``/proc/<jvm pid>/task`` is sampled every
    ``--sample-ms`` (20 ms), so compiler threads that exit mid-pass
    still count up to their last sample;
  - HotSpot compilation time per op, from the CompilationMXBean.

CPU is read from ``/proc`` for this process, the JVM, the JVM's
threads and the JVM's descendants only. To find the descendants it reads
the parent-pid field of every ``/proc/<pid>/stat`` it can see, since
``/proc/<pid>/task/<tid>/children`` needs a kernel built with
CONFIG_PROC_CHILDREN. The sampler's own CPU is reported apart and taken
out of the Python figure.

Usage (from the repo root, so Python workers import this checkout):
    python tools/cpu_breakdown.py --workload serve|dedup_pipeline
        [--seed 1] [--passes 8] [--scale 1.0] [--sample-ms 20]
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [BENCH, ROOT]

TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
GROUPS = ("executor", "py4j", "c1", "c2", "gc", "vm", "other")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _ticks(fields: list[str], children: bool = False) -> int:
    """utime + stime (+ reaped children's cutime + cstime) in ticks."""
    return sum(int(x) for x in fields[11:15 if children else 13])


def thread_group(name: str) -> str:
    """HotSpot and Spark thread names, truncated to 15 chars by the kernel."""
    if name.startswith("Executor task"):
        return "executor"
    if name.startswith("C2 Compiler"):
        return "c2"
    if name.startswith("C1 Compiler"):
        return "c1"
    if name.startswith(("GC Thread", "G1 ", "GC ")):
        return "gc"
    if name.startswith("VM Thread"):
        return "vm"
    if name.startswith("Thread-"):  # py4j connection threads
        return "py4j"
    return "other"


class ThreadSampler(threading.Thread):
    """Per-group CPU ticks of one process's threads, summed from the
    first sample on. A thread first seen after the start counts from 0;
    a thread that exits keeps its last sampled ticks."""

    def __init__(self, pid: int, every_s: float):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.lock = threading.Lock()
        self.base: dict[int, int] = {}
        self.last: dict[int, tuple[str, int]] = {}
        self.stop_ev = threading.Event()
        self.own_cpu_s = 0.0
        self._sample(initial=True)

    def _sample(self, initial: bool = False) -> None:
        task = f"/proc/{self.pid}/task"
        seen = {}
        for tid in os.listdir(task):
            try:
                name, fields = _stat(f"{task}/{tid}/stat")
            except (OSError, ValueError, IndexError):
                continue  # exited between listdir and read
            seen[int(tid)] = (name, _ticks(fields))
        with self.lock:
            for tid, (name, t) in seen.items():
                if initial:
                    self.base[tid] = t
                self.last[tid] = (name, t)

    def run(self) -> None:
        c0 = time.thread_time()
        while not self.stop_ev.wait(self.every_s):
            try:
                self._sample()
            except OSError:
                break
            self.own_cpu_s = time.thread_time() - c0

    def totals(self) -> dict[str, float]:
        """ms of CPU per group since the first sample, after a fresh one."""
        self._sample()
        out = dict.fromkeys(GROUPS, 0.0)
        with self.lock:
            for tid, (name, t) in self.last.items():
                out[thread_group(name)] += (t - self.base.get(tid, 0)) * TICK_MS
        return out


def descendants(pid: int) -> set[int]:
    """Every live descendant of ``pid``, from the parent pid of each
    visible process."""
    kids: dict[int, list[int]] = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids[int(_stat(f"/proc/{d}/stat")[1][1])].append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    out, todo = set(), [pid]
    while todo:
        for c in kids[todo.pop()]:
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def proc_ms(pids, children: bool) -> float:
    total = 0
    for pid in pids:
        try:
            total += _ticks(_stat(f"/proc/{pid}/stat")[1], children)
        except (OSError, ValueError, IndexError):
            pass
    return total * TICK_MS


class Meter:
    """CPU (ms) of this process, the JVM, the JVM's descendants, and per
    JVM thread group, plus compilation ms and Spark jobs, read at once."""

    def __init__(self, spark, sampler: ThreadSampler, jvm_pid: int):
        self.spark, self.sampler, self.jvm_pid = spark, sampler, jvm_pid
        jvm = spark.sparkContext._jvm
        self.comp = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self.sched = spark.sparkContext._jsc.sc().dagScheduler()

    def read(self) -> dict[str, float]:
        me = os.getpid()
        kids = descendants(self.jvm_pid)
        r = {
            "py": proc_ms([me], False) - 1000.0 * self.sampler.own_cpu_s,
            "jvm": proc_ms([self.jvm_pid], False),
            # workers' own CPU plus what the JVM and they have reaped
            "children": proc_ms(kids, True)
            + proc_ms([self.jvm_pid], True) - proc_ms([self.jvm_pid], False),
            "compile": float(self.comp.getTotalCompilationTime()),
            "jobs": float(self.sched.nextJobId()),
            "sampler": 1000.0 * self.sampler.own_cpu_s,
        }
        r.update({f"t.{g}": v for g, v in self.sampler.totals().items()})
        return r


def fmt_row(label: str, n: int, d: dict[str, float]) -> str:
    per = {k: v / max(1, n) for k, v in d.items()}
    cpu = per["py"] + per["jvm"] + per["children"]
    groups = " ".join(f"{per['t.' + g]:7.0f}" for g in GROUPS)
    return (f"{label:18s} {n:4d} {cpu:8.0f} {per['py']:7.0f} {per['jvm']:7.0f} "
            f"{per['children']:7.0f} {per['jobs']:6.2f} {per['compile']:8.0f}  {groups}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=8)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--sample-ms", type=float, default=20.0)
    args = ap.parse_args(argv)

    import envpin

    workdir = tempfile.mkdtemp(prefix="cpu_breakdown-")
    envpin.pin(ROOT, workdir)
    import harness
    import tracing
    import workloads

    from crux_spark import get_spark

    ctx = harness.Ctx(argparse.Namespace(seed=args.seed, scale=args.scale, trace=0),
                      workdir, tracing.Tracer())
    ctx.spark = get_spark("perfbench")
    try:
        wl = workloads.make(args.workload, ctx)
        t = time.perf_counter()
        for _ in range(wl.setup_rounds):
            wl.load()
        wl.warmup()
        print(f"load + warm-up: {time.perf_counter() - t:.1f} s", flush=True)

        jvm_pid = int(ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        sampler = ThreadSampler(jvm_pid, args.sample_ms / 1000.0)
        sampler.start()
        meter = Meter(ctx.spark, sampler, jvm_pid)
        by_cls: dict[str, dict[str, float]] = {}
        count: collections.Counter = collections.Counter()
        total: dict[str, float] = collections.defaultdict(float)
        ops = []
        start = meter.read()
        t = time.perf_counter()
        for _, pass_ops in zip(range(args.passes), wl.passes()):
            for op in pass_ops:
                a = meter.read()
                try:
                    op["fn"]()
                except Exception as e:  # counted, like the harness does
                    op["error"] = repr(e)
                b = meter.read()
                acc = by_cls.setdefault(op["cls"], collections.defaultdict(float))
                for k in b:
                    acc[k] += b[k] - a[k]
                    total[k] += b[k] - a[k]
                count[op["cls"]] += 1
                ops.append(op)
        wall = time.perf_counter() - t
        end = meter.read()
        sampler.stop_ev.set()
        sampler.join()
        checks, mismatches, _ = wl.check(ops)
    finally:
        harness.stop_spark(ctx.spark)
        shutil.rmtree(workdir, ignore_errors=True)

    print(f"{args.workload} seed {args.seed}: {len(ops)} ops in {args.passes} passes, "
          f"{wall:.1f} s wall, {sum('error' in op for op in ops)} errors, "
          f"{mismatches}/{checks} oracle mismatches")
    print("ms per op (cpu = py + jvm + children); JVM thread groups in ms per op")
    print(f"{'class':18s} {'n':>4s} {'cpu':>8s} {'py':>7s} {'jvm':>7s} {'child':>7s} "
          f"{'jobs':>6s} {'compile':>8s}  " + " ".join(f"{g:>7s}" for g in GROUPS))
    for cls in sorted(by_cls, key=lambda c: -by_cls[c]["jvm"]):
        print(fmt_row(cls, count[cls], by_cls[cls]))
    print(fmt_row("all ops", len(ops), total))
    whole = {k: end[k] - start[k] for k in end}
    print(fmt_row("window", len(ops), whole))
    print(f"sampler CPU: {whole['sampler']:.0f} ms over the window (not in py)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
