"""crux_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root (the directory holding ``crux_spark/``).
Inputs come from ``--seed``; the timed phase runs for ``--seconds``; every
result is checked against an oracle that does not use ``crux_spark``. The
last stdout line is one JSON object ``{correct, attempted, failed, metrics}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The line before it is the full report (every metric, sample counts, the
environment). Scratch files live under ``.perfbench_work/`` and are removed
at exit; the report and the span trace are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "serve", "analytics", "dedup_pipeline")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the tests use a toy scale)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crux_spark", "__init__.py")):
        print(f"crux_spark package not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [p for p in (HERE, ROOT) if p not in sys.path]
    import envpin

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    scrubbed = envpin.pin(ROOT, workdir)
    try:
        import harness

        report, line = harness.run(args, T_PROC0, workdir, outdir, envpin.record(args.seed, scrubbed))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(outdir, f"report-{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True, default=str)
    print(json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

