"""Record the traced baseline: for each workload, one untraced and one
traced run on the same seed, written to ``perfbench/baseline/trace_baseline.json``.

    python3 perfbench/baseline.py [--seed 1] [--seconds 10]

Runs measure whole units of work, so the untraced and the traced run of
a workload do the same operations and the difference of their timed
wall times is the tracing overhead. The artifact holds, per workload,
every span's self time and Spark stats, the derived counts and ratios
(``runner.run_silver.incr_over_full`` among them), the wall-clock
figures of the untraced run and the overhead, stamped with the commit,
whether the tree was dirty, the CPU counts, the seed and the load.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline", "trace_baseline.json")


def bench_run(workload: str, seed: int, seconds: float,
              trace: int) -> tuple[dict, dict]:
    """(result line, detail line) of one benchmark run."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    detail = [line for line in p.stderr.splitlines()
              if line.startswith("perfbench-detail ")]
    if p.returncode != 0 or not detail:
        raise SystemExit(f"{workload} trace={trace} failed:\n"
                         f"{p.stderr[-3000:]}")
    return (json.loads(p.stdout.strip().splitlines()[-1]),
            json.loads(detail[-1][len("perfbench-detail "):]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    import run
    from bench import git_provenance, settle_gate

    load = os.getloadavg()
    out = {"stamp": {**git_provenance(ROOT), "host_cpus": os.cpu_count(),
                     "seed": args.seed, "seconds": args.seconds,
                     "loadavg": [round(x, 2) for x in load],
                     "settle": settle_gate(round(load[1], 2), 1.5, False)},
           "workloads": {}}
    for workload in run.WORKLOADS:
        plain_line, plain = bench_run(workload, args.seed, args.seconds, 0)
        traced_line, traced = bench_run(workload, args.seed, args.seconds, 1)
        spans = traced["spans"]
        self_sum = sum(row["self_s"] for row in spans.values())
        out["workloads"][workload] = {
            "spark_cpus": plain["cpus"],
            "untraced": {
                "metrics": plain_line["metrics"],
                "timed_s": plain["timed_s"],
                "timed_cpu_s": plain["timed_cpu_s"],
                "items": plain["items"],
                "items_per_s": plain["items_per_s"],
                "op_s": plain["op_s"],
                "op_samples_s": plain["op_samples_s"],
                "gold_day_s": plain.get("gold_day_s"),
                "setup_reps_s": plain["setup_reps_s"],
                "session_s": plain["session_s"],
            },
            "traced_timed_s": traced["timed_s"],
            "tracing_overhead_s": traced["timed_s"] - plain["timed_s"],
            "self_sum_over_wall": self_sum / traced["timed_s"],
            "self_s": {name: row["self_s"] for name, row in
                       sorted(spans.items(), key=lambda kv: -kv[1]["self_s"])},
            "per_layer_metrics": traced_line["metrics"],
            "counters": traced["counters"],
            "spans": spans,
        }
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=False)
        fh.write("\n")
    print(OUT)


if __name__ == "__main__":
    main()
