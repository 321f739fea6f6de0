"""Steadiness record: run each workload once per seed and report spreads.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/STEADINESS.json
    python3 perfbench/steady.py --workloads kraken_large --seeds 1-5 --trace-seeds 1-2

Runs `run.py` in a fresh process per (workload, seed), one at a time, and
prints per workload every end-to-end metric's median and spread (the
distance between the first and third quartile as a share of the median,
as `statistics.quantiles(values, n=4)` gives them), flagging any spread
above a third of the metric's bound in BENCHMARK.json. It also pools the
steady ops of all runs into `op_s_tail` (the highest percentile with at
least ten samples beyond it, with that percentile and the sample count)
and the pooled `failed_ratio`. `--trace-seeds` adds a traced run for each
of those seeds and reports the tracing overhead: the traced runs' median
`traced.op_s_p50` against the untraced runs' median wall-clock
`op_s_p50` on the same seeds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: wall-clock and memory figures every run reports in its detail line
UNBOUNDED = ("first_op_s", "op_s_p50", "peak_rss_mb")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One run in a fresh process; checks it printed exactly the metrics
    BENCHMARK.json lists for its trace mode."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    detail["process_s"] = time.perf_counter() - t0
    result = json.loads(lines[-1])
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {m["name"] for m in bench["per_layer" if trace else "end_to_end"]}
    if set(result["metrics"]) != wanted:
        raise SystemExit(f"{workload} seed {seed}: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(result['metrics']) ^ wanted)}")
    return result, detail


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def tail(samples: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    return {"value": sorted(samples)[n - 11], "percentile": 100.0 * (n - 10) / n, "samples": n}


def summarize(workload: str, runs: list[tuple[dict, dict]], bounds: dict) -> dict:
    out: dict = {"runs": len(runs), "metrics": {}, "unbounded": {}}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r, _ in runs]
        s = spread(vals) if len(vals) > 1 else 0.0
        out["metrics"][name] = {
            "median": statistics.median(vals), "spread": s, "bound": bound,
            "meets_third_of_bound": s <= bound / 3, "values": vals,
        }
    for name in UNBOUNDED:
        vals = [d[name] for _, d in runs]
        s = spread(vals) if len(vals) > 1 else 0.0
        out["unbounded"][name] = {"median": statistics.median(vals), "spread": s, "values": vals}
    out["op_s"] = [d["op_s"] for _, d in runs]
    out["op_cpu_s"] = [d["op_cpu_s"] for _, d in runs]
    steady_ops = [x for _, d in runs for x in d["op_s"][1:]]
    out["op_s_tail"] = tail(steady_ops)
    out["failed_ratio"] = sum(r["failed"] for r, _ in runs) / sum(r["attempted"] for r, _ in runs)
    out["process_s_max"] = max(d["process_s"] for _, d in runs)
    out["process_s_median"] = statistics.median(d["process_s"] for _, d in runs)
    return out


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-seeds", default="", help="seeds that also get a traced run")
    ap.add_argument("--out", type=Path, help="write the record as JSON here")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record: dict = {"seconds": args.seconds, "seeds": args.seeds, "workloads": {}}
    for workload in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            runs.append(run_once(workload, seed, args.seconds, 0))
            print(f"{workload} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in runs[-1][0]["metrics"].items()
            ) + f" process={runs[-1][1]['process_s']:.1f}s", flush=True)
        summary = summarize(workload, runs, bounds)
        if args.trace_seeds:
            ts = seeds(args.trace_seeds)
            traced = [run_once(workload, s, args.seconds, 1)[0] for s in ts]
            t = statistics.median(r["metrics"]["traced.op_s_p50"]["value"] for r in traced)
            u = statistics.median(d["op_s_p50"] for _, d in runs if d["seed"] in ts)
            summary["trace_overhead_op_s_p50"] = t / u - 1
        record["workloads"][workload] = summary
        print(f"== {workload}: {summary['runs']} runs, failed_ratio {summary['failed_ratio']:.3g}, "
              f"op_s_tail {summary['op_s_tail']}, "
              f"run process max {summary['process_s_max']:.1f}s")
        for name, m in summary["metrics"].items():
            flag = "" if m["meets_third_of_bound"] else "  <-- spread above bound/3"
            print(f"   {name:14s} median {m['median']:10.4f}  spread {m['spread']:.3f}"
                  f"  bound {m['bound']}{flag}")
        for name, m in summary["unbounded"].items():
            print(f"   {name:14s} median {m['median']:10.4f}  spread {m['spread']:.3f}  (no bound)")
        if "trace_overhead_op_s_p50" in summary:
            print(f"   tracing overhead on op_s_p50: {summary['trace_overhead_op_s_p50']:+.3f}")
    if args.out:
        args.out.write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
