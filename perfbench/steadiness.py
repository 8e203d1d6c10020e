"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads trickle,mor_rw --runs 10 \
        --out perfbench/baseline/NAME.json

Runs are sequential and untraced, one seed each (``--first-seed``
upward), at the ``run_seconds`` of BENCHMARK.json.  For every end-to-end metric it prints
the median and the spread (distance between the first and third quartile
from ``statistics.quantiles(values, n=4)``, as a share of the median) and
compares the spread with a third of the metric's bound.  The JSON written
to ``--out`` holds every run's result line and the per-run record of host
facts (co-tenant busy cores included).
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


def spread(values: list[float]) -> float:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"run_seconds": spec["run_seconds"], "workloads": {}}
    ok = True
    for wl in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            p = subprocess.run(
                [*spec["command"], "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            elapsed = time.time() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"seed": seed, "rc": p.returncode, "elapsed_s": round(elapsed, 1),
                         "result": result, "record": _record(wl, seed)})
            print(f"{wl} seed={seed} rc={p.returncode} {elapsed:.1f}s "
                  f"correct={result and result['correct']}", file=sys.stderr, flush=True)
        summary = {}
        good = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
        ok &= len(good) == len(runs)
        for name in good[0]["metrics"] if good else []:
            vals = [g["metrics"][name]["value"] for g in good]
            s = spread(vals) if len(vals) >= 2 else float("nan")
            summary[name] = {"median": statistics.median(vals), "spread": round(s, 4),
                             "values": vals}
            if name in bounds:
                summary[name]["bound"] = bounds[name]
                steady = name == "setup_s" or s < bounds[name] / 3
                summary[name]["steady"] = steady
            print(f"{wl:8s} {name:40s} median={statistics.median(vals):12.4f} "
                  f"spread={s:.3f}" + (f" bound={bounds[name]}" if name in bounds else ""))
        report["workloads"][wl] = {"runs": runs, "summary": summary,
                                   "elapsed_s": sum(r["elapsed_s"] for r in runs)}
    out = Path(args.out)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1) + "\n")
    return 0 if ok else 1


def _record(workload: str, seed: int) -> dict | None:
    pattern = f"*-{workload}-s{seed}-t0-*[0-9].json"
    recs = sorted((ROOT / ".bench_work" / "records").glob(pattern))
    if not recs:
        return None
    rec = json.loads(recs[-1].read_text())
    keep = ("host", "co_tenant_busy_cores", "setup_s", "warmup_s", "get_spark_s", "unit_walls",
            "check_s", "samples", "errors")
    return {k: rec.get(k) for k in keep}


if __name__ == "__main__":
    sys.exit(main())
