#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads etl_gold scan_compute \\
        --seeds 1 2 3 4 5 --trace 0 --out .perfbench_work/sweep.json

For each workload and metric it reports the median over the runs and the
spread the acceptance rule uses: the distance between the first and
third quartiles (``statistics.quantiles(values, n=4)``) as a share of the
median. With ``--trace 0 1`` it runs both modes and also reports the
tracing overhead on ``wall_s``. Runs one at a time, from the checkout
root, with the seconds ``BENCHMARK.json`` fixes.
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
sys.path.insert(0, str(HERE))

from metrics import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int, detail: Path) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--detail", str(detail),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return {"seed": seed, "trace": trace, "rc": proc.returncode,
            "elapsed_s": elapsed, "result": result,
            "stderr_tail": proc.stderr.strip().splitlines()[-3:]}


def summarise(runs: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    for r in runs:
        if r["result"]:
            for name, m in r["result"]["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vs in values.items():
        out[name] = {
            "median": statistics.median(vs),
            "spread": spread(vs) if len(vs) >= 2 else None,
            "values": vs,
        }
    return out


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    p.add_argument("--trace", nargs="+", type=int, default=[0])
    p.add_argument("--out", type=Path, required=True)
    args = p.parse_args()
    details = args.out.with_suffix(".runs")
    details.mkdir(parents=True, exist_ok=True)
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in args.workloads:
        entry = {}
        for trace in args.trace:
            runs = []
            for seed in args.seeds:
                r = run_once(w, seed, spec["run_seconds"], trace,
                             details / f"{w}-s{seed}-t{trace}.json")
                runs.append(r)
                print(f"{w} seed {seed} trace {trace}: rc {r['rc']} "
                      f"{r['elapsed_s']:.1f}s", file=sys.stderr, flush=True)
            entry[f"trace{trace}"] = {"runs": runs, "metrics": summarise(runs)}
        if "trace0" in entry and "trace1" in entry:
            walls = {
                t: [json.loads((details / f"{w}-s{s}-t{t[-1]}.json").read_text())
                    ["end_to_end"]["wall_s"] for s in args.seeds]
                for t in ("trace0", "trace1")
            }
            base = statistics.median(walls["trace0"])
            entry["tracing_overhead"] = {
                "wall_s_untraced": base,
                "wall_s_traced": statistics.median(walls["trace1"]),
                "share": statistics.median(walls["trace1"]) / base - 1,
            }
        report["workloads"][w] = entry
    args.out.write_text(json.dumps(report, indent=1))
    for w, entry in report["workloads"].items():
        for mode, block in entry.items():
            if mode.startswith("trace"):
                for name, m in block["metrics"].items():
                    s = "-" if m["spread"] is None else f"{m['spread']:.3f}"
                    print(f"{w:16s} {mode} {name:28s} median {m['median']:.6g} spread {s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
