"""Steadiness check: run each workload repeatedly, one seed per run, and
report each end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/check_steady.py --runs 10 [--workload NAME ...]
        [--first-seed 1] [--baseline .perfbench/steady-<stamp>.json]

Spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median. A
metric is steady when its spread is below a third of its bound; the
check fails when any spread, ``setup_s`` included, exceeds its bound,
when a run fails or reports ``correct: false``, or, with
``--baseline``, when a median is worse than the baseline's by more than
the bound. Results go to ``.perfbench/steady-<stamp>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def run_once(spec: dict, workload: str, seed: int) -> dict | None:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
        return None
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--baseline", type=Path)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    base = json.loads(args.baseline.read_text()) if args.baseline else {}
    report: dict = {}
    ok = True
    for w in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(spec, w, seed)
            if r is None or not r["correct"]:
                ok = False
            if r is not None:
                runs.append(r)
                print(f"  {w} seed {seed}: {r['wall_s']:.1f} s wall, correct={r['correct']}, "
                      f"{r['failed']}/{r['attempted']} failed", flush=True)
        report[w] = {"wall_s": [r["wall_s"] for r in runs], "metrics": {}}
        if len(runs) < 2:
            ok = False
            continue
        print(f"{w}: {len(runs)} runs, max wall {max(r['wall_s'] for r in runs):.1f} s")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [r["metrics"][name]["value"] for r in runs]
            med, spr = spread(vals)
            verdict = "steady" if spr < bound / 3 else ("within bound" if spr <= bound else "UNSTEADY")
            if spr > bound:
                ok = False
            line = f"  {name:<18} median {med:12.4f} {m['unit']:<6} spread {spr:6.3f} bound {bound:.2f} {verdict}"
            old = base.get(w, {}).get("metrics", {}).get(name)
            if old:
                worse = (med - old["median"]) / old["median"]
                worse = -worse if m["better"] == "higher" else worse
                line += f"  vs baseline {worse:+.3f}"
                if worse > bound:
                    ok = False
                    line += " WORSE"
            print(line, flush=True)
            report[w]["metrics"][name] = {"values": vals, "median": med, "spread": spr}
    out = ROOT / ".perfbench" / f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    print(f"results written to {out}; {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
