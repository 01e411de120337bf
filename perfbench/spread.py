"""Run workloads over several seeds, twice, and report each end-to-end
metric's median, quartiles and spread (quartile distance as a share of the
median) per set, and whether the two sets agree within the metric's bound.

    python3 perfbench/spread.py --workloads pipeline_batch,lake_incremental --seeds 1-10 [--json out.json]

Each run is a separate ``run.py --trace 0`` process with the seconds of
``BENCHMARK.json``. The two sets run interleaved seed by seed (set 1, set 2,
next seed), so a drift in machine speed reaches both alike. Agreement means
the second set's median is worse than the first's by no more than the bound.
Exits 1 if any run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import iqr_share

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _summary(vs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": iqr_share(vs) if len(vs) > 1 else 0.0, "values": vs}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    report, ok = {}, True
    for w in args.workloads.split(","):
        values: list[dict[str, list[float]]] = [{}, {}]
        walls = []
        for seed in _seeds(args.seeds):
            for s in range(2):
                cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                       "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                t = time.perf_counter()
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                walls.append(time.perf_counter() - t)
                lines = p.stdout.strip().splitlines()
                if p.returncode or not lines:
                    ok = False
                    print(f"{w} seed {seed} set {s + 1}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                    continue
                for k, v in json.loads(lines[-1])["metrics"].items():
                    values[s].setdefault(k, []).append(v["value"])
        sets = [{k: _summary(vs) for k, vs in val.items()} for val in values]
        for s, rows in enumerate(sets):
            for k, r in rows.items():
                bound = metrics[k]["bound"]
                flag = "" if r["spread"] <= bound / 3 else "  <-- over a third of the bound"
                print(f"{w:18s} set {s + 1} {k:22s} median {r['median']:12.6g}  q1 {r['q1']:12.6g}"
                      f"  q3 {r['q3']:12.6g}  spread {r['spread']:.3f}{flag}")
        agree = {}
        for k, r1 in sets[0].items():
            m1, m2 = r1["median"], sets[1][k]["median"]
            worse = (m2 - m1) / m1 if metrics[k]["better"] == "lower" else (m1 - m2) / m1
            agree[k] = {"worse_by": worse, "within_bound": worse <= metrics[k]["bound"]}
            print(f"{w:18s} {k:22s} set 2 worse than set 1 by {worse:+.3f}"
                  f" (bound {metrics[k]['bound']}){'' if agree[k]['within_bound'] else '  <-- over the bound'}")
        print(f"{w:18s} wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        report[w] = {"sets": sets, "agreement": agree, "wall_s": walls}
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
