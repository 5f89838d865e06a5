"""Run sets of benchmark runs and compare them against the bounds in
BENCHMARK.json.

    # ten runs of one workload, one seed each, appended to a JSON-lines file
    python3 perfbench/compare.py run --workload backlog_replay --seeds 1-10 --out a.jsonl

    # spread of every end-to-end metric in one set, or two sets side by side
    python3 perfbench/compare.py diff a.jsonl [b.jsonl]

``diff`` reports, per workload and metric, the median and the spread (the
distance between the first and third quartile, as
``statistics.quantiles(values, n=4)`` gives them, over the median). A set
fails when a spread other than ``setup_s``'s exceeds its bound, or when a
run was not correct; a second set also fails when its median is worse than
the first set's by more than the bound. The exit code is 1 on a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def cmd_run(args) -> int:
    spec = load_spec()
    for seed in parse_seeds(args.seeds):
        argv = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(argv, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        rec = {"workload": args.workload, "seed": seed, "exit": proc.returncode,
               "wall_s": wall, "result": result}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"{args.workload} seed={seed} exit={proc.returncode} "
              f"wall={wall:.1f}s correct={result and result['correct']}",
              file=sys.stderr, flush=True)
    return 0


def load_set(path: str) -> dict[str, list[dict]]:
    by_wl: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            by_wl.setdefault(rec["workload"], []).append(rec)
    return by_wl


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def cmd_diff(args) -> int:
    spec = load_spec()
    sets = [load_set(p) for p in args.sets]
    ok = True
    for wl in (w["name"] for w in spec["workloads"]):
        runs = [s.get(wl, []) for s in sets]
        if any(len(r) < 2 for r in runs):
            print(f"{wl}: fewer than two runs in a set, skipped")
            continue
        for i, r in enumerate(runs):
            bad = [x["seed"] for x in r if not (x["result"] and x["result"]["correct"])]
            if bad:
                ok = False
                print(f"{wl}: set {i + 1} has failed or incorrect runs, seeds {bad}")
        walls = [statistics.median(x["wall_s"] for x in r) for r in runs]
        print(f"\n{wl}: runs {[len(r) for r in runs]}, median run wall "
              f"{', '.join(f'{w:.1f}s' for w in walls)}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells = []
            meds = []
            for r in runs:
                vals = [x["result"]["metrics"][name]["value"] for x in r if x["result"]]
                med, sp = spread(vals)
                meds.append(med)
                flag = ""
                if name != "setup_s" and sp > bound:
                    flag, ok = " OVER", False
                elif name != "setup_s" and sp > bound / 3:
                    flag = " (above bound/3)"
                cells.append(f"median {med:.6g} spread {sp:.3f}{flag}")
            line = f"  {name:<14} bound {bound:<5} " + " | ".join(cells)
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                verdict = "ok" if worse <= bound else "WORSE"
                ok &= worse <= bound
                line += f" | second worse by {worse:+.3f} {verdict}"
            print(line)
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--out", required=True)
    d = sub.add_parser("diff")
    d.add_argument("sets", nargs="+", help="one or two JSON-lines files")
    args = ap.parse_args(argv)
    if args.cmd == "diff" and len(args.sets) > 2:
        ap.error("diff takes one or two sets")
    return cmd_run(args) if args.cmd == "run" else cmd_diff(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
