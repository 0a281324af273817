"""Run a workload on several seeds and summarize each end-to-end metric
across the runs: median, quartiles and spread (the distance between the
quartiles as a share of the median), checked against the bounds in
BENCHMARK.json.

    python3 perfbench/spread.py --workload session --seeds 1-10 \\
        --out perfbench/baseline/session-a.json
    python3 perfbench/spread.py --compare A.json B.json

`--compare` checks that the second set's medians are no worse than the
first's by more than each metric's bound.
"""

import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import harness  # noqa: E402


def bounds():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"]}


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def measure(workload, seed_list, seconds):
    runs = []
    for seed in seed_list:
        proc = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        if proc.returncode != 0 or not result or not result["correct"]:
            sys.exit(f"seed {seed}: run failed\n{proc.stdout}{proc.stderr}")
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
            flush=True)
        runs.append({"seed": seed, **result})
    return runs


def summarize(runs):
    spec = bounds()
    out = {}
    for name, m in spec.items():
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = harness.quartiles(values)
        spread = (q3 - q1) / med
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                     "bound": m["bound"], "within": spread <= m["bound"],
                     "values": values}
    return out


def compare(first, second):
    ok = True
    for name, m in bounds().items():
        a, b = first["summary"][name]["median"], second["summary"][name]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        good = worse <= m["bound"]
        ok &= good
        print(f"{name:26} {a:14.4f} {b:14.4f} worse by {worse:+.4f} "
              f"(bound {m['bound']}) {'ok' if good else 'WORSE'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("session", "runall"))
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int,
                    default=json.loads((BENCH.parent / "BENCHMARK.json")
                                       .read_text())["run_seconds"])
    ap.add_argument("--out", type=Path)
    ap.add_argument("--compare", nargs=2, type=Path)
    args = ap.parse_args()
    if args.compare:
        first, second = (json.loads(p.read_text()) for p in args.compare)
        return 0 if compare(first, second) else 1
    if not args.workload:
        ap.error("--workload or --compare is required")
    runs = measure(args.workload, args.seeds, args.seconds)
    summary = summarize(runs)
    ok = True
    for name, s in summary.items():
        ok &= s["within"]
        print(f"{name:26} median {s['median']:14.4f} spread {s['spread']:.4f} "
              f"(bound {s['bound']})")
    if args.out:
        args.out.parent.mkdir(parents=True, exist_ok=True)
        args.out.write_text(json.dumps(
            {"workload": args.workload, "seconds": args.seconds,
             "summary": summary, "runs": runs}, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
