"""Repeatability: runs two sets of ten untraced runs (seeds 1-10) of every
workload in BENCHMARK.json on the same code and reports, per workload and
end-to-end metric, each set's median, quartiles and spread (interquartile
distance over the median), and whether the second set's median lies within
BENCHMARK.json's bound of the first.

    python3 perfbench/repeat.py

Run from the repository root. The last line is AGREE when every median
agrees within its bound, every spread but setup_s's is within its bound,
every run is correct and every run fails the same share of its operations;
otherwise DISAGREE, with exit code 1. The full table is also written to
perfbench/out/repeat.json.
"""

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SETS = 2
SEEDS = range(1, 11)


def one_run(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed} failed ({out.returncode})")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report, agree = {}, True
    for w in (w["name"] for w in bench["workloads"]):
        sets = [[one_run(w, seed, bench["run_seconds"]) for seed in SEEDS] for _ in range(SETS)]
        report[w] = {}
        for name, bound in bounds.items():
            rows = [summary([r["metrics"][name]["value"] for r in runs]) for runs in sets]
            drift = rows[1]["median"] / rows[0]["median"] - 1
            steady = name == "setup_s" or all(r["spread"] <= bound for r in rows)
            ok = abs(drift) <= bound and steady
            agree &= ok
            report[w][name] = {"bound": bound, "sets": rows, "drift": drift, "within_bound": ok}
            line = f"{w:13s} {name:17s}"
            for r in rows:
                line += f"  median {r['median']:10.4f} [{r['q1']:.4f}, {r['q3']:.4f}] spread {r['spread']:6.1%}"
            print(f"{line}  drift {drift:+6.1%} {'ok' if ok else 'OUTSIDE'} (bound {bound:.0%})", flush=True)
        shares = {r["failed"] / r["attempted"] for runs in sets for r in runs}
        correct = all(r["correct"] for runs in sets for r in runs)
        report[w]["failed_share"] = sorted(shares)
        report[w]["correct"] = correct
        agree &= len(shares) == 1 and correct
        print(f"{w:13s} correct {correct}, failed share {sorted(shares)}", flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "repeat.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("AGREE" if agree else "DISAGREE")
    sys.exit(0 if agree else 1)


if __name__ == "__main__":
    main()
