"""Steadiness check: run one workload twice ten times, each run with its own
seed, and print the median and quartiles of every end-to-end metric.

    python3 perfbench/steady.py --workload serve_mix

The two sets use disjoint fixed seeds (1-10, then 11-20). A metric is
flagged when, in either set, the distance between its first and third
quartile, as a share of its median, exceeds its bound in BENCHMARK.json,
or when the two sets' medians differ, in either direction, by more than
the bound as a share of the first set's median: this host drifts between
runs, so a benchmark is only steady if two sets agree. Exits 1 when
anything is flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = (range(1, 11), range(11, 21))


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run with seed {seed} failed (exit {r.returncode})")
    return json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    sets = []
    for seeds in SETS:
        results = []
        for seed in seeds:
            r = run_once(a.workload, seed, bench["run_seconds"])
            if not r["correct"]:
                print(f"seed {seed}: {r['failed']} of {r['attempted']} operations failed")
            results.append(r["metrics"])
            print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
                                               for k, v in r["metrics"].items()), flush=True)
        sets.append(results)

    flagged = False
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for s, results in enumerate(sets):
            med, q1, q3, sp = spread([r[name]["value"] for r in results])
            meds.append(med)
            flag = sp > bound
            flagged |= flag
            print(f"{a.workload} set{s + 1} {name}: median {med:.4g} {m['unit']} "
                  f"q1 {q1:.4g} q3 {q3:.4g} spread {sp:.3f} bound {bound}"
                  + ("  SPREAD ABOVE BOUND" if flag else ""))
        diff = (meds[1] - meds[0]) / meds[0]
        flag = abs(diff) > bound
        flagged |= flag
        print(f"{a.workload} {name}: set2 median vs set1 {diff:+.3f} (bound {bound})"
              + ("  MEDIANS DISAGREE" if flag else ""))
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
