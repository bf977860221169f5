"""Paired A/B runner: parent against change, same benchmark, same settings.

    python3 perfbench/ab.py --parent PARENT --change CHANGE

PARENT and CHANGE are compiled program class dirs (`python3
perfbench/build.py` in a checkout leaves one at .bench_build/program).
Every workload of BENCHMARK.json runs for its `run_seconds`, in 10 pairs;
each pair runs both sides on the same seed, alternating which side runs
first. Per workload and end-to-end metric the table gives each side's
median and quartiles, the change's wins (ties count for neither) and the
verdict of the rule: a gain needs wins in at least 9 of 10 pairs AND a median gap
larger than the parent's own quartile spread; a loss is the mirror image;
anything else is "unresolved". One row per workload and metric.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
from stats import iqr, median  # noqa: E402

RUN = os.path.join(build.BENCH_DIR, "run.py")
PAIRS = 10
SEED_BASE = 1000


def run_once(classes, workload, seed, seconds):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0", "--classes", classes],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"ab: {workload} seed {seed} failed on {classes}")
    return json.loads(r.stdout.strip().splitlines()[-1])["metrics"]


def verdict(parent, change, higher_better):
    better = (lambda c, p: c > p) if higher_better else (lambda c, p: c < p)
    wins = sum(1 for p, c in zip(parent, change) if better(c, p))
    losses = sum(1 for p, c in zip(parent, change) if better(p, c))
    q1, q3 = iqr(parent)
    gap = abs(median(change) - median(parent)) > (q3 - q1)
    need = 0.9 * len(parent)
    if wins >= need and gap:
        return wins, "gain"
    if losses >= need and gap:
        return wins, "loss"
    return wins, "unresolved"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent's program class dir")
    ap.add_argument("--change", required=True, help="change's program class dir")
    a = ap.parse_args()
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    higher = {m["name"]: m["better"] == "higher" for m in bench["end_to_end"]}
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    rows = []
    for w in (wl["name"] for wl in bench["workloads"]):
        samples = {"parent": [], "change": []}
        for i in range(PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                samples[side].append(run_once(sides[side], w, SEED_BASE + i,
                                              bench["run_seconds"]))
        for m in sorted(higher):
            p = [s[m]["value"] for s in samples["parent"]]
            c = [s[m]["value"] for s in samples["change"]]
            wins, v = verdict(p, c, higher[m])
            rows.append({"workload": w, "metric": m, "parent_median": median(p),
                         "parent_iqr": iqr(p), "change_median": median(c),
                         "change_iqr": iqr(c), "change_wins": wins, "pairs": PAIRS,
                         "verdict": v})
    print(f"{'workload':14} {'metric':20} {'parent p50':>12} {'change p50':>12} "
          f"{'wins':>6}  verdict")
    for r in rows:
        print(f"{r['workload']:14} {r['metric']:20} {r['parent_median']:12.4g} "
              f"{r['change_median']:12.4g} {r['change_wins']:>3}/{r['pairs']:<2}  {r['verdict']}")
    print(json.dumps(rows))


if __name__ == "__main__":
    main()
