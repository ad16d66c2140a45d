"""Steadiness tool: make sets of benchmark runs and compare two of them.

    # ten runs per workload, one seed each, results into DIR
    python3 perfbench/steady.py run DIR --seeds 1-10 [--workloads api_read etl_write]
    # per workload and metric: median and quartiles of each set, spread as
    # a share of the median, and a flag where a bound is broken
    python3 perfbench/steady.py compare DIR_A [DIR_B]

A metric is flagged when its spread (inter-quartile distance over median)
in either set exceeds its bound (setup_s exempt), or when set B's median is
worse than set A's by more than its bound.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def load_benchmark():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(out, seeds, workloads):
    bench = load_benchmark()
    os.makedirs(out, exist_ok=True)
    for w in workloads:
        for seed in seeds:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = res.stdout.strip().splitlines()
            if res.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
                continue
            with open(os.path.join(out, f"{w}-{seed}.json"), "w") as f:
                f.write(lines[-1])
            r = json.loads(lines[-1])
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}",
                  flush=True)


def load_set(d):
    """{workload: {metric: [values]}} from a directory of run results."""
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        w = os.path.basename(path).rsplit("-", 1)[0]
        r = json.load(open(path))
        for m, v in r["metrics"].items():
            out.setdefault(w, {}).setdefault(m, []).append(v["value"])
    return out


def worse_by(a, b, better):
    """Relative change from median a to median b, positive when b is worse."""
    if not a:
        return 0.0
    return (b - a) / abs(a) if better == "lower" else (a - b) / abs(a)


def compare(dir_a, dir_b=None):
    bench = load_benchmark()
    specs = {m["name"]: m for m in bench["end_to_end"]}
    sets = [load_set(dir_a)] + ([load_set(dir_b)] if dir_b else [])
    flagged = 0
    print(f"{'workload':14s} {'metric':20s} {'set':>3s} {'n':>3s} {'q1':>12s} {'median':>12s} "
          f"{'q3':>12s} {'spread':>7s} {'bound':>6s}  flag")
    for w in sorted(sets[0]):
        for name, spec in specs.items():
            meds = []
            for i, s in enumerate(sets):
                vals = s.get(w, {}).get(name, [])
                if not vals:
                    continue
                q1, med, q3 = stats.quartiles(vals)
                sp = stats.spread(vals)
                meds.append(med)
                flag = ""
                if name != "setup_s" and sp > spec["bound"]:
                    flag = "SPREAD>BOUND"
                elif name != "setup_s" and sp > spec["bound"] / 3:
                    flag = "spread>bound/3"
                if i == 1 and len(meds) == 2:
                    d = worse_by(meds[0], meds[1], spec["better"])
                    if d > spec["bound"]:
                        flag = (flag + " " if flag else "") + f"MEDIAN-WORSE {d:+.1%}"
                flagged += "SPREAD>BOUND" in flag or "MEDIAN-WORSE" in flag
                print(f"{w:14s} {name:20s} {'AB'[i]:>3s} {len(vals):3d} {q1:12.5g} {med:12.5g} "
                      f"{q3:12.5g} {sp:7.1%} {spec['bound']:6.2f}  {flag}")
    print(f"{flagged} metric(s) flagged")
    return flagged


def main():
    ap = argparse.ArgumentParser(description="make and compare sets of benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", nargs="*")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b", nargs="?")
    args = ap.parse_args()
    if args.cmd == "run":
        ws = args.workloads or [w["name"] for w in load_benchmark()["workloads"]]
        run_set(args.out, parse_seeds(args.seeds), ws)
    else:
        sys.exit(1 if compare(args.a, args.b) else 0)


if __name__ == "__main__":
    main()
