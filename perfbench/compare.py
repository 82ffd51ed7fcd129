"""Series and comparison of saved benchmark runs.

    python3 perfbench/run.py series OUT_DIR [--seeds 1-10] [--workloads a,b] [--trace 1]
    python3 perfbench/run.py compare PARENT_DIR CHANGE_DIR

`series` runs the benchmark once per (workload, seed), each in its own
process, saving every full record as OUT_DIR/<workload>_<seed>[_trace].json.
`compare` reads two such directories (the parent commit's and the
change's, measured with the same seeds) and prints one row per workload
and metric: each side's median and quartiles, the fraction of seed pairs
the change wins, and a verdict (stats.verdict). When a directory also
holds traced runs, the tracing overhead on ops_per_s is printed.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

import report
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def series(argv):
    ap = argparse.ArgumentParser(prog="run.py series")
    ap.add_argument("out_dir")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="warehouse_dml,analytic_suite")
    ap.add_argument("--seconds", default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args(argv)
    seconds = a.seconds or str(json.load(open(os.path.join(os.path.dirname(HERE),
                                                           "BENCHMARK.json")))["run_seconds"])
    os.makedirs(a.out_dir, exist_ok=True)
    for w in a.workloads.split(","):
        for s in _seeds(a.seeds):
            path = os.path.join(a.out_dir, f"{w}_{s}{'_trace' if a.trace else ''}.json")
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", seconds, "--trace", str(a.trace),
                   "--save", path]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            print(f"{w} seed {s}: exit {r.returncode} {last[:160]}", flush=True)
    return 0


def load(d):
    """{(workload, traced): {seed: record}}"""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        r = json.load(open(f))
        out.setdefault((r["workload"], bool(r["trace"])), {})[r["env"]["seed"]] = r
    return out


def compare(argv):
    ap = argparse.ArgumentParser(prog="run.py compare")
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    a = ap.parse_args(argv)
    parent, change = load(a.parent_dir), load(a.change_dir)
    print(f"{'workload':16s} {'metric':13s} {'parent median [q1, q3]':>32s} "
          f"{'change median [q1, q3]':>32s} {'wins':>5s}  verdict")
    for (w, traced), p_runs in sorted(parent.items()):
        if traced or (w, False) not in change:
            continue
        c_runs = change[(w, False)]
        seeds = sorted(set(p_runs) & set(c_runs))
        if not seeds:
            print(f"{w:16s} no seeds in common")
            continue
        for name, unit, better, bound in report.END_TO_END:
            pv = [p_runs[s]["metrics"][name] for s in seeds]
            cv = [c_runs[s]["metrics"][name] for s in seeds]
            if not any(pv) and not any(cv):
                continue
            v = stats.verdict(pv, cv, better, bound if bound is not None else 0.1)
            print(f"{w:16s} {name:13s} "
                  f"{v['parent_median']:11.4g} [{v['parent_q1']:8.4g}, {v['parent_q3']:8.4g}] "
                  f"{v['change_median']:11.4g} [{v['change_q1']:8.4g}, {v['change_q3']:8.4g}] "
                  f"{v['win_fraction']:5.2f}  {v['verdict']}{'' if bound else ' (report only)'}")
    for d, runs in (("parent", parent), ("change", change)):
        for (w, traced), t_runs in sorted(runs.items()):
            if traced and (w, False) in runs:
                plain = stats.median([r["metrics"]["ops_per_s"]
                                      for r in runs[(w, False)].values()])
                tr = stats.median([r["metrics"]["ops_per_s"] for r in t_runs.values()])
                print(f"# {d} {w}: tracing overhead on ops_per_s "
                      f"{(plain - tr) / plain:+.1%} (untraced {plain:.4g}, traced {tr:.4g})")
    return 0


def main(argv):
    return series(argv[1:]) if argv[0] == "series" else compare(argv[1:])
