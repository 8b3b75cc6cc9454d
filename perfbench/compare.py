#!/usr/bin/env python3
"""Make and compare sets of benchmark runs.

    # one set: every workload (or the named ones), ten seeds each
    python3 perfbench/compare.py collect --out runs/a --seeds 1-10 [--workload batch ...]
    # two sets: per workload and end-to-end metric, each side's median
    # and quartiles, the share of pairs the second side wins, and whether
    # the bound of BENCHMARK.json holds
    python3 perfbench/compare.py compare runs/a runs/b

Run `collect` from the root of a checkout. A set is a directory of
`<workload>-<seed>.json` files, each the last stdout line of one run.
`compare` exits 0 when the two sets agree: every run is correct, every
spread (inter-quartile distance over median) is within its metric's
bound on both sides, and no median of the second set is worse than the
first's by more than the bound. Run on two sets from the same code,
that says whether the benchmark is steady enough.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import quartiles, spread  # noqa: E402


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def collect(a):
    b = spec()
    names = a.workload or [w["name"] for w in b["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    for name in names:
        for s in seeds(a.seeds):
            cmd = [*b["command"], "--workload", name, "--seed", str(s),
                   "--seconds", str(b["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            print(f"{name} seed {s}: rc={p.returncode}", file=sys.stderr, flush=True)
            if p.returncode == 0 and lines:
                with open(os.path.join(a.out, f"{name}-{s}.json"), "w") as f:
                    f.write(lines[-1] + "\n")
            else:
                sys.stderr.write(p.stderr[-2000:])


def load(d):
    runs = {}
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            name, _, seed = fn[:-5].rpartition("-")
            with open(os.path.join(d, fn)) as f:
                runs.setdefault(name, []).append((int(seed), json.load(f)))
    return {k: [r for _, r in sorted(v, key=lambda x: x[0])] for k, v in runs.items()}


def compare(a):
    b = spec()
    left, right = load(a.first), load(a.second)
    agree = True
    for w in b["workloads"]:
        name = w["name"]
        ra, rb = left.get(name, []), right.get(name, [])
        if len(ra) < 2 or len(rb) < 2:
            print(f"{name}: too few runs ({len(ra)} vs {len(rb)})")
            agree = False
            continue
        bad = sum(not r["correct"] for r in ra + rb)
        print(f"{name}: {len(ra)} vs {len(rb)} runs, {bad} not correct")
        agree &= bad == 0
        print(f"  {'metric':24} {'first: q1 / median / q3':>34} {'second: q1 / median / q3':>34}"
              f" {'spread':>13} {'won':>5} {'bound':>6}  verdict")
        for m in b["end_to_end"]:
            va = [r["metrics"][m["name"]]["value"] for r in ra]
            vb = [r["metrics"][m["name"]]["value"] for r in rb]
            qa, qb = quartiles(va), quartiles(vb)
            sa, sb = spread(va), spread(vb)
            sign = 1 if m["better"] == "lower" else -1
            pairs = list(zip(va, vb))
            won = sum(sign * (y - x) < 0 for x, y in pairs) / len(pairs)
            worse = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            ok = worse <= m["bound"] and sa <= m["bound"] and sb <= m["bound"]
            agree &= ok
            print(f"  {m['name']:24} {qa[0]:10.4g} / {qa[1]:9.4g} / {qa[2]:9.4g}"
                  f" {qb[0]:10.4g} / {qb[1]:9.4g} / {qb[2]:9.4g}"
                  f" {sa:6.3f}/{sb:6.3f} {won:5.2f} {m['bound']:6.2f}  "
                  f"{'ok' if ok else 'FAIL'} ({worse:+.3f})")
    print("AGREE" if agree else "DISAGREE")
    return 0 if agree else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workload", action="append")
    p = sub.add_parser("compare")
    p.add_argument("first")
    p.add_argument("second")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
        return 0
    return compare(a)


if __name__ == "__main__":
    sys.exit(main())
