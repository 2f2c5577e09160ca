#!/usr/bin/env python3
"""Steadiness tool for the remote-store benchmark.

Run a set (one run per workload and seed, results kept as JSON):

    python3 perfbench/steady.py run SET [--seeds 1-10]

Report one set, or compare a second set of the same commit against it:

    python3 perfbench/steady.py report SET [SET2]

For every workload and end-to-end metric the report gives the median and
quartiles (Python's statistics.quantiles, n=4), the spread (q3 - q1) / median
against the metric's bound from BENCHMARK.json, and with SET2 whether its
median is worse than SET's by more than the bound. Runs are untraced
(--trace 0), since the end-to-end metrics come from those; every workload of
BENCHMARK.json is run. Sets live in .bench_build/perfbench/sets/. Exits
non-zero when a check fails.

Seed 1009 is held out: it was never used while the benchmark or a change
was tuned, so it can confirm a claim made on other seeds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETS = os.path.join(ROOT, ".bench_build", "perfbench", "sets")
HELD_OUT_SEED = 1009


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run(args):
    b = spec()
    d = os.path.join(SETS, args.set)
    os.makedirs(d, exist_ok=True)
    ok = True
    for w in [x["name"] for x in b["workloads"]]:
        for s in seeds(args.seeds):
            cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(b["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                r = json.loads(last)
            except ValueError:
                r = None
            ok &= p.returncode == 0 and r is not None and r["correct"]
            print(f"{w} seed={s} exit={p.returncode} "
                  + (" ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                     if r else "no result"), flush=True)
            if r:
                with open(os.path.join(d, f"{w}-seed{s}.json"), "w") as fh:
                    json.dump(r, fh)
    return 0 if ok else 1


def load(name):
    d = os.path.join(SETS, name)
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            w = f.rsplit("-seed", 1)[0]
            with open(os.path.join(d, f)) as fh:
                out.setdefault(w, []).append(json.load(fh))
    return out


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(args):
    b = spec()
    first = load(args.set)
    second = load(args.set2) if args.set2 else None
    ok = True
    for w in [x["name"] for x in b["workloads"]]:
        runs = first.get(w, [])
        if len(runs) < 2:
            print(f"{w}: fewer than 2 runs in {args.set}")
            continue
        print(f"{w} ({len(runs)} runs"
              + (f"; second set {len(second.get(w, []))} runs" if second else "") + ")")
        for m in b["end_to_end"]:
            name, bound = m["name"], m["bound"]
            med, q1, q3, spread = summary([r["metrics"][name]["value"] for r in runs])
            steady = spread <= bound
            line = (f"  {name:16s} median {med:12.5g} {m['unit']:7s} q1 {q1:12.5g} q3 {q3:12.5g} "
                    f"spread {spread:6.3f} / bound {bound:.2f} {'ok' if steady else 'TOO WIDE'}")
            ok &= steady
            if second and len(second.get(w, [])) >= 2:
                med2 = summary([r["metrics"][name]["value"] for r in second[w]])[0]
                worse = (med2 - med) / med if m["better"] == "lower" else (med - med2) / med
                line += f" | median2 {med2:.5g} worse by {worse:+.3f} {'ok' if worse <= bound else 'REGRESSED'}"
                ok &= worse <= bound
            print(line)
        fails = sum(r["failed"] for r in runs)
        print(f"  failed ops {fails} of {sum(r['attempted'] for r in runs)}")
        ok &= fails == 0
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("set")
    r.add_argument("--seeds", default="1-10")
    p = sub.add_parser("report")
    p.add_argument("set")
    p.add_argument("set2", nargs="?")
    a = ap.parse_args()
    sys.exit(run(a) if a.cmd == "run" else report(a))


if __name__ == "__main__":
    main()
