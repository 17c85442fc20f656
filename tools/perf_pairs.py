#!/usr/bin/env python3
"""Alternating A/B pairs of benchmark runs between two checkouts.

    python3 tools/perf_pairs.py --parent DIR --change DIR --workload W \\
        --seeds A-B [--seconds 24] [--trace 0|1] [--out FILE]

For each seed from A to B it runs `python3 perfbench/run.py` once in each
checkout, with the same arguments, and alternates which side runs first
(the parent on even pairs, the change on odd ones). It only runs the
benchmark's command and reads its last stdout line; it imports and edits
nothing under `perfbench/`.

It prints every pair, then for each metric each side's median and
quartiles, the change's wins (ties count for neither side) and two
verdicts:

- claim: the change wins at least 9/10 of the pairs and its median beats
  the parent's by more than the parent's interquartile range;
- bound (end-to-end metrics): the change's median is no worse than the
  parent's by more than the metric's BENCHMARK.json bound, as a fraction
  of the parent's median. Where the parent's own interquartile range is
  wider than the bound, and not every change run beats every parent run,
  the metric is unresolved.

`--out` appends every run's result, one JSON line each.
"""
import argparse
import json
import os
import subprocess
import sys


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run(checkout, args, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"perf_pairs: {' '.join(cmd)} failed in {checkout} (exit {p.returncode}):\n"
                 + p.stderr[-2000:])
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, res


def verdicts(name, par, chg, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
    losses = sum(1 for a, b in zip(par, chg) if sign * (b - a) < 0)
    pm, cm = quantile(par, 0.5), quantile(chg, 0.5)
    iqr = quantile(par, 0.75) - quantile(par, 0.25)
    claim = wins >= 0.9 * len(par) and sign * (cm - pm) > iqr
    row = {"metric": name, "better": better, "wins": wins, "losses": losses, "pairs": len(par),
           "parent": [quantile(par, q) for q in (0.25, 0.5, 0.75)],
           "change": [quantile(chg, q) for q in (0.25, 0.5, 0.75)],
           "parent_iqr": iqr, "claim": claim}
    if bound is not None:
        scale = abs(pm) if pm else 1.0
        worse = -sign * (cm - pm) / scale
        all_better = (min(chg) > max(par)) if sign > 0 else (max(chg) < min(par))
        if all_better:
            row["bound"] = "better in every run"
        elif worse > bound:
            row["bound"] = f"WORSE by {worse:+.1%} (bound {bound:.0%})"
        elif iqr / scale > bound:
            row["bound"] = f"unresolved: parent IQR {iqr / scale:.1%} > bound {bound:.0%}"
        else:
            row["bound"] = f"within bound ({-worse:+.1%})"
    return row


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    a, b = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    sides = {"parent": [], "change": []}
    for i, seed in enumerate(range(a, b + 1)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side], raw = run(getattr(args, side), args, seed)
            sides[side].append(got[side])
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                         "first": order[0], "result": raw}) + "\n")
        shown = [k for k in bounds if k in got["parent"]]
        print(f"pair {i} seed {seed} first={order[0]}: " + "  ".join(
            f"{k} {got['parent'][k]:.4g}->{got['change'][k]:.4g}" for k in shown), flush=True)

    names = [k for k in sides["parent"][0] if k in better and all(k in r for r in sides["change"])]
    print(f"\n{'metric':44} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} wins claim")
    rows = []
    for k in names:
        r = verdicts(k, [x[k] for x in sides["parent"]], [x[k] for x in sides["change"]],
                     better[k], bounds.get(k))
        rows.append(r)
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{k:44} {fmt(r['parent']):>30} {fmt(r['change']):>30} "
              f"{r['wins']:>2}/{r['pairs']} {'yes' if r['claim'] else 'no':>4}"
              + (f"  {r['bound']}" if "bound" in r else ""))
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"summary": rows, "workload": args.workload, "seeds": args.seeds,
                                 "seconds": args.seconds, "trace": args.trace}) + "\n")


if __name__ == "__main__":
    main()
