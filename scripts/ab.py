#!/usr/bin/env python3
"""Alternating A/B of the repository benchmark: a parent revision against
the working tree.

  python3 scripts/ab.py --parent <rev> --workload <name> --seeds <first>-<last>
                        [--workdir <dir>]

Run from anywhere inside a checkout. The parent revision is extracted with
`git archive` into <workdir>/parent-<sha> (kept for later calls), so each
tree builds its own .bench_build/. For every seed the benchmark command of
BENCHMARK.json runs once in each tree, one run at a time, with the tree
that runs first switching on every pair; --trace 0 and the declared
run_seconds are passed. Every run's final JSON line and its "# FLAG"
lines are appended to <workdir>/ab-<workload>.jsonl and printed.

For each end-to-end metric of BENCHMARK.json the summary gives the parent
and change median [q1-q3], the pairs the change won, and the median move
against the metric's bound (relative to the parent median). A metric whose
parent IQR is wider than its bound reads "unresolved" (the spread of the
unchanged code alone could hide a move of that size), unless every change
run reads better than every parent run. A metric reads "gain" when a
claimed gain would hold: at least ten pairs, the change wins at least nine
tenths of them (ties count for neither), and the gap between the medians
is larger than the parent's IQR. With flagged runs the
summary is printed twice: over every pair, then over the pairs in which
neither run was flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def parent_tree(root, rev, workdir):
    """A pristine extract of `rev`, made once per commit."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}", cwd=root)
    tree = os.path.join(workdir, f"parent-{sha[:12]}")
    marker = os.path.join(tree, ".ab-commit")
    if not os.path.exists(marker):
        os.makedirs(tree, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=root, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {sha} failed")
        with open(marker, "w") as f:
            f.write(sha)
    return sha, tree


def run_once(tree, command, workload, seed, seconds):
    """One benchmark run in `tree`: its final JSON record, or None, and its flags."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    t0 = time.time()
    p = subprocess.run(command + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, env=env, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    lines = p.stdout.splitlines()
    flags = [l for l in lines if l.startswith("# FLAG") or l.startswith("# check failed")]
    record = None
    if p.returncode == 0 and lines:
        try:
            record = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if record is None:
        flags.append(f"# FLAG run failed (exit {p.returncode}): {' | '.join(lines[-3:])}")
    return record, flags, time.time() - t0


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def value(run, metric):
    rec = run["record"]
    return None if rec is None else rec["metrics"][metric]["value"]


def verdict(pv, cv, bound, lower):
    """The verdict on one metric from its paired parent and change values.

    "gain" is the rule a claimed gain is judged by: at least ten pairs,
    the change wins at least nine tenths of them (ties count for
    neither), and the change median is better than the parent median by
    more than the parent's IQR (q3 - q1).
    """
    pairs = list(zip(pv, cv))
    wins = sum((b < a) if lower else (b > a) for a, b in pairs)
    pq, cq = quartiles(pv), quartiles(cv)
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
    move = (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else 0.0
    worse = move > 0 if lower else move < 0
    spread = (pq[2] - pq[0]) / abs(pq[1]) if pq[1] else 0.0
    if len(pairs) >= 10 and 10 * wins >= 9 * len(pairs) and gap > pq[2] - pq[0]:
        return f"gain (won {wins}/{len(pairs)}, median gap {gap:.4g} > parent IQR {pq[2] - pq[0]:.4g})"
    if (max(cv) < min(pv)) if lower else (min(cv) > max(pv)):
        return "every change run better than every parent run"
    if spread > bound:
        return f"unresolved (parent IQR {spread:.1%} > bound)"
    if worse and abs(move) > bound:
        return "WORSE beyond bound"
    return "within bound"


def summarize(runs, metrics, title):
    """Prints one line per metric over the complete pairs of `runs`;
    returns {metric: verdict}."""
    pairs = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for _, p in sorted(pairs.items()) if len(p) == 2]
    print(f"\n== {title}: {len(pairs)} pairs")
    verdicts = {}
    for m in metrics:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        vals = [(value(p["parent"], name), value(p["change"], name)) for p in pairs]
        vals = [(a, b) for a, b in vals if a is not None and b is not None]
        if not vals:
            print(f"{name:15s} no complete pair")
            continue
        pv, cv = [a for a, _ in vals], [b for _, b in vals]
        pq, cq = quartiles(pv), quartiles(cv)
        wins = sum((b < a) if lower else (b > a) for a, b in vals)
        move = (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else 0.0
        verdicts[name] = verdict(pv, cv, bound, lower)
        print(f"{name:15s} parent {pq[1]:.4g} [{pq[0]:.4g}-{pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}]  "
              f"change won {wins}/{len(vals)}  move {move:+.1%} vs bound {bound:.0%}: "
              f"{verdicts[name]}")
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision (any git rev)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive seed range, e.g. 9801-9805")
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "graft-ab"),
                    help="where the parent tree and the run log live")
    args = ap.parse_args()

    root = git("rev-parse", "--show-toplevel", cwd=os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        sys.exit(f"ab: unknown workload {args.workload}")
    first, _, last = args.seeds.partition("-")
    seeds = range(int(first), int(last or first) + 1)

    os.makedirs(args.workdir, exist_ok=True)
    sha, ptree = parent_tree(root, args.parent, args.workdir)
    trees = {"parent": ptree, "change": root}
    log = os.path.join(args.workdir, f"ab-{args.workload}.jsonl")
    print(f"# parent {sha[:12]} in {ptree}; change = working tree {root}; log {log}")

    runs = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            record, flags, wall = run_once(trees[side], bench["command"], args.workload,
                                           seed, bench["run_seconds"])
            run = {"workload": args.workload, "seed": seed, "side": side,
                   "parent": sha, "wall_s": round(wall, 1), "record": record, "flags": flags}
            runs.append(run)
            with open(log, "a") as f:
                f.write(json.dumps(run) + "\n")
            tag = "*" if flags else " "
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in record["metrics"].items()) \
                if record else "no record"
            print(f"{side[0]}{seed}{tag} {vals}", flush=True)
            for fl in flags:
                print(f"    {fl}")

    metrics = bench["end_to_end"]
    summarize(runs, metrics, f"{args.workload}, all pairs")
    flagged = {r["seed"] for r in runs if r["flags"]}
    if flagged:
        print(f"flagged seeds: {sorted(flagged)}")
        summarize([r for r in runs if r["seed"] not in flagged], metrics,
                  f"{args.workload}, unflagged pairs")


if __name__ == "__main__":
    main()
