#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark: a base revision
against the working tree.

    python3 scripts/ab.py --workload etl_ingest --pairs 8 --scratch DIR [--base REV]
    python3 scripts/ab.py --workload etl_ingest --pairs 4 --scratch DIR --aa
    python3 scripts/ab.py --workload stream_monitors --pairs 2 --scratch DIR --trace 1

Run it from the root of a checkout. It puts a ``git archive`` of ``--base``
(default ``HEAD``) under ``--scratch`` (kept, with its build, while
the revision is the same) and runs ``perfbench/run.py`` there
and in the working tree, unchanged, in N alternating pairs: pair i runs
seed i on both sides, the base first when i is odd and the working tree
first when i is even, so a drift of the host over the run does not
favour one side. ``--aa`` runs the base against a second archive of itself
(an A/A check of the pairing: wins should be near N/2 and the ratios near
1). Each side builds itself once (``run.py`` caches its build). Every run
lasts ``BENCHMARK.json``'s ``run_seconds``.

It prints, for every end-to-end metric of ``BENCHMARK.json``, the per-pair
ratios (working tree / base), how many pairs the working tree won, a
one-sided sign-test p-value, both medians and the base's interquartile
range, as a markdown table; and each run's ``correct``, ``failed`` and
``cpu_steal_share``. The raw result lines go to ``--scratch/ab-<workload>.json``.

With ``--trace 1`` every run is ``run.py --trace 1`` and the table lists
``BENCHMARK.json``'s per-layer metrics instead: both sides' medians next to
each other, and for the work counters (unit ``count`` or ``bytes``) a
``DIFFERS`` flag when any pair reads a different value on the two sides.
Timings are shown but not flagged.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def archive(rev, dest):
    """A copy of `rev`'s committed files at `dest`; an existing copy of the
    same commit is kept, with its build."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, stdout=subprocess.PIPE,
                         text=True, check=True).stdout.strip()
    stamp = os.path.join(dest, ".ab-rev")
    if os.path.isfile(stamp) and open(stamp).read() == sha:
        return
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    tar = subprocess.run(["git", "archive", "--format=tar", sha], cwd=ROOT,
                         stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)
    with open(stamp, "w") as f:
        f.write(sha)


def run(root, workload, seed, seconds, trace):
    """One `run.py` of `seconds` in `root`: (result line, perfbench line)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"ab: run.py failed in {root} (seed {seed})")
    info = next((json.loads(l[len("perfbench: "):]) for l in lines if l.startswith("perfbench: {")), {})
    return json.loads(lines[-1]), info


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    i = (len(s) - 1) * q
    lo = math.floor(i)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (i - lo)


def sign_p(wins, n):
    """One-sided sign test: P(at least `wins` of `n` by chance)."""
    return sum(math.comb(n, k) for k in range(wins, n + 1)) / 2 ** n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--scratch", required=True, help="directory for the base archive and results")
    ap.add_argument("--base", default="HEAD", help="git revision of the base side")
    ap.add_argument("--aa", action="store_true", help="run the base against a copy of itself")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0,
                    help="1: compare the per-layer metrics of traced runs")
    a = ap.parse_args()

    os.makedirs(a.scratch, exist_ok=True)
    base = os.path.join(a.scratch, "ab-base")
    archive(a.base, base)
    if a.aa:
        change = os.path.join(a.scratch, "ab-base-copy")
        archive(a.base, change)
    else:
        change = ROOT
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared, seconds = bench["per_layer" if a.trace else "end_to_end"], bench["run_seconds"]

    runs = []
    for seed in range(1, a.pairs + 1):
        order = [("base", base), ("change", change)]
        if seed % 2 == 0:
            order.reverse()
        pair = {"seed": seed, "first": order[0][0]}
        for side, root in order:
            res, info = run(root, a.workload, seed, seconds, a.trace)
            pair[side] = {"correct": res["correct"], "failed": res["failed"],
                          "cpu_steal_share": info.get("cpu_steal_share"),
                          "metrics": {k: v["value"] for k, v in res["metrics"].items()}}
            print(f"ab: seed {seed} {side}: " + json.dumps(pair[side]), file=sys.stderr, flush=True)
        runs.append(pair)
    with open(os.path.join(a.scratch, f"ab-{a.workload}{'-trace' if a.trace else ''}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    n = len(runs)
    label = "base copy" if a.aa else "change"
    print(f"### `{a.workload}`: {n} alternating pairs{', traced' if a.trace else ''}, "
          f"{label} vs `{a.base}`\n")
    if a.trace:
        layer_table(declared, runs, label)
    else:
        end_to_end_table(declared, runs, label)
    print()
    for side in ("base", "change"):
        ok = all(r[side]["correct"] and r[side]["failed"] == 0 for r in runs)
        steal = [r[side]["cpu_steal_share"] or 0.0 for r in runs]
        print(f"- {side if side == 'base' else label}: correct and 0 failed in every run: {ok}; "
              f"cpu_steal_share {min(steal):.3f}..{max(steal):.3f}")


def layer_table(declared, runs, label):
    """Per-layer metrics side by side; work counters that differ in any pair flagged."""
    print("| Metric | Unit | Base (seeds 1..) | " + label.capitalize() + " (seeds 1..) "
          "| Base median | " + label.capitalize() + " median | Flag |")
    print("|---|---|---|---|---|---|---|")
    for m in declared:
        k = m["name"]
        b = [r["base"]["metrics"][k] for r in runs]
        c = [r["change"]["metrics"][k] for r in runs]
        work = m["unit"] in ("count", "bytes")
        flag = "DIFFERS" if work and any(x != y for x, y in zip(b, c)) else ""
        print(f"| `{k}` | {m['unit']} | {' '.join(f'{x:g}' for x in b)} | {' '.join(f'{y:g}' for y in c)} "
              f"| {quantile(b, 0.5):g} | {quantile(c, 0.5):g} | {flag} |")


def end_to_end_table(declared, runs, label):
    """End-to-end metrics: per-pair ratios, wins, sign test, medians, base IQR."""
    n = len(runs)
    print("| Metric | Ratios (" + label + " / base, seeds 1.." + str(n) + ") | Wins | Sign p "
          "| Base median | Base IQR | " + label.capitalize() + " median | Median ratio |")
    print("|---|---|---|---|---|---|---|---|")
    for m in declared:
        k = m["name"]
        b = [r["base"]["metrics"][k] for r in runs]
        c = [r["change"]["metrics"][k] for r in runs]
        ratios = [y / x if x else float("nan") for x, y in zip(b, c)]
        better = (lambda x, y: y < x) if m["better"] == "lower" else (lambda x, y: y > x)
        wins = sum(1 for x, y in zip(b, c) if better(x, y))
        mb, mc = quantile(b, 0.5), quantile(c, 0.5)
        iqr = quantile(b, 0.75) - quantile(b, 0.25)
        print(f"| `{k}` | {' '.join(f'{r:.3f}' for r in ratios)} | {wins}/{n} | {sign_p(wins, n):.3f} "
              f"| {mb:.3f} | {iqr:.3f} | {mc:.3f} | {mc / mb if mb else float('nan'):.3f} |")


if __name__ == "__main__":
    main()
