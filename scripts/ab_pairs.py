#!/usr/bin/env python3
"""Alternated A/B pairs of the benchmark: a base revision against the
working checkout.

    python3 scripts/ab_pairs.py REV --workload W --pairs N --seed0 S [--trace]

Exports REV (any git revision, say HEAD~1) with `git archive` into a fresh
directory under the system temp dir (TMPDIR), then runs
`python3 perfbench/run.py --workload W --seed S+i --seconds 5` once in that
tree and once in this checkout for each pair i, both sides on the same
seed, alternating which side runs first. Each tree builds its own engine
and benchmark on its first run. Per end-to-end metric of BENCHMARK.json it
prints both medians and quartiles, the base's IQR, the change's wins (the
pairs in which the checkout did better), and whether the medians differ
by more than the base's IQR. Per pair it prints each side's `attempted`
(the operations a run timed and checked) and flags a pair whose two sides
differ in it: a time-limited workload lets a faster side run more steps,
and later steps run warmer. With --trace, every run is a traced one
(`--trace 1`), whose result line carries the per-layer metrics instead of
the end-to-end ones, and the table is of BENCHMARK.json's per-layer
metrics (say `search.plan_ms`, `search.exec_ms`, `search.scan_bytes_read`),
so a speedup can be read next to the layer that moved with it. The export is deleted at the end; nothing
tracked in either tree is written (perfbench writes only under its
ignored out/ and target/ directories).

For `search` without --trace it also reads each run's record
(perfbench/out/search-seed<S>-trace0.json), whose timed `calls` are in
the mix's order, and prints per query shape (term, AND, OR, NOT, phrase,
sloppy, prefix, role: call index mod 8) each side's median over its runs
of the run's median `wall_ms`, the base's IQR of those run medians and the
change's wins, so a change to one shape can be told from the others. A run
whose call count is not a multiple of 8 (a failed call drops out of the
record) is warned about, as its shapes would be misaligned.

Every run's result line is printed as it arrives, so a long session can
be read while it runs. Exits 1 if any run fails or reports
`correct: false`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """The tree of `rev` under `dest`, as git archive writes it."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def run(tree, workload, seed, seconds, trace):
    """One benchmark run in `tree`: its result dict, or None on failure."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1" if trace else "0"],
        cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


SHAPES = ("term", "AND", "OR", "NOT", "phrase", "sloppy", "prefix", "role")


def shape_walls(tree, seed, label):
    """Each mix shape's median wall_ms over the timed calls of the
    untraced search run of `seed` in `tree`, or None without a record."""
    path = os.path.join(tree, "perfbench", "out",
                        f"search-seed{seed}-trace0.json")
    try:
        with open(path) as f:
            calls = json.load(f)["calls"]
    except (OSError, ValueError, KeyError):
        print(f"warning: {label}: no record at {path}")
        return None
    if not calls or len(calls) % len(SHAPES):
        print(f"warning: {label}: {len(calls)} timed calls, not a multiple "
              f"of {len(SHAPES)}; the shapes are misaligned")
    return [statistics.median(c["wall_ms"] for c in calls[i::len(SHAPES)])
            if calls[i::len(SHAPES)] else None
            for i in range(len(SHAPES))]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", help="base revision, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", action="store_true",
                    help="traced runs; compare the per-layer metrics")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["per_layer" if a.trace else "end_to_end"]
    base = tempfile.mkdtemp(prefix="ab_pairs_")
    ok = True
    runs = {"base": [], "change": []}
    shapes = {"base": [], "change": []}
    per_shape = a.workload == "search" and not a.trace
    try:
        export(a.rev, base)
        trees = {"base": base, "change": ROOT}
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run(trees[side], a.workload, seed, a.seconds, a.trace)
                print(f"pair {i + 1} seed {seed} {side}: "
                      f"{json.dumps(r, separators=(',', ':'))}", flush=True)
                if r is None or not r.get("correct") or r.get("failed"):
                    ok = False
                runs[side].append(r)
                if per_shape:
                    shapes[side].append(shape_walls(
                        trees[side], seed, f"pair {i + 1} seed {seed} {side}"))
    finally:
        shutil.rmtree(base, ignore_errors=True)

    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"])
             if b is not None and c is not None]
    print(f"\n{a.workload}: {len(pairs)} complete pairs, base {a.rev}, "
          f"seeds {a.seed0}-{a.seed0 + a.pairs - 1}")
    print(f"{'pair':>4} {'seed':>6} {'base attempted':>15} "
          f"{'change attempted':>17}")
    for i, (b, c) in enumerate(zip(runs["base"], runs["change"])):
        got = [None if r is None else r.get("attempted") for r in (b, c)]
        flag = "  differs" if None not in got and got[0] != got[1] else ""
        print(f"{i + 1:>4} {a.seed0 + i:>6} {str(got[0]):>15} "
              f"{str(got[1]):>17}{flag}")
    print(f"{'metric':34} {'base q1/median/q3':>30} "
          f"{'change q1/median/q3':>30} {'base IQR':>10} {'wins':>6} "
          f"{'> IQR':>6}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
               for b, c in pairs
               if name in b["metrics"] and name in c["metrics"]]
        if not got:
            continue
        bq = quartiles([b for b, _ in got])
        cq = quartiles([c for _, c in got])
        wins = sum(1 for b, c in got if (c < b if lower else c > b))
        iqr = bq[2] - bq[0]
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:34} {fmt(bq):>30} {fmt(cq):>30} {iqr:>10.4g} "
              f"{wins:>3}/{len(got):<2} "
              f"{'yes' if abs(cq[1] - bq[1]) > iqr else 'no':>6}")
    if per_shape:
        print(f"\n{'shape':8} {'base q1/median/q3 wall_ms':>30} "
              f"{'change median':>14} {'change/base':>12} {'base IQR':>10} "
              f"{'wins':>6}")
        for i, name in enumerate(SHAPES):
            got = [(b[i], c[i]) for b, c in zip(shapes["base"], shapes["change"])
                   if b and c and b[i] is not None and c[i] is not None]
            if not got:
                continue
            bq = quartiles([b for b, _ in got])
            cm = statistics.median(c for _, c in got)
            wins = sum(1 for b, c in got if c < b)
            print(f"{name:8} {'/'.join(f'{x:.4g}' for x in bq):>30} "
                  f"{cm:>14.4g} {cm / bq[1]:>12.3f} {bq[2] - bq[0]:>10.4g} "
                  f"{wins:>3}/{len(got):<2}")
    if not ok:
        print("some runs failed or reported correct: false")
        sys.exit(1)


if __name__ == "__main__":
    main()
