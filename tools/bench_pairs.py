#!/usr/bin/env python3
"""Compare two revisions on the repo benchmark with interleaved run pairs.

    python3 tools/bench_pairs.py --pairs 10 [--parent REV] [--change REV]
        [--workloads warehouse,pipelines] [--seconds 14] [--root DIR]
        [--swap-after N]

Both sides are built from `git archive` into sibling dirs `<root>/parent`
and `<root>/change` (one volume, both fresh copies, so neither side runs
from the working tree). `--parent` defaults to `HEAD^`; `--change`
defaults to the working tree, tracked and untracked files alike, archived
through a temporary index. `--root` defaults to `bench_pairs` under the
system temp dir and is emptied first.

Each side runs one discarded warm-up run (it compiles the jar, generates
the data and records the class-data-sharing archive). Then, per
workload, pair i runs `perfbench/run.py --seed <seed0 + i>` on both sides,
the parent first in even pairs and the change first in odd ones. For
every end-to-end metric of `BENCHMARK.json` it prints the parent's and
the change's median [quartiles], the change's relative move, the pairs
the change won (strictly better in the metric's direction) and the IQR
test: whether the medians are further apart than the parent's
interquartile range. Then, per key, it prints each side's median over
the pairs of the key's median wall time in a run's measured passes
(read from the `perfbench/out/<workload>-seed<n>-trace0-raw.json` each
run writes), the change's relative move and the pairs it won.
`--json FILE` also writes every run's metrics. Nothing is written under
the repo.

`--swap-after N` makes each side run from the other's dir from pair N+1
on. In an A/A set (`--parent HEAD --change HEAD`) a lean that follows the
dir flips sign at the swap, and one that follows the side's name or its
place in the pair does not.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def git(*args, env=None):
    return subprocess.run(["git", *args], cwd=REPO, env=env, check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def worktree_tree():
    """A tree id of the working tree, tracked and untracked files, built in
    a temporary index so the real index is untouched."""
    with tempfile.TemporaryDirectory() as d:
        env = dict(os.environ, GIT_INDEX_FILE=str(Path(d) / "index"))
        git("read-tree", "HEAD", env=env)
        git("add", "-A", env=env)
        return git("write-tree", env=env)


def export(rev, dest):
    """Extract `rev` (any tree-ish) into the empty dir `dest`."""
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", "--format=tar", rev],
                               cwd=REPO, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run(side, workload, seed, seconds):
    """One `perfbench/run.py` run; its end-to-end metrics and verdict."""
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"], cwd=side,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{side.name} {workload} seed {seed} failed")
    out = json.loads(lines[-1])
    raw = side / "perfbench" / "out" / f"{workload}-seed{seed}-trace0-raw.json"
    return {"seed": seed, "wall_s": round(time.time() - t0, 1),
            "correct": out["correct"], "failed": out["failed"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "keys": key_medians(json.loads(raw.read_text()))}


def key_medians(raw):
    """Each key's median wall seconds over a run's measured passes."""
    measured = {p["pass"] for p in raw["passes"]}
    walls = {}
    for r in raw["keys"]:
        if r["pass"] in measured and r["ok"]:
            walls.setdefault(r["key"], []).append(r["wall_s"])
    return {k: statistics.median(v) for k, v in walls.items()}


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        h = (len(s) - 1) * p
        lo = int(h)
        return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (h - lo)
    return q(0.25), q(0.5), q(0.75)


def compare(pairs, spec):
    """Per metric: medians, quartiles, wins and the IQR test."""
    rows = []
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name] for p in pairs]
        b = [p["change"]["metrics"][name] for p in pairs]
        qa, qb = quartiles(a), quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gap = (qa[1] - qb[1]) if lower else (qb[1] - qa[1])
        rows.append({
            "metric": name, "unit": m["unit"], "better": m["better"],
            "parent": {"q1": qa[0], "median": qa[1], "q3": qa[2]},
            "change": {"q1": qb[0], "median": qb[1], "q3": qb[2]},
            "rel": (qb[1] / qa[1] - 1) if qa[1] else 0.0,
            "wins": wins, "n": len(pairs),
            "iqr_test": gap > qa[2] - qa[0]})
    return rows


def compare_keys(pairs):
    """Per key: each side's median over the pairs, the move, the wins."""
    rows = []
    for k in sorted(pairs[0]["parent"]["keys"]):
        both = [(p["parent"]["keys"][k], p["change"]["keys"][k]) for p in pairs
                if k in p["parent"]["keys"] and k in p["change"]["keys"]]
        a = statistics.median(x for x, _ in both)
        b = statistics.median(y for _, y in both)
        rows.append({"key": k, "parent_s": a, "change_s": b,
                     "rel": (b / a - 1) if a else 0.0,
                     "wins": sum(y < x for x, y in both), "n": len(both)})
    return rows


def show_keys(workload, rows):
    print(f"\n{workload} per key: median wall s over the pairs, parent -> change")
    for r in rows:
        print(f"  {r['key']:<24} {r['parent_s']:.4f} -> {r['change_s']:.4f} s  "
              f"{r['rel']:+.1%}  won {r['wins']}/{r['n']}")


def show(workload, rows):
    print(f"\n{workload}: median [q1, q3], parent -> change")
    for r in rows:
        pa, ch = r["parent"], r["change"]
        print(f"  {r['metric']:<16} {pa['median']:.4g} [{pa['q1']:.4g}, "
              f"{pa['q3']:.4g}] -> {ch['median']:.4g} [{ch['q1']:.4g}, "
              f"{ch['q3']:.4g}] {r['unit']}  {r['rel']:+.1%}  "
              f"won {r['wins']}/{r['n']}  "
              f"iqr_test {'pass' if r['iqr_test'] else 'fail'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", default="HEAD^")
    ap.add_argument("--change", default=None,
                    help="a revision; default: the working tree")
    ap.add_argument("--workloads", default="warehouse,pipelines")
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--root", default=str(Path(tempfile.gettempdir()) / "bench_pairs"))
    ap.add_argument("--json", default=None, help="also write every run here")
    ap.add_argument("--swap-after", type=int, default=None,
                    help="run each side from the other's dir after this pair")
    a = ap.parse_args()

    root = Path(a.root).resolve()
    if root == REPO or REPO in root.parents:
        raise SystemExit("--root must lie outside the repo")
    shutil.rmtree(root, ignore_errors=True)
    change = a.change or worktree_tree()
    sides = {"parent": root / "parent", "change": root / "change"}
    export(git("rev-parse", a.parent), sides["parent"])
    export(change, sides["change"])
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())["end_to_end"]
    workloads = a.workloads.split(",")

    for name, side in sides.items():
        r = run(side, workloads[0], a.seed0 - 1, a.seconds)
        print(f"warm-up {name}: {r['wall_s']} s", file=sys.stderr)

    report = {"parent": a.parent, "change": a.change or "worktree",
              "seconds": a.seconds, "swap_after": a.swap_after,
              "workloads": {}}
    for w in workloads:
        pairs = []
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            swap = a.swap_after is not None and i >= a.swap_after
            dirs = {"parent": sides["change"], "change": sides["parent"]} \
                if swap else sides
            p = {n: run(dirs[n], w, a.seed0 + i, a.seconds) for n in order}
            pairs.append(p)
            print(f"{w} pair {i + 1}/{a.pairs}: pass_s "
                  f"{p['parent']['metrics']['pass_s']:.3f} -> "
                  f"{p['change']['metrics']['pass_s']:.3f}", file=sys.stderr)
        rows, keys = compare(pairs, spec), compare_keys(pairs)
        report["workloads"][w] = {"pairs": pairs, "compare": rows, "keys": keys}
        show(w, rows)
        show_keys(w, keys)
    if a.json:
        Path(a.json).write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
