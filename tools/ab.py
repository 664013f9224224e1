#!/usr/bin/env python3
"""A/B the repository benchmark between two revisions, in alternating pairs.

    python3 tools/ab.py PARENT CHANGE --workload olap_lanes --seed 9 --pairs 10
    python3 tools/ab.py --replay ab-olap.json   # re-print a saved --out file
    python3 tools/ab.py --bench target/bench_full-<parent>.json target/bench_full-<change>.json

PARENT and CHANGE are git revisions of this repository; CHANGE may also be
WORKTREE, the working tree's tracked and untracked (not ignored) files.
A revision is exported with `git archive` (the working tree is copied)
into its own directory under --scratch, and `opusbench/run.py` runs
there, so each side builds the engine from its own sources. Pair i runs the parent first when i is even
and the change first when i is odd, which spreads the box's drift over
both sides.

For every metric the runs print it reports each side's median and
quartiles, how many pairs the change won, whether the claim rule holds
(the change wins at least 9 of 10 pairs and its median beats the parent's
by more than the parent's quartile distance) and, for the end-to-end
metrics of BENCHMARK.json, whether the change's median is worse than the
parent's by more than the metric's bound ("unresolved" where either side's
quartile distance is wider than the bound and the change does not beat the
parent on every run). Every run's summary goes to --out as JSON.

--bench compares two graft.Bench artifacts per query. Bench writes its
artifact to target/bench_full-<sha12>.json, named by the short commit of the
checkout it ran in, with -dirty appended when the tree has uncommitted or
untracked files (target/bench_full.json outside a git checkout;
SPARK_GRAFT_BENCH_OUT overrides), so runs of two commits sit side by side and
a run of an uncommitted change never takes its parent's name.
"""
import argparse
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKTREE = "WORKTREE"
# kept across re-exports of the working tree: the build and its stamp
KEEP = Path("opusbench") / "target"


def git(*args, binary=False):
    p = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, check=True)
    return p.stdout if binary else p.stdout.decode().strip()


def export(rev, scratch):
    """Directory holding the sources of `rev`; built once per revision."""
    if rev != WORKTREE:
        sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
        d = scratch / sha[:12]
        if not (d / "BENCHMARK.json").exists():
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir(parents=True)
            tarfile.open(fileobj=io.BytesIO(git("archive", sha, binary=True))).extractall(d)
        return d, sha
    d = scratch / "worktree"
    kept = scratch / "worktree-target"
    shutil.rmtree(kept, ignore_errors=True)
    if (d / KEEP).is_dir():
        shutil.move(str(d / KEEP), str(kept))
    shutil.rmtree(d, ignore_errors=True)
    files = git("ls-files", "-co", "--exclude-standard", "-z").split("\0")
    for f in filter(None, files):
        src = ROOT / f
        if src.is_file():
            (d / f).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, d / f)
    if kept.is_dir():
        shutil.move(str(kept), str(d / KEEP))
    return d, WORKTREE


def run_once(d, a):
    """One run.py invocation; its summary line, or a failure record."""
    cmd = [sys.executable, "opusbench/run.py", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=d, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-4000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    out = json.loads(lines[-1])
    if not out.get("correct"):
        sys.stderr.write(p.stderr[-4000:])
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def declared():
    b = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in b["end_to_end"] + b["per_layer"]}
    bound = {m["name"]: m["bound"] for m in b["end_to_end"]}
    return better, bound


def report(runs, pairs):
    """Per-metric verdicts over the pairs where both sides ran correctly."""
    better, bound = declared()
    ok = [i for i in range(pairs) if runs["parent"][i]["correct"] and runs["change"][i]["correct"]]
    names = sorted({k for side in runs.values() for r in side for k in r["metrics"]})
    rows = []
    for name in names:
        if name not in better:
            continue
        p = [runs["parent"][i]["metrics"][name]["value"] for i in ok]
        c = [runs["change"][i]["metrics"][name]["value"] for i in ok]
        if not p:
            continue
        sign = 1.0 if better[name] == "lower" else -1.0
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) < 0)
        gain = sign * (pmed - cmed)  # > 0: the change's median is better
        need = math.ceil(0.9 * len(ok))
        row = {"metric": name, "better": better[name],
               "parent": {"q1": pq1, "median": pmed, "q3": pq3},
               "change": {"q1": cq1, "median": cmed, "q3": cq3},
               "wins": wins, "pairs": len(ok),
               "claim_holds": wins >= need and gain > (pq3 - pq1)}
        if name in bound:
            worse = -gain / abs(pmed) if pmed else 0.0
            spread = max(pq3 - pq1, cq3 - cq1) / abs(pmed) if pmed else 0.0
            every = all(sign * (y - x) < 0 for x in p for y in c)
            row["bound"] = bound[name]
            row["spread"] = spread
            # a spread wider than the bound cannot tell "unchanged" from a
            # regression, unless every change run beats every parent run
            row["verdict"] = ("worse past bound" if worse > bound[name]
                              else "unresolved" if spread > bound[name] and not every
                              else "within bound")
        rows.append(row)
    fail = {}
    for side, rs in runs.items():
        att = sum(r.get("attempted", 0) for r in rs)
        fail[side] = {"incorrect_runs": sum(1 for r in rs if not r["correct"]),
                      "failed_ops": sum(r.get("failed", 0) for r in rs),
                      "attempted_ops": att,
                      "failed_share": (sum(r.get("failed", 0) for r in rs) / att) if att else None}
    return rows, fail


def fmt(x):
    return f"{x:.4g}"


def show(res):
    """Prints the verdict table of one A/B result."""
    rows, fail = report(res["runs"], len(res["runs"]["parent"]))
    print(f"{res['workload']} seed {res['seed']}, trace {res['trace']}, "
          f"{res['seconds']:g}-s windows, parent {res['parent'][:12]}, "
          f"change {res['change'][:12]}")
    print("| metric | parent median [q1, q3] | change median [q1, q3] | change wins "
          "| claim holds | against the bound |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        p, c = r["parent"], r["change"]
        past = ("-" if "bound" not in r
                else f"{r['verdict']} (bound {r['bound']:g}, spread {r['spread']:.2f})")
        print(f"| {r['metric']} | {fmt(p['median'])} [{fmt(p['q1'])}, {fmt(p['q3'])}] "
              f"| {fmt(c['median'])} [{fmt(c['q1'])}, {fmt(c['q3'])}] "
              f"| {r['wins']}/{r['pairs']} | {'yes' if r['claim_holds'] else 'no'} | {past} |")
    for side, f in fail.items():
        print(f"{side}: {f['incorrect_runs']} incorrect runs, "
              f"{f['failed_ops']}/{f['attempted_ops']} failed operations")
    return rows, fail


def bench_diff(parent_path, change_path):
    """Per-query seconds of two graft.Bench artifacts (target/bench_full-<sha12>.json)."""
    p, c = (json.loads(Path(x).read_text()) for x in (parent_path, change_path))
    for side, art in (("parent", p), ("change", c)):
        print(f"{side}: {art['sf']}, total {art['value']} s, {art['run_conditions']}")
    print("| query | parent s | change s | change / parent |")
    print("|---|---|---|---|")
    for q in sorted(set(p["queries"]) & set(c["queries"])):
        a, b = p["queries"][q], c["queries"][q]
        ratio = f"{b / a:.3f}" if a > 0 and b > 0 else "failed"
        print(f"| {q} | {a:.3f} | {b:.3f} | {ratio} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--scratch", default=os.environ.get("TMPDIR", "/tmp") + "/graft-ab",
                    help="directory for the two exported checkouts")
    ap.add_argument("--out", help="JSON file for every run's summary and the verdicts")
    ap.add_argument("--replay", help="print the verdicts of an earlier --out file; run nothing")
    ap.add_argument("--bench", nargs=2, metavar=("PARENT_JSON", "CHANGE_JSON"),
                    help="compare two graft.Bench artifacts per query; run nothing")
    a = ap.parse_args()
    if a.replay:
        show(json.loads(Path(a.replay).read_text()))
        return
    if a.bench:
        bench_diff(*a.bench)
        return
    if not (a.parent and a.change and a.workload and a.seed is not None):
        ap.error("PARENT, CHANGE, --workload and --seed are required")

    scratch = Path(a.scratch).resolve()
    scratch.mkdir(parents=True, exist_ok=True)
    sides = {}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        sides[side] = export(rev, scratch)
        print(f"[ab] {side}: {sides[side][1]} in {sides[side][0]}", file=sys.stderr)
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side][0], a)
            runs[side].append(r)
            shown = {k: v["value"] for k, v in r["metrics"].items()}
            print(f"[ab] pair {i + 1}/{a.pairs} {side}: correct={r['correct']} {shown}",
                  file=sys.stderr, flush=True)

    res = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
           "seconds": a.seconds, "parent": sides["parent"][1],
           "change": sides["change"][1], "runs": runs}
    rows, fail = show(res)
    if a.out:
        Path(a.out).write_text(json.dumps(dict(res, verdicts=rows, failures=fail), indent=1))


if __name__ == "__main__":
    main()
