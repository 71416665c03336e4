#!/usr/bin/env python3
"""Interleaved parent/change benchmark pairs.

    python3 tools/pairs.py PARENT_DIR CHANGE_DIR --workload logs \\
        --seeds 1111-1116 [--seconds 10] [--raw pairs.jsonl]
    python3 tools/pairs.py --commits PARENT CHANGE --workload llm_corpus --seeds 1401-1406
    python3 tools/pairs.py --aa DIR --workload llm_corpus --seeds 1301-1306
    python3 tools/pairs.py --report pairs.jsonl

Runs `perfbench/run.py` untraced once per seed in each checkout, the order
alternating from pair to pair (even pairs run the parent first), so slow
phases of a shared host fall on both sides. Every result line is appended
to the raw file as it arrives, one JSON object per run:
`{"side", "dir", "commit", "workload", "seed", "order", "exit", "result"}`.

`--commits PARENT CHANGE` takes two commits of this repository instead of
two directories: each is checked out with `git worktree add --detach` under
one temporary directory, and both worktrees are removed when the run ends.
The commit ids are recorded (`commit`, null for a directory) and head the
report.

The report, per end-to-end metric of BENCHMARK.json: the median and
quartiles on each side, the relative change, how many pairs the change
won (in the metric's better direction), and the parent's interquartile
range. A gap is "better" or "worse" only when the medians differ by more
than that range AND one side won at least nine pairs in ten (ties count
for neither); anything else is unresolved. A pair counts only when both
of its runs returned a result.

`--aa DIR` runs one checkout as both sides, labelled A and B, in the same
alternating order, and prints the same table: B's spread around A's median
is the noise floor a parent/change gap has to clear.
"""
import argparse
import json
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    with subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True) as p:
        try:
            out, _ = p.communicate()
        except BaseException:
            # SIGTERM, not SIGKILL: perfbench/run.py then takes its JVM down with it
            p.terminate()
            p.wait()
            raise
    lines = [l for l in out.splitlines() if l.startswith("{")]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def git(*args):
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True, stdout=subprocess.PIPE,
                          text=True).stdout.strip()


def report(records, bench):
    # an A/A raw file labels its sides A and B; the table is the same
    first, second = ("A", "B") if any(r["side"] == "A" for r in records) else ("parent", "change")
    for side in (first, second):
        commits = sorted({r["commit"] for r in records if r["side"] == side and r.get("commit")})
        if commits:
            print(f"{side}: {', '.join(commits)}")
    by_pair = {}
    for r in records:
        if r.get("result") is not None:
            by_pair.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r["result"]
    pairs = [(k, v) for k, v in sorted(by_pair.items()) if first in v and second in v]
    if not pairs:
        print("no complete pair")
        return
    for workload in sorted({k[0] for k, _ in pairs}):
        ps = [v for k, v in pairs if k[0] == workload]
        ok = sum(v[first]["correct"] and v[second]["correct"] for v in ps)
        failed = sum(v[s]["failed"] for v in ps for s in (first, second))
        print(f"{workload}: {len(ps)} pairs, both correct in {ok}, {failed} failed operations")
        print(f"  {'metric':30} {first + ' median [q1, q3]':>28} {second + ' median [q1, q3]':>28}"
              f" {'change':>8} {'won':>6} {first + ' IQR':>11}  verdict")
        for m in bench["end_to_end"]:
            name = m["name"]
            got = [(v[first]["metrics"][name]["value"], v[second]["metrics"][name]["value"])
                   for v in ps if name in v[first]["metrics"] and name in v[second]["metrics"]]
            if not got:
                continue
            par, chg = [g[0] for g in got], [g[1] for g in got]
            lower = m["better"] == "lower"
            won = sum((c < p) if lower else (c > p) for p, c in got)
            lost = sum((c > p) if lower else (c < p) for p, c in got)
            pm, cm = statistics.median(par), statistics.median(chg)
            (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
            iqr = p3 - p1
            rel = (cm - pm) / pm * 100 if pm else float("nan")
            verdict = "unresolved"
            if abs(cm - pm) > iqr and (cm < pm) == lower and won >= 0.9 * len(got):
                verdict = "better"
            elif abs(cm - pm) > iqr and (cm < pm) != lower and lost >= 0.9 * len(got):
                verdict = "worse"
            print(f"  {name:30} {pm:>10.4g} [{p1:.4g}, {p3:.4g}]".ljust(61) +
                  f" {cm:>10.4g} [{c1:.4g}, {c3:.4g}]".ljust(29) +
                  f" {rel:>+7.1f}% {won:>2}/{len(got):<3} {iqr:>11.4g}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", nargs="?", help="checkout of the parent commit")
    ap.add_argument("change", nargs="?", help="checkout of the change")
    ap.add_argument("--aa", metavar="DIR", help="run one checkout as both sides (an A/A spread)")
    ap.add_argument("--commits", nargs=2, metavar=("PARENT", "CHANGE"),
                    help="run two commits, each checked out as a temporary git worktree")
    ap.add_argument("--workload", choices=["logs", "llm_corpus"])
    ap.add_argument("--seeds", help="seed list, e.g. 1111-1116 or 5,7,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--raw", default="pairs.jsonl", help="raw result file (appended to)")
    ap.add_argument("--report", metavar="RAW", help="only report the pairs of an existing raw file")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    if a.report:
        report([json.loads(l) for l in Path(a.report).read_text().splitlines() if l.strip()], bench)
        return
    if sum(map(bool, (a.aa, a.commits, a.parent or a.change))) > 1:
        ap.error("give one of PARENT CHANGE, --commits or --aa")
    if not (a.workload and a.seeds):
        ap.error("--workload and --seeds are required unless --report is given")
    commits = {}
    if a.aa:
        sides = {"A": Path(a.aa).resolve(), "B": Path(a.aa).resolve()}
    elif a.commits:
        commits = {side: git("rev-parse", "--verify", rev + "^{commit}")
                   for side, rev in zip(("parent", "change"), a.commits)}
    elif a.parent and a.change:
        sides = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    else:
        ap.error("PARENT and CHANGE (or --commits or --aa) are required unless --report is given")
    if not commits:
        run_pairs(a, bench, sides, commits)
        return
    # a terminated run still removes its worktrees
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = Path(tempfile.mkdtemp(prefix="pairs-"))
    sides = {}
    try:
        for side, sha in commits.items():
            sides[side] = tmp / side
            git("worktree", "add", "--detach", str(sides[side]), sha)
        run_pairs(a, bench, sides, commits)
    finally:
        for path in sides.values():
            subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force", str(path)],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        shutil.rmtree(tmp, ignore_errors=True)
        git("worktree", "prune")


def run_pairs(a, bench, sides, commits):
    first, second = sides
    records = []
    with open(a.raw, "a") as raw:
        for i, seed in enumerate(seed_list(a.seeds)):
            order = [first, second] if i % 2 == 0 else [second, first]
            for side in order:
                code, result = run_one(sides[side], a.workload, seed, a.seconds)
                rec = {"side": side, "dir": str(sides[side]), "commit": commits.get(side),
                       "workload": a.workload, "seed": seed, "order": order.index(side),
                       "exit": code, "result": result}
                records.append(rec)
                raw.write(json.dumps(rec) + "\n")
                raw.flush()
                summary = result and {k: round(v["value"], 4) for k, v in result["metrics"].items()}
                print(f"seed {seed} {side}: exit {code} {summary}", file=sys.stderr, flush=True)
    report(records, bench)


if __name__ == "__main__":
    main()
