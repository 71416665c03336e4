#!/usr/bin/env python3
"""Bench-close drift adjudication (VERDICT r13 #6): compare a fresh bench
JSON against the prior clean recording; for every shared key that drifted
>1.2x (and by more than an absolute floor, so sub-100ms noise never
queues a probe), check git provenance since the prior recording's commit
and run `graft.Tools host-band` min-of-20 on the drifted keys. Emit a
markdown verdict table (stdout) ready to append to BASELINE.md — the
r12/r13 host-vs-code adjudication, mechanical instead of argumentative.

Usage: band_adjudicate.py NEW.json PRIOR.json PRIOR_REF [SF_DIR] [REPS]
"""
import json
import re
import subprocess
import sys
from datetime import date

RATIO = 1.2
ABS_FLOOR_S = 0.15


def main():
    new_f, prior_f, prior_ref = sys.argv[1:4]
    sfdir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    reps = sys.argv[5] if len(sys.argv) > 5 else "20"
    new = json.load(open(new_f))
    prior = json.load(open(prior_f))
    nq, pq = new["queries"], prior["queries"]
    shared = sorted(set(nq) & set(pq))
    drifted = [
        (k, pq[k], nq[k], nq[k] / pq[k])
        for k in shared
        if pq[k] > 0 and nq[k] / pq[k] > RATIO and nq[k] - pq[k] > ABS_FLOOR_S
    ]
    changed = subprocess.run(
        ["git", "diff", "--name-only", prior_ref, "--", "src/main/scala"],
        capture_output=True, text=True).stdout.split()

    print(f"\n### Bench-close band adjudication — {date.today()} "
          f"(vs {prior_f} @ {prior_ref[:9]}, sf dir {sfdir})\n")
    if not drifted:
        print(f"No shared key drifted >{RATIO}x (+{ABS_FLOOR_S}s) vs the "
              f"prior clean recording — nothing to adjudicate.")
        return
    keys = [k for k, *_ in drifted]
    print(f"{len(keys)} key(s) drifted >{RATIO}x; source tree since "
          f"{prior_ref[:9]}: "
          + ("diff-identical (src/main/scala unchanged)" if not changed
             else f"{len(changed)} file(s) changed: {', '.join(changed)}")
          + f". Running host-band min-of-{reps}.\n")
    probe = subprocess.run(
        ["tools/run.sh", "graft.Tools", "host-band", sfdir, reps, *keys],
        capture_output=True, text=True).stdout
    mins = {}
    for line in probe.splitlines():
        m = re.match(r"\[host-band\]\s+(\S+)\s+min=\s*([0-9.]+)s", line)
        if m:
            mins[m.group(1)] = float(m.group(2))
    print("| key | prior s | bench s | ratio | min-of-" + reps
          + " s | verdict |")
    print("|---|---|---|---|---|---|")
    for k, p, n, r in drifted:
        m20 = mins.get(k)
        if m20 is None:
            verdict = "probe failed — investigate"
        elif m20 <= p * RATIO and not changed:
            verdict = "host window (min reaches prior band, source unchanged)"
        elif m20 <= p * RATIO:
            verdict = "host window for this key (min reaches prior band) — but source changed, confirm the key's files"
        else:
            verdict = "REAL drift — investigate"
        m20s = f"{m20:.3f}" if m20 is not None else "—"
        print(f"| {k} | {p:.3f} | {n:.3f} | {r:.2f}x | {m20s} | {verdict} |")


if __name__ == "__main__":
    main()
