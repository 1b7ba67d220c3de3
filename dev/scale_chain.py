#!/usr/bin/env python3
"""Compose docs/BENCH_SCALE_r<ROUND>.json: the organic scale curve, two
tiers (10x, 100x) against the same organic 1x baseline, one artifact.

Inputs, all Bench result lines written by one chain:
  docs/BENCH_SCALE_r<ROUND>_org1x.json   organic 1x tier
  docs/BENCH_SCALE_r<ROUND>_raw10.json   organic 10x tier
  docs/BENCH_SCALE_r<ROUND>_raw100.json  organic 100x tier
  docs/BENCH_SELF_r<ROUND>.json          sf0.1 reference run

The script refuses to write the artifact unless every input recorded
the commit `git rev-parse --short HEAD` names, without `-dirty`: a
curve is evidence for the code that produced it, and a tier measured
at another commit (or with uncommitted changes) is not.

Flag rule per tier: organic ratio > k AND tier time > 2s (sub-second
baselines divide into jitter; tier runs are single-pass so small
ratios are biased upward vs a min-of-3 floor).

Usage: scale_chain.py ROUND [NOTE]
  ROUND  round label in the file names, e.g. 17
  NOTE   free text recorded as the artifact's `note` field"""
import json
import subprocess
import sys


def load(p):
    with open(p) as f:
        return json.load(f)


def tier(org1, b, k):
    qa, qb = org1["queries"], b["queries"]
    rows, flagged = {}, []
    for q in sorted(qb):
        tb, ta = qb[q], qa.get(q)
        row = {"org1x_s": None, "tier_s": None, "org_ratio": None}
        if isinstance(tb, (int, float)):
            row["tier_s"] = round(tb, 3)
            if isinstance(ta, (int, float)) and ta > 0:
                row["org1x_s"] = round(ta, 3)
                row["org_ratio"] = round(tb / ta, 2)
        rows[q] = row
        if tb == "error":
            flagged.append({"query": q, "why": "error at tier"})
        elif row["org_ratio"] is not None and row["org_ratio"] > k and tb > 2.0:
            flagged.append({"query": q, "why": f"organic ratio {row['org_ratio']} > k={k}",
                            "tier_s": round(tb, 2)})
    return {
        "k": k, "tier": b.get("sf"),
        "run": {"total_s": round(b["value"], 1), "passes": b.get("passes"),
                "failed": b.get("failed"), "commit": b.get("commit"),
                "generated_at": b.get("generated_at")},
        "total_org_ratio": round(b["value"] / org1["value"], 2),
        "super_linear": flagged,
        "queries": rows,
    }


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    rnd = argv[1]
    note = argv[2] if len(argv) == 3 else ""
    paths = {
        "org1x": f"docs/BENCH_SCALE_r{rnd}_org1x.json",
        "10x": f"docs/BENCH_SCALE_r{rnd}_raw10.json",
        "100x": f"docs/BENCH_SCALE_r{rnd}_raw100.json",
        "sf01": f"docs/BENCH_SELF_r{rnd}.json",
    }
    runs = {name: load(p) for name, p in paths.items()}
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True, check=True).stdout.strip()
    stale = {paths[n]: r.get("commit") for n, r in runs.items() if r.get("commit") != head}
    if stale:
        sys.exit(f"refusing to compose: HEAD is {head}, but these inputs "
                 f"recorded another commit (or -dirty): {stale}")
    org1 = runs["org1x"]
    doc = {
        "metric": "scale_curve",
        "action": runs["100x"].get("action"),
        "commit": head,
        "org1x_run": {"file": paths["org1x"], "total_s": round(org1["value"], 1),
                      "passes": org1.get("passes"), "failed": org1.get("failed"),
                      "commit": org1.get("commit")},
        "sf01_run": {"file": paths["sf01"], "total_s": round(runs["sf01"]["value"], 1),
                     "passes": runs["sf01"].get("passes"),
                     "commit": runs["sf01"].get("commit")},
        "tiers": [tier(org1, runs["10x"], 10.0), tier(org1, runs["100x"], 100.0)],
        "note": note,
        "method": (
            "Organic scale curve over the full suite: 1x -> 10x -> 100x tiers "
            "from the same generator (DevSfGen). Tier runs are single-pass "
            "(SPARK_GRAFT_BENCH_PASSES=1) from one chain; every input recorded "
            "the artifact's commit, clean."),
    }
    out = f"docs/BENCH_SCALE_r{rnd}.json"
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    for t in doc["tiers"]:
        print(f"{int(t['k'])}x total ratio {t['total_org_ratio']}, flags {t['super_linear']}")
    print(f"wrote {out}")


if __name__ == "__main__":
    main(sys.argv)
