#!/usr/bin/env python3
"""Render SCALE.md-style markdown tables from a SCALEPROBE_r*.json artifact.

Usage: python3 scripts/scale_table.py SCALEPROBE_r12.json [query ...]

With no query args, renders one table per tier pair (sf0.1 -> sf1_exact,
sf0.1 -> sf1_perturbed and sf0.01 -> sf0.1) over every query present in both
tiers, then one single-tier table for each tier in no rendered pair (a run
that stopped after its first tier, say). Dev-only helper — the narrative
`note` column of SCALE.md stays hand-written; this generates the numeric
columns so they can never drift from the artifact.
"""
import json
import sys


def fmt(rows, base, tier, names):
    byq = {}
    for r in rows:
        byq.setdefault(r["query"], {})[r["tier"]] = r
    print(f"| query | {base} wall / rows / shuffle_w | {tier} wall / rows / shuffle_w |")
    print("|---|---|---|")
    for q in names:
        t = byq.get(q, {})
        if base not in t or tier not in t:
            continue
        a, b = t[base], t[tier]
        print(f"| {q} | {cell(a)} | {cell(b)} |")


def cell(r):
    return f"{r['wall_s']:.2f} s / {r['rows']:,} / {r['shuffle_w_mb']:.1f} MB"


def lone(rows, tier, names):
    byq = {r["query"]: r for r in rows if r["tier"] == tier}
    print(f"| query | {tier} wall / rows / shuffle_w |")
    print("|---|---|")
    for q in names:
        if q in byq:
            print(f"| {q} | {cell(byq[q])} |")


def main():
    with open(sys.argv[1]) as f:
        art = json.load(f)
    rows = art["rows"]
    names = sys.argv[2:] or sorted({r["query"] for r in rows})
    paired = set()
    for base, tier in (("sf0.1", "sf1_exact"), ("sf0.1", "sf1_perturbed"),
                       ("sf0.01", "sf0.1")):
        both = ({r["query"] for r in rows if r["tier"] == base} &
                {r["query"] for r in rows if r["tier"] == tier})
        if any(r["tier"] == tier and r["query"] in both for r in rows):
            print(f"\n## {base} -> {tier}\n")
            fmt(rows, base, tier, [q for q in names if q in both])
            paired |= {base, tier}
    for tier in sorted({r["tier"] for r in rows} - paired):
        print(f"\n## {tier}\n")
        lone(rows, tier, names)
    notes = art.get("notes", {})
    if notes:
        print("\n## notes\n")
        for k in sorted(notes):
            print(f"- `{k}` — {notes[k]}")


if __name__ == "__main__":
    main()
