#!/usr/bin/env python3
"""Control-group comparison of two full-bench artifacts.

Usage: tools/bench_compare.py NEW.json OLD.json [touched_prefix ...]

Implements the read the round notes use every round (the box drifts
10-15% same-day, so raw totals mislead): per-query median ratios
new/old, grouped into a CONTROL group (contract/relational o*/q* minus
any touched prefixes) vs the named TOUCHED prefixes, plus the list of
queries moving > 1.5x against the control median. Queries that cannot
be ratioed (zero/old-only/new-only medians) are listed, never silently
dropped — a query that regressed to an ERROR must not produce a
cleaner-looking comparison than a slowdown.

When both artifacts carry per-query "metrics" (graft.QueryMetrics
records), it also prints the change in Spark jobs and stages: totals over
the queries both measured, then every query whose job or stage count
changed. Those counts repeat exactly between runs of the same plan, so any
change is a plan change, not host noise.
"""
import json
import statistics
import sys


def medians(path):
    d = json.load(open(path))
    out = {}
    for k in ("queries", "secondary"):
        for name, v in (d.get(k) or {}).items():
            if isinstance(v, (int, float)):
                out[name] = float(v)
    return d, out


def plan_counts(new_art, old_art):
    mn, mo = new_art.get("metrics"), old_art.get("metrics")
    if not (mn and mo):
        return
    both = sorted(set(mn) & set(mo))
    changed = [q for q in both
               if (mn[q]["jobs"], mn[q]["stages"]) != (mo[q]["jobs"], mo[q]["stages"])]
    for key in ("jobs", "stages"):
        old_sum = sum(mo[q][key] for q in both)
        new_sum = sum(mn[q][key] for q in both)
        print(f"{key}: old {old_sum} -> new {new_sum} ({new_sum - old_sum:+d}) over {len(both)} queries")
    print(f"queries whose jobs or stages changed: {len(changed)}")
    for q in changed:
        dj = mn[q]["jobs"] - mo[q]["jobs"]
        ds = mn[q]["stages"] - mo[q]["stages"]
        print(f"  {q}: jobs {mo[q]['jobs']} -> {mn[q]['jobs']} ({dj:+d}), "
              f"stages {mo[q]['stages']} -> {mn[q]['stages']} ({ds:+d})")


def main():
    if len(sys.argv) < 3:
        sys.stderr.write(__doc__)
        sys.exit(2)
    new_path, old_path = sys.argv[1], sys.argv[2]
    touched_prefixes = sys.argv[3:] or ["llm_ann_index", "oref_strict_leaf"]
    dn, new = medians(new_path)
    do, old = medians(old_path)
    common = sorted(set(new) & set(old))
    zeroed = [q for q in common if old[q] <= 0 or new[q] <= 0]
    ratios = {q: new[q] / old[q] for q in common if old[q] > 0 and new[q] > 0}

    def is_touched(q):
        return any(q.startswith(p) for p in touched_prefixes)

    def group(pred, label):
        qs = [q for q in ratios if pred(q)]
        if not qs:
            print(f"{label}: (empty)")
            return None
        med = statistics.median(ratios[q] for q in qs)
        print(f"{label}: n={len(qs)} median-ratio={med:.3f}")
        return med

    # the control must be DISJOINT from the touched prefixes, or a touched
    # o*/q* query would inflate the very baseline its regression is judged by
    control = group(
        lambda q: q.startswith(("o", "q")) and not is_touched(q),
        "control o*/q* (untouched)",
    )
    group(
        lambda q: q.startswith(tuple(f"t{i}" for i in range(2, 12))) and not is_touched(q),
        "streaming control t2-t11",
    )
    for p in touched_prefixes:
        group(lambda q, p=p: q.startswith(p), f"touched '{p}'")
    if control:
        movers = {q: round(r / control, 3) for q, r in ratios.items() if r / control > 1.5}
        print("movers >1.5x vs control median:", json.dumps(movers) if movers else "none")
    print(
        f"totals: new value={dn.get('value')} total_min={dn.get('total_min')} | "
        f"old value={do.get('value')} total_min={do.get('total_min')}"
    )
    plan_counts(dn, do)
    # visibility for everything that could not be ratioed
    only_new = sorted(set(new) - set(old))
    only_old = sorted(set(old) - set(new))
    if only_new:
        print("new-only queries:", {q: new[q] for q in only_new})
    if only_old:
        print("OLD-ONLY queries (removed, or ERRORED in the new run — check the new artifact's errors):",
              {q: old[q] for q in only_old})
    if zeroed:
        print("unratioable (zero median on one side):", sorted(zeroed))
    for label, art in (("new", dn), ("old", do)):
        errs = art.get("errors") or art.get("topup_errors")
        if errs:
            print(f"{label} artifact carries errors:", errs)


if __name__ == "__main__":
    main()
