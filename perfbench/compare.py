#!/usr/bin/env python3
"""Compare two sets of benchmark records: a parent commit's and a change's.

Usage:

    python3 perfbench/compare.py <parent_out> <change_out> [--benchmark BENCHMARK.json]

Each argument is a copy of a checkout's perfbench/out directory (one
sub-directory per workload, one JSON record per run, as run.py writes
them). A parent record and a change record form a pair when they ran
the same seed, so run the two commits alternately, with the same
--seconds and one seed per pair.

For every workload and end-to-end metric it prints one row with both
sides' median and quartiles and a verdict, the first that applies:

- regressed: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
- failing: a change record has a failed op or a failed oracle check, so
  no gain counts;
- unpaired: the two sides did not run the same seeds the same number of
  times;
- unresolved: either side's spread (interquartile range / median) is
  wider than the bound, unless every change run beats every parent run;
- too few pairs: fewer than 10 pairs;
- improved: the change wins at least 9 of every 10 pairs (ties count for
  neither side), and the medians differ by more than the parent's
  interquartile range;
- unchanged: none of the above.

It then prints, per workload, the per-layer deltas between the latest
traced record of each side. It exits 1 when any row regressed or is
failing.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(out_dir):
    """{workload: ([untraced records in run order], [traced records])}"""
    sets = {}
    for w in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, w)
        if not os.path.isdir(d):
            continue
        recs = []
        for f in os.listdir(d):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    r = json.load(fh)
                # file names are seed<n>-<epoch ms>-trace<t>.json
                r["_order"] = int(f.split("-")[1])
                recs.append(r)
        recs.sort(key=lambda r: r["_order"])
        sets[w] = ([r for r in recs if not r["trace"]], [r for r in recs if r["trace"]])
    return sets


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def failing(rec):
    return rec["failed"] > 0 or not all(c["ok"] for c in rec["checks"])


def by_seed(recs):
    """{seed: [records of that seed in run order]}"""
    out = {}
    for r in recs:
        out.setdefault(r["seed"], []).append(r)
    return out


def paired(p_runs, c_runs):
    """The (parent, change) record pairs, matched by seed and by run order
    within a seed, or None when the two sides' seeds differ."""
    ps, cs = by_seed(p_runs), by_seed(c_runs)
    if {s: len(v) for s, v in ps.items()} != {s: len(v) for s, v in cs.items()}:
        return None
    return [pc for s in sorted(ps) for pc in zip(ps[s], cs[s])]


def verdict(parent, change, pairs, better, bound, change_failing):
    """parent, change: every record's value per side; pairs: the seed-
    matched (parent, change) values, or None when the seeds differ."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs or [] if sign * (p - c) > 0)
    pq1, pm, pq3 = quartiles(parent)
    cq1, cm, cq3 = quartiles(change)
    worse = sign * (cm - pm) / pm
    spread = max((pq3 - pq1) / pm, (cq3 - cq1) / cm)
    separated = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    n = len(pairs or [])
    if worse > bound:
        v = "regressed"
    elif change_failing:
        v = "failing"
    elif pairs is None:
        v = "unpaired"
    elif spread > bound and not separated:
        v = "unresolved"
    elif n < 10:
        v = "too few pairs"
    elif wins * 10 >= 9 * n and sign * (pm - cm) > (pq3 - pq1):
        v = "improved"
    else:
        v = "unchanged"
    return {"pairs": n, "wins": wins, "parent": (pm, pq1, pq3),
            "change": (cm, cq1, cq3), "delta": -worse, "spread": spread, "verdict": v}


def main():
    ap = argparse.ArgumentParser(description="compare parent and change benchmark records")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    parent, change = load(a.parent), load(a.change)
    bad = False
    print(f"{'workload':14} {'metric':10} {'parent median [q1,q3]':>30} "
          f"{'change median [q1,q3]':>30} {'better by':>9} {'wins':>7}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        p_runs, c_runs = parent.get(w, ([], []))[0], change.get(w, ([], []))[0]
        pairs = paired(p_runs, c_runs)
        n_failing = sum(map(failing, c_runs))
        if n_failing:
            print(f"{w}: {n_failing} of {len(c_runs)} change records failed "
                  f"(parent: {sum(map(failing, p_runs))} of {len(p_runs)})")
        if pairs is None:
            print(f"{w}: seeds differ (parent {sorted(by_seed(p_runs))}, "
                  f"change {sorted(by_seed(c_runs))})")
        for m in bench["end_to_end"]:
            k = m["name"]
            pv = [r["end_to_end"][k] for r in p_runs]
            cv = [r["end_to_end"][k] for r in c_runs]
            if not pv or not cv:
                print(f"{w:14} {k:10} {'(no records)':>30}")
                continue
            pp = None if pairs is None else [
                (a["end_to_end"][k], b["end_to_end"][k]) for a, b in pairs]
            v = verdict(pv, cv, pp, m["better"], m["bound"], n_failing > 0)
            bad |= v["verdict"] in ("regressed", "failing")
            fmt = lambda t: f"{t[0]:.4g} [{t[1]:.4g},{t[2]:.4g}]"
            print(f"{w:14} {m['name']:10} {fmt(v['parent']):>30} {fmt(v['change']):>30} "
                  f"{v['delta']:>+9.1%} {v['wins']:>3}/{v['pairs']:<3}  {v['verdict']}")
    print()
    for w in [x["name"] for x in bench["workloads"]]:
        pt, ct = parent.get(w, ([], []))[1], change.get(w, ([], []))[1]
        if not pt or not ct:
            print(f"{w}: no traced record on {'both sides' if not pt and not ct else 'one side'}")
            continue
        pl, cl = pt[-1]["layers"], ct[-1]["layers"]
        print(f"{w}: per-layer, latest traced record of each side")
        for m in bench["per_layer"]:
            k = m["name"]
            p, c = pl.get(k, 0.0), cl.get(k, 0.0)
            rel = f"{(c - p) / p:+.1%}" if p else "n/a"
            print(f"  {k:34} {p:>16.6g} {c:>16.6g} {m['unit']:>6} {rel:>9}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
