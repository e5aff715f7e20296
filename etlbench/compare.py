"""Compares two sets of run records offline.

    python3 etlbench/compare.py PARENT CHILD

PARENT and CHILD are record files or directories of them (run.py writes one
record per run to <build dir>/records/). For each workload and end-to-end
metric it prints both sides' medians and quartiles, the metric's bound from
BENCHMARK.json, and a verdict:

  improved    the child wins at least 9 of 10 pairs (ties count for neither)
              and the medians differ by more than the parent's quartile
              spread
  worse       the child's median is worse than the parent's by more than
              the bound
  unresolved  the parent's quartile spread is wider than the bound, unless
              every child run beats every parent run
  no worse    otherwise

Runs are paired by seed where both sides ran the same seeds, else in order.
From traced records it prints the per-layer medians that changed and flags
every rise in a `jobs` counter. Exits 1 when any verdict is `worse`.
"""

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def pairs(parent, child):
    """(parent value, child value) pairs: by seed when the seeds overlap."""
    ps, cs = dict(parent), dict(child)
    common = sorted(set(ps) & set(cs))
    if common:
        return [(ps[s], cs[s]) for s in common]
    return list(zip([v for _, v in parent], [v for _, v in child]))


def verdict(parent, child, better, bound):
    """parent, child: lists of (seed, value). Returns (verdict, detail)."""
    p = [v for _, v in parent]
    c = [v for _, v in child]
    pm, cm = statistics.median(p), statistics.median(c)
    q1, q3 = quartiles(p)
    sign = 1 if better == "lower" else -1   # sign * (x - y) > 0: x is worse than y
    pr = pairs(parent, child)
    wins = sum(1 for a, b in pr if sign * (a - b) > 0)
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    spread = (q3 - q1) / pm if pm else 0.0
    detail = f"wins {wins}/{len(pr)}, median {(cm - pm) / pm if pm else 0.0:+.1%}, parent spread {spread:.1%}"
    if pr and wins >= 0.9 * len(pr) and sign * (pm - cm) > (q3 - q1):
        return "improved", detail
    if spread > bound and not all(sign * (a - b) > 0 for a in p for b in c):
        return "unresolved", detail
    if worse_by > bound:
        return "worse", detail
    return "no worse", detail


def by_workload(records, trace):
    out = {}
    for r in records:
        if r.get("trace") == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    parent, child = load(argv[1]), load(argv[2])
    for side, recs in (("parent", parent), ("child", child)):
        suspect = sum(1 for r in recs if r.get("suspect"))
        if suspect:
            print(f"note: {suspect} {side} run(s) marked suspect (load average above core count)")
    any_worse = False
    pw, cw = by_workload(parent, 0), by_workload(child, 0)
    for w in sorted(set(pw) & set(cw)):
        print(f"\n{w}: {len(pw[w])} parent runs, {len(cw[w])} child runs")
        for m in bench["end_to_end"]:
            n = m["name"]
            pv = [(r["seed"], r["metrics"][n]["value"]) for r in pw[w] if n in r["metrics"]]
            cv = [(r["seed"], r["metrics"][n]["value"]) for r in cw[w] if n in r["metrics"]]
            if not pv or not cv:
                continue
            v, detail = verdict(pv, cv, m["better"], m["bound"])
            any_worse |= v == "worse"
            pq, cq = quartiles([x for _, x in pv]), quartiles([x for _, x in cv])
            print(f"  {n:22s} parent {statistics.median([x for _, x in pv]):.6g} "
                  f"[{pq[0]:.6g}, {pq[1]:.6g}]  child {statistics.median([x for _, x in cv]):.6g} "
                  f"[{cq[0]:.6g}, {cq[1]:.6g}] {m['unit']}  bound {m['bound']:.0%}  "
                  f"{v.upper()} ({detail})")
    pt, ct = by_workload(parent, 1), by_workload(child, 1)
    for w in sorted(set(pt) & set(ct)):
        print(f"\n{w} per-layer (traced; median per call)")
        for m in bench["per_layer"]:
            n = m["name"]
            a = statistics.median([r["per_layer"][n] for r in pt[w]])
            b = statistics.median([r["per_layer"][n] for r in ct[w]])
            if a == b:
                continue
            flag = "  JOBS UP" if n.endswith(".jobs") and b > a else ""
            rel = f"{(b - a) / a:+.1%}" if a else "new"
            print(f"  {n:44s} {a:.6g} -> {b:.6g} {m['unit']} ({rel}){flag}")
    return 1 if any_worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
