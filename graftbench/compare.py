#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 graftbench/run.py ... --record base.jsonl     # on the parent
    python3 graftbench/run.py ... --record head.jsonl     # on the change
    python3 graftbench/compare.py base.jsonl head.jsonl

For every workload and metric it prints each side's median and
quartiles, the share of pairs the change won (runs are paired by seed,
ties count for neither side), the change as a share of the parent's
median, and a verdict:

* improved   -- the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's own quartile spread;
* worse      -- the parent wins at least 9 of 10 pairs by that margin, or,
  for an end-to-end metric, the change's median is worse than the
  parent's by more than the metric's bound;
* unresolved -- an end-to-end metric whose run-to-run spread on either
  side is wider than its bound, unless every run of the change reads
  better than every run of the parent;
* unchanged  -- otherwise.
"""
import json
import os
import statistics
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCHMARK.json")


def load(path):
    """{(workload, trace): {seed: {metric: value}}} from a --record file."""
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = {
                    k: v["value"] for k, v in r["metrics"].items()}
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(base, head, lower_is_better, bound=None, pairs=None):
    """(verdict, share of pairs the change won) for one metric."""
    b1, bm, b3 = quartiles(base)
    h1, hm, h3 = quartiles(head)
    pairs = pairs if pairs is not None else list(zip(base, head))
    better = (lambda h, b: h < b) if lower_is_better else (lambda h, b: h > b)
    won = sum(better(h, b) for b, h in pairs)
    lost = sum(better(b, h) for b, h in pairs)
    share = won / len(pairs) if pairs else 0.0
    margin = abs(hm - bm) > (b3 - b1)
    if pairs and won >= 0.9 * len(pairs) and margin and better(hm, bm):
        return "improved", share
    if pairs and lost >= 0.9 * len(pairs) and margin and better(bm, hm):
        return "worse", share
    if bound is not None:
        all_better = all(better(h, b) for h in head for b in base)
        spread = max((b3 - b1) / abs(bm) if bm else 0, (h3 - h1) / abs(hm) if hm else 0)
        if spread > bound and not all_better:
            return "unresolved", share
        worse_by = (hm - bm) if lower_is_better else (bm - hm)
        if bm and worse_by / abs(bm) > bound:
            return "worse", share
    return "unchanged", share


def compare(base_runs, head_runs, spec):
    kinds = {m["name"]: (m, "end_to_end") for m in spec["end_to_end"]}
    kinds.update({m["name"]: (m, "per_layer") for m in spec["per_layer"]})
    lines = []
    for key in sorted(set(base_runs) & set(head_runs)):
        base, head = base_runs[key], head_runs[key]
        seeds = sorted(set(base) & set(head))
        lines.append(f"== {key[0]} ({'traced' if key[1] else 'untraced'}): "
                     f"{len(base)} parent runs, {len(head)} change runs, {len(seeds)} pairs")
        names = sorted(set().union(*base.values()) & set().union(*head.values()))
        for name in names:
            m, kind = kinds.get(name, ({"better": "lower", "unit": "?"}, "per_layer"))
            bv = [r[name] for r in base.values() if r.get(name) is not None]
            hv = [r[name] for r in head.values() if r.get(name) is not None]
            if not bv or not hv:
                continue
            pairs = [(base[s][name], head[s][name]) for s in seeds
                     if base[s].get(name) is not None and head[s].get(name) is not None]
            v, share = verdict(bv, hv, m["better"] == "lower",
                               m.get("bound") if kind == "end_to_end" else None,
                               pairs if pairs else None)
            b1, bm, b3 = quartiles(bv)
            h1, hm, h3 = quartiles(hv)
            rel = f"{(hm - bm) / abs(bm):+.1%} of {bm:.4g}" if bm else "base 0"
            lines.append(f"  {name:48s} {m.get('unit', '?'):6s} parent {bm:.4g} [{b1:.4g}, {b3:.4g}]"
                         f"  change {hm:.4g} [{h1:.4g}, {h3:.4g}]  {rel}"
                         f"  won {share:.0%}  {v}")
    return lines


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    with open(BENCH) as f:
        spec = json.load(f)
    for line in compare(load(argv[0]), load(argv[1]), spec):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
