#!/usr/bin/env python3
"""Read sets of benchmark results that run.py saved (one JSON file per run,
under perfbench/.work/results/) and judge them.

    python3 perfbench/compare.py spread DIR
        Per workload and metric: the median, the quartiles, and the spread
        (interquartile range over the median) beside the metric's bound.
        An end-to-end metric is steady when its spread is below a third of
        its bound; setup_s is exempt.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
        Per workload and metric, pair the runs (by seed where both sides
        share seeds, else in run order) and print better, worse or
        unresolved.
        Better or worse needs the change to win, or lose, at least nine
        tenths of the pairs (ties count for neither) and the medians to
        differ by more than the base's interquartile range. A median worse
        than the base's by more than the metric's bound is also worse.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    """Metric name -> (better, bound) from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        b = json.load(fh)
    out = {m["name"]: (m["better"], m["bound"]) for m in b["end_to_end"]}
    out.update({m["name"]: (m["better"], None) for m in b["per_layer"]})
    return out


def load(d):
    """(workload, metric) -> [(seed, value)] over the runs in `d`."""
    rows = {}
    files = glob.glob(os.path.join(d, "*.json"))
    # Run order: each file name ends with the run's end time.
    for f in sorted(files, key=lambda f: int(f.rsplit("-", 1)[1][:-5])):
        with open(f) as fh:
            r = json.load(fh)
        wl, seed = r["env"]["workload"], r["env"]["seed"]
        for name, m in r["metrics"].items():
            rows.setdefault((wl, name), []).append((seed, m["value"]))
    return rows


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def spread(d):
    sp = spec()
    print(f"{'workload':14} {'metric':30} {'n':>3} {'median':>12} "
          f"{'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
    for (wl, name), vals in sorted(load(d).items()):
        xs = [v for _, v in vals]
        med = statistics.median(xs)
        q1, q3 = quartiles(xs)
        rel = (q3 - q1) / med if med else float("inf")
        bound = sp.get(name, (None, None))[1]
        verdict = ""
        if bound is not None:
            verdict = ("exempt" if name == "setup_s" else
                       "steady" if rel < bound / 3 else "UNSTEADY")
        print(f"{wl:14} {name:30} {len(xs):3} {med:12.6g} {q1:12.6g} "
              f"{q3:12.6g} {rel:8.3f} {bound if bound is not None else '':>6}"
              f"  {verdict}")


def pairs(a, b):
    """By seed where both sides ran the same seeds, else in run order."""
    da, db = dict(a), dict(b)
    common = sorted(set(da) & set(db))
    if common:
        return [(da[s], db[s]) for s in common]
    return [(x, y) for (_, x), (_, y) in zip(a, b)]


def compare(base_dir, change_dir):
    sp = spec()
    base, change = load(base_dir), load(change_dir)
    print(f"{'workload':14} {'metric':30} {'pairs':>5} {'base med':>11} "
          f"{'base q1-q3':>23} {'chg med':>11} {'chg q1-q3':>23} "
          f"{'wins':>5}  verdict")
    for key in sorted(set(base) & set(change)):
        wl, name = key
        better, bound = sp.get(name, ("lower", None))
        ps = pairs(base[key], change[key])
        sign = -1 if better == "lower" else 1
        wins = sum(1 for a, b in ps if sign * (b - a) > 0)
        losses = sum(1 for a, b in ps if sign * (b - a) < 0)
        xa = [v for _, v in base[key]]
        xb = [v for _, v in change[key]]
        ma, mb = statistics.median(xa), statistics.median(xb)
        qa, qb = quartiles(xa), quartiles(xb)
        iqr = qa[1] - qa[0]
        gain = sign * (mb - ma)
        if wins >= 0.9 * len(ps) and gain > iqr:
            verdict = "better"
        elif losses >= 0.9 * len(ps) and -gain > iqr:
            verdict = "worse"
        elif bound is not None and -gain > bound * abs(ma):
            verdict = "worse (beyond bound)"
        else:
            verdict = "unresolved"
        print(f"{wl:14} {name:30} {len(ps):5} {ma:11.5g} "
              f"{qa[0]:11.5g}-{qa[1]:<11.5g} {mb:11.5g} "
              f"{qb[0]:11.5g}-{qb[1]:<11.5g} {wins:5}  {verdict}")


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "spread":
        spread(sys.argv[2])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)
