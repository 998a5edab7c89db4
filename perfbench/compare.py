"""Compares benchmark result sets recorded with `run.py --out FILE`.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl
        One row per workload x metric: each side's median and quartiles,
        pairs won by each side (runs paired by seed, a seed run more than
        once on both sides paired in file order, and all runs paired in file
        order when the sets share no seed; ties count for neither),
        the ratio NEW/BASE with its base, and a verdict. A metric whose
        run-to-run spread (quartile distance over median) is wider than its
        bound is "unresolved" unless every NEW run beats, or loses to, every
        BASE run.

    python3 perfbench/compare.py RUNS.jsonl
        The spread table of one result set: per workload x metric, median,
        quartiles and spread against the metric's bound.

Traced runs (`--trace 1`) and untraced runs are compared separately. When a
set holds both, the tracing overhead is printed as the traced median batch
time (`trace.batch_p50_s`) over the untraced one (`batch_p50_s`).

Bounds and directions come from BENCHMARK.json; per-layer metrics and the
ungated figures (wall-clock latencies and the like) have no bound and get no
verdict.
"""

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
BOUND = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
LOWER_BETTER = {m["name"]: m["better"] == "lower"
                for m in SPEC["end_to_end"] + SPEC["per_layer"]}


def load(path):
    """{(workload, trace): {metric: [(seed, value), ...]}} in file order,
    and units. Every run counts, a repeated seed too. The ungated figures a
    run records (`info`) come along without a bound."""
    runs = defaultdict(lambda: defaultdict(list))
    units = {}
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        info = r.get("info", {})
        for name, m in list(r["result"]["metrics"].items()) + list(info.items()):
            runs[(r["workload"], r["trace"])][name].append((r["seed"], m["value"]))
            units[name] = m["unit"]
            if "better" in m:
                LOWER_BETTER.setdefault(name, m["better"] == "lower")
    return runs, units


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else 0.0


def values(runs):
    return [v for _, v in runs]


def pair(a, b):
    """Pairs two run lists by seed, the k-th run of a seed on one side with
    the k-th run of that seed on the other; in file order when the lists
    share no seed."""
    by_seed = defaultdict(list)
    for s, v in b:
        by_seed[s].append(v)
    if not set(by_seed) & {s for s, _ in a}:
        return list(zip(values(a), values(b)))
    used = defaultdict(int)
    pairs = []
    for s, v in a:
        k = used[s]
        if k < len(by_seed.get(s, ())):
            pairs.append((v, by_seed[s][k]))
            used[s] += 1
    return pairs


def fmt(x):
    return f"{x:.4g}"


def worse_by(base, new, lower):
    """Relative change of `new` against `base`, positive when worse."""
    if base == 0:
        return 0.0
    return (new - base) / abs(base) if lower else (base - new) / abs(base)


def compare(base_path, new_path):
    base, units = load(base_path)
    new, _ = load(new_path)
    print("workload  trace  metric  unit | base median [q1 q3] | new median [q1 q3] "
          "| pairs new/base/tie | new/base (base) | spread base/new | bound | verdict")
    for key in sorted(set(base) & set(new)):
        for name in sorted(set(base[key]) & set(new[key])):
            a, b = base[key][name], new[key][name]
            av, bv = values(a), values(b)
            aq, bq = quartiles(av), quartiles(bv)
            lower = LOWER_BETTER.get(name, True)
            won = lost = tie = 0
            for x, y in pair(a, b):
                d = worse_by(x, y, lower)
                if d < 0:
                    won += 1
                elif d > 0:
                    lost += 1
                else:
                    tie += 1
            sa, sb = spread(av), spread(bv)
            bound = BOUND.get(name)
            delta = worse_by(aq[1], bq[1], lower)
            if bound is None:
                verdict = "-"
            elif max(sa, sb) > bound:
                if all(worse_by(x, y, lower) < 0 for x in av for y in bv):
                    verdict = "better (every run)"
                elif all(worse_by(x, y, lower) > 0 for x in av for y in bv):
                    verdict = "worse (every run)"
                else:
                    verdict = "unresolved"
            elif delta > bound:
                verdict = "REGRESSION"
            elif (won + lost + tie and won >= 0.9 * (won + lost + tie)
                  and abs(bq[1] - aq[1]) > aq[2] - aq[0]):
                verdict = "gain"
            else:
                verdict = "no change beyond bound"
            ratio = bq[1] / aq[1] if aq[1] else float("nan")
            print(f"{key[0]}  {key[1]}  {name}  {units.get(name, '')} | "
                  f"{fmt(aq[1])} [{fmt(aq[0])} {fmt(aq[2])}] | "
                  f"{fmt(bq[1])} [{fmt(bq[0])} {fmt(bq[2])}] | "
                  f"{won}/{lost}/{tie} of {won + lost + tie} | "
                  f"{ratio:.3f} (base {fmt(aq[1])}) | {sa:.3f}/{sb:.3f} | "
                  f"{bound if bound is not None else '-'} | {verdict}")
    overhead(base, "base")
    overhead(new, "new")


def spread_table(path):
    runs, units = load(path)
    print("workload  trace  metric  unit | n | median [q1 q3] | spread | bound | within bound/3")
    for key in sorted(runs):
        for name in sorted(runs[key]):
            xs = values(runs[key][name])
            q1, med, q3 = quartiles(xs)
            s = spread(xs)
            bound = BOUND.get(name)
            ok = "-" if bound is None else ("yes" if s < bound / 3 else "NO")
            print(f"{key[0]}  {key[1]}  {name}  {units.get(name, '')} | {len(xs)} | "
                  f"{fmt(med)} [{fmt(q1)} {fmt(q3)}] | {s:.3f} | "
                  f"{bound if bound is not None else '-'} | {ok}")
    overhead(runs, "set")


def overhead(runs, label):
    for wl in sorted({w for w, _ in runs}):
        plain = runs.get((wl, 0), {}).get("batch_p50_s")  # an info figure
        traced = runs.get((wl, 1), {}).get("trace.batch_p50_s")
        if plain and traced:
            p = statistics.median(values(plain))
            t = statistics.median(values(traced))
            print(f"tracing overhead ({label}) {wl}: traced batch p50 {fmt(t)} s / "
                  f"untraced {fmt(p)} s = {t / p - 1:+.1%} "
                  f"(base: untraced, n={len(plain)}/{len(traced)})")


if __name__ == "__main__":
    if len(sys.argv) == 2:
        spread_table(sys.argv[1])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        print(__doc__)
        sys.exit(2)
