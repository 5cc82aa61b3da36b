#!/usr/bin/env python3
"""Summarise or compare benchmark results kept under `.bench_build/results/`.

    python3 perfbench/compare.py A.json [A2.json ...] [-- B.json ...]

One set: per metric, the median, the quartiles and the spread (the
inter-quartile distance as a share of the median). Two sets (split by
`--`): also each metric's change of median from A to B, judged against
the bounds in BENCHMARK.json. Results are comparable only when their
configuration stamps agree (workload, run length, cpus, sf, heap, Spark,
JDK); anything else is refused. Commit, source digest and seed may differ.
"""
import json
import os
import statistics
import sys

CONFIG = ("workload", "seconds", "cpus", "sf", "heap", "spark", "jdk")


def load(paths):
    return [json.load(open(p)) for p in paths]


def config(result):
    return {k: result["stamp"][k] for k in CONFIG}


def metrics(result):
    return result.get("per_layer") or {**result["end_to_end"], **result["reads"]}


def summary(results):
    names = list(metrics(results[0]))
    out = {}
    for n in names:
        vals = [metrics(r)[n][0] for r in results]
        if len(vals) >= 2:
            q1, med, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = med = q3 = vals[0]
        out[n] = {"median": med, "q1": q1, "q3": q3, "n": len(vals),
                  "spread": (q3 - q1) / med if med else None}
    return out


def main(argv):
    if "--" in argv:
        i = argv.index("--")
        sets = [load(argv[:i]), load(argv[i + 1:])]
    else:
        sets = [load(argv)]
    stamps = {json.dumps(config(r), sort_keys=True) for s in sets for r in s}
    if len(stamps) != 1:
        print("refusing to compare results with different configurations:", file=sys.stderr)
        for st in sorted(stamps):
            print("  " + st, file=sys.stderr)
        return 2
    bench = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                        "..", "BENCHMARK.json")))
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    a = summary(sets[0])
    print(f"config {next(iter(stamps))}")
    for n, s in a.items():
        line = (f"{n}: median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                f"spread {s['spread']:.3f} (n={s['n']})")
        if len(sets) == 2:
            b = summary(sets[1])[n]
            change = (b["median"] - s["median"]) / s["median"] if s["median"] else 0.0
            line += f" -> B median {b['median']:.4g} ({change:+.1%})"
            if n in bounds:
                worse = change if bounds[n]["better"] == "lower" else -change
                line += " WORSE than bound" if worse > bounds[n]["bound"] else " within bound"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
