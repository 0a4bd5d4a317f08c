#!/usr/bin/env python3
"""Compare benchmark results of a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --overhead DIR

A results directory holds ``<workload>.jsonl`` files: the last stdout line of
one ``run.py --trace 0`` run per line, and optionally
``<workload>.trace.jsonl`` with ``--trace 1`` runs. Line i of the parent and
line i of the change form pair i, so run them with the same seeds, alternating
which side runs first. For each workload and metric the tool prints each
side's median and quartiles and the number of pairs the change wins (ties
count for neither). An end-to-end metric whose median worsened by more than
its bound in BENCHMARK.json is flagged REGRESSED; one whose spread (quartile
distance over median) on either side exceeds its bound is UNRESOLVED unless
every change run beats every parent run; a change that wins at least nine
tenths of the pairs by more than the parent's quartile distance is IMPROVED.

``--overhead`` reports, per workload, how much slower the median operation
is in the traced runs than in the untraced runs of one directory.
"""
import json
import statistics
import sys
from pathlib import Path

BENCH_FILE = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path):
    if not path.is_file():
        return []
    return [json.loads(l) for l in path.read_text().splitlines() if l.strip()]


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def spread(v):
    q1, med, q3 = quartiles(v)
    return (q3 - q1) / abs(med) if med else float("inf")


def compare(parent_dir, change_dir):
    bench = json.loads(BENCH_FILE.read_text())
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    flagged = 0
    for w in (x["name"] for x in bench["workloads"]):
        for suffix, metrics in ((".jsonl", e2e), (".trace.jsonl", layer)):
            p_runs = load(Path(parent_dir) / f"{w}{suffix}")
            c_runs = load(Path(change_dir) / f"{w}{suffix}")
            if not p_runs or not c_runs:
                continue
            print(f"\n== {w}{' (traced)' if 'trace' in suffix else ''}: "
                  f"{len(p_runs)} parent runs, {len(c_runs)} change runs")
            bad = [i for i, r in enumerate(p_runs + c_runs) if not r["correct"] or r["failed"]]
            if bad:
                print(f"   {len(bad)} runs reported wrong outputs or failed operations")
            print(f"   {'metric':34} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
                  f" {'wins':>7}  verdict")
            for name, m in metrics.items():
                pv, cv = values(p_runs, name), values(c_runs, name)
                if not pv or not cv:
                    continue
                lower = m["better"] == "lower"
                pq, cq = quartiles(pv), quartiles(cv)
                pairs = list(zip(pv, cv))
                wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
                verdict = ""
                if "bound" in m:
                    worse = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
                    beats_all = (max(cv) < min(pv)) if lower else (min(cv) > max(pv))
                    if max(spread(pv), spread(cv)) > m["bound"] and not beats_all:
                        verdict = "UNRESOLVED"
                    elif worse > m["bound"] * abs(pq[1]):
                        verdict = "REGRESSED"
                    elif wins >= 0.9 * len(pairs) and -worse > pq[2] - pq[0]:
                        verdict = "IMPROVED"
                    else:
                        verdict = "within bound"
                    flagged += verdict in ("REGRESSED", "UNRESOLVED")
                fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
                print(f"   {name:34} {fmt(pq):>30} {fmt(cq):>30} {wins:>3}/{len(pairs):<3}  {verdict}")
    return flagged


def overhead(result_dir):
    bench = json.loads(BENCH_FILE.read_text())
    for w in (x["name"] for x in bench["workloads"]):
        plain = values(load(Path(result_dir) / f"{w}.jsonl"), "op_p50_s")
        traced = values(load(Path(result_dir) / f"{w}.trace.jsonl"), "trace.op_p50_s")
        if plain and traced:
            p, t = statistics.median(plain), statistics.median(traced)
            print(f"{w}: median operation {p:.4g} s untraced, {t:.4g} s traced "
                  f"({len(plain)}/{len(traced)} runs): tracing overhead {t / p - 1:+.1%}")


def main():
    args = sys.argv[1:]
    if len(args) == 2 and args[0] == "--overhead":
        overhead(args[1])
    elif len(args) == 2:
        sys.exit(1 if compare(*args) else 0)
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
