#!/usr/bin/env python3
"""Compare two graft checkouts with perfbench in alternating pairs.

    python3 tools/perfbench_pairs.py PARENT_DIR CHANGE_DIR \\
        --workload interactive_etl --pairs 10 [--seconds 15] [--seed 1] \\
        [--trace 0|1] [--op reference_dag] [--out DIR]

Pair i runs `python3 perfbench/run.py` with seed `--seed + i` once in each
checkout; the parent goes first in even pairs and the change in odd ones,
so neither side always runs in the warmer half of a pair. Every run's
full stdout is kept in DIR as `<workload>-t<trace>-pair<i>-<side>.out`,
its stderr beside it as `.err`. A run whose file already holds a result
line is not run again, so an
interrupted comparison resumes and a finished one can be re-summarised.

For each metric of the result line the summary gives each side's median
and quartiles, the parent's IQR, the change's wins (ties count for
neither), the ratio of medians (change / parent), and whether the gain
rule holds: the change better in at least 9/10 of the pairs and its
median better than the parent's by more than the parent's IQR. It also
flags a change median worse than the parent's by more than the metric's
bound in BENCHMARK.json. Each run's load average (start and end, 1-min)
and CPU steal share come from its `context` line; `--op NAME` adds the
op's median latency (untraced) or its per-layer counts (traced).

The script only reads perfbench's output; it changes nothing in either
checkout except what perfbench itself leaves under `.bench_build/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def parse(path):
    """The run's context, op lines and result, or None without a result."""
    if not os.path.exists(path):
        return None
    context, ops, result = None, {}, None
    with open(path) as f:
        for line in f:
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if not isinstance(obj, dict):
                continue
            if "context" in obj:
                context = obj["context"]
            elif "op" in obj and "per_layer" in obj:
                ops[obj["op"]] = obj["per_layer"]
            elif {"correct", "metrics"} <= set(obj):
                result = obj
    if result is None:
        return None
    return {"context": context or {}, "ops": ops, "result": result}


def run_one(checkout, workload, seed, seconds, trace, path):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    with open(path, "w") as out, open(path[:-len(".out")] + ".err", "w") as err:
        rc = subprocess.run(cmd, cwd=checkout, stdout=out, stderr=err).returncode
    if rc != 0:
        print(f"[pairs] {path}: perfbench exited with {rc}", file=sys.stderr)


def bounds(checkout):
    """metric -> (better, bound or None), from the checkout's BENCHMARK.json."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            b = json.load(f)
    except (OSError, ValueError):
        return {}
    out = {}
    for m in b.get("end_to_end", []) + b.get("per_layer", []):
        out[m["name"]] = (m.get("better", "lower"), m.get("bound"))
    return out


def load1(s):
    return s.split()[0] if s else "?"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--op", help="also report this op's latency or layer counts")
    ap.add_argument("--out", default="perfbench_pairs", help="directory for the run outputs")
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = {s: [] for s in SIDES}
    for i in range(a.pairs):
        seed = a.seed + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            path = os.path.join(a.out, f"{a.workload}-t{a.trace}-pair{i}-{side}.out")
            if parse(path) is None:
                run_one(dirs[side], a.workload, seed, a.seconds, a.trace, path)
            runs[side].append(parse(path))
        r = {s: runs[s][-1] for s in SIDES}
        print(f"[pairs] pair {i} seed {seed} first={order[0]}: " + ", ".join(
            f"{s} {'ok' if r[s] else 'FAILED'}" for s in SIDES), file=sys.stderr, flush=True)

    print(f"# {a.workload}, {a.pairs} pairs, --seconds {a.seconds:g}, --trace {a.trace}, "
          f"seeds {a.seed}..{a.seed + a.pairs - 1}")
    print("\n## runs")
    print("pair side first correct failed/attempted loadavg_start loadavg_end steal% nproc"
          + (f" {a.op}" if a.op else ""))
    for i in range(a.pairs):
        for side in SIDES:
            r = runs[side][i]
            if r is None:
                print(f"{i} {side} - no result")
                continue
            c, res = r["context"], r["result"]
            first = "yes" if (side == "parent") == (i % 2 == 0) else "no"
            row = (f"{i} {side} {first} {res['correct']} {res['failed']}/{res['attempted']} "
                   f"{load1(c.get('loadavg_start'))} {load1(c.get('loadavg_end'))} "
                   f"{100 * c.get('cpu_steal_share', 0):.2f} {c.get('nproc', '?')}")
            if a.op:
                if a.op in r["ops"]:
                    row += " " + json.dumps(r["ops"][a.op], sort_keys=True)
                else:
                    row += f" {c.get('op_median_s', {}).get(a.op, '-')}"
            print(row)

    pairs = [i for i in range(a.pairs) if all(runs[s][i] for s in SIDES)]
    if not pairs:
        sys.exit("no complete pair")
    rule = bounds(dirs["parent"])
    names = list(runs["parent"][pairs[0]]["result"]["metrics"])
    print(f"\n## metrics over {len(pairs)} complete pairs")
    print("metric | parent median [q1, q3] | change median [q1, q3] | parent IQR | "
          "change better in | ratio | gain rule | bound")
    for name in names:
        vals = {s: [runs[s][i]["result"]["metrics"][name]["value"] for i in pairs] for s in SIDES}
        lower = rule.get(name, ("lower", None))[0] == "lower"
        wins = sum(1 for p, c in zip(vals["parent"], vals["change"])
                   if (c < p if lower else c > p))
        (p1, pm, p3), (c1, cm, c3) = (quartiles(vals[s]) for s in SIDES)
        iqr = p3 - p1
        gap = (pm - cm) if lower else (cm - pm)
        holds = wins >= 0.9 * len(pairs) and gap > iqr
        bound = rule.get(name, (None, None))[1]
        worse = -gap / pm if pm else 0.0
        within = "-" if bound is None else ("within" if worse <= bound else f"OVER ({worse:+.1%})")
        ratio = cm / pm if pm else float("nan")
        print(f"{name} | {pm:.4g} [{p1:.4g}, {p3:.4g}] | {cm:.4g} [{c1:.4g}, {c3:.4g}] | "
              f"{iqr:.4g} | {wins}/{len(pairs)} | {ratio:.3f} | {'holds' if holds else 'no'} | "
              f"{within}")


if __name__ == "__main__":
    main()
