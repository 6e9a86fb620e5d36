#!/usr/bin/env python3
"""Parent-vs-change benchmark pairs: run them, then judge them in one table.

    # run 10 alternating pairs of one workload (pair i runs the parent first
    # when i is even, the change first when i is odd); stdout of each run
    # goes to <out>/<workload>.<seed>.<side>.log, stderr to .err
    python3 dev/benchpairs.py run --parent ../parent --change . \\
        --workload er_resolve --seeds 101-110 --out pairs/

    # judge every <workload>.<seed>.<parent|change>.log in a directory
    python3 dev/benchpairs.py report pairs/

    # one traced run per side for one seed: every per_layer metric and
    # every span's calls, jobs and self/task seconds, parent -> change
    python3 dev/benchpairs.py layers --parent ../parent --change . \\
        --workload corpus_index --seed 1 --out pairs/

`run` calls `graftbench/run.py` inside each checkout with the run length
from BENCHMARK.json and tracing off. `report` reads the last stdout line
of each log, graftbench's `{"correct", "attempted", "failed", "metrics"}`
JSON, pairs the runs by (workload, seed) and prints, per workload and
BENCHMARK.json end-to-end metric:

- each side's median and quartiles;
- the change/parent ratio of the medians;
- the pairs the change won (ties count for neither) out of the pairs run;
- the parent's IQR/median;
- `gain`: won at least 9/10 of the pairs and the medians differ by more
  than the parent's IQR, in the better direction; `n<10` below ten pairs,
  which are too few to claim a gain;
- `bound`: whether the change's median is within the metric's bound of
  the parent's (`ok`) or not (`WORSE`).

Exit status: 3 if a metric is outside its bound (whatever else went
wrong, so a regression is never masked); else 1 if any run failed an op,
broke a gate, printed no JSON line or lacks a key, or has no partner;
else 0. BENCHMARK.json is read from the repository root, never written.

`layers` runs `--trace 1` once in the parent, then once in the change,
logging to <out>/<workload>.<seed>.<side>.trace.log (which `report`
skips) and copying each run's span file next to it. It prints every
BENCHMARK.json per_layer metric, then each span name's second-cycle
calls, jobs, self seconds and task seconds, as parent -> change. Exit status 1 if a run exits
non-zero, fails an op or gate, prints no metrics, or reports
`trace.count_mismatches` > 0; else 0.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
MIN_PAIRS = 10  # fewer pairs than this cannot back a gain claim


def seeds_arg(s):
    """`101-110` or `1,4,9` → list of ints."""
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def run_one(a, bench, side, seed, trace, log):
    """One graftbench run in `side`'s tree; stdout to `log`, stderr next to it. Returns the exit status."""
    tree = a.parent if side == "parent" else a.change
    cmd = [sys.executable, "graftbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    with open(log, "w") as out, open(log[:-len(".log")] + ".err", "w") as err:
        rc = subprocess.run(cmd, cwd=tree, stdout=out, stderr=err, stdin=subprocess.DEVNULL).returncode
    print(f"benchpairs: {a.workload} seed {seed} {side}: exit {rc}", file=sys.stderr)
    return rc


def run(a, bench):
    os.makedirs(a.out, exist_ok=True)
    for i, seed in enumerate(a.seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            run_one(a, bench, side, seed, 0, os.path.join(a.out, f"{a.workload}.{seed}.{side}.log"))


def layers(a, bench):
    os.makedirs(a.out, exist_ok=True)
    metrics, spans, problems = {}, {}, []
    for side in SIDES:
        log = os.path.join(a.out, f"{a.workload}.{a.seed}.{side}.trace.log")
        rc = run_one(a, bench, side, a.seed, 1, log)
        out = last_json(log)
        if rc or out is None or "metrics" not in out:
            problems.append(f"{side}: exit {rc}" + ("" if out and "metrics" in out else ", no metrics line"))
            continue
        if out.get("failed") or not out.get("correct"):
            problems.append(f"{side}: failed {out.get('failed')} of {out.get('attempted')} ops, "
                            f"correct={out.get('correct')}")
        metrics[side] = out["metrics"]
        mismatches = out["metrics"].get("trace.count_mismatches", {}).get("value")
        if mismatches != 0:
            problems.append(f"{side}: trace.count_mismatches = {mismatches}")
        tree = a.parent if side == "parent" else a.change
        src = os.path.join(tree, ".bench_build", "trace", f"{a.workload}-seed{a.seed}.json")
        if not os.path.exists(src):
            problems.append(f"{side}: no span file {src}")
            continue
        kept = log[:-len(".log")] + ".json"
        shutil.copyfile(src, kept)
        with open(kept) as fh:
            per = spans[side] = defaultdict(lambda: [0, 0, 0.0, 0.0])
            for sp in json.load(fh):
                if sp["cycle"] == 2:
                    per[sp["name"]][0] += 1
                    per[sp["name"]][1] += sp["jobs"]
                    per[sp["name"]][2] += sp["self_s"]
                    per[sp["name"]][3] += sp["task_s"]

    def row(name, unit, p, c):
        ratio = f"{c / p:.3f}" if p else "-"
        print(f"{name:<36} {unit:<6} {p:>14.6g} {c:>14.6g} {ratio:>7}")
    if len(metrics) == 2:
        print(f"\n{a.workload} seed {a.seed}, --trace 1")
        print(f"{'per_layer metric':<36} {'unit':<6} {'parent':>14} {'change':>14} {'ratio':>7}")
        for m in bench["per_layer"]:
            name = m["name"]
            if name not in metrics["parent"] or name not in metrics["change"]:
                problems.append(f"{name}: missing from a run")
                continue
            row(name, m["unit"], metrics["parent"][name]["value"], metrics["change"][name]["value"])
    if len(spans) == 2:
        print(f"\n{'cycle-2 span':<36} {'':<6} {'parent':>14} {'change':>14} {'ratio':>7}")
        for name in sorted(set(spans["parent"]) | set(spans["change"])):
            p, c = spans["parent"][name], spans["change"][name]
            for i, unit in enumerate(("calls", "jobs", "self s", "task s")):
                row(name, unit, p[i], c[i])
    for p in problems:
        print(f"benchpairs: {p}", file=sys.stderr)
    return 1 if problems else 0


def last_json(path):
    with open(path) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(a, bench):
    runs = defaultdict(dict)  # (workload, seed) -> side -> parsed JSON
    problems = []
    for name in sorted(os.listdir(a.dir)):
        parts = name.split(".")
        if len(parts) != 4 or parts[3] != "log" or parts[2] not in SIDES:
            continue
        workload, seed, side = parts[0], int(parts[1]), parts[2]
        out = last_json(os.path.join(a.dir, name))
        if out is None:
            problems.append(f"{name}: no JSON last line")
            continue
        missing = [k for k in ("correct", "attempted", "failed", "metrics") if k not in out]
        if missing:
            problems.append(f"{name}: JSON last line lacks {', '.join(missing)}")
            continue
        if out["failed"] or not out["correct"]:
            problems.append(f"{name}: failed {out['failed']} of {out['attempted']} ops, correct={out['correct']}")
        runs[(workload, seed)][side] = out
    pairs = defaultdict(list)  # workload -> [(seed, parent metrics, change metrics)]
    for (workload, seed), sides in sorted(runs.items()):
        if set(sides) != set(SIDES):
            problems.append(f"{workload} seed {seed}: no {'change' if 'parent' in sides else 'parent'} run")
            continue
        pairs[workload].append((seed, sides["parent"]["metrics"], sides["change"]["metrics"]))

    worse = []
    head = (f"{'metric':<15} {'parent med [q1, q3]':>26} {'change med [q1, q3]':>26} "
            f"{'ratio':>6} {'wins':>6} {'p IQR/med':>9} {'gain':>5} {'bound':>11}")
    for workload, ps in sorted(pairs.items()):
        n = len(ps)
        print(f"\n{workload}: {n} pairs, seeds {', '.join(str(s) for s, _, _ in ps)}")
        print(head)
        for m in bench["end_to_end"]:
            name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
            have = [(p[name]["value"], c[name]["value"]) for _, p, c in ps if name in p and name in c]
            if len(have) != n:
                problems.append(f"{workload} {name}: missing from {n - len(have)} pairs")
                continue
            pv, cv = [p for p, _ in have], [c for _, c in have]
            pq, cq = quartiles(pv), quartiles(cv)
            wins = sum(1 for p, c in have if (c < p if lower else c > p))
            iqr = pq[2] - pq[0]
            gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
            gain = "n<10" if n < MIN_PAIRS else "yes" if wins >= 0.9 * n and gap > iqr else "no"
            ratio = cq[1] / pq[1] if pq[1] else float("nan")
            within = cq[1] <= pq[1] * (1 + bound) if lower else cq[1] >= pq[1] * (1 - bound)
            if not within:
                worse.append(f"{workload} {name}")
            rel = iqr / abs(pq[1]) if pq[1] else float("nan")

            def fmt(q):
                v = [f"{x:.0f}" if abs(x) >= 1000 else f"{x:.4g}" for x in q]
                return f"{v[1]} [{v[0]}, {v[2]}]"
            print(f"{name:<15} {fmt(pq):>26} {fmt(cq):>26} {ratio:>6.3f} {wins:>3}/{n:<2} {rel:>9.3f} "
                  f"{gain:>5} {('ok' if within else 'WORSE') + f' ±{bound}':>11}")
    for p in problems:
        print(f"benchpairs: {p}", file=sys.stderr)
    for w in worse:
        print(f"benchpairs: {w} is outside its bound", file=sys.stderr)
    return 3 if worse else 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, type=seeds_arg)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("dir")
    t = sub.add_parser("layers")
    t.add_argument("--parent", required=True)
    t.add_argument("--change", required=True)
    t.add_argument("--workload", required=True)
    t.add_argument("--seed", required=True, type=int)
    t.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.cmd == "run":
        run(a, bench)
        return 0
    if a.cmd == "layers":
        return layers(a, bench)
    return report(a, bench)


if __name__ == "__main__":
    sys.exit(main())
