#!/usr/bin/env python3
"""Interleaved A/B of the product-path benchmark: a parent checkout
against the working tree.

Usage (from the repository root):

    mkdir -p /tmp/parent && git archive <parent-rev> | tar -x -C /tmp/parent
    python3 tools/perfbench_ab.py --parent-dir /tmp/parent \\
        --first-seed 541 --out PERFBENCH_AB_name.json

For each of `--pairs` seeds and each workload (uniform, then skewed) it
runs

    python3 perfbench/run.py --workload W --seed S --seconds 8 --trace 0

once in the parent checkout and once in the working tree, the parent
first on odd seeds and the change first on even ones. Each side first
runs one untimed warm-up (uniform, seed 99) that builds its harness and
class archive. The protocol is fixed so that every A/B it writes is
measured the same way.

The JSON written to `--out` (rewritten after every run, so a cut run
keeps what it measured) holds every run's parsed last JSON line, the
metrics its log printed, its exit code and wall time, and per workload
and metric:

    parent_median, change_median, parent_q1_q3, change_q1_q3
        (quartiles by statistics.quantiles(n=4, method='inclusive')),
    change_better_pairs, pairs,
    change_worse_by        (the change's median relative to the
                            parent's, positive when it is worse),
    parent_iqr_over_median, parent, change   (the values in seed order)

plus the exit codes, failed and attempted requests of each side and
whether every run reported `correct: true`. Nothing under perfbench/ is
changed.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from metrics import END_TO_END, PER_LAYER  # noqa: E402

BETTER = {name: better for name, _, better in END_TO_END + PER_LAYER}
# a metric line of perfbench/run.py's log: "[perfbench] name  value unit (n=..)"
LOG_METRIC = re.compile(r"^\[perfbench\] (\S+)\s+(-?\d+(?:\.\d+)?)\s+\S+\s+\(n=")
WORKLOADS = ("uniform", "skewed")
SECONDS = 8
TRACE = 0
WARMUP = ("uniform", 99)
TIMEOUT_S = 900  # per run; a normal run takes ~2 min


def log(msg):
    print(f"[perfbench-ab] {msg}", file=sys.stderr, flush=True)


def run_once(tree, workload, seed):
    """One benchmark run in `tree`; returns its record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", str(TRACE)]
    t0 = time.monotonic()
    try:
        proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=TIMEOUT_S)
        code, out, err = proc.returncode, proc.stdout, proc.stderr
    except subprocess.TimeoutExpired as e:
        code = "timeout"
        out = e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
        err = e.stderr.decode() if isinstance(e.stderr, bytes) else (e.stderr or "")
    result = None
    for line in reversed(out.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
            break
    logged = {}
    for line in err.splitlines():
        m = LOG_METRIC.match(line)
        if m:
            logged[m.group(1)] = float(m.group(2))
    rec = {"seed": seed, "workload": workload, "exit": code,
           "wall_s": round(time.monotonic() - t0, 1), "result": result,
           "stderr_metrics": logged}
    if result is None:
        rec["stderr_tail"] = err[-2000:]
    return rec


def value(rec, name):
    m = ((rec.get("result") or {}).get("metrics") or {}).get(name)
    return None if m is None else m.get("value")


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0]] if xs else None
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return [round(q[0], 4), round(q[2], 4)]


def compare(pairs, name):
    """The summary of metric `name` over (parent, change) run pairs."""
    both = [(value(p, name), value(c, name)) for p, c in pairs]
    both = [(p, c) for p, c in both if p is not None and c is not None]
    if not both:
        return None
    parent = [p for p, _ in both]
    change = [c for _, c in both]
    lower = BETTER.get(name, "higher") == "lower"
    pm, cm = statistics.median(parent), statistics.median(change)
    pq = quartiles(parent)
    better = sum(1 for p, c in both if (c < p if lower else c > p))
    worse_by = ((cm - pm) if lower else (pm - cm)) / pm if pm else None
    return {
        "parent_median": round(pm, 4), "change_median": round(cm, 4),
        "parent_q1_q3": pq, "change_q1_q3": quartiles(change),
        "change_better_pairs": better, "pairs": len(both),
        "change_worse_by": None if worse_by is None else round(worse_by, 4),
        "parent_iqr_over_median": round((pq[1] - pq[0]) / pm, 4) if pm else None,
        "parent": [round(x, 3) for x in parent], "change": [round(x, 3) for x in change],
    }


def summarize(runs):
    summary = {}
    for w in WORKLOADS:
        by_seed = {}
        for r in runs:
            if r["workload"] == w and r["seed"] != "warmup":
                by_seed.setdefault(r["seed"], {})[r["side"]] = r
        pairs = [(s["parent"], s["change"]) for _, s in sorted(by_seed.items())
                 if "parent" in s and "change" in s]
        names = []
        for p, c in pairs:
            for rec in (p, c):
                for n in ((rec.get("result") or {}).get("metrics") or {}):
                    if n not in names:
                        names.append(n)
        summary[w] = {n: s for n in names if (s := compare(pairs, n)) is not None}
    return summary


def side_totals(runs):
    timed = [r for r in runs if r["seed"] != "warmup"]
    out = {"exit_codes": {}, "failed_requests": {}, "attempted_requests": {}}
    for side in ("parent", "change"):
        mine = [r for r in timed if r["side"] == side]
        out["exit_codes"][side] = sorted({r["exit"] for r in mine}, key=str)
        out["failed_requests"][side] = sum((r["result"] or {}).get("failed", 0) for r in mine)
        out["attempted_requests"][side] = sum((r["result"] or {}).get("attempted", 0) for r in mine)
    out["all_correct"] = bool(timed) and all(
        r["exit"] == 0 and (r["result"] or {}).get("correct") is True for r in timed)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent-dir", required=True,
                    help="a checkout of the revision the change is measured against")
    ap.add_argument("--pairs", type=int, default=10, help="pairs per workload")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    parent_dir = os.path.abspath(args.parent_dir)
    if not os.path.isfile(os.path.join(parent_dir, "perfbench", "run.py")):
        ap.error(f"{parent_dir} holds no perfbench/run.py")
    trees = {"parent": parent_dir, "change": ROOT}
    seeds = list(range(args.first_seed, args.first_seed + args.pairs))
    record = {
        "what": "Interleaved parent/change runs of `python3 perfbench/run.py --workload W "
                f"--seed S --seconds {SECONDS} --trace {TRACE}`. Quartiles: "
                "statistics.quantiles(n=4, method='inclusive').",
        "parent_dir": parent_dir,
        "pairs": f"seeds {seeds[0]}-{seeds[-1]}, {len(seeds)} pairs per workload, "
                 f"{' then '.join(WORKLOADS)} per seed; parent first on odd seeds, change "
                 "first on even seeds; each side ran one untimed warm-up run "
                 f"({WARMUP[0]}, seed {WARMUP[1]}) first",
        "runs": [],
    }
    runs = record["runs"]

    def save():
        record["summary"] = summarize(runs)
        record.update(side_totals(runs))
        tmp = args.out + ".tmp"
        with open(tmp, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
        os.replace(tmp, args.out)

    def run(side, workload, seed, label=None):
        log(f"{side} {workload} seed {seed}")
        rec = run_once(trees[side], workload, seed)
        rec["side"] = side
        if label:
            rec["seed"] = label
        runs.append(rec)
        save()
        if rec["exit"] != 0:
            log(f"{side} {workload} seed {seed} exited {rec['exit']}")

    for side in ("parent", "change"):
        run(side, WARMUP[0], WARMUP[1], label="warmup")
    for seed in seeds:
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for workload in WORKLOADS:
            for side in order:
                run(side, workload, seed)
    for w, metrics in record["summary"].items():
        for name, s in metrics.items():
            log(f"{w:8s} {name:28s} parent {s['parent_median']:>12} change "
                f"{s['change_median']:>12} better {s['change_better_pairs']}/{s['pairs']} "
                f"worse_by {s['change_worse_by']} parent_iqr/med {s['parent_iqr_over_median']}")
    log(f"wrote {args.out}")

if __name__ == "__main__":
    main()
