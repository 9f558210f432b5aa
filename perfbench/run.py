#!/usr/bin/env python3
"""Product-path benchmark of graft: WAT import, rank-maintaining fold
and the link API over the store they built.

Usage (from the repository root):

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 8 --trace 0

Builds the harness (perfbench/harness, which compiles the library's own
sources) on first use, generates the workload's inputs from the seed,
runs the workload in a fresh JVM with a `GraftConf.local(nproc)`
session, checks its outputs and prints one JSON line as the last line
of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` runs the traced
variant and reports the per-layer metrics (see perfbench/README.md).
The exit code is non-zero when an output check fails.
"""
import argparse
import atexit
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

from gen import wat  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402

ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
SOURCES = [os.path.join(ROOT, "src", "main"), HARNESS]

# input sizes and program settings common to the workloads
SIZES = {"segments": 1, "pages_per_segment": 400, "domains": 60, "rank_max_iters": 2}
# what sets the workloads apart: the skew of link and page domains, the
# share of links a host repeats, and the skew of the request keys
WORKLOADS = {
    "skewed": {"zipf_s": 1.1, "page_zipf_s": 0.8, "repeat_share": 0.25, "request_zipf_s": 1.0},
    "uniform": {"zipf_s": 0.0, "page_zipf_s": 0.0, "repeat_share": 0.05, "request_zipf_s": 0.0},
}
# input generation is repeated this many times per run and its median
# time goes into setup_s
SETUP_REPEATS = 3
RUN_TIMEOUT_S = 170
# keep the JVM's class-data-sharing messages out of the run's log
CDS_QUIET = ["-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HARNESS, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(build_dir, tree):
    """Compile the harness with the library sources once per source
    tree; return the runtime classpath."""
    stamp = os.path.join(build_dir, f"classpath-{tree}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    log(f"building the harness into {build_dir}")
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD=build_dir)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={os.path.join(build_dir, 'tmp')}"
                       " -Dsbt.server.autostart=false -XX:-UsePerfData").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=880)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("harness build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def generate(workload, seed, inputs):
    """Generate the workload's inputs SETUP_REPEATS times; returns the
    expected counts, the directory of the last copy and the time of
    each repetition."""
    cfg = WORKLOADS[workload]
    times, expected = [], None
    for k in range(SETUP_REPEATS):
        out = os.path.join(inputs, f"gen-{k}")
        t0 = time.perf_counter()
        expected = wat.generate(out, seed, segments=SIZES["segments"],
                                pages_per_segment=SIZES["pages_per_segment"],
                                domains=SIZES["domains"], zipf_s=cfg["zipf_s"],
                                page_zipf_s=cfg["page_zipf_s"],
                                repeat_share=cfg["repeat_share"])
        times.append(time.perf_counter() - t0)
        if k < SETUP_REPEATS - 1:
            shutil.rmtree(out)
    return expected, out, times


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Pipeline.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    tree = source_hash()
    classpath = build(build_dir, tree)

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{os.getpid()}")
    log(f"scratch, temp and inputs under {run_dir} (deleted at exit)")
    child = []

    def cleanup():
        for p in child:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    atexit.register(cleanup)
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *_: sys.exit(3))
    os.makedirs(os.path.join(run_dir, "inputs"))

    expected, input_dir, gen_times = generate(args.workload, args.seed, os.path.join(run_dir, "inputs"))
    params = dict(SIZES, **WORKLOADS[args.workload], workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, input=input_dir,
                  cores=len(os.sched_getaffinity(0)), expected=expected)

    def launch(name, params, jvm_opts):
        """Run the harness JVM on `params` with scratch, temp and work
        directories under `name`; returns (exit code, result path)."""
        top = os.path.join(run_dir, name)
        for d in ("work", "scratch", "tmp"):
            os.makedirs(os.path.join(top, d))
        params = dict(params, work=os.path.join(top, "work"), result=os.path.join(top, "result.json"))
        with open(os.path.join(top, "params.json"), "w") as f:
            json.dump(params, f)
        cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"] + jvm_opts +
               [f"-Djava.io.tmpdir={os.path.join(top, 'tmp')}",
                f"-Dlog4j2.configurationFile={os.path.join(HARNESS, 'log4j2.properties')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
               [a for o in JVM_OPENS for a in ("--add-opens", f"{o}=ALL-UNNAMED")] +
               ["-cp", classpath, "graft.perfbench.Main", os.path.join(top, "params.json")])
        env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(top, "scratch"))
        env.pop("SPARK_LOCAL_DIRS", None)
        proc = subprocess.Popen(cmd, env=env, cwd=top, stdout=sys.stderr, stderr=sys.stderr)
        child.append(proc)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S), params["result"]
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the {args.workload} run did not finish within {RUN_TIMEOUT_S}s")

    # Loading Spark's classes costs seconds of every run and is the same
    # on every commit, so runs map them from a class-data-sharing
    # archive. The first run of a build writes it from an untimed run
    # of its own, so every measured run starts the same way.
    jsa = os.path.join(build_dir, f"classes-{tree}.jsa")
    if not os.path.exists(jsa):
        log(f"writing the class archive {jsa} from an untimed run")
        code, _ = launch("archive", dict(params, seconds=1, trace=0),
                         [f"-XX:ArchiveClassesAtExit={jsa}.tmp"] + CDS_QUIET)
        if code == 0 and os.path.exists(jsa + ".tmp"):
            os.replace(jsa + ".tmp", jsa)
        shutil.rmtree(os.path.join(run_dir, "archive"), ignore_errors=True)
    cds = [f"-XX:SharedArchiveFile={jsa}"] + CDS_QUIET if os.path.exists(jsa) else []
    code, result_path = launch("run", params, cds)
    try:
        with open(result_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        fail(f"the harness exited with {code} and wrote no result")

    metrics = dict(result["metrics"])
    log(f"session {result['session_s']:.1f} s, generation {statistics.median(gen_times):.2f} s, "
        f"workload set-up {result['workload_setup_s']:.1f} s")
    setup_s = result["session_s"] + statistics.median(gen_times) + result["workload_setup_s"]
    metrics["setup_s"] = {"value": setup_s, "unit": "s", "samples": len(gen_times)}
    if args.trace:
        os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
        trace_path = os.path.join(build_dir, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": result["spans"], "metrics": metrics}, f, indent=1)
        log(f"spans and per-layer records written to {trace_path}")
    wanted = PER_LAYER if args.trace else END_TO_END

    out, missing = {}, []
    for name, unit, _ in wanted:
        m = metrics.get(name)
        if m is None or m["value"] is None or not math.isfinite(m["value"]):
            missing.append(name)
            continue
        out[name] = {"value": m["value"], "unit": unit}
        log(f"{name:36s} {m['value']:14.4f} {unit:9s} (n={m['samples']})")
    for name, m in metrics.items():
        if name not in out and name not in missing and m["value"] is not None:
            log(f"{name:36s} {m['value']:14.4f} {m['unit']:9s} (n={m['samples']}, not reported)")
    for c in result["checks"]:
        if not c["ok"]:
            log(f"FAILED check: {c['name']} {c['detail']}")
    correct = (code == 0 and not missing and result["failed"] == 0 and
               all(c["ok"] for c in result["checks"]))
    if missing:
        log(f"no value for: {', '.join(missing)}")
    log(f"{args.workload}: attempted {result['attempted']}, failed {result['failed']}, "
        f"checks {sum(c['ok'] for c in result['checks'])}/{len(result['checks'])} ok")
    print(json.dumps({"correct": correct, "attempted": max(1, result["attempted"]),
                      "failed": result["failed"], "metrics": out}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
