#!/usr/bin/env python3
"""Benchmark for graft: seeded workloads through graft.Main and the streaming
operators at local[4], with output checks.

    python3 perfbench/run.py --workload genome_run --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
(perfbench/gen.py) outside the timed region and cached under
perfbench/.work/inputs. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones
(and the span tree is written under perfbench/.work/traces).

`--workload all` runs every workload in turn and prints one line per
workload; `--record FILE` appends each result to FILE for compare.py. The
exit code is 1 when an output check fails, 2 when the benchmark cannot run
at all (e.g. the program's sources are missing).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

CPUS = 4
HARNESS_TIMEOUT_S = 150
BENCH = os.path.join(ROOT, "BENCHMARK.json")

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's build and sources, and the
    harness's."""
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala")):
        fail("program sources not found (src/main/scala/graft); run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    h = hashlib.sha256(ROOT.encode())  # the classpath holds absolute paths
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf,
            text=True, timeout=780)
        lf.write(r.stdout)
    if r.returncode != 0:
        fail(f"build failed (see {log})")
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def java_cmd(cp, tmp, main_args):
    # the JVM options of the program's own build (build.sbt javaOptions),
    # with a smaller heap and every scratch path inside the run directory
    return (["java", "-Xmx3g",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", cp, "perfbench.Harness"] + main_args)


def jvm_env(tmp):
    # Main reads its local[N] parallelism from SPARK_GRAFT_CPUS (default 32)
    # and its per-JVM scratch root from SPARK_GRAFT_SCRATCH (default /dev/shm)
    return dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
                SPARK_GRAFT_SCRATCH=os.path.join(tmp, "scratch"))


def launch(cp, tmp, args, log):
    """Start the harness JVM; return (process, seconds from launch until it
    printed READY: its first session is built and warm)."""
    t0 = time.perf_counter()
    p = subprocess.Popen(java_cmd(cp, tmp, args), cwd=tmp, env=jvm_env(tmp),
                         stdout=subprocess.PIPE, stderr=log, text=True)
    # a JVM that never gets ready is killed, which ends the read below
    guard = threading.Timer(HARNESS_TIMEOUT_S, p.kill)
    guard.start()
    try:
        for line in p.stdout:
            if line.strip() == "READY":
                return p, time.perf_counter() - t0
            log.write(line)
        p.wait()
        return p, None
    finally:
        guard.cancel()


def finish(p, log, timeout):
    """Wait for the process (killing it after `timeout` seconds); return its
    exit code or "timeout"."""
    try:
        out, _ = p.communicate(timeout=max(timeout, 1))
        log.write(out or "")
        return p.returncode
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return "timeout"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_one(workload, seed, seconds, trace, spec, cp):
    inputs, manifest = gen.generate(workload, seed, os.path.join(WORK, "inputs"))
    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(run_dir, "harness.log")

    def die(msg):
        with open(log_path) as lf:
            fail(f"{msg}:\n{lf.read()[-3000:]}")

    try:
        result = os.path.join(run_dir, "result.json")
        with open(log_path, "w") as log:
            t0 = time.perf_counter()
            p, ready = launch(cp, tmp, [workload, inputs, run_dir, str(seconds),
                                        "1" if trace else "0", result], log)
            rc = finish(p, log, HARNESS_TIMEOUT_S - (time.perf_counter() - t0))
            harness_s = time.perf_counter() - t0
        if rc != 0 or ready is None or not os.path.exists(result):
            die(f"harness exited with {rc}")
        with open(result) as f:
            res = json.load(f)
        t0 = time.perf_counter()
        checks = check.check_passes(workload, inputs, res)
        report = summarize(workload, manifest, res, checks, [ready] + res["setup_s"],
                           trace, spec)
        report["info"].update(harness_s=harness_s, check_s=time.perf_counter() - t0,
                              warmup_s=res["warmup_s"], calib_ms=median(res["calib_ms"]))
        if trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{workload}-{seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": workload, "seed": seed,
                           "overhead_s": report["metrics"]["trace.overhead_s"]["value"],
                           "layer_self_ms": layer_self(res["spans"]),
                           "spans": res["spans"]}, f)
            print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}",
                  file=sys.stderr)
        return report
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_self(spans):
    """Self time summed per layer name over all traced passes."""
    out = {}
    for s in spans:
        if s["kind"] == "layer":
            out[s["name"]] = out.get(s["name"], 0) + s["self_ms"]
    return out


def summarize(workload, manifest, res, checks, setups, trace, spec):
    passes = res["passes"]
    timed = [p for p in passes if p["traced"] == trace]
    for p in passes:
        if p["error"]:
            print(f"perfbench: pass {p['index']} failed: {p['error']}", file=sys.stderr)
    for msg in checks["errors"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    failed = sum(1 for p in passes
                 if p["error"] or not checks["passes"].get(p["index"], False))
    job_s = median([p["wall_s"] for p in timed])
    quality = checks["quality"]
    info = {"records": manifest["records"], "record": manifest["record"],
            "pass_s": [p["wall_s"] for p in timed], "setup_s": setups,
            "cpu_s": [p["layers"]["jvm.cpu_s"] for p in timed]}
    info.update(quality)
    if trace:
        vals = {m["name"]: median([p["layers"].get(m["name"], 0.0) for p in timed])
                for m in spec["per_layer"]}
        vals.update(res["probes"])
        vals["trace.job_s"] = job_s
        vals["trace.overhead_s"] = job_s - median(
            [p["wall_s"] for p in passes if not p["traced"]])
        vals["host.calib_ms"] = median(res["calib_ms"])
        vals["setup.launch_s"] = setups[0]
        vals["setup.warmup_s"] = res["warmup_s"]
        vals["assembly.n50_kbp"] = quality.get("n50_kbp", 0.0)
        vals["assembly.genome_frac"] = quality.get("genome_frac", 0.0)
        metrics = {m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        vals = {
            "setup_s": median(setups),
            "job_s": job_s,
            "records_per_s": manifest["records"] / job_s,
        }
        metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": not checks["errors"] and failed == 0,
            "attempted": len(passes), "failed": failed,
            "metrics": metrics, "info": info}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="append each run's result as a JSON line (for compare.py)")
    a = ap.parse_args()
    if not os.path.exists(BENCH):
        fail("BENCHMARK.json not found next to perfbench/")
    with open(BENCH) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    todo = names if a.workload == "all" else [a.workload]
    if any(w not in gen.GENERATORS or w not in names for w in todo):
        fail(f"unknown workload {a.workload}; choose from {', '.join(names)} or all")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    cp = build()
    reports = {}
    for w in todo:
        rep = run_one(w, a.seed, seconds, a.trace == 1, spec, cp)
        reports[w] = rep
        if a.record:
            with open(a.record, "a") as f:
                f.write(json.dumps({"workload": w, "seed": a.seed, "trace": a.trace,
                                    "result": rep}) + "\n")
        shown = " ".join(f"{k}={v['value']:.4g} {v['unit']}"
                         for k, v in rep["metrics"].items())
        info = " ".join(f"{k}={v:.4g}" if isinstance(v, float) else
                        f"{k}={','.join(f'{x:.3f}' for x in v)}" if isinstance(v, list) else
                        f"{k}={v}" for k, v in rep["info"].items())
        print(f"{w}: correct={rep['correct']} attempted={rep['attempted']} "
              f"failed={rep['failed']} {shown} | {info}")
    if len(todo) == 1:
        rep = reports[todo[0]]
        line = {k: rep[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        line = {w: {k: r[k] for k in ("correct", "attempted", "failed", "metrics")}
                for w, r in reports.items()}
    print(json.dumps(line))
    sys.exit(0 if all(r["correct"] for r in reports.values()) else 1)


if __name__ == "__main__":
    main()
