#!/usr/bin/env python3
"""Benchmark of the taxi pipeline engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
this harness from source with sbt (offline) into `.bench_build/`. The
query workload reads the pinned tables under `perfbench/data/`; the
taxi flow's inputs are generated from the seed. Each run then starts one
benchmark JVM (`perfbench.Main`) that sets up, warms up, measures timed
runs for `--seconds` seconds and writes its raw measurements; this
script checks the outputs for correctness with DuckDB and prints every
metric by name with its unit. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}, carrying
the end-to-end metrics of BENCHMARK.json with `--trace 0` and its
per-layer metrics with `--trace 1`.

Workloads, metrics and the pinned environment are described in
perfbench/README.md and perfbench/env.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
# a traced process skips its second ABBA pair when the pair would end later than this
TIMED_BUDGET_S = 135

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The unit of every end-to-end metric run.py computes
UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s",
    "fail_ratio": "ratio", "ok_ratio": "ratio", "disk_mb": "MB", "heap_peak_mb": "MB",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java_major():
    out = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    m = re.search(r'version "(\d+)', out)
    return int(m.group(1)) if m else -1


def check_env(env):
    """Fails loudly when the machine cannot provide the pinned environment."""
    problems = []
    if java_major() != env["java_major"]:
        problems.append(f"java major {java_major()} != pinned {env['java_major']}")
    cpus = len(os.sched_getaffinity(0))
    if cpus < env["cores"]:
        problems.append(f"{cpus} usable cores < pinned {env['cores']}")
    heap_gb = int(env["heap"].rstrip("g"))
    with open("/proc/meminfo") as f:
        mem_gb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1]) / 2**20
    if mem_gb < heap_gb + 2:
        problems.append(f"{mem_gb:.1f} GB memory < pinned heap {env['heap']} + 2 GB")
    for table, want in env["data"]["sha256"].items():
        path = os.path.join(ROOT, env["data"]["dir"], f"{table}.parquet")
        if not os.path.isfile(path):
            problems.append(f"pinned table {path} is missing")
            continue
        with open(path, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                problems.append(f"pinned table {path} differs from its sha256")
    if problems:
        raise BenchError("environment differs from perfbench/env.json: " + "; ".join(problems))


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = tree_hash([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        r = subprocess.run(["sbt", "-J-XX:-UsePerfData", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=800)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        raise BenchError(f"build failed (exit {r.returncode}); see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, env, wl, args, data_dir, run_dir, corrupt):
    conf = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "work": run_dir, "data": data_dir, "cores": env["cores"],
        "setup_reps": env["setup_reps"], "budget_s": TIMED_BUDGET_S, "corrupt": int(corrupt),
    }
    conf.update(env["session"])
    for k, v in wl.items():
        conf[k] = ",".join(v) if isinstance(v, list) else v
    if args.workload == "taxi_flow":
        conf["fixture"] = os.path.join(run_dir, "fixture")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{env['heap']}", f"-Xmx{env['heap']}",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Dperfbench.layoutRoot={run_dir}/graft_layout",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dderby.system.home=" + run_dir]
           + opens + ["-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in conf.items()])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
    if code != 0:
        raise BenchError(f"benchmark JVM exited {code}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def metrics_of(res, failed, attempted):
    """End-to-end metrics from the untraced timed runs of one process."""
    units = [u for u in res["units"] if not u["traced"]]
    ops = [o for u in units for o in u["ops"]]
    op_s = sum(o["s"] for o in ops)
    fail_ratio = failed / attempted
    return {
        "setup_s": res["setup"]["setup_s"],
        "wall_s": median([u["wall_s"] for u in units]),
        "op_p50_s": median([o["s"] for o in ops]),
        "rows_per_s": sum(o["rows"] for o in ops) / op_s if op_s > 0 else 0.0,
        "fail_ratio": fail_ratio,
        "ok_ratio": 1.0 - fail_ratio,
        "disk_mb": median([u["disk_bytes"] for u in units]) / 1e6,
        "heap_peak_mb": res["heap_peak_bytes"] / 1e6,
    }


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="test scale: the env.json 'tiny' sizes")
    p.add_argument("--corrupt", action="store_true",
                   help="test only: damage one checked output, which must fail the check")
    args = p.parse_args(argv)
    try:
        if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
            raise BenchError(f"engine sources not found under {ENGINE_SRC}; "
                             "run from the root of a full checkout")
        import check  # needs the checkout's tools/check_oracle.py
        with open(os.path.join(HERE, "env.json")) as f:
            env = json.load(f)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        if args.tiny:
            tiny = env.pop("tiny")
            env.update({k: v for k, v in tiny.items() if k != "workloads"})
            env["workloads"] = tiny["workloads"]
        if args.workload not in env["workloads"]:
            raise BenchError(f"unknown workload {args.workload}; "
                             f"choose from {sorted(env['workloads'])}")
        check_env(env)
        t0 = time.time()
        cp = build()
        want = f"spark-core_2.13-{env['spark_version']}.jar"
        if want not in cp:
            raise BenchError(f"environment differs from perfbench/env.json: {want} "
                             "is not on the engine's classpath")
        data_dir = os.path.join(ROOT, env["data"]["dir"]) if args.workload == "graph_iter" else ""
        run_dir = os.path.join(BUILD, "runs",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}"
                               + ("-tiny" if args.tiny else ""))
        shutil.rmtree(run_dir, ignore_errors=True)
        for d in ("tmp", "graft_layout", "check"):
            os.makedirs(os.path.join(run_dir, d))
        t1 = time.time()
        fixture_s = 0.0
        if args.workload == "taxi_flow":
            # the taxi flow's inputs come from the seed; generating them is set-up
            wl = env["workloads"]["taxi_flow"]
            datagen.write_trips(os.path.join(run_dir, "fixture"), args.seed, wl["trips"],
                                wl["uploads"], wl["upload_rows"])
            fixture_s = time.time() - t1
        res = run_jvm(cp, env, env["workloads"][args.workload], args, data_dir, run_dir,
                      args.corrupt)
        t2 = time.time()
        results = check.run_checks(res["checks"], data_dir, list(env["data"]["sha256"]))
        res["setup"]["setup_s"] += fixture_s
        log(f"build {t1 - t0:.1f} s, benchmark JVM {t2 - t1:.1f} s, "
            f"checks {time.time() - t2:.1f} s")
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2

    attempted = sum(len(u["ops"]) for u in res["units"])
    raised = sum(o["failed"] for u in res["units"] for o in u["ops"])
    failed_checks = [(c, m) for c, ok, m in results if not ok]
    failed = min(attempted, raised + sum(c["ops"] for c, _ in failed_checks))
    for c, ok, m in results:
        if not ok:
            log(f"check FAILED: {c['kind']} {c.get('name', c.get('unit', ''))}: {m}")
    correct = not failed_checks and raised == 0
    e2e = metrics_of(res, failed, attempted)
    print(f"workload {args.workload} seed {args.seed}: {attempted} ops, {failed} failed, "
          f"{len(results)} checks, {len(failed_checks)} failed checks")
    if args.trace:
        layers = dict(res["layers"])
        print("per-layer: " + json.dumps(layers, sort_keys=True))
        wanted = bench["per_layer"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
    else:
        print("end-to-end: " + "  ".join(f"{k}={v:.6g} {UNITS[k]}" for k, v in e2e.items()))
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
