#!/usr/bin/env python3
"""Benchmark command: runs one workload at one seed and prints one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. On first use it builds
the program and the harness from source with sbt; for a lane workload it
generates the seed's input tables with graft.tools.GenData. Both are cached
under .bench_build/perfbench/ in the checkout. Each run then starts one JVM
for the harness (perfbench/harness), checks the program's outputs, prints
the metrics named in BENCHMARK.json as the last line of stdout, and exits
non-zero if any operation or check failed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH_DIR, "harness")
WORKLOADS = ("lanes_corpus", "provider_redelivery")
# Program sources whose change forces a rebuild, relative to the root.
SOURCES = ("build.sbt", "project/build.properties", "src/main")
HARNESS_SOURCES = ("build.sbt", "project/build.properties", "src/main")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    return p.parse_args(argv)


def digest(root, rels):
    """sha256 over the paths and bytes of every file under `rels`."""
    h = hashlib.sha256()
    for rel in rels:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts.append("-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt_compile():
    """Compiles program and harness with sbt; returns their runtime classpath."""
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise RuntimeError(f"sbt build failed with code {proc.returncode}")
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def snapshot(classpath, root, tmp, entry):
    """Copies every classpath entry inside the checkout (the class
    directories sbt compiles into, which the next build overwrites) to
    `tmp`, which the caller renames to `entry`. Returns the classpath
    with those entries pointing into `entry`."""
    os.makedirs(tmp)
    root = os.path.realpath(root)
    out = []
    for i, path in enumerate(classpath.split(os.pathsep)):
        if not os.path.exists(path) or os.path.commonpath([os.path.realpath(path), root]) != root:
            out.append(path)
            continue
        name = f"cp{i}-{os.path.basename(path.rstrip(os.sep))}"
        copy = shutil.copytree if os.path.isdir(path) else shutil.copy2
        copy(path, os.path.join(tmp, name))
        out.append(os.path.join(entry, name))
    return os.pathsep.join(out)


def build(root, scratch):
    """Builds program and harness once per source digest; returns the classpath.

    Each digest gets its own copy of the compiled classes, so a cached
    entry always runs the code it was built from, also after the sources
    were edited, built and reverted."""
    key = digest(root, SOURCES)[:16] + "-" + digest(HARNESS, HARNESS_SOURCES)[:16]
    entry = os.path.join(scratch, "build", key)
    cp_file = os.path.join(entry, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    classpath = sbt_compile()
    tmp = f"{entry}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classpath = snapshot(classpath, root, tmp, entry)
    with open(os.path.join(tmp, "classpath"), "w") as f:
        f.write(classpath)
    shutil.rmtree(entry, ignore_errors=True)
    os.rename(tmp, entry)
    return classpath


def java_cmd(classpath, run_dir, heap):
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "perfbench.Main"])


def child_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env.pop("SPARK_LOCAL_DIRS", None)  # would override the run's spark.local.dir
    return env


def call(cmd, run_dir, log_name, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, log_name), "w") as out:
        try:
            return subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, env=child_env(),
                                  timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            log(f"{log_name}: timed out after {timeout} s")
            return -9


def ensure_inputs(classpath, scratch, seed):
    data = os.path.join(scratch, "inputs", f"sf0.1-seed{seed}")
    if not os.path.isdir(data):
        log(f"generating sf0.1 inputs for seed {seed}")
        work = os.path.join(scratch, "inputs", f".gen-{seed}-{os.getpid()}")
        code = call(java_cmd(classpath, work, "3g") + ["inputs", "--data", data, "--seed", str(seed)],
                    work, "inputs.log", RUN_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.isdir(data):
            raise RuntimeError(f"input generation failed with code {code}")
    return data


def oracle_check(root, data, verify_dir, lanes):
    """Runs the DuckDB oracle over the lanes that have oracle SQL.

    Returns (lanes checked, failures)."""
    try:
        with open(os.path.join(verify_dir, "oracle_sql.json"), encoding="utf-8") as f:
            oracle = json.load(f)
        gated = [l for l in lanes if l in oracle]
    except (OSError, ValueError) as e:
        return len(lanes), [f"oracle_sql.json unreadable: {e}"]
    if not gated:
        return 0, []
    proc = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                           data, verify_dir] + gated, capture_output=True, text=True,
                          stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    ok = {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("OK ")}
    failures = [f"{l}: oracle mismatch" for l in gated if l not in ok]
    if proc.returncode != 0 and not failures:
        failures.append(f"check_oracle exited {proc.returncode}: {proc.stderr[-500:]}")
    return len(gated), failures


def lane_checks(root, data, record, harness_code):
    """Verify and oracle results for a lane run: (operations attempted, failures)."""
    lanes = record["lanes"]
    verify_dir = record["verify_dir"]
    failures = []
    try:
        with open(os.path.join(verify_dir, "summary.json")) as f:
            summary = json.load(f)
        failures += [f"{l}: graft.Verify failed" for l in summary["failed"]]
        missing = [l for l in lanes if not os.path.isdir(os.path.join(verify_dir, l))]
        failures += [f"{l}: no graft.Verify output" for l in missing if l not in summary["failed"]]
    except (OSError, ValueError, KeyError) as e:
        failures.append(f"graft.Verify wrote no summary (exit {harness_code}): {e}")
    checked, oracle_failures = oracle_check(root, data, verify_dir, lanes)
    return len(lanes) + checked, failures + oracle_failures


def finish(spec, record, extra_attempted, extra_failures, trace):
    """The result line and exit code for a harness record plus the checks."""
    attempted = int(record.get("attempted", 0)) + extra_attempted
    failures = list(record.get("failures", [])) + extra_failures
    failed = int(record.get("failed", len(failures) - len(extra_failures))) + len(extra_failures)
    attempted = max(attempted, failed, 1)
    values = dict(record.get("end_to_end", {}))
    values["ok_share"] = 1.0 - failed / attempted
    if trace:
        values = record.get("per_layer", {})
        # A layer the workload does not use did no work: it reads 0.
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names if n in values}
    correct = failed == 0 and len(metrics) == len(names)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, failures, (0 if correct else 1)


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return proc.stdout.strip() or None


def main(argv):
    args = parse_args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) and
            os.path.isfile(spec_path)):
        log("run from the root of a repository checkout: build.sbt, src/ or BENCHMARK.json missing")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    scratch = os.path.join(root, ".bench_build", "perfbench")
    trace = args.trace == "1"
    classpath = build(root, scratch)
    lanes = args.workload == "lanes_corpus"
    data = ensure_inputs(classpath, scratch, args.seed) if lanes else ""
    run_dir = os.path.join(scratch, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cmd = java_cmd(classpath, run_dir, "6g" if lanes else "2g") + [
        "run", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--data", data or "-", "--run-dir", run_dir]
    t0 = time.time()
    code = call(cmd, run_dir, "harness.log", RUN_TIMEOUT_S)
    log(f"harness exited {code} after {time.time() - t0:.1f} s")
    try:
        with open(os.path.join(run_dir, "result.json")) as f:
            record = json.load(f)
    except (OSError, ValueError):
        with open(os.path.join(run_dir, "harness.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        record = {"attempted": 1, "failures": [f"harness exited {code} without a result"]}
    extra_attempted, extra_failures = 0, []
    if lanes and "lanes" in record:
        extra_attempted, extra_failures = lane_checks(root, data, record, code)
    elif code != 0 and not record.get("failures"):
        extra_failures = [f"harness exited {code}"]
    result, failures, exit_code = finish(spec, record, extra_attempted, extra_failures, trace)
    for line in failures[:20]:
        log(f"FAILED {line}")

    record.update(result=result, checks_failed=extra_failures,
                  stamp=dict(record.get("stamp", {}), git_sha=git_sha(root),
                             source_digest=digest(root, SOURCES)[:16]))
    tag = f"{args.workload}-seed{args.seed}"
    records = os.path.join(scratch, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f)
    if trace and os.path.exists(os.path.join(run_dir, "trace.json")):
        write_trace(scratch, tag, run_dir, record)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return exit_code


def write_trace(scratch, tag, run_dir, record):
    """Moves the trace file out of the run directory, adding the tracing
    overhead against the last untraced run of the same workload and seed."""
    with open(os.path.join(run_dir, "trace.json")) as f:
        tr = json.load(f)
    overhead = None
    try:
        with open(os.path.join(scratch, "records", f"{tag}-trace0.json")) as f:
            base = json.load(f)["end_to_end"]
        overhead = {k: v - base[k] for k, v in record["end_to_end"].items() if k in base}
        log("tracing overhead (traced - untraced): " +
            ", ".join(f"{k} {v:+.6g}" for k, v in sorted(overhead.items())))
    except (OSError, ValueError, KeyError):
        log(f"no untraced record for {tag}: run it with --trace 0 to get the tracing overhead")
    tr["tracing_overhead"] = overhead
    tr["stamp"] = record["stamp"]
    os.makedirs(os.path.join(scratch, "traces"), exist_ok=True)
    path = os.path.join(scratch, "traces", f"{tag}.json")
    with open(path, "w") as f:
        json.dump(tr, f)
    log(f"trace written to {os.path.relpath(path)}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
