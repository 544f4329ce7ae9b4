#!/usr/bin/env python3
"""The repository benchmark: paper-shaped runs of the raster ETL pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload paper_catalog --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark from source (once per source
state), runs one JVM that sets up, measures and checks, and prints the
result as the last line of standard output. `--trace 1` prints the
per-layer metrics instead of the end-to-end ones, writes the spans, and
checks the query mix's results against the DuckDB oracle.

    python3 perfbench/run.py --compare A.json B.json

compares two run records and fails when they were measured on different
bases (host, cores, heap, JVM flags, Spark conf, workload, run length).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys

BENCH = "perfbench"
STATE = ".perfbench"
WORKLOADS = ("paper_catalog", "small_products")
XMX = "3g"
JVM_FLAGS = [f"-Xmx{XMX}", f"-Xms{XMX}", "-Xmn256m", "-XX:+UseG1GC"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# the program's own build and sources, and the benchmark's
PROGRAM_INPUTS = ("build.sbt", "project", "src/main")
BENCH_INPUTS = (f"{BENCH}/build.sbt", f"{BENCH}/project", f"{BENCH}/src")
JVM_TIMEOUT_S = 165


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(root, rels):
    h = hashlib.sha256()
    for rel in rels:
        base = os.path.join(root, rel)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            if "target" not in os.path.relpath(d, base).split(os.sep)
            for f in files)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, log):
    """Runs cmd in its own process group, kills the group on timeout and
    waits for it; returns (exit code, stdout)."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL,
                             start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
    return p.returncode, out


def sbt_classpath(cwd, env, log):
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], cwd, env, 800, log)
    with open(log, "a") as fh:
        fh.write(out)
    if code != 0:
        fail(f"build failed in {cwd} (exit {code}); see {log}", 1)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")
             and ".jar" in l]
    if not lines:
        fail(f"no classpath in the build output; see {log}", 1)
    return lines[-1].strip()


def build(root):
    """Builds the program with its own build, then the benchmark against
    it; skipped when neither source tree changed since the last build."""
    state = os.path.join(root, STATE, "build")
    os.makedirs(state, exist_ok=True)
    stamp = tree_digest(root, PROGRAM_INPUTS + BENCH_INPUTS)
    cp_file = os.path.join(state, "classpath")
    stamp_file = os.path.join(state, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    program_cp = sbt_classpath(root, env, os.path.join(state, "program.log"))
    env["PERFBENCH_PROGRAM_CP"] = program_cp
    cp = sbt_classpath(os.path.join(root, BENCH), env,
                       os.path.join(state, "bench.log"))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def host():
    model = ""
    try:
        with open("/proc/cpuinfo") as fh:
            model = next((l.split(":", 1)[1].strip() for l in fh
                          if l.startswith("model name")), "")
    except OSError:
        pass
    return {"machine": platform.machine(), "cpu_model": model,
            "nproc": os.cpu_count()}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor took from this host during the run."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def basis(record):
    """The fields two records must share to be compared."""
    s = record["stamp"]
    conf = {k: v for k, v in s["spark_conf"].items()
            if not k.endswith(".dir")}
    return {"host": s["host"], "nproc": s["nproc"], "xmx": s["xmx"],
            "jvm_flags": s["jvm_flags"], "spark_conf": conf,
            "workload": s["workload"], "seconds": s["seconds"],
            "trace": s["trace"]}


def compare(a_path, b_path):
    with open(a_path) as fa, open(b_path) as fb:
        a, b = json.load(fa), json.load(fb)
    ba, bb = basis(a), basis(b)
    diff = sorted(k for k in ba if ba[k] != bb.get(k))
    if diff:
        for k in diff:
            print(f"basis differs: {k}: {ba[k]!r} != {bb.get(k)!r}",
                  file=sys.stderr)
        sys.exit(3)
    for name, m in a["result"]["metrics"].items():
        other = b["result"]["metrics"].get(name)
        if other is None:
            continue
        ratio = other["value"] / m["value"] if m["value"] else float("nan")
        print(f"{name:32s} {m['value']:>14.6g} {other['value']:>14.6g} "
              f"{ratio:8.3f} {m['unit']}")


def check_queries(root, work, jvm, log):
    """Compares the query mix's dumped results with the DuckDB oracle
    (tools/check_oracle.py) and counts every mismatching query, or every
    query when the check cannot run, as failed."""
    listed = jvm["notes"]["queries"].split(",")
    code, out = run_group(
        [sys.executable, os.path.join("tools", "check_oracle.py"),
         os.path.join(work, "fixture"), os.path.join(work, "verify")],
        root, dict(os.environ), 120, log)
    with open(log, "a") as fh:
        fh.write(out)
    matched = {l.split()[1] for l in out.splitlines() if l.startswith("OK ")}
    bad = [q for q in listed if q not in matched]
    jvm["notes"]["query_oracle"] = (
        f"{len(listed) - len(bad)}/{len(listed)} match (exit {code})"
        + (f"; not matching: {','.join(bad)}" if bad else ""))
    # queries that threw in the JVM are already counted there
    already = set(jvm["notes"]["queries_failed"].split(","))
    new = [q for q in bad if q not in already]
    jvm["failed"] += len(new)
    if bad:
        jvm["correct"] = False


def declared_metrics(root, trace):
    """The metric names BENCHMARK.json promises for this mode, if present."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    for rel in PROGRAM_INPUTS + BENCH_INPUTS:
        if not os.path.exists(os.path.join(root, rel)):
            fail(f"{rel} not found: run from the root of a source checkout")
    cp, source_digest = build(root)

    runs = os.path.join(root, STATE, "runs")
    work = os.path.join(root, STATE, "work")
    os.makedirs(runs, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_file = os.path.join(runs, f"{tag}.result.json")
    spans_file = os.path.join(runs, f"{tag}.spans.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    cmd = (["java"] + JVM_FLAGS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result_file, "--spans", spans_file])
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    code, _ = run_group(cmd, root, env, JVM_TIMEOUT_S,
                        os.path.join(runs, f"{tag}.log"))
    load_after, ticks_after = os.getloadavg(), cpu_ticks()
    if code != 0 or not os.path.exists(result_file):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM failed (exit {code}); see "
             f"{os.path.join(runs, tag + '.log')}", 1)
    with open(result_file) as fh:
        jvm = json.load(fh)
    if args.trace:
        check_queries(root, work, jvm, os.path.join(runs, f"{tag}.oracle.log"))
    shutil.rmtree(work, ignore_errors=True)
    stamp = dict(jvm["stamp"], git_sha=git_sha(root),
                 source_digest=source_digest, host=host(), xmx=XMX,
                 jvm_flags=JVM_FLAGS, seconds=args.seconds, trace=args.trace,
                 loadavg_before=list(load_before),
                 loadavg_after=list(load_after),
                 steal_share=steal_share(ticks_before, ticks_after))
    result = {k: jvm[k] for k in ("correct", "attempted", "failed", "metrics")}
    declared = declared_metrics(root, args.trace)
    if declared is not None and set(result["metrics"]) != declared:
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ declared)}", 1)
    record = {"stamp": stamp, "notes": jvm["notes"], "result": result}
    if args.trace:
        record["spans"] = os.path.relpath(spans_file, root)
    with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"stamp": stamp, "notes": jvm["notes"]}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
