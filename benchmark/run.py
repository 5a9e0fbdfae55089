#!/usr/bin/env python3
"""Run one workload of the chess ingest -> dashboard benchmark.

    python3 benchmark/run.py --workload chess-daily --seed 7 --seconds 20 --trace 0

Builds the program and the harness from the checkout's sources (sbt,
offline) when they changed since the last build, runs the workload in one
JVM, prints every metric by name and unit with the correctness verdict,
and prints as its last line one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exits non-zero when an output is wrong or the run fails.

    python3 benchmark/run.py --selftest

runs the harness self-tests instead.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_DIR = os.path.join(BENCH, ".run")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    files = []
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt keeps its server socket under java.io.tmpdir: keep it in the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(RUN_DIR, "build.log")
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed" if rc is not None else "build timed out", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run(args):
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "etl", "IngestJob.scala")):
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, os.getcwd())}; "
             "run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    loadavg = open("/proc/loadavg").read().split()[0]
    build()

    os.makedirs(RUN_DIR, exist_ok=True)
    out = os.path.join(RUN_DIR, "result.json")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    artifact = os.path.join(RUN_DIR, f"{tag}.json")
    log = os.path.join(RUN_DIR, f"{tag}.log")
    for f in (out, artifact):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(RUN_DIR, "work")
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap keeps peak RSS from following G1's resizing
    cmd = ["java", "-Xms1536m", "-Xmx1536m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "chessbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--artifact", artifact]
    t0 = time.time()
    with open(log, "w") as fh:
        rc = run_group(cmd, RUN_TIMEOUT_S, stdout=fh, stderr=subprocess.STDOUT)
    wall = time.time() - t0
    if not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        fail("the run produced no result" if rc is not None else "the run timed out", 1)
    result = json.load(open(out))
    art = json.load(open(artifact))

    want = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if result["correct"] and got != want:
        result["correct"] = False
        print(f"metric set differs from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
              f"extra {sorted(set(got) - set(want))}", file=sys.stderr)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{art['cycles_measured']} cycles measured, "
          f"run wall {wall:.1f} s, pre-run loadavg {loadavg}, nproc {os.cpu_count()}")
    h = art["host"]
    print(f"host: factor {h['host_factor']}, java {h['java']}, spark {h['spark']}, cores {h['cores']}")
    for name, v in sorted(art["end_to_end"].items()):
        print(f"  {name:<28} {v} {spec_unit(spec, name)}")
    t = art["visual_tail"]
    print(f"  visual tail (not a declared metric): {t['value_s']} s at p{t['percentile']} "
          f"of {t['samples']} samples")
    print(f"  error_rate {art['error_rate']} ({result['failed']} of {result['attempted']} ops)")
    if args.trace:
        for name, v in sorted(art["per_layer"].items()):
            print(f"  {name:<34} {v} {spec_unit(spec, name, 'per_layer')}")
        print(f"  span self times reconcile with span walls: {art['spans_reconciled']}")
        overhead(art, os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-trace0.json"), artifact)
    for m in art["mismatches"]:
        print(f"  MISMATCH {m}")
    print(f"correct: {str(result['correct']).lower()}  (artifact {os.path.relpath(artifact, ROOT)})")
    print(json.dumps(result))
    return 0 if result["correct"] and rc == 0 else 1


def overhead(traced, untraced_path, traced_path):
    """Tracing overhead: traced minus untraced end-to-end values of the
    same workload and seed, from the last untraced run's artifact."""
    if not os.path.exists(untraced_path):
        print("  tracing overhead: run the same workload and seed with --trace 0 first")
        return
    base = json.load(open(untraced_path))["end_to_end"]
    diff = {k: v - base[k] for k, v in traced["end_to_end"].items()
            if k in base and v is not None and base[k] is not None}
    for name, d in sorted(diff.items()):
        print(f"  tracing overhead {name:<22} {d:+.4f} ({d / base[name]:+.1%})")
    traced["tracing_overhead"] = diff
    with open(traced_path, "w") as fh:
        json.dump(traced, fh)


def spec_unit(spec, name, kind="end_to_end"):
    return next((m["unit"] for m in spec[kind] if m["name"] == name), "")


def selftest():
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "etl", "IngestJob.scala")):
        fail("no program sources to build the self-tests against")
    build()
    cmd = ["java", "-Xmx1g", "-cp", open(CLASSPATH).read().strip(), "chessbench.SelfTest",
           os.path.join(RUN_DIR, "selftest"), os.path.join(ROOT, "BENCHMARK.json")]
    rc = run_group(cmd, RUN_TIMEOUT_S)
    py = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                         os.path.join(BENCH, "tests"), "-t", BENCH, "-q"])
    return 0 if rc == 0 and py.returncode == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        sys.exit(selftest())
    if not args.workload:
        ap.error("--workload is required")
    sys.exit(run(args))


if __name__ == "__main__":
    main()
