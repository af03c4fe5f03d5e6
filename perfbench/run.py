#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload chart_reads --seed 1 --seconds 10 --trace 0

Workloads: chart_reads, live_feed, catalog_heavy.

Run from the repository root. The first run builds the system and the
benchmark from source with sbt (offline) into `target/` and
`perfbench/target/`; later runs reuse the build while the sources are
unchanged. The workload runs in one JVM (`perfbench.Bench`) whose work
directory is `perfbench/.work/run`.

With `--trace 1` the timed window runs twice after one set-up: untraced,
then traced. The run reports the per-layer metrics of the traced
window, and `bench.trace_overhead_pct` compares the two windows'
median read latency (chart_reads), frame freshness (live_feed) or pass
time (catalog_heavy). `--smoke` runs a tiny size of the workload (the
benchmark's own tests). `--record` (catalog_heavy only) writes the
checked row counts and hashes to `perfbench/catalog.json` instead of
comparing with them.

The last stdout line is the JSON result with the metrics BENCHMARK.json
lists: its `end_to_end` metrics, or with `--trace 1` its `per_layer`
metrics. Lines before it report every metric the run measured. A
per-layer metric of a layer the workload does not use (the streaming
layer on chart_reads, say) is reported as 0.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("chart_reads", "live_feed", "catalog_heavy")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The root build's forked-run options at their defaults (heap, code
# cache), plus C1-only JIT: in runs this short, C2 compiles on about two
# of the four cores throughout the timed window, and run-to-run spreads
# doubled (see CHANGES.md).
JVM_OPTS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx8g", "-XX:ReservedCodeCacheSize=1g", "-XX:TieredStopAtLevel=1"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a source change rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no system sources at {ROOT} (expected build.sbt and src/main)")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + opts + ["export Runtime/fullClasspath"]
    print("perfbench: building with sbt ...", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        errs = [l for l in (p.stdout + p.stderr).splitlines() if "[error]" in l]
        sys.stderr.write("\n".join(errs[:80] or [p.stdout[-4000:] + p.stderr[-4000:]]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    if not all(os.path.exists(x) for x in cp.split(os.pathsep)):
        fail("build did not export a classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, trace):
    """Run the workload JVM; return (exit code, its JSON result or None)."""
    work = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Bench",
                               "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(trace), "--work", work]
           + (["--smoke"] if args.smoke else [])
           + (["--record", os.path.join(HERE, "catalog.json")] if args.record else []))
    log = os.path.join(WORK, "jvm-stderr.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL, text=True)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload {args.workload} did not finish in {JVM_TIMEOUT_S} s (stderr: {log})")
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
            lines = lines[:-1]
        except ValueError:
            pass
    if result is None or p.returncode not in (0, 1):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
    return p.returncode, result, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    rc, result, lines = run_jvm(cp, args, args.trace)
    print("\n".join(lines))
    if result is None:
        fail(f"workload {args.workload} printed no result (exit {rc})")
    measured = result["metrics"]
    listed = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in measured]
    if missing and not args.trace:
        fail(f"workload {args.workload} did not measure {', '.join(missing)}")
    if missing:
        print(f"not used by {args.workload}, reported as 0: {' '.join(missing)}")
    result["metrics"] = {m["name"]: measured.get(m["name"], {"value": 0, "unit": m["unit"]}) for m in listed}
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
