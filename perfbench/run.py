#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record --workload serve_small

Builds the engine and the harness from source with the benchmark's own
sbt project (once per source fingerprint), runs one harness JVM, checks
its record and prints a summary followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
`--record` re-derives the expected result fingerprints (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = "perfbench"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# C1 only. With tiered C2 the JIT keeps compiling in the background for
# minutes (every pass generates new classes), its threads compete with
# local[nproc] for the same cores, and where it stands when the timed
# pass starts differs from JVM to JVM: timed passes of the same code
# spread about twice as wide as with C1, whose passes are flat after the
# warm-up.
JIT = ["-XX:TieredStopAtLevel=1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def tree_digest(paths):
    """md5 over (relative path, bytes) of every file under `paths`, sorted."""
    files = []
    for top in paths:
        if os.path.isfile(top):
            files.append(top)
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    md = hashlib.md5()
    for f in sorted(files):
        md.update(f.encode())
        with open(f, "rb") as fh:
            md.update(fh.read())
    return md.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt unless the stamp says it is current."""
    sources = ["src/main/scala", f"{BENCH}/src", f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"]
    digest = tree_digest(sources)
    classes = f"{BENCH}/target/scala-2.13/classes"
    stamp = f"{BENCH}/target/perfbench.stamp"
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(f"{BENCH}/out", exist_ok=True)
    with open(f"{BENCH}/out/build.log", "w") as log:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "compile"],
                       log, deadline - time.monotonic(), cwd=BENCH)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {BENCH}/out/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_child(cmd, log, timeout, cwd=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd, start_new_session=True)
    try:
        return proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded its time limit")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def harness(classes, workload, seed, seconds, trace, deadline, selftest=False, record=None):
    """One harness JVM in a fresh scratch dir; returns its parsed record."""
    out_dir = os.path.abspath(f"{BENCH}/out")
    scratch = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    tag = f"{workload}-s{seed}-t{trace}" + ("-selftest" if selftest else "") + ("-record" if record else "")
    result = os.path.join(out_dir, f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", "spark"), "jars", "*")
    cmd = ["java", f"-Xmx{HEAP}", *JIT, f"-Djava.io.tmpdir={scratch}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.abspath(classes)}{os.pathsep}{spark_jars}", "perfbench.Harness",
            "--workloads", f"{BENCH}/workloads.json", "--expected", f"{BENCH}/expected.json",
            "--data", f"{BENCH}/data", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(len(os.sched_getaffinity(0))),
            "--code", tree_digest(["src/main/scala"]), "--selftest", "1" if selftest else "0", "--out", result]
    if record:
        cmd += ["--record", record]
    try:
        with open(os.path.join(out_dir, f"{tag}.log"), "w") as log:
            rc = run_child(cmd, log, deadline - time.monotonic())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not os.path.isfile(result):
        fail(f"harness exited {rc} without a record; see {BENCH}/out/{tag}.log")
    with open(result) as fh:
        return json.load(fh)


def declared():
    with open("BENCHMARK.json") as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def report(rec, metrics):
    """Print the human summary and the final JSON line; fail on a missing metric."""
    got = rec["metrics"]
    missing = [m["name"] for m in metrics if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
    if missing:
        fail(f"record lacks declared metrics: {', '.join(missing)}")
    ctx = rec["context"]
    print(f"workload {rec['workload']} on {rec['sf']} seed {rec['seed']} trace {int(rec['trace'])}: "
          f"nproc {ctx['nproc']}, load1 {ctx['load1_start']:.2f}->{ctx['load1_end']:.2f}, "
          f"heap max {ctx['heap_max_mb']:.0f} MB, Spark {ctx['spark_version']}, src {ctx['src_fingerprint'][:12]}")
    passes = rec["passes"]
    print(f"  {len(passes)} timed passes, {rec.get('latency_samples', 0)} latency samples, "
          f"failed_frac {rec['failed'] / rec['attempted']:.4f} ({rec['failed']}/{rec['attempted']})")
    steps = sorted({k for p in passes for k in p if k.endswith("_s") and k not in ("pass_s", "cpu_s")})
    for k in steps:
        vals = [p[k] for p in passes if not p["traced"]] or [p[k] for p in passes]
        print(f"  {k:<28} {statistics.median(vals):>12.4f} s   (median of {len(vals)} passes)")
    for m in metrics:
        print(f"  {m['name']:<28} {got[m['name']]['value']:>12.4f} {m['unit']}")
    if "pass_spread_s" in rec:
        print(f"  trace.overhead_s is read against a pass-to-pass spread (max - min pass_s) "
              f"of {rec['pass_spread_s']:.4f} s")
    for f in rec["failures"]:
        print(f"  FAILED {f}")
    line = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: got[m["name"]] for m in metrics},
    }
    print(json.dumps(line))


def selftest(classes, deadline):
    """sf0.001, one query per workload, traced and untraced; checks the
    trace reconciles. Exit status 0 only when every check holds."""
    e2e, layer = declared()
    with open(f"{BENCH}/workloads.json") as fh:
        names = [w["name"] for w in json.load(fh)["workloads"]]
    problems = []
    for name in names:
        for trace, metrics in ((0, e2e), (1, layer)):
            rec = harness(classes, name, 1, 1, trace, deadline, selftest=True)
            for m in metrics:
                v = rec["metrics"].get(m["name"])
                if v is None or v.get("unit") != m["unit"]:
                    problems.append(f"{name}: metric {m['name']} missing or without unit {m['unit']}")
            if rec["failed"]:
                problems.append(f"{name}: failed_frac {rec['failed']}/{rec['attempted']}: {rec['failures']}")
            for q in rec.get("spans", []):
                spans = q["spans"]
                root = spans[0]
                wall = root["end_ms"] - root["start_ms"]
                phases = sum(s["end_ms"] - s["start_ms"] for s in spans if s["parent"] == 0
                             and s["name"] in ("build", "analysis", "optimization", "planning", "execute", "write"))
                if phases > wall + 1e-6:
                    problems.append(f"{name}/{q['id']}: phase spans {phases:.3f} ms exceed wall {wall:.3f} ms")
                if any(s["name"].startswith("job ") for s in spans) and q["tasks"] <= 0:
                    problems.append(f"{name}/{q['id']}: trace holds a job but exec.tasks = 0")
                neg = [s["name"] for s in spans if s["self_ms"] < -1e-6]
                if neg:
                    problems.append(f"{name}/{q['id']}: negative self time in {neg}")
            if trace == 1 and not rec.get("spans"):
                problems.append(f"{name}: traced run recorded no spans")
            print(f"selftest {name} trace {trace}: {rec['attempted']} attempted, {rec['failed']} failed, "
                  f"{len(rec.get('spans', []))} traced queries")
    for p in problems:
        print(f"SELFTEST FAILED {p}")
    print("selftest " + ("failed" if problems else "passed"))
    sys.exit(1 if problems else 0)


def record_fingerprints(classes, workload, deadline):
    """Warm-up only, twice: store the result fingerprints, list any that
    differ between the two runs as rows-and-schema-only, and dump the
    results with their oracle SQL under out/oracle/<sf> for the DuckDB
    cross-check (tools/check_oracle.py <corpus> <dump>)."""
    path = f"{BENCH}/expected.json"
    expected = json.load(open(path)) if os.path.isfile(path) else {"rows_only": []}
    for selftest_run in (False, True):
        runs = []
        for attempt in range(2):
            dump = os.path.abspath(f"{BENCH}/out/oracle/{workload}-{int(selftest_run)}{attempt}")
            shutil.rmtree(dump, ignore_errors=True)
            os.makedirs(dump)
            runs.append(harness(classes, workload, 0, 0, 0, deadline + 4 * RUN_TIMEOUT_S,
                                selftest=selftest_run, record=dump))
        a, b = (r["fingerprints"] for r in runs)
        sf = runs[0]["sf"]
        expected.setdefault(sf, {}).update(a)
        for k in a:
            if a[k] != b[k] and k not in expected["rows_only"]:
                expected["rows_only"].append(k)
        for r in runs:
            for f in r["failures"]:
                print(f"FAILED {f}")
        print(f"recorded {len(a)} fingerprints for {workload} on {sf}; dumps under {BENCH}/out/oracle")
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"rows_only: {expected['rows_only']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    for need in ("src/main/scala/graft", f"{BENCH}/build.sbt", f"{BENCH}/workloads.json", "BENCHMARK.json"):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a full checkout")
    start = time.monotonic()
    classes = build(start + BUILD_TIMEOUT_S)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if args.selftest:
        selftest(classes, time.monotonic() + 10 * RUN_TIMEOUT_S)
    if not args.workload:
        fail("--workload is required")
    if args.record:
        record_fingerprints(classes, args.workload, deadline)
        return
    e2e, layer = declared()
    rec = harness(classes, args.workload, args.seed, args.seconds, args.trace, deadline)
    report(rec, layer if args.trace else e2e)


if __name__ == "__main__":
    main()
