#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload star_serve --seed 1 --seconds 10 --trace 0

Builds the benchmark driver (the graft library sources plus
graftbench/src) with sbt on first use, generates the workload's inputs
from the seed in a fresh work directory, runs the workload as a closed
loop with one client in one JVM, checks every output against DuckDB,
removes the work directory and prints one JSON line as the last line of
stdout. Exits non-zero when any operation failed or gave a wrong result.

--trace 1 alternates untraced and traced passes, reports the per-layer
metrics of the traced passes, the traced-minus-untraced overhead, and
writes the spans to graftbench/out/spans-<workload>-<seed>.json.
--plant 1 plants one wrong result (self-test: the run must fail).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = os.path.join(ROOT, "src", "main")
JAR = os.path.join(HERE, "target", "graftbench.jar")
CDS = os.path.join(HERE, "target", "graftbench.jsa")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
OUT = os.path.join(HERE, "out")
LIMIT_S = 175  # the whole command must end within 180 s (900 s when it builds)
BUILD_LIMIT_S = 800

DATA = os.path.join(HERE, "data")

# testdata scale factor read (a copy under graftbench/data; sf0.01 has
# lineitem 60 K rows), set-ups per run, unmeasured warm-up passes,
# minimum measured passes
WORKLOADS = {
    "star_serve": dict(data="sf0.001", setups=2, warmup=0, min_passes=1),
    "iter_tier": dict(data="sf0.01", setups=3, warmup=1, min_passes=3),
    "retail_dag": dict(data="sf0.01", setups=3, warmup=0, min_passes=3),
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for base in (LIB, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return False
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       + env.get("SBT_OPTS", ""))
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] += f" -Dsbt.repository.config={repos}"
    t0 = time.time()
    p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "Compile/packageBin"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    # Class-data-sharing archive of the classes a short star_serve run
    # loads: every later JVM maps them instead of loading and verifying
    # them again, which takes seconds off each cold start.
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(HERE, ".work", f"cds-{os.getpid()}")
    try:
        os.makedirs(work)
        java(["-XX:ArchiveClassesAtExit=" + CDS], "star_serve", 1, 0, 0, work,
             dict(WORKLOADS["star_serve"], setups=1, warmup=0, min_passes=0), plant=0, budget=300, timeout=400)
    except Exception as e:  # the archive only saves start-up time
        print(f"[graftbench] no class-data-sharing archive: {e}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[graftbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return True


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("SPARK_HOME must name a Spark installation (its jars/ directory is the classpath)")
    return jars


def java(flags, workload, seed, seconds, trace, work, cfg, plant, budget, timeout):
    """Run the benchmark JVM; returns (exit code, log lines)."""
    cmd = ["java"] + flags
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{JAR}:{os.path.join(spark_jars(), '*')}",
            "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--data", os.path.join(DATA, cfg["data"]),
            "--setups", str(cfg["setups"]), "--warmup", str(cfg["warmup"]),
            "--min-passes", str(cfg["min_passes"]), "--plant", str(plant),
            "--out", os.path.join(work, "result.json"), "--spans", OUT, "--budget", str(budget)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    with open(log) as fh:
        return rc, fh.read().splitlines()


def run_jvm(args, work, deadline):
    flags = ["-XX:SharedArchiveFile=" + CDS, "-Xlog:cds=off"] if os.path.exists(CDS) else []
    rc, lines = java(flags, args.workload, args.seed, args.seconds, args.trace, work,
                     WORKLOADS[args.workload], args.plant, budget=int(deadline - time.time() - 10),
                     timeout=max(10, deadline - time.time()))
    if rc != 0:
        tail = [l for l in lines if not l.startswith("\tat ")][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM exited with {rc}", 1)
    sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[graftbench]")))
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metrics(r, bench):
    """Every metric the benchmark reports, by name: (value, unit)."""
    warm = {p["pass"] for p in r["passes"] if p["warmup"]}
    passes = [p for p in r["passes"] if not p["warmup"]]
    ops = [o for o in r["ops"] if o["pass"] not in warm]

    def e2e(traced):
        ps = [p for p in passes if p["traced"] == traced]
        os_ = [o for o in ops if o["traced"] == traced]
        secs = sum(p["wall_ms"] for p in ps) / 1000.0
        ms = [o["ms"] for o in os_ if o["ok"] and o["ms"] > 0]
        return {
            "op_gmean_ms": statistics.geometric_mean(ms) if ms else 0.0,
            "ops_per_s": len(os_) / secs if secs > 0 else 0.0,
        }

    out = {"setup_s": median(r["setup_s"])}
    out.update(e2e(False))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if not r["trace"]:
        return {k: out[k] for k in (m["name"] for m in bench["end_to_end"])}, units

    layers = dict(r["layers"])
    traced_e2e = e2e(True)
    for k, v in traced_e2e.items():
        base = out[k]
        ratio = (v / base if k != "ops_per_s" else base / v) if base and v else 1.0
        layers[f"overhead.{k}_pct"] = (ratio - 1.0) * 100.0
    untraced = [o for o in ops if not o["traced"] and o["ok"]]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    reads = [o["ms"] for o in untraced if o["kind"] == "read"]
    layers["serve.read_p50_ms"] = median(reads)
    layers["serve.commit_p50_ms"] = median([o["commit_ms"] for o in untraced if o["kind"] == "write"])
    layers["serve.replicate_p50_ms"] = median(
        [o["replicate_ms"] for o in untraced if o["kind"] == "write"])
    for kind in ("revenue", "topn", "distinct_customers", "lookup_point", "lookup_range",
                 "time_travel"):
        layers[f"read.{kind}_p50_ms"] = median(
            [o["ms"] for o in traced if o["kind"] == "read" and o["name"] == kind])
    per_layer = {}
    for m in bench["per_layer"]:
        per_layer[m["name"]] = float(layers.get(m["name"], 0.0))
    return per_layer, units


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not os.path.isfile(os.path.join(LIB, "scala", "graft", "SparkEntry.scala")):
        fail("graft sources not found next to the benchmark (run from a full checkout)")
    spark_jars()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    built = build()
    # leave time for the checks after the JVM; a building run may take 900 s
    deadline = start + (880 if built else LIMIT_S) - 20

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    try:
        t0 = time.time()
        r = run_jvm(args, work, deadline)
        t1 = time.time()
        failed_ops = {o["id"] for o in r["ops"] if not o["ok"]}
        for o in r["ops"]:
            if not o["ok"]:
                print(f"[graftbench] op {o['id']} {o['name']} failed: {o['error']}", file=sys.stderr)
        for op, name, err in checks.run(r):
            failed_ops.add(op)
            print(f"[graftbench] check {name} (op {op}) failed: {err}", file=sys.stderr)
        values, units = metrics(r, bench)
        if r["trace"] and values["trace.unattributed_jobs"] > 0:
            # every job must be attributed to a span (or to the stream's thread)
            failed_ops.add("trace")
            print(f"[graftbench] {values['trace.unattributed_jobs']:.0f} jobs ran outside any span",
                  file=sys.stderr)
        if r["spans_file"]:
            with open(r["spans_file"]) as fh:
                spans = json.load(fh)
            top = sorted(spans["self_ms"].items(), key=lambda kv: -kv[1])[:12]
            print(f"[graftbench] spans in {os.path.relpath(r['spans_file'], ROOT)}: jobs "
                  f"{spans['span_jobs']} by span, {spans['listener_jobs']} by listener; self ms "
                  + ", ".join(f"{k} {v:.0f}" for k, v in top), file=sys.stderr)
        print(f"[graftbench] jvm {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s; ops (pass:name ms) "
              + " ".join(f"{o['pass']}:{o['name']} {o['ms']:.0f}" for o in r["ops"]), file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(r["ops"])
    result = {
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    measured = sum(1 for o in r["ops"] if not o["traced"]
                   and o["pass"] not in {p["pass"] for p in r["passes"] if p["warmup"]})
    print(f"[graftbench] workload={args.workload} seed={args.seed} trace={args.trace} "
          f"measured_ops={measured} failed_share={len(failed_ops) / max(1, attempted):.4f}")
    print(json.dumps(result))
    sys.exit(0 if not failed_ops else 1)


if __name__ == "__main__":
    main()
