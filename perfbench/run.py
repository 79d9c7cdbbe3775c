#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (first run only), generates
the workload's inputs from the seed, runs the harness JVM in a fresh
temporary root under ``.bench_build/runs/``, checks every output, and
prints the metrics as the last line of standard output. With ``--trace 0``
those are the end-to-end metrics, with ``--trace 1`` the per-layer ones.
See perfbench/README.md.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS = os.path.join(BUILD, "classes.jsa")
sys.path.insert(0, HERE)

DEADLINE_S = 170.0  # a run must end within 180 s, not counting the build

WORKLOADS = ("lake_read", "ingest_tier", "corpus_ops")
# Spark task slots: two, so that the driver thread, the JIT compiler and
# the collector keep processors of their own on a 4-core host
CPUS = min(2, os.cpu_count() or 1)
# a fixed heap: a growing one resizes through the measured passes, and
# its full collections land in them
HEAP = "2g"
# Input scale and set-up count per workload ("small" is the test scale).
# lake_read stages its fixtures from sf0.01 orders; corpus_ops replicates
# an sf0.04 corpus while staging.
SCALE = {
    "full": {"lake_read": {"sf": 0.01, "setups": 3},
             "corpus_ops": {"sf": 0.04, "setups": 3},
             "ingest_tier": {"cycle_rows": 1000, "setups": 3}},
    "small": {"lake_read": {"sf": 0.001, "setups": 1},
              "corpus_ops": {"sf": 0.001, "setups": 1},
              "ingest_tier": {"cycle_rows": 50, "setups": 1}},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    """Hash of the path and contents of every source the classpath is
    built from. Contents, not mtimes: a checkout rewrites mtimes."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        files = ([base] if os.path.isfile(base) else
                 [os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs])
        for p in sorted(files):
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compiles the engine and the harness with sbt (offline) when a
    source changed, and returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "sbt-target" in l and ":" in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed, see {log}")
    cp = jar_dirs(cps[-1])
    # the class archive of the previous build no longer matches
    if os.path.isfile(CDS):
        os.remove(CDS)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jar_dirs(cp):
    """Packs the class directories of a classpath into jars under
    .bench_build/jars/: class data sharing archives classes from jars
    only, and refuses a classpath with a non-empty directory."""
    out = []
    os.makedirs(os.path.join(BUILD, "jars"), exist_ok=True)
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, "jars", f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(entry):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def run_jvm(cp, args, run_root, deadline):
    """Runs the harness; returns its JSON record (None when it died)."""
    out = os.path.join(run_root, "out", "result.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_root}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # class data sharing: the first run after a build archives the
    # classes it loaded, later runs map the archive instead of loading
    # and verifying them again
    cmd.append(f"-XX:SharedArchiveFile={CDS}" if os.path.isfile(CDS)
               else f"-XX:ArchiveClassesAtExit={CDS}")
    cmd += ["-cp", cp, "perfbench.Main", "--root", run_root, "--out", out] + args
    os.makedirs(os.path.join(run_root, "tmp"), exist_ok=True)
    budget = deadline - time.monotonic() - 15
    log = os.path.join(run_root, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        return None
    with open(out) as f:
        return json.load(f)


def end_to_end(rec, checks_ok):
    """The end-to-end metrics, the latency samples by query (failed
    operations give none), and the attempted/failed operation counts."""
    # set-up time net of the host's steal, as pass_s
    setups = [(s["session_s"] + s["stage_s"]) * (1.0 - s.get("steal_share", 0.0))
              for s in rec["setups"]]
    ops = rec["ops"]
    good = [o for o in ops if o["ok"] and checks_ok.get(o["name"], True)]
    checks = rec["checks"] + rec["final_checks"]
    attempted = len(ops) + len(checks)
    failed = (len(ops) - len(good)) + sum(
        1 for c in checks if not (c["ok"] and checks_ok.get(c["name"], True)))
    # an operation's latency without the time the host stole from the
    # processors during its pass (see README.md)
    steal = rec.get("steal_share", [])
    by_query = {}
    for o in good:
        s = steal[o["pass"]] if o["pass"] < len(steal) else 0.0
        by_query.setdefault(o["name"], []).append(o["wall_s"] * (1.0 - s))
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        # 0.0 only when every operation failed (the run is then incorrect)
        "pass_s": (sum(statistics.median(v) for v in by_query.values()), "s"),
        "pass_cpu_s": (rec["cpu_s"] / max(len(rec["passes"]), 1), "s"),
        "ok_rate": (1.0 - failed / attempted, "ratio"),
        "bytes_per_user_byte": (rec["warehouse_bytes"] / rec["user_bytes"], "ratio"),
        "peak_live_mb": (rec["peak_live_mb"], "MB"),
    }
    samples = {"setup_s": len(setups), "ops": len(good),
               "per_query": min((len(v) for v in by_query.values()), default=0)}
    return metrics, samples, by_query, attempted, failed


# Per-layer metrics of the traced run and their units: the BENCHMARK.json
# list, plus the streaming and commit numbers only ingest_tier has.
PER_LAYER = {
    "setup.session_s": "s", "setup.stage_s": "s", "setup.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s",
    "storage.files_total": "count", "storage.files_read": "count",
    "storage.file_read_frac": "ratio", "storage.bytes_read": "bytes",
    "storage.rows_scanned": "count",
    "storage.rows_scanned_per_row_out": "ratio",
    "storage.bytes_written": "bytes", "storage.files_written": "count",
    "storage.meta_bytes": "bytes", "storage.snapshots": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.busy_frac": "ratio", "exec.task_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "operators.rows_out": "count",
    "self.bench_s": "s", "self.queries_s": "s", "self.plans_s": "s",
    "self.exec_s": "s",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
}
INGEST_PER_LAYER = {
    "plans.sql_s": "s", "plans.stream.batches": "count",
    "plans.stream.query_planning_s": "s", "plans.stream.add_batch_s": "s",
    "plans.stream.wal_commit_s": "s", "plans.stream.trigger_s": "s",
    "storage.probe_read_s": "s", "self.storage_s": "s", "self.wait_s": "s",
    "ingest.commit_p50_s": "s", "ingest.rows_per_s": "1/s",
}


def per_layer(rec):
    """The per-layer metrics of a traced run. Self times per layer sum to
    the traced wall: what no span covers is the client loop (bench)."""
    tr = rec["trace"]
    m = {k: float(tr.get(k, 0.0)) for k in PER_LAYER}
    for k in ("session_s", "stage_s"):
        m[f"setup.{k}"] = statistics.median(s[k] for s in rec["setups"])
    m["setup.warmup_s"] = rec["warmup_s"]
    self_s = dict(tr["self"])
    self_s["bench"] = self_s.get("bench", 0.0) + rec["traced_wall_s"] - sum(self_s.values())
    units = dict(PER_LAYER)
    if rec["workload"] == "ingest_tier":
        units.update(INGEST_PER_LAYER)
        m.update({k: float(tr.get(k, 0.0)) for k in INGEST_PER_LAYER})
    for layer, v in self_s.items():
        if f"self.{layer}_s" in units:
            m[f"self.{layer}_s"] = v
    m["trace.wall_s"] = rec["traced_wall_s"]
    m["trace.untraced_wall_s"] = rec["wall_s"]
    m["trace.overhead_s"] = rec["traced_wall_s"] - rec["wall_s"]
    return {k: (v, units[k]) for k, v in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALE), default="full")
    ap.add_argument("--inject-throw", action="append", default=[],
                    help="make this query throw in the measured phase")
    ap.add_argument("--inject-corrupt", action="append", default=[],
                    help="corrupt this query's checked output")
    a = ap.parse_args()
    sc = SCALE[a.scale][a.workload]

    cp = classpath()
    # the run's deadline counts from here: a rebuild after a source
    # change is not part of it
    deadline = time.monotonic() + DEADLINE_S
    import datagen
    import oracle

    run_root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    data = os.path.join(run_root, "input")
    phases = {}
    try:
        t = time.monotonic()
        datagen.generate(a.workload, a.seed, sc.get("sf", 0), data)
        phases["datagen_s"] = time.monotonic() - t
        args = ["--workload", a.workload, "--data", data, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(CPUS)]
        for k in ("setups", "cycle_rows"):
            if k in sc:
                args += ["--" + k.replace("_", "-"), str(sc[k])]
        for q in a.inject_throw:
            args += ["--inject-throw", q]
        for q in a.inject_corrupt:
            args += ["--inject-corrupt", q]
        t = time.monotonic()
        rec = run_jvm(cp, args, run_root, deadline)
        phases["jvm_s"] = time.monotonic() - t
        if rec is None or "fatal" in rec:
            fail(f"harness failed: {rec and rec.get('fatal')}", 3)
        inputs = rec.get("input_dir", data)
        t = time.monotonic()
        checks_ok = oracle.check(rec["checks"], inputs) if rec["checks"] else {}
        phases["oracle_s"] = time.monotonic() - t
        metrics, samples, by_query, attempted, failed = end_to_end(rec, checks_ok)
        per_query = {q: [round(x, 4) for x in v] for q, v in by_query.items()}
        phases.update(warmup_s=rec["warmup_s"], measure_s=rec["wall_s"])
        detail = {"workload": a.workload, "seed": a.seed, "samples": samples,
                  "steal_share": [round(x, 4) for x in rec.get("steal_share", [])],
                  "phases_s": {k: round(v, 2) for k, v in phases.items()},
                  "passes_s": [round(p, 4) for p in rec["passes"]],
                  "setups": rec["setups"], "per_query_s": per_query,
                  "failures": [c for c in rec["checks"] + rec["final_checks"]
                               if not (c["ok"] and checks_ok.get(c["name"], True))]
                  + [o for o in rec["ops"] if not o["ok"]][:5]}
        if a.trace:
            metrics = per_layer(rec)
            detail["per_op"] = rec["trace"].get("per_op", {})
            # the span log outlives the run root
            shutil.copy(os.path.join(run_root, "out", "trace.json"),
                        os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"))
        print(json.dumps(detail))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
