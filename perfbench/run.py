#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload reference_batch --seed 1 \
        --seconds 8 --trace 0

Builds the harness and the engine from source (once per source tree),
generates the seeded input tables, runs the workload in one JVM on
local[nproc] with a fixed heap and a fresh warehouse, checks every output
(batch results against their DuckDB oracles, stream sinks against the
batch recompute inside the JVM), prints a readable report on stderr and,
as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (from a run that records spans; the
span file is kept under perfbench/.work/results/ for trace_summary.py).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

WORKLOADS = ("reference_batch", "stream_ingest")
# table scale factor of reference_batch; stream_ingest generates its own
# lines
SF = 0.05
HEAP = "3g"
JVM_BUDGET_S = 165  # the whole run must end within 180 s
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"),
                              recursive=True))
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project/build.properties")]
    return files


def build(work):
    """Compile engine + harness with sbt unless this source tree is built."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH", 3)
    # resolve from the local caches only, as the engine's own build does
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = " ".join(
            ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"] +
            ([f"-Dsbt.repository.config={repos}"]
             if os.path.exists(repos) else []))
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0:
        die(f"build failed (exit {rc}); see {log}", 3)
    # the class-data archive holds classes of the previous build
    if os.path.exists(cds_archive(work)):
        os.remove(cds_archive(work))
    with open(stamp_file, "w") as fh:
        fh.write(h.hexdigest())


def cds_archive(work):
    return os.path.join(work, "classes.jsa")


def spark_home():
    """SPARK_HOME, else the first distribution (a `bin/` next to a `jars/`)
    on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark distribution: set SPARK_HOME", 3)


def classpath():
    # the packaged jar, not the classes directory: class-data sharing
    # accepts only jars on the class path
    jar = glob.glob(os.path.join(BENCH, "target/scala-2.13/perfbench_*.jar"))
    return os.pathsep.join(jar + [os.path.join(spark_home(), "jars", "*")])


def run_jvm(args, run_dir, data_dir, result, spans, cpus):
    # class-data sharing: the first run after a build archives the loaded
    # classes, later runs map them instead of loading the Spark jars again
    jsa = cds_archive(os.path.dirname(run_dir))
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
        "-cp", classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--result", result]
    if data_dir:
        cmd += ["--data", data_dir]
    if spans:
        cmd += ["--spans", spans]
    if args.wrong_expected:
        cmd += ["--wrong-expected"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=f"{run_dir}/local")
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    return rc, log


def main():
    ap = argparse.ArgumentParser(description="perfbench workload runner")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float,
                    help=f"star-schema and events scale (default {SF})")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="self-test: corrupt one expected result")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
        die(f"engine sources not found under {ROOT}/src; run from a checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if shutil.which("java") is None:
        die("java not found on PATH", 3)

    import checks
    import gen

    work = os.path.join(BENCH, ".work")
    os.makedirs(work, exist_ok=True)
    build(work)

    data_dir, sf = None, None
    if args.workload != "stream_ingest":
        sf = args.sf or SF
        data_dir = os.path.join(work, "data", f"sf{sf}-seed{args.seed}")
        gen.generate(data_dir, args.seed, sf)

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans = os.path.join(results, f"{tag}.spans.jsonl") if args.trace else None
    result_file = os.path.join(run_dir, "result.json")
    cpus = len(os.sched_getaffinity(0))

    t0 = time.time()
    rc, log = run_jvm(args, run_dir, data_dir, result_file, spans, cpus)
    if rc != 0 or not os.path.exists(result_file):
        tail = open(log, errors="replace").read()[-3000:]
        print(tail, file=sys.stderr)
        die(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}",
            4)
    with open(result_file) as fh:
        res = json.load(fh)
    jvm_s = time.time() - t0

    if "oracle" in res:
        for name, ok, detail in checks.oracle_checks(
                data_dir, res["outputs"], res["oracle"], args.wrong_expected):
            res["checks"].append({"name": f"oracle {name}", "ok": ok,
                                  "detail": detail})
            res["attempted"] += 1
            res["failed"] += 0 if ok else 1

    res["env"].update({"sf": str(sf) if sf else "none",
                       "seed": str(args.seed),
                       "seconds": str(args.seconds), "trace": str(args.trace),
                       "spark_graft_cpus": str(cpus),
                       "commit": checks.commit_of(ROOT)})
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            # a per-layer metric of a layer this workload does not run
            if args.trace and not checks.applies(
                    m["name"], args.workload, res.get("queries", [])):
                v = {"value": 0.0, "unit": m["unit"]}
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for name in missing:
        res["checks"].append({"name": f"metric {name}", "ok": False,
                              "detail": "not reported by the workload"})
        res["attempted"] += 1
        res["failed"] += 1

    correct = all(c["ok"] for c in res["checks"]) and res["failed"] == 0
    record = dict(res, correct=correct, workload=args.workload,
                  report_metrics=metrics, jvm_wall_s=jvm_s)
    record.pop("oracle", None)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    checks.report(record, sys.stderr)
    if spans:
        import trace_summary
        trace_summary.summarize(spans, sys.stderr)
        untraced = os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            trace_summary.overhead(os.path.join(results, f"{tag}.json"),
                                   untraced, sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
