#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one Spark session.

    python3 perfbench/run.py --workload {chassis,stateless} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds graft and the benchmark
driver (sbt, offline) into perfbench/target and records a class-data
sharing archive; later runs reuse both while the sources are unchanged.
Each run generates its inputs from the seed under perfbench/.work, times
passes of the workload's operation sequence until S seconds have passed
(at least one; the first pass runs in a fresh JVM, see METRICS.md), checks
every result against graft's DuckDB oracle (SparkEntry.oracleSql), prints
one line per metric and, last, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (the span file goes to perfbench/out/). The
exit code is 0 only when every output was correct.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gate  # noqa: E402
import gen  # noqa: E402

JAR = os.path.join(HERE, "target", "graftbench.jar")
STAMP = os.path.join(HERE, "target", "bench.stamp")
ARCHIVE = os.path.join(HERE, "target", "graftbench.jsa")
JVM_TIMEOUT_S = 150
WORKLOADS = ("chassis", "stateless")
TRAIN_SEED = 0

# Inputs per workload. The harness tables come from a fixed seed; the
# run's seed draws the corpora.
OLAP_SF, OLAP_TABLE_SEED = 0.01, 20260101
CHASSIS = dict(n_docs=50, exact_share=0.10, near_share=0.10, files=8, delete_share=0.10)
CURATION = dict(n_docs=500, exact_share=0.10, near_share=0.10)

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_home():
    """The Spark installation graft builds and runs against: SPARK_HOME, or
    the first spark-submit on PATH that sits in an installation with a
    jars/ dir."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: no Spark installation with a jars/ dir (set SPARK_HOME)")


def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spec):
    """Package graft with the driver into one jar, then record the classes
    one stateless run loads (most of Spark SQL and graft) in a class-data
    sharing archive. Later JVMs map the archive instead of loading those
    classes again, which takes about 10 s off every run's set-up."""
    digest = source_digest()
    if all(map(os.path.exists, (STAMP, JAR, ARCHIVE))) and open(STAMP).read() == digest:
        return
    if os.path.exists(STAMP):
        os.remove(STAMP)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log("perfbench: building graft and the benchmark driver (sbt package)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    log("perfbench: recording the class archive")
    with contextlib.redirect_stdout(sys.stderr):
        run("stateless", TRAIN_SEED, 1, 0, spec, dump=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def make_inputs(workload, seed, data):
    """Write the workload's inputs; returns the args the JVM half needs
    and a summary of the inputs."""
    os.makedirs(data)
    if workload == "chassis":
        c = CHASSIS
        info = gen.write_corpus(data, c["n_docs"], seed, c["exact_share"], c["near_share"],
                                batches=2, delete_share=c["delete_share"])
        # batch 1 reaches the state through the streaming runner, which
        # reads <dir>/documents.parquet
        os.makedirs(os.path.join(data, "stream"))
        os.rename(os.path.join(data, "batch_1.parquet"),
                  os.path.join(data, "stream", "documents.parquet"))
        return {"files": c["files"], "ingest-bytes": info["text_bytes"],
                "survivor-bytes": info["survivor_text_bytes"]}, info
    # the curation corpus is the harness documents table
    gen.write_harness(data, OLAP_SF, OLAP_TABLE_SEED)
    c = CURATION
    info = gen.write_corpus(data, c["n_docs"], seed, c["exact_share"], c["near_share"])
    return {}, dict(info, sf=OLAP_SF)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it:
    -> (value, percentile, samples). Below 11 samples no percentile has
    10 beyond it and the median stands in (percentile 50)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return statistics.median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def summarize(j, ok_checks, workload, info):
    """End-to-end metrics of the measured passes, plus the
    workload-specific detail."""
    ops = j["ops"]
    passes = j["passes"]
    lat = [o["lat_s"] for o in ops]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["lat_s"])
    run_s = statistics.median(p["run_s"] for p in passes)
    t, pct, n = tail(lat)
    e2e = {"setup_s": j["setup_s"], "run_s": run_s, "rss_peak_mb": j["rss_peak_mb"]}
    detail = {"op_p50_s": statistics.median(lat), "op_tail_s": t,
              "op_tail_percentile": pct, "op_samples": n, "passes": len(passes)}
    for k in ("merge", "delete", "compact", "serve", "query", "operator", "kernel"):
        if k in by_kind:
            detail[f"{k}_s"] = statistics.median(by_kind[k])
    # documents through the state, or through the curation calls
    curate_s = sum(by_kind.get("operator", []) + by_kind.get("kernel", [])) / len(passes)
    detail["docs_per_s"] = info["docs"] / (curate_s if workload == "stateless" else run_s)
    batches = [b["trigger_s"] for b in j["batches"]]
    if batches:
        detail["batch_p50_s"] = statistics.median(batches)
    if j["ingest_bytes"]:
        written = statistics.median(p["bytes_written"] for p in passes)
        detail["write_amp"] = written / j["ingest_bytes"]
    if j["survivor_bytes"]:
        kept = statistics.median(p["state_bytes"] for p in passes)
        detail["space_amp"] = kept / j["survivor_bytes"]
    failed = sum(1 for o in ops if o["error"] or (o["check"] and not ok_checks.get(o["check"])))
    detail["fail_ratio"] = failed / len(ops)
    return e2e, detail, len(ops), failed


def run(workload, seed, seconds, trace, spec, dump=False):
    """One run: inputs, JVM, oracles, gate; prints the metric lines and
    returns the result object."""
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    proc = None
    try:
        setup_start_ms = int(time.time() * 1000)
        extra, info = make_inputs(workload, seed, os.path.join(work, "data"))
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(work, d))
        cores = len(os.sched_getaffinity(0))
        args = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                "data": os.path.join(work, "data"), "work": work, "cores": cores,
                "setup-start-ms": setup_start_ms, **extra}
        cds = f"-XX:{'ArchiveClassesAtExit' if dump else 'SharedArchiveFile'}={ARCHIVE}"
        # no hsperfdata file: the run writes nothing outside the checkout
        cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", cds, *ADD_OPENS,
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", os.pathsep.join([JAR, os.path.join(spark_home(), "jars", "*")]),
                "graftbench.Main"] + [x for k, v in args.items() for x in (f"--{k}", str(v))])
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local",
                   SPARK_GRAFT_WAREHOUSE=f"{work}/warehouse")
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
        deadline = time.time() + JVM_TIMEOUT_S
        # the oracles are computed while the JVM starts; its timed window
        # waits for oracle.done
        cases_path = os.path.join(work, "checks.json")
        while not os.path.exists(cases_path) and proc.poll() is None and time.time() < deadline:
            time.sleep(0.05)
        if not os.path.exists(cases_path):
            raise SystemExit("perfbench: the benchmark JVM did not start its workload")
        with open(cases_path) as fh:
            cases = json.load(fh)
        oracles = gate.precompute(cases, os.path.join(work, "data"))
        open(os.path.join(work, "oracle.done"), "w").close()
        if proc.wait(timeout=max(1, deadline - time.time())) != 0:
            raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
        with open(os.path.join(work, "jvm.json")) as fh:
            j = json.load(fh)

        results = gate.verdicts(cases, j, oracles)
        for k, (ok, why) in sorted(results.items()):
            if not ok:
                log(f"perfbench: WRONG {k}: {why}")
        ok_checks = {k: ok for k, (ok, _) in results.items()}
        e2e, detail, attempted, failed = summarize(j, ok_checks, workload, info)

        print(f"# workload={workload} seed={seed} cores={cores} inputs={json.dumps(info)}")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        for k, v in e2e.items():
            print(f"{workload} {k} {v:.6g} {units[k]}")
        for k, v in detail.items():
            print(f"{workload} {k} {v:.6g}")

        if trace:
            # the tracing overhead is this run_s less the untraced run's
            layers = dict(j["layers"], **{"trace.run_s": e2e["run_s"]})
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out, f"spans-{workload}.jsonl"))
            metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        return {"correct": all(ok_checks.values()) and failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources not found; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build(spec)
    result = run(a.workload, a.seed, a.seconds, a.trace, spec)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
