#!/usr/bin/env python3
"""The graft benchmark: one command, four closed-loop workloads.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark's JVM entry point from source into .bench_build/perfbench; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, runs the workload in a fresh JVM, checks every
op's output independently, and prints a report followed by one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen      # noqa: E402
import layers   # noqa: E402
import oracle   # noqa: E402
import stats    # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("warehouse_build", "bi_queries", "cdc_upsert", "curation_dedup")
JVM_TIMEOUT_S = 150
BI_STREAM = 2000
BI_WARM = 60

# The JVM options of the program's own launcher (build.sbt's javaOptions):
# the module openings Spark needs outside spark-submit, the spark.*
# properties, and the heap limit from SPARK_DRIVER_MEM; default collector.
JVM_OPTS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.ansi.enabled=false", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the Spark whose spark-submit is
    on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def java_cmd(classpath, main, args):
    return (["java"] + JVM_OPTS + [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath + os.pathsep + spark_jars(), main] + list(args))


def run_jvm(cmd, run_dir, timeout):
    """Run a benchmark JVM with its scratch space inside `run_dir`; its
    output goes to run_dir/jvm.log. Returns the exit code."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = cmd[:1] + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                     f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}"] + cmd[1:]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, env=env, cwd=tmp)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: JVM timed out")
        finally:
            if proc.poll() is None:     # timed out, or this process was stopped
                proc.kill()
                proc.wait()


def jvm_failed(run_dir, what):
    with open(os.path.join(run_dir, "jvm.log")) as f:
        sys.stderr.write(f.read()[-4000:])
    raise SystemExit(f"perfbench: {what}")


def build():
    """Compile the library and the benchmark with the Scala compiler that
    ships with Spark into one jar. Skipped while the sources are
    unchanged. Returns the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "graft-bench.jar")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    log(f"building {len(srcs)} Scala sources")
    for f in (stamp_file, jar):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = spark_jars()
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("perfbench: build failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


# ---------------------------------------------------------------------------
# inputs


def generate(workload, seed, data):
    """Write the workload's inputs; returns what the checker needs."""
    if workload == "warehouse_build":
        return gen.warehouse(data, seed)
    if workload == "bi_queries":
        gen.tpch(data, seed)
        # the warm-up ends with lookups from past the measured stream's
        # end: the lookups' planning and code paths keep getting faster
        # for their first few dozen runs
        stream = gen.bi_stream(seed, BI_STREAM + BI_WARM)
        stream, tail = stream[:BI_STREAM], stream[BI_STREAM:]
        warm = gen.bi_warmup() + [q for q in tail if q["kind"] == "lookup"]
        for name, qs in (("stream.tsv", stream), ("warm.tsv", warm)):
            with open(os.path.join(data, name), "w") as f:
                f.writelines(f"{q['kind']}\t{q['template']}\t{q['sql']}\n" for q in qs)
        return stream
    if workload == "cdc_upsert":
        return gen.cdc(data, seed)
    gen.corpus(data, seed)
    with open(os.path.join(data, "truth.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# checks


def check_ops(workload, result, truth, data):
    """Check every measured op; returns {op id: failure reason or None}."""
    ops = result["ops"]
    if workload == "warehouse_build":
        info = result["info"]
        orc = oracle.WarehouseOracle(info["oracle_user_base"], info["oracle_checks"])
        return {o["id"]: orc.check(o["payload"]) for o in ops if not o["error"]}
    if workload == "bi_queries":
        orc = oracle.BiOracle(data)
        return {o["id"]: orc.check(truth[o["id"]], o["payload"]) for o in ops if not o["error"]}
    if workload == "cdc_upsert":
        return {o["id"]: oracle.check_cdc(truth, o["payload"]) for o in ops if not o["error"]}
    return {o["id"]: oracle.check_curation(truth, o["payload"]) for o in ops if not o["error"]}


# ---------------------------------------------------------------------------
# metrics


def end_to_end(workload, result, ops, truth):
    """The end-to-end metrics of BENCHMARK.json plus the workload's own
    named metrics (reported, not bounded)."""
    lat = lambda kind: [o["end_ms"] - o["start_ms"] for o in ops if o["kind"] == kind]
    primary = {"warehouse_build": "build", "bi_queries": "lookup",
               "cdc_upsert": "upsert", "curation_dedup": "pass"}[workload]
    p_lat = lat(primary)
    if not p_lat:
        raise SystemExit(f"perfbench: no {primary} op succeeded")
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "op_p50_ms": (stats.median(p_lat), "ms"),
        "ops_per_s": (len(ops) / result["wall_s"], "1/s"),
        "peak_rss_mb": (result["vm_hwm_kb"] / 1024.0, "MB"),
    }
    named = {}
    if workload == "warehouse_build":
        named["build_s"] = (stats.median(p_lat) / 1000.0, "s")
    elif workload == "bi_queries":
        named["lookup_p50_ms"] = (stats.median(p_lat), "ms")
        named["lookup_p95_ms"] = (stats.percentile(p_lat, 95), "ms")
        named["report_p50_ms"] = (stats.median(lat("report")), "ms")
        named["queries_per_s"] = (len(ops) / result["wall_s"], "1/s")
    elif workload == "cdc_upsert":
        pl = [o["payload"] for o in ops]
        named["upsert_p50_ms"] = (stats.median([p["apply_ms"] for p in pl]), "ms")
        named["read_p50_ms"] = (stats.median([p["read_ms"] for p in pl]), "ms")
        named["write_amp"] = (sum(p["bytes_written"] for p in pl)
                              / sum(p["batch_bytes"] for p in pl), "ratio")
        last = max(pl, key=lambda p: p["batch"])
        named["space_amp"] = (last["table_bytes"] / truth[last["batch"]]["live_bytes"], "ratio")
    else:
        named["pipeline_s"] = (stats.median(p_lat) / 1000.0, "s")
    return metrics, named, p_lat


def contract_metrics(trace):
    """The metric names BENCHMARK.json lists for this mode: the JSON line
    carries exactly these; the report lines carry every metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        c = json.load(f)
    return [m["name"] for m in c["per_layer" if trace else "end_to_end"]]


def report(workload, seed, gen_s, result, n_att, n_fail, metrics, named, p_lat, fails):
    out = [f"workload={workload} seed={seed} cores={result['cores']} "
           f"clients={result['clients']} inputs_generated_in={gen_s:.2f}s "
           f"(not in setup_s)"]
    out.append(f"failed_frac={n_fail / max(1, n_att):.4f} ratio ({n_fail} of {n_att} ops)")
    for k, (v, u) in list(metrics.items()) + list(named.items()):
        out.append(f"{k}={v:.6g} {u}")
    t = stats.tail(p_lat)
    out.append(f"primary op: {len(p_lat)} samples, median {stats.median(p_lat):.3f} ms, "
               + (f"p{t[0]:g} {t[1]:.3f} ms" if t else "too few samples for a tail")
               + f"; latencies_ms={[round(x, 1) for x in p_lat]}")
    for oid, why in sorted(fails.items())[:5]:
        out.append(f"op {oid} FAILED: {why}")
    for line in out:
        print(line)


# ---------------------------------------------------------------------------


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run stops its JVM too (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    jar = build()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(data)
    os.makedirs(work)
    try:
        t0 = time.time()
        truth = generate(args.workload, args.seed, data)
        gen_s = time.time() - t0

        out_file = os.path.join(run_dir, "result.json")
        rc = run_jvm(java_cmd(jar, "perfbench.Main", [
            "--workload", args.workload, "--data", data, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--out", out_file]),
            run_dir, JVM_TIMEOUT_S)
        if rc != 0:
            jvm_failed(run_dir, f"JVM exited with {rc}")
        with open(out_file) as f:
            result = json.load(f)
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))

        jvm_s = time.time() - t0 - gen_s
        ops = result["ops"]
        fails = {o["id"]: o["error"] for o in ops if o["error"]}
        for oid, why in check_ops(args.workload, result, truth, data).items():
            if why:
                fails[oid] = why
        log(f"generate {gen_s:.1f}s, benchmark JVM {jvm_s:.1f}s, "
            f"checks {time.time() - t0 - gen_s - jvm_s:.1f}s")
        n_att, n_fail = len(ops), len(fails)
        if n_att == 0:
            raise SystemExit("perfbench: no op completed")
        good = [o for o in ops if o["id"] not in fails]
        metrics, named, p_lat = end_to_end(args.workload, result, good or ops, truth)
        report(args.workload, args.seed, gen_s, result, n_att, n_fail, metrics, named,
               p_lat, fails)
        if args.trace:
            trace_file = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_file, "w") as f:
                json.dump(result["trace"], f)
            metrics = layers.per_layer(args.workload, result, ops, truth)
            for k, (v, u) in metrics.items():
                print(f"{k}={v:.6g} {u}")
            print(f"spans written to {os.path.relpath(trace_file, ROOT)}")
        names = contract_metrics(args.trace)
        missing = [n for n in names if n not in metrics]
        if missing:
            raise SystemExit(f"perfbench: BENCHMARK.json names unknown metrics {missing}")
        print(json.dumps({
            "correct": n_fail == 0, "attempted": n_att, "failed": n_fail,
            "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in names}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
