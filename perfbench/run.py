#!/usr/bin/env python3
"""Benchmark of the topic log and the query surface.

    python3 perfbench/run.py --workload point_read --seed 1 --seconds 6 --trace 0

Workloads: point_read, produce_consume, analytics (see README.md). Run from
the root of a checkout: it builds the program from source into
$CARGO_TARGET_DIR (default .bench_build), generates the corpus there, runs
one JVM in a fresh run directory, checks every output, and prints one JSON
object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a separate traced run. --probe N (point_read) prints latency medians by
blocks of 100 reads over N reads from a cold start, the warm-up measurement.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("point_read", "produce_consume", "analytics")
END_TO_END = {
    "latency_p50_ms": "ms", "latency_p90_ms": "ms", "ops_per_s": "1/s",
    "events_per_s": "1/s", "publish_p50_ms": "ms", "setup_s": "s",
}
PER_LAYER = {
    "rpc.self_ms": "ms",
    "topic.consume_build_ms": "ms", "topic.files": "count",
    "topic.publish_ms": "ms", "topic.hwm_ms": "ms",
    "topic.publish_jobs": "count", "topic.publish_rows_read": "count",
    "cascade.poll_ms": "ms", "cascade.poll_jobs": "count",
    "cascade.poll_rows_read": "count", "cascade.commit_ms": "ms",
    "cascade.commit_jobs": "count", "cascade.commit_rows_read": "count",
    "spark.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.codegen_compiles_per_op": "count", "spark.codegen_compile_ms_per_op": "ms",
    "spark.rows_read_per_op": "count", "spark.rows_read_per_event": "count",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "trace.latency_p50_ms": "ms",
}
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
JVM_TIMEOUT_S = 170


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_corpus(build_dir):
    """The corpus is an input, not state: generated once per build dir."""
    with open(os.path.join(HERE, "corpus.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(build_dir, f"corpus-{tag}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        corpus.generate(d + ".tmp")
        os.rename(d + ".tmp", d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d, tag


def oracle(build_dir, corpus_dir, tag, sqls):
    """DuckDB fingerprints of the oracle SQL, cached by (corpus, SQL text)."""
    path = os.path.join(build_dir, "oracle-cache.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    key = lambda q: tag + ":" + hashlib.sha256(sqls[q].encode()).hexdigest()  # noqa: E731
    missing = {q: s for q, s in sqls.items() if key(q) not in cache}
    if missing:
        for q, fp in corpus.oracle_fingerprints(corpus_dir, missing).items():
            cache[key(q)] = fp
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {q: cache[key(q)] for q in sqls}


def check_analytics(work, corpus_dir, build_dir, tag, res):
    """A query whose result differs from its oracle fails every operation
    of that query in the run; the others keep the failures the JVM counted.
    Each operation is counted as failed at most once."""
    sqls = json.load(open(os.path.join(work, "oracle_sql.json")))
    want = oracle(build_dir, corpus_dir, tag, sqls)
    con = corpus.connect(corpus_dir)
    bad = []
    for q in sqls:
        try:
            got = corpus.result_fingerprint(con, os.path.join(work, "results", q))
        except Exception as e:  # noqa: BLE001
            got = f"error: {e}"
        if got != want[q]:
            bad.append(q)
            print(f"[perfbench] {q}: result {got} != oracle {want[q]}", file=sys.stderr)
    ops, fails = res.get("query_ops", {}), res.get("query_failed", {})
    res["failed"] = sum(ops.get(q, 1) if q in bad else fails.get(q, 0) for q in sqls)
    return not bad


def new_workdir(build_dir):
    work = os.path.join(build_dir, "runs", f"{os.getpid()}-{int(time.time() * 1000)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def jvm(cp, work, jvm_flags, args):
    """Run `perfbench.Main args` in `work`; return its result object."""
    env = dict(os.environ, GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
           + JVM_FLAGS + jvm_flags
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", ":".join(cp),
              "perfbench.Main"] + [str(x) for x in args])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=work, env=env)
        try:
            stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"JVM did not finish within {JVM_TIMEOUT_S} s")
    lines = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        tail = open(log).read()[-3000:]
        raise RuntimeError(f"JVM exited {p.returncode} without a result:\n{tail}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def class_archive(build_dir, cp, key, corpus_dir):
    """JVM start dominates a short run's set-up, most of it class loading.
    A class-data archive, dumped once per build by a short pass over every
    workload's code path, serves those classes to every run."""
    jsa = os.path.join(build_dir, "app.jsa")
    stamp = jsa + ".key"
    key = key + repr(JVM_FLAGS)
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        work = new_workdir(build_dir)
        try:
            jvm(cp, work, [f"-XX:ArchiveClassesAtExit={jsa}.tmp", "-Xlog:cds=off"],
                ["prime", 0, 1, 0, corpus_dir, work, cpus(), 0])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        os.replace(jsa + ".tmp", jsa)
        with open(stamp, "w") as f:
            f.write(key)
    return [f"-XX:SharedArchiveFile={jsa}"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", type=int, default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    cp, key = build.build(build_dir)
    corpus_dir, tag = prepare_corpus(build_dir)
    archive = class_archive(build_dir, cp, key, corpus_dir)

    work = new_workdir(build_dir)
    try:
        res = jvm(cp, work, archive, [a.workload, a.seed, a.seconds, a.trace,
                                      corpus_dir, work, cpus(), a.probe])
        if a.probe:
            print(json.dumps(res))
            return 0
        correct = res["failed"] == 0
        if a.workload == "analytics":
            correct = check_analytics(work, corpus_dir, build_dir, tag, res) and correct
        print(json.dumps({"setup": res.get("setup", {}), "attempted": res["attempted"],
                          **{k: v for k, v in res.items() if k in ("families", "query_ops", "query_failed", "query_ms", "first_call_ms")}}),
              file=sys.stderr)
        want = PER_LAYER if a.trace else END_TO_END
        missing = [m for m in want if m not in res["metrics"]]
        if missing:
            raise RuntimeError(f"metrics missing from the run: {missing}")
        print(json.dumps({
            "correct": correct and res["failed"] == 0,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {m: {"value": res["metrics"][m], "unit": u} for m, u in want.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
