"""Flow benchmark for graft: CSV upload -> SQL, mixed index serving,
corpus -> training shards.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the checkout's graft
sources (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs one closed-loop client against graft's
public API in a JVM of its own (perfbench/src), checks every output
the measured run produced against DuckDB twins (perfbench/checks.py),
and prints one JSON result as its last stdout line. With --trace 1 the
result carries the per-layer metrics instead of the end-to-end ones.
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

WORKLOADS = ("upload_query", "serve_mixed", "corpus_shards")
DEADLINE_S = 175

# Contract metrics: every workload reports each of them (see README).
END_TO_END = {"setup_s": "s", "heap_live_mb": "MB", "main_s_p50": "s",
              "side_s_p50": "s", "work_per_s": "work/s"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_s": "s", "spark.exec_cpu_s": "s", "spark.cpu_util": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.gc_s": "s", "spark.task_skew_max": "ratio",
    "main.jobs": "count", "main.driver_s": "s",
    "side.jobs": "count", "side.driver_s": "s",
}
# Workload metrics under the names the flows are discussed by, with units.
UNITS = {
    "setup_s": "s", "heap_live_mb": "MB", "ops_failed_frac": "ratio",
    "upload_s_p50": "s", "upload_mb_s": "MB/s", "query_s_p50": "s",
    "progress_s_p50": "s", "requests_per_s": "req/s",
    "serve_s_p50": "s", "serve_s_p95": "s", "serve_text_s_p50": "s",
    "serve_hnsw_s_p50": "s", "serve_qps": "req/s", "append_s_p50": "s",
    "docs_per_s": "docs/s", "flow_s_p50": "s", "uploads": "count",
    "searches": "count", "appends": "count", "flows": "count",
}
HNSW_RECALL_FLOOR = 0.95


def layer_unit(name):
    if name in PER_LAYER:
        return PER_LAYER[name]
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("frac", "amp", "skew", "util", "recall_at_10")):
        return "ratio"
    return "count"


def jvm_command(classes, args, work, result, manifest_path, cpus):
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = [build.java(), f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
            "perfbench.FlowBench", "--workload", args.workload,
            "--manifest", manifest_path, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--classes", classes, "--cpus", str(cpus), "--result", result]
    return cmd, mem


def run_jvm(cmd, log_path, timeout):
    """Run the JVM to completion; it never outlives this process."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        old = signal.signal(signal.SIGTERM, stop)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: JVM timed out after {timeout:.0f}s")
        finally:
            signal.signal(signal.SIGTERM, old)
            if p.poll() is None:
                p.kill()
                p.wait()


def checks_for(workload, result, manifest, work):
    import checks
    checks.TMP_DIR = work
    if workload == "upload_query":
        n, bad, extra = checks.check_upload(result, manifest, work)
        planted = checks.self_test_upload(result, extra)
        return n, bad, planted, {}
    if workload == "serve_mixed":
        n, bad, extra = checks.check_serve(
            result, manifest, result["oracles"]["text_search_ranked"])
        if extra["n_hnsw"] and extra["recall"] < HNSW_RECALL_FLOOR:
            bad.append(f"hnsw recall@10 {extra['recall']:.4f} < "
                       f"floor {HNSW_RECALL_FLOOR}")
        planted = checks.self_test_serve(result, extra)
        return n, bad, planted, {"hnsw.recall_at_10": extra["recall"]}
    n, bad, extra = checks.check_corpus(result, manifest, result["oracles"])
    return n, bad, checks.self_test_corpus(extra), {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    t_begin = time.time()

    classes = build.build()
    py_start = time.time()  # set-up clock starts once the build is done
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(build.BUILD_DIR, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        import gen
        manifest, manifest_path = gen.generate(
            args.workload, args.seed, os.path.join(work, "in"))
        result_path = os.path.join(work, "result.json")
        cmd, mem = jvm_command(classes, args, work, result_path, manifest_path,
                               cpus)
        log_path = os.path.join(build.BUILD_DIR, f"last-{args.workload}.log")
        rc = run_jvm(cmd, log_path,
                     DEADLINE_S - (time.time() - t_begin) - 20)
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: JVM exited with {rc}")
        with open(result_path) as f:
            result = json.load(f)
        shutil.copy(result_path,
                    os.path.join(build.BUILD_DIR, f"result-{args.workload}.json"))

        n, bad, planted, check_metrics = checks_for(
            args.workload, result, manifest, work)
        self_test_ok = len(planted) == 2 and all(planted)
        correct = n > 0 and not bad and self_test_ok

        # process start (after the build) to the first timed op: input
        # generation, JVM and session start, index builds, warmup
        st = result["setup"]
        setup_s = st["first_op_ms"] / 1000.0 - py_start
        m = dict(result["metrics"])
        m["setup_s"] = setup_s
        m["heap_live_mb"] = result["heap_live_mb"]
        m["ops_failed_frac"] = result["failed"] / max(1, result["attempted"])
        config = dict(result["config"], driver_mem=mem,
                      seed=args.seed, seconds=args.seconds, trace=args.trace)
        print("perfbench config " + json.dumps(config))
        print("perfbench setup " + json.dumps(dict(st, setup_s=setup_s)))
        print("perfbench metrics " + json.dumps(
            {k: {"value": v, "unit": UNITS.get(k, END_TO_END.get(k, "count"))}
             for k, v in sorted(m.items())}))
        layers = dict(result["layers"], **check_metrics)
        if args.trace:
            print("perfbench layers " + json.dumps(
                {k: {"value": v, "unit": layer_unit(k)}
                 for k, v in sorted(layers.items())}))
            print("perfbench self_s " + json.dumps(result["self_s"]))
            keep = os.path.join(build.BUILD_DIR, f"spans-{args.workload}.jsonl")
            shutil.copy(os.path.join(work, "spans.jsonl"), keep)
        print("perfbench checks " + json.dumps({
            **check_metrics, "compared": n, "mismatches": len(bad),
            "first": bad[:5], "self_test_detected": planted,
            "errors": result["errors"][:5]}))

        chosen = PER_LAYER if args.trace else END_TO_END
        src = layers if args.trace else m
        missing = [k for k in chosen if src.get(k) is None]
        if missing:
            raise SystemExit(f"perfbench: no value for {missing}")
        print(json.dumps({
            "correct": bool(correct),
            "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": {k: {"value": float(src[k]), "unit": u}
                        for k, u in chosen.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
