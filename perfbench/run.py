#!/usr/bin/env python3
"""Benchmark of the graft unload engine: per-batch export latency, throughput
and curation quality over seeded workloads (see perfbench/README.md).

    python3 perfbench/run.py --workload cdf_export --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Run from the checkout root. The first run builds the engine and the harness
(`perfbench/build.py`); each run then starts one JVM on `local[nproc]`, sets
the workload up, runs batches back to back for `--seconds`, checks every
batch's output, and prints the metrics. The last stdout line is one JSON
object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. All scratch lives under one temporary directory in
`.bench_build/perfbench/tmp/` that is removed at exit. The exit code is 0
only when every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("cdf_export", "ingest_export", "curation")

# name -> unit; the order is the print order
END_TO_END = {
    "batch_s_p50": "s",
    "batch_s_tail": "s",
    "rows_per_s": "rows/s",
    "out_bytes_per_in_byte": "ratio",
    "setup_s": "s",
}

PER_LAYER = {
    "catalog.commit_s": "s", "catalog.commits": "count", "catalog.setup_commit_s": "s",
    "catalog.fetch_s": "s", "catalog.scan_bytes": "bytes",
    "unload.driver_s": "s", "unload.jobs": "count", "unload.fallbacks": "count", "unload.retries": "count",
    "partitioning.count_s": "s", "partitioning.partitions": "count",
    "writers.write_s": "s", "writers.sidecar_s": "s", "writers.bytes_out": "bytes",
    "writers.files_out": "count", "writers.max_rows_per_file": "rows",
    "dedup.exact_s": "s", "dedup.corpus_s": "s", "dedup.kept_frac": "ratio",
    "text.profile_s": "s",
    "similarity.exact_topk_s": "s", "similarity.ivf_topk_s": "s",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.tasks": "count",
    "spark.stage_skew": "ratio", "spark.codegen_compiles": "count", "jvm.jit_compile_s": "s",
    "bench.self_s": "s", "jvm.peak_rss_mb": "MB",
    "failed_frac": "ratio", "dedup_recall": "ratio", "dedup_precision": "ratio", "knn_recall_at_10": "ratio",
    "trace.batch_s_p50": "s", "trace.untraced_batch_s_p50": "s", "trace.overhead_frac": "ratio",
}

JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    """An explicit heap of at most half of physical memory, capped at 3 GiB."""
    total_kb = 4 * 1024 * 1024
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(512, min(3072, total_kb // 2048))


def java_cmd(jars, classpath, main, args, scratch):
    return (["java", f"-Xmx{heap_mb()}m", "-Xss4m", f"-Djava.io.tmpdir={scratch}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.callstack.depth=40"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]), main] + args)


def run_jvm(cmd, scratch):
    """Run one JVM with cwd inside the scratch root; return its exit code."""
    with open(os.path.join(scratch, "jvm.out"), "w") as out, open(os.path.join(scratch, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=out, stderr=err)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            p.kill()
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def tail_percentile(times):
    """Batch time at the highest percentile with at least 10 samples beyond
    it (nearest rank), with that percentile; None below 11 samples."""
    n = len(times)
    if n < 11:
        return None, None
    s = sorted(times)
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(res):
    bs = res["batches"]
    times = [b["s"] for b in bs]
    tail_v, tail_p = tail_percentile(times)
    busy = sum(times)
    return {
        "batch_s_p50": statistics.median(times),
        "batch_s_tail": tail_v if tail_v is not None else max(times),
        "rows_per_s": sum(b["rows_in"] for b in bs) / busy if busy > 0 else 0.0,
        "out_bytes_per_in_byte": sum(b["bytes_out"] for b in bs) / max(1, sum(b["bytes_in"] for b in bs)),
        "setup_s": res["session_s"] + statistics.median(res["setup_shard_s"]) + res["warm_up_s"],
    }, tail_p


def report(res, trace):
    bs = res["batches"]
    failed = [b for b in bs if b["failures"]]
    log(f"workload={res['workload']} seed={res['seed']} cpus={res['cpus']} trace={int(trace)} "
        f"batches={len(bs)} failed={len(failed)} (closed loop, one client)")
    log(f"input sizes: {json.dumps(res['sizes'], sort_keys=True)}")
    log("batch seconds: " + " ".join(f"{b['s']:.3f}" for b in bs))
    for b in failed[:5]:
        log(f"batch {b['i']} failed: {'; '.join(b['failures'])}")
    for f in res["setup_failures"][:5]:
        log(f"set-up failed: {f}")
    e2e, tail_p = end_to_end(res)
    n = len(bs)
    rows = sum(b["rows_in"] for b in bs) / max(1, n)
    notes = {
        "batch_s_tail": (f"p{tail_p:.1f} of {n} batches, 10 beyond" if tail_p
                         else f"max of {n} batches (fewer than 11)"),
        "rows_per_s": f"{rows:.0f} input rows per batch",
        "out_bytes_per_in_byte": (f"{sum(b['bytes_out'] for b in bs) / max(1, n):.0f} B out / "
                                  f"{sum(b['bytes_in'] for b in bs) / max(1, n):.0f} B in per batch"),
        "setup_s": (f"session {res['session_s']:.3f} s + median of "
                    f"{', '.join(f'{s:.3f}' for s in res['setup_shard_s'])} s per shard set-up"
                    f" + warm-up {res['warm_up_s']:.3f} s"),
    }
    for k, unit in END_TO_END.items():
        log(f"{k} = {e2e[k]:.6g} {unit}" + (f"  ({notes[k]})" if k in notes else ""))
    log(f"failed_frac = {len(failed) / max(1, n):.4g} ratio")
    log(f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB  (JVM VmHWM at exit)")
    for k in ("dedup_recall", "dedup_precision", "knn_recall_at_10"):
        q = [b["quality"][k] for b in bs if k in b["quality"]]
        if q:
            log(f"{k} = {sum(q) / len(q):.6g} ratio")
    layers = dict(res.get("layers") or {}, **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
    if trace:
        for k, unit in PER_LAYER.items():
            log(f"{k} = {layers.get(k, 0.0):.6g} {unit}")
    correct = not failed and not res["setup_failures"]
    metrics = ({k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()} if trace
               else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()})
    print(json.dumps({"correct": correct, "attempted": n, "failed": len(failed), "metrics": metrics}))
    return correct


def selftest(jars, classpath, scratch):
    rc = run_jvm(java_cmd(jars, classpath, "graft.perfbench.SelfTest", [], scratch), scratch)
    sys.stdout.write(tail(os.path.join(scratch, "jvm.out"), 200))
    ok = rc == 0
    spec_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
        same = ({m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
                and {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
                and {w["name"] for w in spec["workloads"]} <= set(WORKLOADS))
        print(f"[selftest] {'ok  ' if same else 'FAIL'} BENCHMARK.json names and units match run.py")
        ok = ok and same
    # percentile rule on known inputs
    v, p = tail_percentile([float(i) for i in range(1, 21)])
    rule = (v, p) == (10.0, 50.0) and tail_percentile([1.0] * 10) == (None, None)
    print(f"[selftest] {'ok  ' if rule else 'FAIL'} tail percentile leaves 10 samples beyond")
    return ok and rule


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    # SIGTERM unwinds through the finally blocks, so the JVM and scratch go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        jars, classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tmp_base = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp_base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=tmp_base)
    try:
        if a.selftest:
            return 0 if selftest(jars, classpath, scratch) else 1
        out = os.path.join(scratch, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(cpus()), "--root", scratch, "--out", out]
        rc = run_jvm(java_cmd(jars, classpath, "graft.perfbench.Main", args, scratch), scratch)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(tail(os.path.join(scratch, "jvm.err")))
            print(f"[perfbench] benchmark JVM failed (exit {rc})", file=sys.stderr)
            return 3
        with open(out) as fh:
            res = json.load(fh)
        return 0 if report(res, a.trace == 1) else 1
    except subprocess.TimeoutExpired:
        print(f"[perfbench] benchmark JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
