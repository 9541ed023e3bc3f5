#!/usr/bin/env python3
"""Benchmark entry point: builds the program and its harness from source,
runs one workload in a fresh JVM, checks its outputs, and prints one
JSON line of metrics as the last line of standard output.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Build outputs and work files go to
`.bench_build/` there. Workloads, metrics and bounds are declared in
BENCHMARK.json.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "admission")
# How long a run may take once the program is built.
RUN_LIMIT_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt (offline) unless the stamp
    matches; return the runtime classpath, the stamp and whether it
    compiled."""
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(HERE, "build.sbt")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp, False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       f" -Dsbt.offline=true -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") or l.startswith(".")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.relpath(log_path, ROOT)}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp, True


def run_jvm(cp, workload, seed, trace, work, timeout):
    """Run the harness JVM in its own work directory; its output goes to a
    log file so the result line stays last on stdout. On timeout the JVM
    is killed and subprocess.TimeoutExpired raised."""
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "raw.json")
    # A fixed heap takes the collector's resizing out of the run-to-run
    # spread. A deep call site lets the traced run find the repo frame
    # behind helper frames; untraced runs carry the same setting. Every
    # scratch file Spark and the JVM make stays under the work directory.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.callstack.depth=80",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", str(trace), "--work", work, "--out", out,
            "--cores", str(os.cpu_count() or 1)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if code != 0 or not os.path.exists(out):
        fail(f"workload failed (exit {code}), see {os.path.relpath(work, ROOT)}/jvm.log")
    with open(out) as f:
        return json.load(f)


def end_to_end(p):
    """The user-facing figures of one untraced pass."""
    return {
        "setup_s": (statistics.median(p["setup_s"]) + p["warmup_s"], "s"),
        "items_per_s": (p["items"] / p["wall_s"], "1/s"),
        "batch_p50_s": (statistics.median(p["op_s"]), "s"),
        "retained_heap_mb": (p["retained_heap_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # The measured work is fixed (see README.md); --seconds is accepted
    # for the command line's sake and echoed in the run line.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t0 = time.time()
    cp, stamp, built = build()
    deadline = (time.time() if built else t0) + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", args.workload)

    def timed_pass(trace, timeout):
        start = time.time()
        r = run_jvm(cp, args.workload, args.seed, trace,
                    os.path.join(work, "traced" if trace else "untraced"), timeout)
        return r, time.time() - start

    try:
        raw, jvm_s = timed_pass(args.trace, deadline - time.time())
    except subprocess.TimeoutExpired:
        fail("workload exceeded the run's time limit")
    # An untraced run leaves its wall time here, by seed and build; a
    # traced run prices its tracing against it. Without one, the traced
    # run times a fresh untraced JVM of the same seed after its own, if it
    # fits in the time left, else it reports no overhead.
    cache = os.path.join(BUILD, "results", f"{args.workload}-{args.seed}.json")
    untraced = raw.get("untraced")
    baseline = None
    if args.trace:
        if os.path.exists(cache):
            with open(cache) as f:
                c = json.load(f)
            if c["stamp"] == stamp:
                baseline = c["wall_s"]
        if baseline is None and deadline - time.time() > jvm_s:
            try:
                untraced = timed_pass(0, deadline - time.time())[0]["untraced"]
            except subprocess.TimeoutExpired:
                print("perfbench: no time left for the untraced pass", file=sys.stderr)
    if untraced is not None:
        baseline = untraced["wall_s"]
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache, "w") as f:
            json.dump({"stamp": stamp, "wall_s": baseline}, f)
    if args.trace:
        raw["baseline_wall_s"] = baseline

    measured = raw["traced"] if args.trace else raw["untraced"]
    info = {k: raw[k] for k in ("workload", "seed", "master", "nproc", "cores",
                                "cpu_mhz_start", "cpu_mhz_end", "loadavg_start")}
    info["seconds_requested"] = args.seconds
    info["window_s"] = round(measured["wall_s"], 1)
    info["samples"] = len(measured["op_s"])
    info["highest_supported_percentile"] = metrics.highest_supported(len(measured["op_s"]))
    info["findings"] = measured["findings"]
    info["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps({"run": info}))
    values = per_layer(raw) if args.trace else end_to_end(measured)
    attempted, failed = metrics.count_failures(
        measured["attempted"], measured["failed_ops"])
    # every pass a JVM ran is checked, the timed one counted
    passes = [p for p in (raw.get("traced"), raw.get("local1"), untraced) if p]
    correct = all(not p["failed_ops"] and not p["warmup_failed"] and not p["findings"]
                  for p in passes)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


# Repo files whose code launched the traced jobs (a stream's jobs carry
# the file that started the query; Monitoring's run on the listener bus).
MODULES = ("IngestPipeline", "AdmissionPipeline", "Monitoring")
# What each job writes, by target directory; "compute" writes nothing
# (decisions' screens, counts, checkpoints).
OWNERS = ("IngestPipeline.raw", "IngestPipeline.rejects", "IngestPipeline.normalized",
          "IngestPipeline.hwm", "IngestPipeline.stats", "Monitoring.progress",
          "AdmissionPipeline.decisions", "DedupIndex.append", "StreamingNearDup.append",
          "SubstringIndex.append", "WinnowIndex.append", "compute")
REASONS = ("admit", "low_quality", "repetitive", "near_duplicate", "verbatim_repeat",
           "contaminated", "corpus_duplicate")
INGEST_SINKS = ("raw", "normalized", "rejects", "stats", "raw_hwm", "rejects_hwm")


def per_layer(raw):
    """Per-layer figures of the traced pass. Every workload reports every
    name, a layer the workload bypasses as 0; `trace.overhead_pct` is
    left out when no untraced run of the seed was timed."""
    t = raw["traced"]
    jobs, stages, batches = metrics.read_spans(t["spans"])
    batches = [b for b in batches if b["rows"] > 0]
    n = len(t["op_s"])
    out = {
        "host.nproc": (raw["nproc"], "count"),
        "host.cpu_mhz_start": (raw["cpu_mhz_start"], "MHz"),
        "host.cpu_mhz_end": (raw["cpu_mhz_end"], "MHz"),
        "host.loadavg_start": (raw["loadavg_start"], "load"),
        "host.peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "engine.batches": (n, "count"),
        "engine.warmup_s": (t["warmup_s"], "s"),
        "engine.add_batch_s": (statistics.median(
            b["add_batch_ms"] for b in batches) / 1000.0, "s"),
        "engine.overhead_s": (statistics.median(
            b["trigger_ms"] - b["add_batch_ms"] for b in batches) / 1000.0, "s"),
    }
    if raw["baseline_wall_s"] is not None:
        out["trace.overhead_pct"] = (
            100.0 * (t["wall_s"] / raw["baseline_wall_s"] - 1.0), "%")
    zero = metrics.empty_totals()
    total = metrics.layer_totals(jobs, stages).get("", zero)
    out.update({
        "engine.jobs_per_batch": (total["jobs"] / n, "count"),
        "engine.stages_per_batch": (total["stages"] / n, "count"),
        "engine.tasks_per_batch": (total["tasks"] / n, "count"),
        "engine.executor_s_per_batch": (total["executor_s"] / n, "s"),
        "engine.shuffle_mb_per_batch": (total["shuffle_bytes"] / 1e6 / n, "MB"),
        "engine.output_mb_per_batch": (total["output_bytes"] / 1e6 / n, "MB"),
        "engine.spill_mb": (total["spill_bytes"] / 1e6, "MB"),
    })
    by_module = metrics.layer_totals(jobs, stages, "module")
    for m in MODULES:
        v = by_module.get(m, zero)
        out[f"{m}.jobs_per_batch"] = (v["jobs"] / n, "count")
        out[f"{m}.stages_per_batch"] = (v["stages"] / n, "count")
        out[f"{m}.executor_s_per_batch"] = (v["executor_s"] / n, "s")
    by_owner = metrics.layer_totals(jobs, stages, "owner")
    for o in OWNERS:
        v = by_owner.get(o, zero)
        out[f"{o}.jobs_per_batch"] = (v["jobs"] / n, "count")
        out[f"{o}.executor_s_per_batch"] = (v["executor_s"] / n, "s")
        out[f"{o}.output_mb_per_batch"] = (v["output_bytes"] / 1e6 / n, "MB")
    st, counts = t["storage"], t["counts"]
    if raw["workload"] == "ingest":
        normalized_final = sum(st[f"{d}.normalized.bytes"] for d in TOPICS)
        written = by_owner.get("IngestPipeline.normalized", zero)["output_bytes"]
        sink_files = sum(st[f"{d}.{k}.files"] for d in TOPICS for k in INGEST_SINKS)
        sink_bytes = sum(st[f"{d}.{k}.bytes"] for d in TOPICS for k in INGEST_SINKS)
        local1 = raw["local1"]
        out.update({
            "ingest.normalized.write_amp": (
                metrics.write_amplification(written, normalized_final), "ratio"),
            "ingest.sink.files": (sink_files, "count"),
            "ingest.sink.mb": (sink_bytes / 1e6, "MB"),
            "ingest.progress.files": (st["progress.files"], "count"),
            "ingest.replay.overlap_rows": (counts["redelivered"], "count"),
            "ingest.reject_ratio": (counts["invalid"] / counts["records"], "ratio"),
            "ingest.local1.records_per_s": (local1["items"] / local1["wall_s"], "1/s"),
        })
    else:
        out.update({k: (0, u) for k, u in (
            ("ingest.normalized.write_amp", "ratio"), ("ingest.sink.files", "count"),
            ("ingest.sink.mb", "MB"), ("ingest.progress.files", "count"),
            ("ingest.replay.overlap_rows", "count"), ("ingest.reject_ratio", "ratio"),
            ("ingest.local1.records_per_s", "1/s"))})
    if raw["workload"] == "admission":
        state_rows, state_bytes = metrics.final_state(batches)
        idx = ("DedupIndex", "StreamingNearDup", "SubstringIndex", "WinnowIndex")
        out.update({
            "admission.index.files": (sum(st[f"{i}.files"] for i in idx), "count"),
            "admission.index.mb": (sum(st[f"{i}.bytes"] for i in idx) / 1e6, "MB"),
            "admission.state_rows": (state_rows, "count"),
            "admission.state_mb": (state_bytes / 1e6, "MB"),
            "admission.suppressed_copies": (counts["suppressed_copies"], "count"),
        })
        for r in REASONS:
            out[f"admission.reason.{r}"] = (counts.get(r, 0), "count")
    else:
        out.update({k: (0, u) for k, u in (
            ("admission.index.files", "count"), ("admission.index.mb", "MB"),
            ("admission.state_rows", "count"), ("admission.state_mb", "MB"),
            ("admission.suppressed_copies", "count"))})
        for r in REASONS:
            out[f"admission.reason.{r}"] = (0, "count")
    return out


TOPICS = ("events", "orders", "customers", "products")


if __name__ == "__main__":
    main()
