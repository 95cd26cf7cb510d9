#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck

Run from the repository root.  The first run builds graft and the harness
from source with sbt (output under .bench_build/); later runs reuse the
build while the sources are unchanged.  Each run then

1. derives the workload's inputs from the sf0.1 tables under the seed
   (gen.py), three times, into one directory per set-up round;
2. starts the harness JVM (src/main/scala/perfbench/Main.scala), which sets
   up once per round, runs one verify pass, then closed-loop passes for S
   seconds;
3. compares every catalog op's verify-pass output with its DuckDB oracle
   (oracle.py); a mismatch fails all of that op's samples;
4. derives the metrics and prints them as the last line of stdout, with
   the full record written to .bench_build/results/.

--trace 0 reports the end-to-end metrics; --trace 1 runs a traced window
(listeners and spans on) and then an untraced one, reports the per-layer
metrics, and records the tracing overhead.  --selfcheck shows that a
throwing op and a wrong-result op are reported as failed and left out of
the timings, and that two traced runs at one seed repeat every count.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest", "analytics"]
# Set-up rounds, each with its own copy of the inputs.
SETUP_ROUNDS = 3
# A run that has not finished by then is stopped and reported as failed.
JVM_TIMEOUT_S = 170
# Tables whose rows the analytics ops read (the throughput numerator).
ANALYTICS_TABLES = ["lineitem", "orders", "customer", "events"]
# The --add-opens set the root build passes when it starts Spark on JDK 17
# outside spark-submit.
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MB = 1024.0 * 1024.0


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles graft and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this checkout")
    sha = source_sha()
    cp_file = os.path.join(BUILD, f"classpath-{sha}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), sha
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), sha


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, jvm_args, log):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + jvm_args
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail_at(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile, sample count), or None with too few samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * beyond:
        return None
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(raw, window, failed_ops, gen_s):
    """End-to-end metrics of one window.  Each op's latency is the median
    of its samples; a pass's time is the sum of those over the workload's
    ops (the closed loop's busy time for one pass, without the checks and
    cache releases between ops) and op_p50_s is their median, so neither
    depends on how many samples of which op the window happened to hold.
    An op with a failed sample costs the op timeout instead, so a failure
    never reads as a faster pass."""
    samples = [s for p in window["passes"] for s in p["samples"]]
    ok = [s for s in samples if s["ok"] and s["op"] not in failed_ops]
    lat = [s["s"] for s in ok]
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(
            s["s"] if s["ok"] and s["op"] not in failed_ops else None)
    per_op = [raw["op_timeout_s"] if None in v else median(v) for v in by_op.values()]
    pass_s = sum(per_op)
    tail = tail_at(lat)
    setup = raw["setup"]
    m = {
        "setup_s": (gen_s + setup["workload_setup_s"], "s"),
        "throughput_rows_s": (raw["input_rows"] / pass_s if pass_s else None, "rows/s"),
        "op_p50_s": (median(per_op), "s"),
        "op_tail_s": (tail[0] if tail else None, "s"),
        "peak_storage_mb": (window["peak_storage_bytes"] / MB, "MB"),
    }
    extra = {"op_tail_percentile": tail[1] if tail else None,
             "op_samples": len(lat), "pass_s": pass_s,
             "passes": len(window["passes"]), "window_s": window["wall_s"]}
    if raw["workload"] == "ingest":
        commits = [s["facts"]["commit_ms"] for s in ok if "commit_ms" in s["facts"]]
        batches = [b for s in ok for b in s["facts"].get("microbatch_ms", [])]
        ctail = tail_at(commits)
        m.update({
            "commit_p50_ms": (median(commits), "ms"),
            "commit_tail_ms": (ctail[0] if ctail else None, "ms"),
            "microbatch_p50_ms": (median(batches), "ms"),
            "table_bytes_per_input_byte": (raw["table_bytes_per_input_byte"], "ratio"),
        })
        extra.update(commit_tail_percentile=ctail[1] if ctail else None,
                     commit_samples=len(commits), microbatch_samples=len(batches))
    return m, extra


def per_layer(raw, window):
    """Per-layer metrics from the traced window.  Times are medians over its
    passes; counts come from its first pass, which starts from the same
    state in every run at a seed."""
    passes = [p for p in window["passes"] if p["complete"]]
    spans = {}
    for s in raw["spans"]:
        spans.setdefault(s["trace"], []).append(s)

    def span_ms(sample, name):
        return sum((s["end_ns"] - s["start_ns"]) / 1e6
                   for s in spans.get(sample["span"], []) if s["name"] == name)

    def per_pass(f):
        return median([f(p["samples"]) for p in passes])

    def first(f):
        return f(passes[0]["samples"])

    def kind(samples, *kinds):
        return [s for s in samples if s["kind"] in kinds and s["ok"]]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    ev = lambda s, k: s["events"][k]
    cores = raw["provenance"]["cpus"]
    m = {}

    def put(name, value, unit):
        m[name] = (value if value is not None else 0.0, unit)

    # graft.schema
    put("schema.compile_ms", per_pass(lambda ss: mean(
        [span_ms(s, "schema.validate") for s in kind(ss, "append.filter")])), "ms")
    put("schema.report_ms", per_pass(lambda ss: mean(
        [span_ms(s, "schema.report") for s in kind(ss, "report")])), "ms")
    put("schema.validate_jobs", first(lambda ss: mean(
        [ev(s, "jobs") for s in kind(ss, "append.filter")])), "jobs")
    put("schema.validate_jobs_strict", first(lambda ss: mean(
        [ev(s, "jobs") for s in kind(ss, "append.strict") if not s["facts"]["rejected"]])),
        "jobs")
    put("schema.rows_in", first(lambda ss: sum(
        s["facts"]["rows_in"] for s in kind(ss, "append.filter", "stream"))), "rows")
    put("schema.rows_valid", first(lambda ss: sum(
        s["facts"].get("rows_valid", 0) for s in kind(ss, "append.filter", "stream"))), "rows")
    put("schema.strict_rejects", first(lambda ss: sum(
        1 for s in kind(ss, "append.strict") if s["facts"]["rejected"])), "count")
    # graft.dsl
    put("dsl.row_check_us", per_pass(lambda ss: mean(
        [s["s"] * 1e6 / s["facts"]["rows"] for s in kind(ss, "rowcheck")])), "us")
    # graft.sources
    commits = lambda ss: [s for s in kind(ss, "append.filter", "append.strict")
                          if not s["facts"]["rejected"]]
    put("sink.write_ms", per_pass(lambda ss: mean(
        [ev(s, "task_ms") for s in kind(ss, "append.filter")])), "ms")
    put("sink.commit_ms", per_pass(lambda ss: mean(
        [s["facts"]["save_end_epoch_ms"] - ev(s, "last_job_end_epoch_ms")
         for s in commits(ss)])), "ms")
    put("sink.manifest_bytes", first(lambda ss: mean(
        [s["facts"]["manifest_bytes"] for s in commits(ss)])), "bytes")
    put("sink.files_per_commit", first(lambda ss: mean(
        [s["facts"]["files_added"] for s in commits(ss)])), "files")
    put("sink.read_ms", per_pass(lambda ss: mean(
        [span_ms(s, "sink.read") for s in kind(ss, "read.latest", "read.time_travel",
                                                "read.change_feed")])), "ms")
    # graft.streaming
    progress = lambda ss: [b for s in kind(ss, "stream")
                           for b in ev(s, "stream_progress") if b.get("numInputRows", 0) > 0]
    put("stream.batches", first(lambda ss: len(progress(ss))), "count")
    for key, name in [("addBatch", "stream.add_batch_ms"), ("walCommit", "stream.wal_commit_ms"),
                      ("queryPlanning", "stream.planning_ms")]:
        put(name, per_pass(lambda ss, key=key: mean(
            [b.get(key, 0) for b in progress(ss)])), "ms")
    put("stream.drain_ms", per_pass(lambda ss: mean(
        [span_ms(s, "stream.drain") for s in kind(ss, "stream")])), "ms")
    # graft.operators
    put("ops.jobs", first(lambda ss: sum(ev(s, "jobs") for s in ss)), "jobs")
    put("ops.driver_gap_s", per_pass(lambda ss: sum(
        max(0.0, s["s"] - ev(s, "busy_ms") / 1000.0) for s in ss)), "s")
    put("ops.persist_peak_mb", per_pass(lambda ss: max(
        [ev(s, "storage_peak_bytes") for s in ss] + [0]) / MB), "MB")
    put("ops.release_ms", per_pass(lambda ss: sum(s["release_ms"] for s in ss)), "ms")
    put("ops.join_yield", first(lambda ss: mean(
        [max(ev(s, "output_rows"), 0) / ev(s, "max_join_rows")
         for s in kind(ss, "catalog") if ev(s, "max_join_rows") > 0])), "ratio")
    # graft.functions, graft.plans, graft.queries
    put("functions.node_ms", per_pass(lambda ss: sum(ev(s, "functions_ms") for s in ss)), "ms")
    for rule in ["TopKRewrite", "SaltedAggRewrite", "SaltedJoinRewrite"]:
        put(f"plans.rewrites_fired.{rule}", first(lambda ss, rule=rule: sum(
            1 for s in ss if rule in ev(s, "rewrites"))), "ops")
    put("queries.staged_build_s", median(
        [r.get("staged_build_s", 0.0) for r in raw["setup"]["rounds"]]), "s")
    # engine
    put("engine.parallelism", per_pass(lambda ss: sum(ev(s, "task_ms") for s in ss) / (
        1000.0 * cores * max(1e-9, sum(s["s"] for s in ss)))), "ratio")
    for key, name in [("shuffle_write_bytes", "engine.shuffle_write_mb"),
                      ("shuffle_read_bytes", "engine.shuffle_read_mb"),
                      ("spill_bytes", "engine.spill_mb")]:
        put(name, per_pass(lambda ss, key=key: sum(ev(s, key) for s in ss) / MB), "MB")
    for key, name in [("analysis_ms", "engine.analysis_ms"),
                      ("optimizer_ms", "engine.optimizer_ms"),
                      ("planning_ms", "engine.planning_ms")]:
        put(name, per_pass(lambda ss, key=key: sum(ev(s, key) for s in ss)), "ms")
    for key in ["exchanges", "jobs", "stages", "tasks"]:
        put(f"engine.{key}", first(lambda ss, key=key: sum(ev(s, key) for s in ss)), "count")
    put("engine.gc_ms", median([p["gc_ms"] for p in passes]), "ms")
    return m


def metric_json(m):
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(workload, seed, seconds, trace, selfcheck=False):
    import gen
    import oracle

    classpath, src_sha = build()
    tag = f"{workload}-s{seed}-t{trace}{'-selfcheck' if selfcheck else ''}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    try:
        gen_times, rounds = [], []
        for r in range(1, SETUP_ROUNDS + 1):
            rounds.append(os.path.join(work, f"input-{r}"))
            t0 = time.perf_counter()
            props = gen.generate(workload, seed, rounds[-1])
            gen_times.append(time.perf_counter() - t0)
        gen_s = statistics.median(gen_times)
        inputs = rounds[-1]
        rows = sum(props["rows"][t] for t in ANALYTICS_TABLES) if workload == "analytics" else 0
        raw_path = os.path.join(work, "raw.json")
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--inputs", ",".join(rounds), "--work", work,
                "--out", raw_path, "--rows", str(rows)]
        if selfcheck:
            args += ["--selfcheck", "1"]
        code = run_jvm(classpath, args, os.path.join(work, "jvm.log"))
        if code != 0 or not os.path.exists(raw_path):
            log = os.path.join(results, f"{tag}.jvm.log")
            shutil.copyfile(os.path.join(work, "jvm.log"), log)
            die(f"harness JVM failed (exit {code}); see {log}")
        with open(raw_path) as f:
            raw = json.load(f)
        mismatches = {}
        if "oracle" in raw:
            mismatches = oracle.compare(inputs, os.path.join(work, "outputs"), raw["oracle"])
        for s in raw["verify_pass"]["samples"]:
            if not s["ok"]:
                mismatches.setdefault(s["op"], s["error"])
        windows = {w["name"]: w for w in raw["windows"]}
        samples = [s for w in raw["windows"] for p in w["passes"] for s in p["samples"]]
        failed_ops = set(mismatches)
        failed = [s for s in samples if not s["ok"] or s["op"] in failed_ops]
        checks_ok = all(c["ok"] for c in raw["checks"])
        e2e, e2e_extra = end_to_end(raw, windows["untraced"], failed_ops, gen_s)
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "provenance": dict(raw["provenance"], git_sha=git_sha(), source_sha=src_sha,
                               python=sys.version.split()[0]),
            "inputs": dict(props, input_rows=raw["input_rows"],
                           working_set_mb=sum(props["bytes"].values()) / MB,
                           storage_memory_mb=raw["provenance"]["storage_memory_mb"]),
            "setup": dict(raw["setup"], generate_s=gen_s, generate_runs_s=gen_times),
            "end_to_end": metric_json(e2e),
            "end_to_end_detail": e2e_extra,
            "failed_op_ratio": len(failed) / max(1, len(samples)),
            "op_status": op_status(raw, mismatches),
            "checks": raw["checks"],
        }
        if trace:
            layers = per_layer(raw, windows["traced"])
            traced_e2e, _ = end_to_end(raw, windows["traced"], failed_ops, gen_s)
            record["per_layer"] = metric_json(layers)
            record["tracing_overhead"] = {
                k: {"traced": traced_e2e[k][0], "untraced": e2e[k][0],
                    "difference": (traced_e2e[k][0] - e2e[k][0])
                    if traced_e2e[k][0] is not None and e2e[k][0] is not None else None}
                for k in ("throughput_rows_s", "op_p50_s")}
            record["self_time_s"] = raw["self_time_s"]
            record["spans"] = raw["spans"]
        out_path = os.path.join(results, f"{tag}.json")
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1)
        metrics = record["per_layer"] if trace else record["end_to_end"]
        return {
            "correct": not failed and checks_ok and not mismatches,
            "attempted": len(samples),
            "failed": len(failed),
            "metrics": metrics,
        }, record, out_path
    finally:
        shutil.rmtree(work, ignore_errors=True)


def op_status(raw, mismatches):
    """Per op: samples attempted and failed, the errors seen, and the
    latencies of the successful samples."""
    status = {}
    for w in raw["windows"]:
        for p in w["passes"]:
            for s in p["samples"]:
                st = status.setdefault(s["op"], {"attempted": 0, "failed": 0, "errors": [],
                                                 "seconds": []})
                st["attempted"] += 1
                if s["ok"] and s["op"] not in mismatches:
                    st["seconds"].append(s["s"])
                else:
                    st["failed"] += 1
                    err = s["error"] or mismatches.get(s["op"])
                    if err and err not in st["errors"]:
                        st["errors"].append(err)
    for st in status.values():
        st["median_s"] = median(st["seconds"])
    for s in raw["verify_pass"]["samples"]:
        status.setdefault(s["op"], {"attempted": 0, "failed": 0, "errors": []})[
            "verify_pass_s"] = s["s"]
    for op, err in mismatches.items():
        st = status.setdefault(op, {"attempted": 0, "failed": 0, "errors": []})
        if err not in st["errors"]:
            st["errors"].append(err)
    return status


def selfcheck(seed):
    """The failure accounting and count reproducibility, shown."""
    problems = []
    res, rec, path = run("analytics", seed, 2, 0, selfcheck=True)
    st = rec["op_status"]
    for op in ("selfcheck_throw", "selfcheck_wrong"):
        s = st.get(op)
        if not s or s["failed"] != s["attempted"] or s["attempted"] == 0:
            problems.append(f"{op} not reported failed: {s}")
    others = {k: v for k, v in st.items() if not k.startswith("selfcheck_")}
    if any(v["failed"] for v in others.values()):
        problems.append("a catalog op failed besides the deliberate ones")
    if res["failed"] != st["selfcheck_throw"]["attempted"] + st["selfcheck_wrong"]["attempted"]:
        problems.append(f"failed count {res['failed']} is not the deliberate ops' samples")
    if res["correct"]:
        problems.append("run with deliberate failures reported correct")
    timed = rec["end_to_end_detail"]["op_samples"]
    if timed != res["attempted"] - res["failed"]:
        problems.append(f"{timed} samples timed, but only "
                        f"{res['attempted'] - res['failed']} succeeded")
    print(f"selfcheck: failures {res['failed']}/{res['attempted']} "
          f"(deliberate ops only, left out of timings): {path}")
    counts = {}
    for i in range(2):
        _, rec, path = run("ingest", seed, 2, 1)
        counts[i] = {k: v["value"] for k, v in rec["per_layer"].items()
                     if v["unit"] in ("jobs", "rows", "files", "bytes", "count", "ops")}
        print(f"selfcheck: traced ingest run {i + 1}: {path}")
    for k in counts[0]:
        if counts[0][k] != counts[1][k]:
            problems.append(f"count {k} differs: {counts[0][k]} vs {counts[1][k]}")
    print(f"selfcheck: {len(counts[0])} count metrics compared across two runs")
    for p in problems:
        print(f"selfcheck FAIL: {p}")
    print("selfcheck", "FAILED" if problems else "PASSED")
    return not problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    if a.selfcheck:
        sys.exit(0 if selfcheck(a.seed) else 1)
    if not a.workload:
        die("--workload is required")
    result, record, path = run(a.workload, a.seed, a.seconds, a.trace)
    # the result line carries exactly the metrics BENCHMARK.json names
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if result["metrics"].get(n, {}).get("value") is None]
    if missing:
        die(f"metrics not measured: {missing}; see {path}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    for section in ("end_to_end", "per_layer", "tracing_overhead"):
        for name, v in record.get(section, {}).items():
            if section == "tracing_overhead":
                print(f"perfbench: tracing overhead {name}: traced {v['traced']} "
                      f"untraced {v['untraced']}")
            else:
                print(f"perfbench: {name} = {v['value']} {v['unit']}")
    print(f"perfbench: failed_op_ratio = {record['failed_op_ratio']} "
          f"({result['failed']} of {result['attempted']} op samples)")
    print(f"perfbench: full record in {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
