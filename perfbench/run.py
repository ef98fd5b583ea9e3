#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the harness from
the checkout's sources with sbt (once per source hash; the compiled
classes are snapshotted under the harness's target/), generates the seeded
inputs, runs perfbench.Main in one JVM, checks every call's output against
DuckDB, and prints one JSON object as its last line of standard output.
Lines before it name every metric with its unit, the sample counts, the
seed, the output checks and a host canary taken before and after the run.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones (untraced and traced passes alternate in that run).
BENCHMARK.json lists the workloads, metrics and bounds; perfbench/BENCHMARK.md
describes the calls, layer tags, inputs and metric definitions.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Generated inputs: every workload gets the sf0.01-shaped tables; only
# star_etl reads match documents (see perfbench/BENCHMARK.md for the sizes).
TABLE_SIZES = dict(sf=0.01, n_docs=500, n_vecs=500, mean_shots=26)
MATCHES = {"star_etl": 200, "llm_curate": 0, "lake_stream": 0}

LAYERS = ["sources", "fidelity", "queries.TierF", "queries.TierR",
          "operators.Dedup", "operators.SimilaritySearch",
          "operators.TextAnalysis", "operators.Curation",
          "operators.Maintenance", "operators.ChangeCapture", "streaming"]
LAYER_FIELDS = [("busy_s", "s"), ("calls_failed", "count"),
                ("construct_s", "s"), ("plan_s", "s"), ("driver_gap_s", "s"),
                ("jobs", "count"), ("tasks", "count"),
                ("executor_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_bytes", "bytes")]

RUN_TIMEOUT_S = 170


def log(msg):
    print(msg, flush=True)


# --- build -----------------------------------------------------------------

def _source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), HARNESS]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _sbt_build():
    """Run sbt on the harness build: compile engine + harness, then export
    the runtime classpath and the engine's JVM options."""
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "show javaOptions"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("build failed")
    lines = r.stdout.splitlines()
    at = [i for i, ln in enumerate(lines)
          if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not at:
        sys.exit("build produced no classpath")
    # `show javaOptions` prints one "[info] * <option>" line per element
    java_opts = []
    for ln in lines[at[-1] + 1:]:
        if not ln.startswith("[info] * "):
            break
        java_opts.append(ln[len("[info] * "):].strip())
    opens = [x for i, x in enumerate(java_opts)
             if x == "--add-opens" or (i and java_opts[i - 1] == "--add-opens")]
    if not opens:
        sys.exit("build exported no --add-opens options")
    return lines[at[-1]].strip(), opens


def build():
    """Compile engine + harness; returns (classpath, JVM --add-opens options).

    Every classpath entry inside the checkout (the engine's and the
    harness's class directories) is copied into a snapshot directory
    harness/target/cp-<hash of the sources>, and the classpath points there.
    A later `sbt compile`, `sbt test` or `sbt clean` of the checkout then
    cannot change the classes a cached build runs."""
    h = _source_hash()
    snap = os.path.join(HARNESS, "target", f"cp-{h}")
    meta = os.path.join(snap, "build.json")
    if os.path.exists(meta):
        with open(meta) as f:
            m = json.load(f)
        return m["classpath"], m["add_opens"]
    t0 = time.time()
    cp, opens = _sbt_build()
    if _source_hash() != h:
        sys.exit("sources changed during the build")
    tmp = f"{snap}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.realpath(e).startswith(os.path.realpath(ROOT) + os.sep):
            name = f"{i}-{os.path.basename(e)}"
            if os.path.isdir(e):
                shutil.copytree(e, os.path.join(tmp, name))
            else:
                shutil.copy2(e, os.path.join(tmp, name))
            # relative to the checkout root, the JVM's working directory
            e = os.path.relpath(os.path.join(snap, name), ROOT)
        entries.append(e)
    classpath = os.pathsep.join(entries)
    with open(os.path.join(tmp, "build.json"), "w") as f:
        json.dump({"classpath": classpath, "add_opens": opens}, f)
    shutil.rmtree(snap, ignore_errors=True)
    os.rename(tmp, snap)
    log(f"# built engine + harness in {time.time() - t0:.1f} s")
    return classpath, opens


# --- host canary -------------------------------------------------------------

def canary(scratch):
    """Short single-thread, multi-thread and IO probe of the host (not a gate).

    sha256 releases the GIL on large buffers, so the threaded figure is
    the host's parallel hashing rate over `os.cpu_count()` threads."""
    buf = bytes(range(256)) * (1 << 17)  # 32 MiB
    t0 = time.perf_counter()
    hashlib.sha256(buf).digest()
    single = len(buf) / (time.perf_counter() - t0) / 1e6
    n = os.cpu_count() or 1
    ths = [threading.Thread(target=lambda: hashlib.sha256(buf).digest())
           for _ in range(n)]
    t0 = time.perf_counter()
    for t in ths:
        t.start()
    for t in ths:
        t.join()
    multi = n * len(buf) / (time.perf_counter() - t0) / 1e6
    path = os.path.join(scratch, "canary.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    with open(path, "rb") as f:
        f.read()
    io = 2 * len(buf) / (time.perf_counter() - t0) / 1e6
    os.remove(path)
    return {"single_mb_s": round(single, 1), "multi_mb_s": round(multi, 1),
            "io_mb_s": round(io, 1)}


# --- metrics -------------------------------------------------------------------

def p90(xs):
    """90th percentile, interpolated as statistics.quantiles' inclusive rule."""
    return xs[0] if len(xs) == 1 else statistics.quantiles(xs, n=10, method="inclusive")[8]


def table_names(sql):
    return {t for t in check.TABLES if re.search(rf"\b{t}\b", sql)}


def end_to_end(res, gen_s, in_rows, in_bytes):
    passes = [p for p in res["passes"] if not p["traced"]]
    pass_s = statistics.median(p["wall_s"] for p in passes)
    calls = [c["wall_s"] for p in passes for c in p["calls"]]
    write = statistics.median(p["write_bytes"] for p in passes)
    m = {
        "setup_s": (gen_s + res["session_s"] + res["warm_s"], "s"),
        "pass_s": (pass_s, "s"),
        "input_rows_per_s": (in_rows / pass_s, "1/s"),
        "call_p50_s": (statistics.median(calls), "s"),
        "peak_rss_mb": (res["vm_hwm_kb"] / 1024.0, "MB"),
        "write_amp": (write / in_bytes, "ratio"),
    }
    return m, calls


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    med = statistics.median
    m = {}
    for layer in LAYERS:
        for field, unit in LAYER_FIELDS:
            key = {"busy_s": "wall_s"}.get(field, field)
            if field == "calls_failed":
                v = sum(1 for p in res["passes"] for c in p["calls"]
                        if c["layer"] == layer and c.get("failed"))
            else:
                v = med(sum(c[key] for c in p["calls"] if c["layer"] == layer)
                        for p in traced)
            m[f"{layer}.{field}"] = (v, unit)

    def per_pass(fn, passes=traced):
        return med(sum(fn(c) for c in p["calls"]) for p in passes)

    batches = [b for p in untraced for c in p["calls"] for b in c["batches"]]
    trig = [b["trigger_ms"] for b in batches] or [0.0]
    m["streaming.batches"] = (per_pass(lambda c: len(c["batches"])), "count")
    m["streaming.batch_p50_ms"] = (statistics.median(trig), "ms")
    m["streaming.batch_p90_ms"] = (p90(trig), "ms")
    m["streaming.state_commit_ms"] = (
        per_pass(lambda c: sum(b["state_commit_ms"] for b in c["batches"])), "ms")
    m["streaming.wal_commit_ms"] = (
        per_pass(lambda c: sum(b["wal_ms"] for b in c["batches"])), "ms")
    # state size each stream ends with: falls when watermarks evict state
    m["streaming.state_rows"] = (
        per_pass(lambda c: c["batches"][-1]["state_rows"] if c["batches"] else 0), "count")
    for layer in ("operators.Maintenance", "fidelity"):
        m[f"{layer}.bytes_written"] = (
            per_pass(lambda c: c["write_bytes"] if c["layer"] == layer else 0), "bytes")
    stages = sum(c["stages"] for p in traced for c in p["calls"])
    skipped = sum(c["stages_skipped"] for p in traced for c in p["calls"])
    m["spark.stages_skipped_frac"] = (skipped / stages if stages else 0.0, "ratio")
    m["spark.spill_bytes"] = (per_pass(lambda c: c["spill_bytes"]), "bytes")
    m["spark.task_sched_delay_s"] = (per_pass(lambda c: c["sched_delay_s"]), "s")
    m["trace.overhead_frac"] = (
        med(p["wall_s"] for p in traced) / med(p["wall_s"] for p in untraced) - 1, "ratio")
    return m


# --- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MATCHES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"engine sources not found: {need} is missing from {ROOT}")
    cp, add_opens = build()
    t_start = time.time()  # the run's time limit starts after any build

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        canary_before = canary(work)
        t0 = time.perf_counter()
        stats = gen.generate(in_dir, a.seed, n_matches=MATCHES[a.workload], **TABLE_SIZES)
        gen_s = time.perf_counter() - t0

        out_json = os.path.join(work, "result.json")
        trace_json = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseG1GC", "-XX:-UsePerfData"]
               + add_opens
               + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
                  a.workload, str(a.seed), str(a.seconds), str(a.trace), in_dir,
                  work, out_json, trace_json])
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            budget = RUN_TIMEOUT_S - (time.time() - t_start)
            t_jvm = time.perf_counter()
            try:
                rc = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=lf,
                                    timeout=max(10, budget)).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
            jvm_s = time.perf_counter() - t_jvm
        if rc != 0 or not os.path.exists(out_json):
            with open(jvm_log) as lf:
                sys.stderr.write(lf.read()[-6000:])
            sys.exit(f"benchmark JVM failed: {rc}")
        canary_after = canary(work)
        with open(out_json) as f:
            res = json.load(f)

        names = [c["name"] for c in res["checks"]]
        t_check = time.perf_counter()
        verdict = check.run(res["oracle_sql"], names, in_dir, os.path.join(work, "check"))
        check_s = time.perf_counter() - t_check
        for c in res["checks"]:
            if c["error"]:
                verdict[c["name"]] = f"threw: {c['error']}"
        bad = {n for n, v in verdict.items() if v}
        for p in res["passes"]:
            for c in p["calls"]:
                c["failed"] = bool(c["error"]) or c["name"] in bad

        read = set().union(*(table_names(s) for s in res["oracle_sql"].values()))
        in_rows = sum(stats[t][0] for t in read)
        in_bytes = sum(stats[t][1] for t in read)
        if any(n.startswith("fid_") for n in names):
            in_rows += stats["matches"][0]
            in_bytes += stats["matches"][1]

        attempted = sum(len(p["calls"]) for p in res["passes"])
        failed = sum(c["failed"] for p in res["passes"] for c in p["calls"])
        e2e, calls = end_to_end(res, gen_s, in_rows, in_bytes)
        metrics = per_layer(res) if a.trace else e2e
        # a pass whose listener bus did not drain may have read short counts
        correct = (not bad and not res["selftest_failures"] and failed == 0
                   and res["settle_timeouts"] == 0)

        log(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
        log(f"# inputs: {in_rows} rows, {in_bytes} bytes, tables={sorted(read)}"
            f"{' + matches' if any(n.startswith('fid_') for n in names) else ''}")
        log(f"# passes: {len(res['passes'])} ({sum(p['traced'] for p in res['passes'])} traced);"
            f" call samples (untraced) n={len(calls)}; settle timeouts={res['settle_timeouts']};"
            f" pass walls {[round(p['wall_s'], 3) for p in res['passes']]}")
        log(f"# setup: generate {gen_s:.2f} s, session {res['session_s']:.2f} s,"
            f" warm-up pass {res['warm_s']:.2f} s; JVM {jvm_s:.1f} s, output checks {check_s:.1f} s,"
            f" run wall so far {time.time() - t_start:.1f} s")
        log(f"# canary before={json.dumps(canary_before)} after={json.dumps(canary_after)}")
        log(f"# selftest: {'ok' if not res['selftest_failures'] else res['selftest_failures']}")
        for n in names:
            log(f"# check {n}: {'ok' if not verdict[n] else 'FAILED ' + verdict[n]}")
        for n in names:
            walls = [c["wall_s"] for p in res["passes"] if not p["traced"]
                     for c in p["calls"] if c["name"] == n]
            log(f"# call {n}: median {statistics.median(walls):.3f} s over {len(walls)}")
        log(f"# ops_failed_frac={failed / attempted:.4f} ({failed}/{attempted})")
        # A run holds 9-15 call samples, so no percentile has ten samples
        # beyond it; the 90th is printed beside the gated median, not gated.
        log(f"# call samples n={len(calls)}; call_p90_s={p90(calls):.6g} s")
        for k, (v, u) in metrics.items():
            log(f"# {k} = {v:.6g} {u}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
