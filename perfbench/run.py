#!/usr/bin/env python3
"""The repository's benchmark: batch workloads a user of the library runs,
driven through the public `graft.Pipeline` API, with every output checked.

  python3 perfbench/run.py --workload skills_match --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (about a minute); later runs reuse the build
while no source file changed. Each run generates its inputs from `--seed`
(`gen.py`), starts one JVM for the workload, sets up, runs ops back to back
for `--seconds` (one client, closed loop), checks the outputs (`checks.py`)
and prints a table, then one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` every op is split into its layers and the metrics are the
per-layer ones. Everything the run writes goes under `.bench_build/` and
the sbt `target/` directories of the checkout.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150

# JDK 17 module flags Spark needs outside spark-submit (the root build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The spans the traced ops record (see Workloads.scala), and the census
# fields recorded for each (see Census.scala).
LAYERS = ["Dedup.cc", "Dedup.jaccard", "Dedup.shingle", "Embedder", "Eval",
          "IvfIndex.append", "IvfIndex.compact", "IvfIndex.fit",
          "IvfIndex.search", "IvfIndex.write", "KnnJoin.dedup",
          "KnnJoin.exact", "Report", "Sequencer", "TextFunctions"]
CENSUS = [("s", "s"), ("task_s", "s"), ("idle_core_s", "s"), ("jobs", "count"),
          ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the library and the benchmark; return the runtime classpath.
    The classpath is kept with a digest of every source file, so a run
    rebuilds exactly when a source changed."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["digest"] == digest.hexdigest():
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Xmx3g"
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=600)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}:\n" + "\n".join(lines[-20:]))
    with open(stamp, "w") as fh:
        json.dump({"digest": digest.hexdigest(), "classpath": cp[-1]}, fh)
    return cp[-1]


def run_jvm(classpath, workload, data, work, seconds, trace, cores):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", workload, data, work,
              str(seconds), str(trace), str(cores), raw])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} JVM did not finish in {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(raw):
        with open(log) as fh:
            tail = fh.read().splitlines()[-30:]
        fail(f"{workload} JVM exited with {rc}:\n" + "\n".join(tail))
    with open(raw) as fh:
        return json.load(fh)


def median(xs):
    """0 for no samples: the result line must stay valid JSON."""
    return statistics.median(xs) if xs else 0.0


def summarize(ops, problems):
    """Closed-loop figures over the measured ops. An op that threw or failed
    its check counts as failed: its items do not count as done and its time
    is not a latency sample, but the window it used still counts."""
    good = [op for op, p in zip(ops, problems) if op["ok"] and not p]
    window = sum(op["wall_s"] for op in ops)
    return dict(attempted=len(ops), failed=len(ops) - len(good),
                items_per_s=sum(op["items"] for op in good) / window if window else 0.0,
                op_p50_s=median([op["wall_s"] for op in good]),
                samples=len(good))


def setup_seconds(run):
    """What a user waits for before the first result: session start, the
    median of the repeated index loads where the workload has one, and the
    first (cold) op."""
    s = run["setup"]
    return run["session_s"] + median(s.get("load_s", [])) + s["first_op_s"]


def end_to_end(run, ops, problems):
    s = summarize(ops, problems)
    metrics = {"setup_s": (setup_seconds(run), "s"),
               "items_per_s": (s["items_per_s"], "1/s"),
               "op_p50_s": (s["op_p50_s"], "s")}
    # figures that apply to some workloads only: printed, not gated
    extra = {"ops_failed": (s["failed"], "count"),
             "op_samples": (s["samples"], "count")}
    good = [op for op, p in zip(ops, problems) if op["ok"] and not p]
    for name, unit in (("recall_at_10", "fraction"), ("best_sim", "cosine")):
        vals = [op[name] for op in good if name in op]
        if vals:
            extra[name] = (median(vals), unit)
    if "stored_bytes_per_vector" in run:
        extra["stored_bytes_per_vector"] = (run["stored_bytes_per_vector"], "bytes")
    if ops and "storage_mb" in ops[-1]:
        extra["cached_mb"] = (ops[-1]["storage_mb"], "MB")
    return s, metrics, extra


def per_layer(workload, run, ops, cores, params):
    """Per-op medians of each layer's census, and the layer counters. Every
    layer of every workload is reported; a layer the workload does not run
    reads 0."""
    n = len(ops)
    spans = run.get("spans", [])
    counts = run.get("counts", {})
    out = {}
    for layer in LAYERS:
        # a layer the ops run is summarised over the ops; one only the
        # set-up runs (skills_match's index load) over the set-up loads
        mine_all = [s for s in spans if s["name"] == layer]
        in_ops = [s for s in mine_all if 0 <= s["op"] < n]
        chosen = in_ops or [s for s in mine_all if s["op"] < 0]
        per_op = []
        for i in sorted({s["op"] for s in chosen}):
            mine = [s for s in chosen if s["op"] == i]
            tot = {f: sum(s[f] for s in mine) for f in
                   ("s", "task_s", "jobs", "shuffle_mb", "spill_mb", "gc_s")}
            tot["idle_core_s"] = cores * tot["s"] - tot["task_s"]
            per_op.append(tot)
        for f, unit in CENSUS:
            out[f"{layer}.{f}"] = (median([t[f] for t in per_op]) if per_op else 0.0, unit)

    def count(name):
        vals = [v for k, v in counts.items()
                if k.split("/", 1)[1] == name and int(k.split("/", 1)[0]) < n]
        return median(vals) if vals else 0.0

    def per_s(x, layer):
        s = out[f"{layer}.s"][0]
        return x / s if s else 0.0

    p = params
    out["Embedder.rows_per_s"] = (per_s(p.get("jobs_per_batch", 0), "Embedder"), "1/s")
    out["IvfIndex.write.mb"] = (count("IvfIndex.write.bytes") / 1e6, "MB")
    out["IvfIndex.write.files"] = (count("IvfIndex.write.files"), "count")
    out["IvfIndex.search.scan_fraction"] = (
        count("IvfIndex.search.index_rows") / p["skills"]
        if workload == "skills_match" else 0.0, "fraction")
    pairs = p.get("jobs_per_batch", 0) * p.get("skills", 0)
    out["KnnJoin.exact.pairs_per_s"] = (per_s(pairs, "KnnJoin.exact"), "1/s")
    out["Dedup.jaccard.pairs"] = (count("Dedup.jaccard.pairs"), "count")
    grown = ops[-1]["cache_entries"] - run["after_setup"]["cache_entries"] if n else 0
    out["Caches.entries_per_op"] = (grown / n if n else 0.0, "count")
    out["Caches.storage_mb"] = (ops[-1]["storage_mb"] if n else 0.0, "MB")
    walls = [op["wall_s"] for op in ops if op["ok"]]
    out["trace.coverage"] = (coverage(run), "fraction")
    held = run.get("held_out", {})
    if held and held["untraced"]["ok"] and walls:
        out["trace.overhead_s"] = (median(walls) - held["untraced"]["wall_s"], "s")
    else:
        out["trace.overhead_s"] = (0.0, "s")
    return out


def coverage(run):
    """The smallest share of a traced op's wall time, or of a traced set-up
    load's, that its layer spans cover (spans do not nest, so each span's
    time is its self time)."""
    spans = run.get("spans", [])
    walls = [(op["i"], op["wall_s"]) for op in run["ops"] if op["ok"]]
    walls += [(-r, w) for r, w in enumerate(run["setup"].get("load_s", []), 1)]
    covered = [sum(s["s"] for s in spans if s["op"] == i) / w for i, w in walls]
    return min(covered) if covered else 0.0


# Layer spans must account for this share of every traced op's time.
MIN_COVERAGE = 0.9


def print_table(title, metrics):
    print(title)
    for name, (v, unit) in metrics.items():
        print(f"  {name:<36} {v:>14.6g} {unit}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}; run from a full checkout")
    classpath = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD_DIR, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        params = gen.generate(a.workload, a.seed, data, a.seconds)
        t0 = time.time()
        run = run_jvm(classpath, a.workload, data, work, a.seconds, a.trace, cores)
        jvm_s = time.time() - t0
        ops = run["ops"]
        problems, run_problems = checks.CHECKS[a.workload](work, data, params, ops, run)
        if run["window_s"] < a.seconds:
            run_problems.append("ran out of input batches before the window "
                                "ended; raise the batch count in gen.py")
        if a.trace and not run.get("held_out", {}).get("outputs_equal"):
            run_problems.append("traced composition's outputs differ from "
                                "the Pipeline call's")
        if a.trace and coverage(run) < MIN_COVERAGE:
            run_problems.append(f"layer spans cover {coverage(run):.1%} of a "
                                f"traced op, under {MIN_COVERAGE:.0%}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    s, e2e, extra = end_to_end(run, ops, problems)
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  "
          f"window {a.seconds:g} s  ops {s['attempted']} ({s['samples']} ok)  "
          f"jvm {jvm_s:.1f} s")
    print(f"set-up: session {run['session_s']:.2f} s, " + ", ".join(
        f"{k} {v}" for k, v in run["setup"].items() if k != "centroids"))
    print("op walls (s): " + " ".join(f"{op['wall_s']:.2f}" for op in ops))
    for i, (op, p) in enumerate(zip(ops, problems)):
        if p:
            print(f"  op {i} (batch {op['batch']}) FAILED: {'; '.join(p[:3])}")
    for p in run_problems:
        print(f"  run check FAILED: {p}")
    if a.trace:
        metrics = per_layer(a.workload, run, ops, cores, params)
        print_table(f"per-layer ({a.workload}, per-op medians)",
                    {k: v for k, v in metrics.items() if v[0] or k.startswith("trace.")})
    else:
        metrics = e2e
        print_table(f"end-to-end ({a.workload})", {**e2e, **extra})
    # a run without a single op counts as one failed op
    result = {"correct": s["failed"] == 0 and not run_problems and s["attempted"] > 0,
              "attempted": s["attempted"] or 1,
              "failed": s["failed"] if s["attempted"] else 1,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
