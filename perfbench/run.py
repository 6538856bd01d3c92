#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_sync,corpus_dedup}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the engine and the benchmark with sbt
(once per source tree; outputs under .bench_build/ and target/), generates
the workload's inputs from the seed, runs one JVM that sets up, measures for
S seconds and checks its outputs, and prints one JSON object as the last
line of stdout. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics. See perfbench/README.md for every metric.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cdc_sync", "corpus_dedup")
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

# The per-layer metrics each workload reports; every run prints all of them
# (0 for another workload's layers).
LAYER_FIELDS = {
    "cdc_sync": {
        "storage.merge": ["wall_s", "jobs", "tasks", "cpu_s", "bytes_written", "driver_gap_s"],
        "storage.row_changes": ["wall_s"],
        "pipeline.deliver": ["wall_s", "self_s"],
        "state.get": ["wall_s", "calls"],
        "state.save": ["wall_s", "calls", "jobs"],
        "sinks.execute": ["wall_s", "jobs", "tasks", "cpu_s", "records_read",
                          "shuffle_bytes", "driver_gap_s"],
    },
    "corpus_dedup": {
        name: ["wall_s", "cpu_s", "core_util", "shuffle_bytes", "spill_bytes",
               "jobs", "tasks", "task_skew"]
        for name in ("dedup.exact", "dedup.minhash", "dedup.components",
                     "dedup.exact_span", "similarity.topk")
    },
}
EXTRA_LAYER = {
    "cdc_sync": ["sinks.receiver.posts", "sinks.receiver.post_bytes",
                 "sinks.receiver.rows", "sinks.receiver.retries",
                 "sinks.receiver.bytes_per_row"],
    "corpus_dedup": ["dedup.minhash.candidate_precision", "dedup.minhash.candidate_recall",
                     "similarity.topk.candidates_per_query",
                     "dedup.near_dup_recall", "similarity.topk_recall"],
}
COMMON_LAYER = ["jvm.gc_s", "jvm.heap_peak_mb", "tracing.overhead_s"]


def layer_names():
    names = []
    for w in WORKLOADS:
        for layer, fields in LAYER_FIELDS[w].items():
            names += [f"{w}.{layer}.{f}" for f in fields]
        names += [f"{w}.{m}" for m in EXTRA_LAYER[w]]
        names += [f"{w}.{m}" for m in COMMON_LAYER]
    return names


def unit_of(name):
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if "bytes" in last:
        return "bytes"
    if last in ("core_util", "task_skew", "candidate_precision") or last.endswith("recall"):
        return "ratio"
    return "count"


def fail_setup(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [f for f in tops if os.path.isfile(f)]
    for tree in trees:
        for d, dirs, fs in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless this source tree is already built; returns
    the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             "compile", "writeClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        fail_setup(f"build failed (exit {rc}); see {log}")
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def generate(workload, seed, inputs):
    """Writes the seed's inputs; returns (median generation seconds, write
    seconds, self-check failure or None). Generation runs three times —
    seed, seed again, seed + 1 — so the content hashes prove the same seed
    gives the same inputs and another seed different ones."""
    times, hashes, first = [], [], None
    for s in (seed, seed, seed + 1):
        t0 = time.perf_counter()
        tables, truth = gen.tables_for(workload, s)
        times.append(time.perf_counter() - t0)
        hashes.append(gen.content_hash(tables, truth))
        if first is None:
            first = (tables, truth)
    t0 = time.perf_counter()
    gen.write(first[0], first[1], inputs)
    write_s = time.perf_counter() - t0
    problem = None
    if hashes[0] != hashes[1]:
        problem = "same seed gave different inputs"
    elif hashes[0] == hashes[2]:
        problem = "different seeds gave the same inputs"
    return stats.median(times), write_s, problem


def run_jvm(classpath, workload, seed, seconds, trace, inputs, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), inputs, work]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        print(f"perfbench: JVM exit {rc}", file=sys.stderr)
        sys.exit(1)
    with open(result) as f:
        return json.load(f)


def cdc_cycles(ops, cycle):
    """Latency of each complete cycle of `cycle` consecutive batches (one
    burst each), in batch order; a cycle with a failed batch has none."""
    cycles = [ops[i:i + cycle] for i in range(0, len(ops) - cycle + 1, cycle)]
    return [sum(o["s"] for o in c) for c in cycles if all(o["ok"] for o in c)]


def end_to_end(workload, res, setup_gen_s, attempted, failed):
    """The end-to-end metrics, each defined on every workload; README.md
    maps them to the per-workload names (batch_p50_s, job_s, ...)."""
    ops = [o for o in res["ops"] if o["ok"] and not o["traced"]]
    lat = [o["s"] for o in ops]
    extra = res["extra"]
    if workload == "cdc_sync":
        passes = cdc_cycles([o for o in res["ops"] if not o["traced"]], extra.get("cycle", 1))
        recall = extra.get("recall", 0.0)
        op = stats.median(lat)
    else:
        passes = [p["s"] for p in res["passes"] if p["ok"] and not p["traced"]]
        # both recalls must hold, so the lower one is the metric
        recall = min(extra.get("dedup.near_dup_recall", 0.0),
                     extra.get("similarity.topk_recall", 0.0))
        # one named operator: exact-span dedup, the slowest at full corpus
        # size and the steadiest of the five from run to run
        op = stats.median([o["s"] for o in ops if o["kind"] == "dedup.exact_span"])
    # The tail leaves ten samples beyond it; with a run's few samples it is
    # the median, so it goes to the summary line, not to the metrics.
    tail_v, tail_p = stats.tail(lat)
    m = {
        "setup_s": (setup_gen_s + sum(res["setup"].values()), "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        "recall": (recall, "ratio"),
        "op_s": (op, "s"),
        "pass_s": (stats.median(passes), "s"),
    }
    return m, {"op_tail_s": tail_v, "tail_percentile": tail_p, "ops": len(lat),
               "passes": len(passes)}


def per_layer(workload, res):
    sp = stats.Spans(res["trace"])
    out = {n: 0.0 for n in layer_names()}
    for layer, fields in LAYER_FIELDS[workload].items():
        rows = sp.per_trace(layer)
        for f in fields:
            if f == "core_util":
                v = stats.median([r["cpu_s"] / (r["wall_s"] * 4) for r in rows if r["wall_s"] > 0])
            else:
                v = stats.median_of(rows, f) if rows else 0.0
            out[f"{workload}.{layer}.{f}"] = v
    extra = res["extra"]
    if workload == "cdc_sync":
        rc = extra["receiver"]
        n = max(1, len(res["ops"]))
        out.update({
            "cdc_sync.sinks.receiver.posts": rc["posts"] / n,
            "cdc_sync.sinks.receiver.post_bytes": rc["post_bytes"] / n,
            "cdc_sync.sinks.receiver.rows": rc["rows"] / n,
            "cdc_sync.sinks.receiver.retries": rc["refused"] / n,
            "cdc_sync.sinks.receiver.bytes_per_row": rc["post_bytes"] / max(1, rc["rows"]),
        })
    for k in EXTRA_LAYER[workload]:
        if k in extra:
            out[f"{workload}.{k}"] = extra[k]
    out[f"{workload}.jvm.gc_s"] = res["jvm"]["gc_s"]
    out[f"{workload}.jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    # tracing overhead: traced minus untraced, per cycle or pass
    if workload == "cdc_sync":
        ops = res["ops"]
        unit = [{"s": sum(o["s"] or 0.0 for o in c), "ok": all(o["ok"] for o in c),
                 "traced": c[0]["traced"]}
                for c in (ops[i:i + extra["cycle"]] for i in range(0, len(ops), extra["cycle"]))
                if len(c) == extra["cycle"]]
    else:
        unit = res["passes"]
    traced = [o["s"] for o in unit if o["ok"] and o["traced"]]
    plain = [o["s"] for o in unit if o["ok"] and not o["traced"]]
    out[f"{workload}.tracing.overhead_s"] = stats.median(traced) - stats.median(plain)
    return {k: (v, unit_of(k)) for k, v in out.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail_setup("no engine sources next to perfbench/; run from a full checkout")
    classpath = build()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen_s, write_s, self_check = generate(a.workload, a.seed, inputs)
    res = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, inputs, work)

    failures = list(res["failures"])
    attempted = len(res["ops"]) + len(res["checks"])
    failed = sum(1 for o in res["ops"] + res["checks"] if not o["ok"])
    # set-up problems count as one failed operation each
    setup_problems = [f for f in failures if f.startswith("warm-up")]
    if self_check:
        setup_problems.append(f"input self-check: {self_check}")
    hashes = res["extra"].get("change_sets_sha256")
    if hashes and (hashes[0] != hashes[1] or hashes[0] == hashes[2]):
        setup_problems.append("change-set self-check failed")
    attempted += len(setup_problems)
    failed += len(setup_problems)
    failures += [p for p in setup_problems if p not in failures]
    attempted = max(attempted, 1)

    e2e, info = end_to_end(a.workload, res, gen_s + write_s, attempted, failed)
    metrics = per_layer(a.workload, res) if a.trace else e2e
    # a value that could not be measured (no successful operation) reads 0
    metrics = {k: (v if math.isfinite(v) else 0.0, u) for k, (v, u) in metrics.items()}
    for f in failures[:20]:
        print(f"FAIL {f}", file=sys.stderr)
    summary = {k: round(v, 4) for k, (v, _) in e2e.items() if math.isfinite(v)}
    summary.update(failed_frac=round(failed / attempted, 4),
                   **{k: round(v, 4) for k, v in info.items()})
    print(f"{a.workload} seed={a.seed}: " + json.dumps(summary))
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
