"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It builds the program from source
(``build.py``), writes the workload's inputs from the seed (``gen.py``),
runs the workload in one JVM on ``local[nproc]`` with the default driver
heap, checks every output against the truth (``check.py``) and prints, as
its last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it holds the run's metadata.
A failed correctness gate is reported on stderr and makes the exit code 1.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("sec_daily", "corpus_curate", "stream_dedup")
# Runnable, but not listed in BENCHMARK.json: from the second night on the
# program's dim_symbols keeps one row per (symbol, snapshot date), so its
# own data test unique(dim_symbols.symbol) fails and so does every
# sec_daily run.  Its per-layer metrics stay listed, flat on the others.
HELD_OUT = ("sec_daily",)
# the timed operation of each workload
OP_KIND = {"sec_daily": "night", "corpus_curate": "curate",
           "stream_dedup": "batch"}
# the operation whose rows/s is reported: rows it ingests per second
THROUGHPUT_KIND = {"sec_daily": "night", "corpus_curate": "curate",
                   "stream_dedup": "trigger"}
LAYERS = ("pipeline", "transform", "validate", "store", "warehouse",
          "operators", "streaming")
COUNTERS = ("tasks", "executor_s", "gc_s", "shuffle_bytes", "spill_bytes",
            "sched_delay_s")
# per-layer metrics of its own, besides the Spark counters of every layer
LAYER_METRICS = {
    "pipeline": ["etl_flow_s", "promote_s", "read_s", "read_files",
                 "read_bytes"],
    "transform": ["prices_s", "wide_cols", "rows_out"],
    "validate": ["gate_s", "rows_rejected"],
    "store": ["upsert_s", "bytes_written", "write_amp", "files"],
    "warehouse": ["models_s", "tests_s", "dq_violations"],
    "operators": ["scrub_s", "classify_s", "gate_pass_ratio",
                  "exact_dedup_s", "lsh_s", "lsh_candidates", "lsh_verified",
                  "lsh_yield", "lsh_max_key_rows", "clusters_s", "vocab_s",
                  "tokenize_s", "pack_s", "pack_fill"],
    "streaming": ["batches", "planning_s", "wal_commit_s", "add_batch_s",
                  "latest_offset_s", "prepare_s", "state_deltas",
                  "accept_ratio"],
}
TRACE_METRICS = ["trace.untraced_op_s", "trace.traced_op_s",
                 "trace.overhead_s"]


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("ratio", "yield", "fill", "amp")):
        return "ratio"
    return "count"


def per_layer_names():
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{m}" for m in LAYER_METRICS[layer]]
        names += [f"{layer}.{c}" for c in COUNTERS]
    return names + TRACE_METRICS


def heap_gb():
    """The driver heap of the repository's test runs, in GB: half the
    machine's memory, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def heap():
    return f"{heap_gb()}g"


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the initial heap is pinned (up to the maximum) so that when G1 grows
    # the heap does not decide the peak RSS; the maximum is the test runs'
    # default
    cmd = ["java", f"-Xms{min(3, heap_gb())}g", f"-Xmx{heap()}",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_classpath(),
            "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: the workload JVM failed ({code})")


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def end_to_end(workload, result, info, setup_s):
    """The end-to-end metrics of an untraced run.

    ``op_p50_s`` is the median time per operation: a night (etlFlow for
    both categories + runModels + runDataTests), a curation run (raw corpus
    to written packs) or a micro-batch (its triggerExecution).
    ``read_mix_s`` is the median time of one refresh of the workload's read
    mix.  ``rows_per_s`` is price rows per night, input documents per
    curation run, or arrived documents per AvailableNow trigger, over its
    time.  The tails of operations and reads go to the meta line with their
    percentile and sample count: a run makes too few of either for a
    percentile with ten samples beyond it.
    """
    ops = [o for o in result["ops"] if o["kind"] == OP_KIND[workload]]
    op_s = [o["s"] for o in ops]
    read_s = [r["s"] for r in result["reads"]]
    refresh = {}
    for r in result["reads"]:
        refresh[r["refresh"]] = refresh.get(r["refresh"], 0.0) + r["s"]
    tput = [o for o in result["ops"] if o["kind"] == THROUGHPUT_KIND[workload]]
    rows = [info["rows_per_night"] if workload == "sec_daily" else
            o["files"] * info["docs_per_file"] if workload == "stream_dedup"
            else o["docs"] for o in tput]
    m = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (stats.median(op_s), "s"),
        "read_mix_s": (stats.median(list(refresh.values())), "s"),
        "rows_per_s": (stats.median([n / o["s"] for n, o in zip(rows, tput)]),
                       "rows/s"),
        "stored_bytes_per_row": (info["stored_bytes"] / info["stored_rows"],
                                 "B/row"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    tails = {}
    for name, xs in (("op", op_s), ("read", read_s)):
        value, pct, beyond, n = stats.tail(xs)
        tails[f"{name}_tail"] = {"s": value, "percentile": pct,
                                 "beyond": beyond, "n": n}
    detail = {"ops": len(op_s), "op_s": op_s, "reads": len(read_s),
              "read_p50_s": stats.median(read_s), **tails}
    return m, detail


def per_layer(workload, result, info):
    """Per-layer metrics of the traced half of a traced run, per traced
    operation (a night, a curation run or a trigger), reads included."""
    tr = result["trace"]
    spans = tr["spans"]
    selft = stats.self_times(spans)
    counts = tr["counts"]
    kind = THROUGHPUT_KIND[workload]
    traced_ops = [o for o in result["ops"] if o["kind"] == kind and o["traced"]]
    untraced = [o["s"] for o in result["ops"]
                if o["kind"] == kind and not o["traced"]]
    n_ops = max(1, len(traced_ops))
    span_s, layer_c = {}, {layer: dict.fromkeys(COUNTERS, 0.0)
                           for layer in LAYERS}
    for s in spans:
        key = f"{s['layer']}.{s['name']}"
        span_s[key] = span_s.get(key, 0.0) + selft[s["id"]]
        c = s["counters"] or {}
        if s["layer"] in layer_c:
            for k in COUNTERS:
                layer_c[s["layer"]][k] += c.get(k, 0)
        if key == "pipeline.read":
            counts["pipeline.read_bytes"] = counts.get(
                "pipeline.read_bytes", 0) + c.get("input_bytes", 0)
        if s["layer"] == "store":
            counts["store.bytes_written"] = counts.get(
                "store.bytes_written", 0) + c.get("output_bytes", 0)
    per = lambda v: v / n_ops
    ratio = lambda a, b: a / b if b else 0.0
    batches = [o for o in result["ops"] if o["kind"] == "batch" and o["traced"]]
    dur = lambda k: sum(b["duration_ms"].get(k, 0) for b in batches) / 1e3
    nights = [n for n in result["facts"].get("nights", [])
              if n["night"] in {o.get("night") for o in traced_ops}]
    g = counts.get
    m = {
        "pipeline.etl_flow_s": per(span_s.get("pipeline.etl_flow", 0)),
        "pipeline.promote_s": per(span_s.get("pipeline.promote", 0)),
        "pipeline.read_s": per(span_s.get("pipeline.read", 0)),
        "pipeline.read_files": per(g("pipeline.read_files", 0)),
        "pipeline.read_bytes": per(g("pipeline.read_bytes", 0)),
        "transform.prices_s": per(span_s.get("transform.prices", 0) +
                                  span_s.get("transform.symbols", 0)),
        "transform.wide_cols": per(g("transform.wide_cols", 0)),
        "transform.rows_out": per(g("transform.rows_out", 0)),
        "validate.gate_s": per(span_s.get("validate.gate", 0)),
        "validate.rows_rejected": per(g("validate.rows_rejected", 0)),
        "store.upsert_s": per(span_s.get("store.upsert", 0)),
        "store.bytes_written": per(g("store.bytes_written", 0)),
        "store.write_amp": ratio(g("store.bytes_written", 0),
                                 g("store.update_bytes", 0)),
        "store.files": stats.median([n["files"] for n in nights])
        if nights else 0,
        "warehouse.models_s": per(span_s.get("warehouse.models", 0)),
        "warehouse.tests_s": per(span_s.get("warehouse.tests", 0)),
        "warehouse.dq_violations": per(sum(
            r["violations"] for n in nights for r in n["dq"])),
        "operators.scrub_s": per(span_s.get("operators.scrub", 0)),
        "operators.classify_s": per(span_s.get("operators.classify", 0)),
        "operators.gate_pass_ratio": ratio(g("operators.gate_out", 0),
                                           g("operators.gate_in", 0)),
        "operators.exact_dedup_s": per(span_s.get("operators.exact_dedup", 0)),
        "operators.lsh_s": per(span_s.get("operators.lsh", 0)),
        "operators.lsh_candidates": per(g("operators.lsh_candidates", 0)),
        "operators.lsh_verified": per(g("operators.lsh_verified", 0)),
        "operators.lsh_yield": ratio(g("operators.lsh_verified", 0),
                                     g("operators.lsh_candidates", 0)),
        "operators.lsh_max_key_rows": per(g("operators.lsh_max_key_rows", 0)),
        "operators.clusters_s": per(span_s.get("operators.clusters", 0)),
        "operators.vocab_s": per(span_s.get("operators.vocab", 0)),
        "operators.tokenize_s": per(span_s.get("operators.tokenize", 0)),
        "operators.pack_s": per(span_s.get("operators.pack", 0)),
        "operators.pack_fill": ratio(
            g("operators.pack_tokens", 0),
            g("operators.packs", 0) * result["facts"].get("token_budget", 1)),
        "streaming.batches": per(len(batches)),
        "streaming.planning_s": per(dur("queryPlanning")),
        "streaming.wal_commit_s": per(dur("walCommit") + dur("commitOffsets")),
        "streaming.add_batch_s": per(dur("addBatch")),
        "streaming.latest_offset_s": per(dur("latestOffset")),
        "streaming.prepare_s": per(span_s.get("streaming.prepare", 0)),
        "streaming.state_deltas": info.get("state_deltas", 0),
        "streaming.accept_ratio": ratio(info.get("accepted_docs", 0),
                                        info.get("arrived_docs", 0)),
    }
    for layer in LAYERS:
        for k in COUNTERS:
            m[f"{layer}.{k}"] = per(layer_c[layer][k])
    t_med = stats.median([o["s"] for o in traced_ops])
    u_med = stats.median(untraced)
    m["trace.untraced_op_s"] = u_med
    m["trace.traced_op_s"] = t_med
    m["trace.overhead_s"] = t_med - u_med
    return {k: (float(m[k]), unit_of(k)) for k in per_layer_names()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t_build = time.time()
    classes = build.build()
    build_s = time.time() - t_build
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inputs = os.path.join(run_dir, "inputs")
        manifest, truth = gen.generate(a.workload, a.seed, inputs)
        out = os.path.join(run_dir, "result.json")
        budget = 170 - (time.time() - PROCESS_START)
        run_jvm(classes, [a.workload, inputs, os.path.join(run_dir, "work"),
                          str(a.seconds), str(a.trace), str(cpus), out],
                run_dir, max(budget, 30))
        with open(out) as f:
            result = json.load(f)
        # set-up: process start to the first timed operation, less the
        # one-time compile of a fresh checkout
        setup_s = result["measure_start_ms"] / 1e3 - PROCESS_START - build_s
        if a.workload == "sec_daily":
            fails, info = check.check_sec(truth, result)
            info["stored_bytes"] = result["facts"]["nights"][-1]["stored_bytes"]
            info["stored_rows"] = info["fct_rows"]
        elif a.workload == "corpus_curate":
            fails, info = check.check_corpus(truth, result)
            root = result["facts"]["root"]
            info["stored_bytes"] = (dir_bytes(os.path.join(root, "curated")) +
                                    dir_bytes(os.path.join(root, "packs")))
        else:
            fails, info = check.check_stream(
                truth, result, manifest["sizes"]["docs_per_file"])
            info["stored_bytes"] = dir_bytes(result["facts"]["state_root"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_ops = {("op", i) for i, o in enumerate(result["ops"])
                  if not o["ok"]}
    failed_ops |= {("read", i) for i, r in enumerate(result["reads"])
                   if not r["ok"]}
    failed_ops |= {where for where, _ in fails}
    # a failed set-up check (the warm iteration) counts as one more op
    attempted = len(result["ops"]) + len(result["reads"]) + \
        (("setup", 0) in failed_ops)
    e2e, detail = end_to_end(a.workload, result, info, setup_s)
    metrics = per_layer(a.workload, result, info) if a.trace else e2e
    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "build_s": build_s, **result["meta"],
        "driver_heap": heap(), "input_sizes": manifest["sizes"],
        "measured_s": result["measured_s"], "session_s": result["session_s"],
        "host_steal_share": result["host_steal_share"],
        "prepare_s": result["prep_s"], **detail,
        **{k: v for k, v in info.items() if not isinstance(v, (dict, list))},
    }
    if a.trace:
        meta["end_to_end"] = {k: v[0] for k, v in e2e.items()}
    for where, msg in fails:
        sys.stderr.write(f"perfbench: CHECK FAILED [{where[0]} {where[1]}] "
                         f"{msg}\n")
    print("# meta " + json.dumps(meta, sort_keys=True, default=str))
    correct = not fails and not failed_ops
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
