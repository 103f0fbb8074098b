#!/usr/bin/env python3
"""The repo benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload library|kv_store \\
        --seed N --seconds S --trace 0|1

Run from the repo root. Builds the engine (perfbench/build.py), runs one
JVM that drives `graft.LocalSpark.session(<cores>)` one operation at a time
(perfbench/scala/BenchMain.scala), checks every output, and prints as its
last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end metrics, from untraced
passes. With --trace 1 they are the per-layer metrics: untraced and traced
passes alternate, and `trace.overhead_s` is the difference of the two
median pass walls. The full record (per-op walls, effective Spark
confs, input hashes, spans) goes to `.bench_build/out/`.

Inputs: `library` reads a copy of the engine's sf0.01 test fixtures
(TESTDATA.md) under perfbench/fixtures/sf0.01, verified against
perfbench/fixtures/sf0.01.sha256; the seed only shuffles the query order.
`kv_store` generates its pairs, batches and keys from the seed inside the
JVM.

Workloads, their operations and the layer -> end-to-end map are in
perfbench/LAYERS.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 160
HEAP = "2g"

# 12 of the 143 declared queries, drawn across the families (hpmr parity,
# events, join, dedup, text, similarity, graph, as-of), in name order; the
# seed shuffles the run order. The whole inventory does not fit one run: a
# warm pass over all 143 at sf0.01 takes about 80 s on 4 cores, a cold one
# about 160 s.
LIBRARY = [
    "asof_last_order", "dedup_clusters", "events_tumbling_agg", "graph_degree_stats",
    "join_star_rollup", "membership_semi", "mr_range_source", "mr_sum_by_key",
    "point_get", "sim_ann_lsh", "text_wordcount_topk", "unset_anti",
]
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")

# kv_store: N pairs into K keys, B put rounds of `batch` pairs (half present
# keys, half new), `reads` point ops (half present, half absent), then
# `deletes` keys removed. The seed draws the key skew in [1, 2].
KV = dict(n=200_000, k=50_000, rounds=2, batch=10_000, reads=100, deletes=2_000)

# a child span may start or end this far outside its op and still reconcile:
# listener times are whole milliseconds on the wall clock, op times are
# monotonic nanoseconds mapped onto it
RECONCILE_TOL_S = 0.025


# self time: each instant of an op is charged to the innermost layer
# running then, so the layers' self times add up to the op's wall exactly
LAYER_PRIORITY = ["stage", "job", "plan", "build", "op"]


def self_times(kids, lo, hi):
    ivs = {layer: [] for layer in LAYER_PRIORITY}
    for k in kids:
        layer = k["name"].split(":")[0].split(".")[0]
        ivs[layer] += clip([(k["start"], k["end"])], lo, hi)
    cuts = sorted({lo, hi} | {t for v in ivs.values() for iv in v for t in iv})
    out = {layer: 0.0 for layer in LAYER_PRIORITY}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        layer = next((l for l in LAYER_PRIORITY[:-1] if any(s <= mid < e for s, e in ivs[l])), "op")
        out[layer] += b - a
    return out


def fixture_hashes():
    """{file: sha256} of the library fixtures, checked against the manifest."""
    with open(FIXTURES + ".sha256") as f:
        want = dict(reversed(line.split()) for line in f if line.strip())
    got = {}
    for name in sorted(want):
        with open(os.path.join(FIXTURES, name), "rb") as f:
            got[name] = hashlib.sha256(f.read()).hexdigest()
    if got != want:
        raise SystemExit(f"fixtures differ from {FIXTURES}.sha256: "
                         f"{sorted(n for n in want if got[n] != want[n])}")
    return got


def cores():
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, p):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p / 100.0 * len(s) + 0.5)) - 1))]


def union_len(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


def jvm_cmd(classes, jars, work, main_args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java", "-XX:-UsePerfData"] + opens + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
                                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                                 f"-Djava.io.tmpdir={work}/tmp",
                                 f"-Dspark.sql.warehouse.dir={work}/warehouse",
                                 "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                                 "graftbench.BenchMain"] + main_args)


def run_jvm(cmd, work, log_path, deadline):
    """Runs the JVM to completion; returns its peak resident memory in MB."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log = open(log_path, "w")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)

    def stop(why):
        p.kill()
        p.wait()
        raise SystemExit(why)
    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                stop("JVM timed out")
            time.sleep(0.2)
    except KeyboardInterrupt:
        stop("interrupted")
    finally:
        log.close()
    p.returncode = rc = os.waitstatus_to_exitcode(status)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"JVM exited with {rc}")
    return usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["library", "kv_store"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    classes, jars = build.build()
    deadline = time.time() + JVM_TIMEOUT_S
    base = build.build_dir()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        report = run(a, classes, jars, work, os.path.join(out_dir, tag + ".log"), deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report["total_s"] = time.time() - t_start
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"detail": os.path.relpath(os.path.join(out_dir, tag + ".json"), ROOT),
                      "failures": report["failures"], "inputs": report["input_hash"]}))
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))


def run(a, classes, jars, work, log_path, deadline):
    wl = a.workload
    data = FIXTURES
    phases, t = {}, time.time()
    rnd = random.Random(a.seed)
    main_args = [f"workload={wl}", f"data={data}", f"out={work}", f"seconds={a.seconds}",
                 f"seed={a.seed}", f"trace={a.trace}", f"cpus={cores()}"]
    if wl == "kv_store":
        skew = 1.0 + rnd.random()
        spec = [KV["n"], KV["k"], KV["rounds"], KV["batch"], KV["reads"], KV["deletes"], skew]
        main_args.append("kv=" + ",".join(str(x) for x in spec))
        hashes = None
    else:
        names = list(LIBRARY)
        rnd.shuffle(names)
        main_args.append("queries=" + ",".join(names))
        hashes = fixture_hashes()
    phases["inputs_s"], t = time.time() - t, time.time()
    peak_rss_mb = run_jvm(jvm_cmd(classes, jars, work, main_args), work, log_path, deadline)
    phases["jvm_s"], t = time.time() - t, time.time()
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    failures = {o["name"] + "@" + str(o["pass"]): o["error"] for o in res["ops"] if not o["ok"]}
    attempted, failed = res["attempted"], res["failed"]
    result_rows = {}
    if hashes is not None:
        input_hash = hashlib.sha256(json.dumps(hashes, sort_keys=True).encode()).hexdigest()
        with open(os.path.join(work, "oracle_sql.json")) as f:
            sqls = json.load(f)
        key = hashlib.sha256((input_hash + json.dumps(sqls, sort_keys=True)).encode()).hexdigest()
        cache = os.path.join(build.build_dir(), "oracle", f"{wl}-{key[:16]}.pkl")
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        want = oracle.oracle_results(data, sqls, cache)
        errors, result_rows = oracle.check(os.path.join(work, "check"), want)
        for name, err in errors.items():
            attempted += 1
            if err:
                failed += 1
                failures[name + "@oracle"] = err
    else:
        input_hash = res["kv_input_hash"]
    phases["check_s"] = time.time() - t

    metrics = (layer_metrics(res, result_rows) if a.trace
               else end_to_end(res, peak_rss_mb))
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    if set(metrics) != set(declared):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted, "failures": failures,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
            "phases": phases, "input_hash": input_hash, "table_hashes": hashes, "confs": res["confs"],
            "cores": cores(), "ops": res["ops"], "passes": res["passes"],
            "spans": res["spans"]}


def declared_metrics(kind):
    """{name: unit} of the metrics BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def timed_ops(res, traced):
    return [o for o in res["ops"] if o["pass"] >= 1 and o["traced"] == traced]


def per_pass(ops, f):
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(f(o))
    return [sum(v) for _, v in sorted(by.items())]


def end_to_end(res, peak_rss_mb):
    ops = timed_ops(res, False)
    g = res["groups"]
    walls = per_pass(ops, lambda o: o["wall_s"])
    # each op's median wall over the timed passes, so one slow pass moves
    # the per-op percentiles no more than it moves pass_s
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["wall_s"])
    op_walls = [median(v) for v in by_name.values()]
    cpu = per_pass(ops, lambda o: g.get(o["group"], {}).get("cpu_s", 0.0))
    return {
        "setup_s": res["setup_end"] - res["jvm_start"],
        "pass_s": median(walls),
        "op_p50_s": median(op_walls),
        "op_p90_s": pct(op_walls, 90),
        "cpu_s": median(cpu),
        "peak_rss_mb": peak_rss_mb,
    }


def layer_metrics(res, result_rows):
    g = res["groups"]
    ops = timed_ops(res, True)
    passes = sorted({o["pass"] for o in ops})
    n = max(1, len(passes))

    def tot(f, subset=None):
        """Per-pass mean of f summed over (a subset of) traced ops."""
        return sum(f(o) for o in (subset if subset is not None else ops)) / n

    def grp(key):
        return lambda o: g.get(o["group"], {}).get(key, 0)

    spans = res["spans"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    stage_span, unreconciled = {}, 0
    self_t = {layer: 0.0 for layer in LAYER_PRIORITY}
    for o in ops:
        lo, hi = o["start"], o["start"] + o["wall_s"]
        kids = [k for k in by_op.get(o["id"], []) if not k["name"].startswith("op:")]
        if any(k["start"] < lo - RECONCILE_TOL_S or k["end"] > hi + RECONCILE_TOL_S for k in kids):
            unreconciled += 1
        ivs = [tuple(iv) for iv in g.get(o["group"], {}).get("stage_intervals", [])]
        stage_span[o["id"]] = union_len(clip(ivs, lo, hi))
        for layer, v in self_times(kids, lo, hi).items():
            self_t[layer] += v
    untraced = per_pass(timed_ops(res, False), lambda o: o["wall_s"])
    traced = per_pass(ops, lambda o: o["wall_s"])

    m = {}
    m["queries.build_s"] = tot(lambda o: o["build_s"])
    m["plan.analysis_s"] = tot(lambda o: o.get("plan_analysis_s", 0.0))
    m["plan.optimization_s"] = tot(lambda o: o.get("plan_optimization_s", 0.0))
    m["plan.planning_s"] = tot(lambda o: o.get("plan_planning_s", 0.0))
    m["plan.executions"] = tot(lambda o: o.get("executions", 0))
    m["codegen.compile_s"] = tot(lambda o: o.get("codegen_compile_s", 0.0))
    m["codegen.compiles"] = tot(lambda o: o.get("codegen_compiles", 0))
    m["sched.jobs"] = tot(grp("jobs"))
    m["sched.stages"] = tot(grp("stages"))
    m["sched.tasks"] = tot(grp("tasks"))
    m["sched.stage_span_s"] = tot(lambda o: stage_span[o["id"]])
    m["sched.driver_gap_s"] = tot(lambda o: o["wall_s"] - stage_span[o["id"]])
    m["sched.task_overhead_s"] = tot(lambda o: grp("deser_s")(o) + grp("sched_delay_s")(o) + grp("result_ser_s")(o))
    m["exec.cpu_s"] = tot(grp("cpu_s"))
    m["exec.run_s"] = tot(grp("run_s"))
    m["exec.gc_s"] = tot(grp("gc_s"))
    for fam in ("dedup", "sim", "text"):
        m[f"exec.cpu_s.{fam}"] = tot(grp("cpu_s"), [o for o in ops if o["name"].startswith(fam + "_")])
    m["shuffle.write_bytes"] = tot(grp("shuffle_write_bytes"))
    m["shuffle.write_records"] = tot(grp("shuffle_write_records"))
    m["shuffle.read_bytes"] = tot(grp("shuffle_read_bytes"))
    m["shuffle.fetch_wait_s"] = tot(grp("shuffle_fetch_wait_s"))
    m["shuffle.write_s"] = tot(grp("shuffle_write_s"))
    m["spill.disk_bytes"] = tot(grp("spill_disk_bytes"))
    m["spill.memory_bytes"] = tot(grp("spill_memory_bytes"))
    m["join.output_rows"] = tot(lambda o: o.get("join_output_rows", 0))
    out_rows = tot(lambda o: result_rows.get(o["name"], 0))
    m["join.rows_per_result_row"] = m["join.output_rows"] / out_rows if out_rows else 0.0
    m["scan.bytes_read"] = tot(grp("bytes_read"))
    m["scan.records_read"] = tot(grp("records_read"))
    m["sources.catalog_build_s"] = res["catalog_build_s"]
    m["snapshot.cached_bytes"] = tot(lambda o: o.get("snapshot_cached_bytes", 0))
    m["snapshot.release_s"] = tot(lambda o: o.get("snapshot_release_s", 0.0))
    m["snapshot.leaked_bytes"] = median([p["storage_left_bytes"] for p in res["passes"] if p["traced"]])

    def kind(k):
        return [o["wall_s"] for o in ops if o["kind"] == k]
    m["core.mapreduce_s"] = median(kind("ingest"))
    m["core.put_s"] = median(kind("put"))
    m["core.get_ms"] = 1e3 * median(kind("get"))
    m["core.has_ms"] = 1e3 * median(kind("has"))
    m["core.remove_s"] = median(kind("remove"))
    m["core.distinct_s"] = median(kind("distinct"))
    m["core.count_ms"] = 1e3 * median(kind("count"))
    ingest = [o for o in ops if o["kind"] == "ingest"]
    m["core.combine_ratio"] = (tot(grp("shuffle_write_records"), ingest) / KV["n"]) if ingest else 0.0
    lookups = [o for o in ops if o["kind"] in ("get", "has")]
    m["core.records_read_per_lookup"] = (sum(grp("records_read")(o) for o in lookups) / len(lookups)
                                         if lookups else 0.0)
    for layer, v in self_t.items():
        m[f"self.{layer}_s"] = v / n
    m["trace.overhead_s"] = median(traced) - median(untraced)
    m["trace.unreconciled_ops"] = unreconciled
    return m


if __name__ == "__main__":
    main()
