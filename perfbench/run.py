#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), writes the seeded
fixture (perfbench/gen.py), runs the harness JVM in a fresh scratch area,
checks every unit's results against the DuckDB oracle and prints the
metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics. Exits nonzero when
a result is wrong or the run fails. Workloads and metrics are described
in perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# scale of the seeded fixture per workload: sf0.1 has lineitem 600 k rows;
# corpus_curation's fixture holds 1 000 documents, since at sf0.1 (5 000)
# one cold unit plus its DuckDB oracle take about 175 s
SF = {"daily_batch": 0.1, "lakehouse_cdc": 0.1, "query_mix": 0.1,
      "corpus_curation": 0.02}
HEAP = "3g"         # fixed JVM heap (driver and local executors)
WORKLOADS = ["daily_batch", "lakehouse_cdc", "query_mix", "corpus_curation"]
# Registered read-only SQL-family queries, one per unit, in seeded order.
QUERY_MIX = [
    "q_campaign_roi", "q_customer_metrics", "q_inventory_discrepancies",
    "curated_revenue_by_category", "curated_area_feedback_metrics",
    "curated_category_inventory_impact",
    "classic_pricing_summary", "classic_returned_revenue",
    "lineitem_price_histogram", "orders_time_rollup",
    "customers_with_orders_by_segment", "events_type_pivot"]
END_TO_END = [("setup_s", "s"), ("unit_p50_s", "s"), ("rows_per_s", "rows/s"),
              ("cpu_s_per_unit", "s"), ("peak_rss_mb", "MB")]
# per-layer metric -> the span layer whose self time it sums; README.md
# gives the end-to-end metric and workload each layer metric should move
SPAN_LAYERS = {
    "io.csv_read_s": "io.csv_read", "io.write_s": "io.write",
    "pipelines.run_s": "pipelines.run", "curated.agg_s": "curated.agg",
    "sql.athena_s": "sql.athena", "sql.query_s": "sql.query",
    "ledger.stage_s": "ledger.stage", "ledger.publish_s": "ledger.publish",
    "ledger.cdc_dedup_s": "ledger.cdc_dedup",
    "orchestrate.composite_s": "orchestrate",
    "llm.exact_dedup_s": "llm.exact_dedup",
    "llm.minhash_pairs_s": "llm.minhash_pairs", "llm.clusters_s": "llm.clusters",
    "llm.deduped_corpus_s": "llm.deduped_corpus",
    "llm.simhash_pairs_s": "llm.simhash_pairs", "llm.ann_topk_s": "llm.ann_topk",
    "llm.coverage_s": "llm.coverage", "llm.top_repeats_s": "llm.top_repeats",
}
PER_LAYER_UNITS = {
    **{k: "s" for k in SPAN_LAYERS},
    "io.commit_s": "s", "io.files_written": "count", "io.bytes_written": "bytes",
    "io.write_amp": "ratio", "ledger.commits": "count",
    "ledger.data_files": "count", "ledger.log_bytes": "bytes",
    "sql.plan_s": "s", "sql.rows_read_per_row_returned": "ratio",
    "plancache.mem_scan_frac": "ratio", "plancache.cached_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.core_busy_frac": "ratio",
    "spark.task_wait_s": "s", "spark.task_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.peak_exec_mem_mb": "MB",
    "driver.no_task_s": "s", "driver.result_mb": "MB", "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def harness(cp, build_dir, run_dir, fx, workload, seed, seconds, trace):
    tmp, local, out = (os.path.join(run_dir, x) for x in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    cmd = ["java", *ADD_OPENS, "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftperf.Harness",
           "--workload", workload, "--fixture", fx,
           "--seconds", str(seconds), "--trace", str(trace),
           "--out", out, "--local-dir", local,
           "--queries", ",".join(mix_order(seed)),
           "--oracle", os.path.join(build_dir, "oracle_sql.json")]
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed ({code})")
    with open(os.path.join(out, "harness.json")) as f:
        rec = json.load(f)
    with open(os.path.join(out, "spans.json")) as f:
        rec["spans"] = json.load(f)
    with open(os.path.join(build_dir, "oracle_sql.json")) as f:
        rec["oracle_sql"] = json.load(f)
    return rec, out


def mix_order(seed):
    order = list(QUERY_MIX)
    random.Random(seed).shuffle(order)
    return order


def check(rec, out, fx, tamper=None):
    """Marks each unit ok/failed against the oracle; returns failures.
    `tamper(name, expected)` may alter an expected result (self-check)."""
    import oracle
    o = oracle.Oracle(fx)
    o.prefetch({r["name"]: rec["oracle_sql"][r["name"]]
                for u in rec["units"] for r in u["results"]})
    verdict = {}
    for u in rec["units"]:
        reasons = [u["error"]] if u["error"] else []
        for r in u["results"]:
            key = (r["name"], r["digest"])
            if key not in verdict:
                got = oracle.read_result(os.path.join(out, "results", *key))
                exp = o.expect(r["name"], rec["oracle_sql"][r["name"]])
                if tamper:
                    exp = tamper(r["name"], exp.copy())
                verdict[key] = oracle.mismatches(got, exp)
            reasons += [f"{r['name']}: {m}" for m in verdict[key]]
        u["failures"] = reasons
    return [(u["id"], u["failures"]) for u in rec["units"] if u["failures"]]


def unit_input(rec, u, key):
    """A unit's fixed input "rows" or "bytes"; for a query, those of the
    fixture tables in its analyzed plan."""
    if rec["workload"] == "query_mix":
        return sum(rec["query_input"][r["name"]][key] for r in u["results"])
    return rec["unit_input"][key]


def tail(walls):
    """Highest percentile with at least 10 samples beyond it."""
    n = len(walls)
    if n < 11:
        return None
    s = sorted(walls)
    k = n - 10  # s[k-1] has exactly 10 samples above it
    return s[k - 1], 100.0 * k / n


def write_amp(rec):
    """Bytes landed under the storage root per input byte."""
    units = rec["units"]
    return (sum(u["storage"]["bytes_written"] for u in units)
            / max(1, sum(unit_input(rec, u, "bytes") for u in units)))


def end_to_end(rec):
    units = rec["units"]
    walls = [u["wall_s"] for u in units]
    m = {
        "setup_s": rec["setup_s"],
        "unit_p50_s": statistics.median(walls),
        "rows_per_s": sum(unit_input(rec, u, "rows") for u in units) / sum(walls),
        "cpu_s_per_unit": sum(u["cpu_s"] for u in units) / len(units),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    extra = {
        "write_amp": write_amp(rec),
        "error_rate": sum(1 for u in units if u["failures"]) / len(units),
    }
    t = tail(walls)
    if t:
        extra["unit_tail_s"] = t[0]
        extra["unit_tail_pct"] = t[1]
    return m, extra


def per_layer(rec):
    traced = [u for u in rec["units"] if u["traced"]]
    bare = [u for u in rec["units"] if not u["traced"]]
    n = len(traced)
    ids = {u["id"] for u in traced}
    spans = [s for s in rec["spans"] if s["unit"] in ids]
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    self_s = {}
    for s in spans:
        d = s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
        self_s[s["layer"]] = self_s.get(s["layer"], 0.0) + d
    m = {k: self_s.get(layer, 0.0) / n for k, layer in SPAN_LAYERS.items()}

    def c(key):
        return sum(u["counters"][key] for u in traced)

    def st(key):
        return sum(u["storage"][key] for u in rec["units"]) / len(rec["units"])

    wall = sum(u["wall_s"] for u in traced)
    returned = sum(r["rows"] for u in traced for r in u["results"])
    m.update({
        "io.commit_s": c("commit_s") / n,
        "io.files_written": st("files_written"),
        "io.bytes_written": st("bytes_written"),
        "io.write_amp": write_amp(rec),
        "ledger.commits": st("ledger_commits"),
        "ledger.data_files": st("ledger_data_files"),
        "ledger.log_bytes": st("ledger_log_bytes"),
        "sql.plan_s": c("plan_s") / n,
        "sql.rows_read_per_row_returned": c("records_read") / max(1, returned),
        "plancache.mem_scan_frac": c("mem_scans") / max(1.0, c("leaf_scans")),
        "plancache.cached_mb": sum(u["cached_mb"] for u in traced) / n,
        "spark.jobs": c("jobs") / n, "spark.stages": c("stages") / n,
        "spark.tasks": c("tasks") / n, "spark.failed_tasks": c("failed_tasks") / n,
        "spark.core_busy_frac": c("task_s") / (4 * wall),
        "spark.task_wait_s": c("task_wait_s") / n,
        "spark.task_cpu_s": c("task_cpu_s") / n,
        "spark.shuffle_write_mb": c("shuffle_write_mb") / n,
        "spark.shuffle_read_mb": c("shuffle_read_mb") / n,
        "spark.spill_mb": c("spill_mb") / n,
        "spark.peak_exec_mem_mb": max(u["counters"]["peak_exec_mem_mb"] for u in traced),
        "driver.no_task_s": c("idle_s") / n,
        "driver.result_mb": c("result_mb") / n,
        "jvm.gc_s": sum(u["gc_s"] for u in traced) / n,
        "trace.overhead_s": (statistics.median(u["wall_s"] for u in traced)
                             - statistics.median(u["wall_s"] for u in bare))
        if bare else 0.0,
    })
    return m


def measure(workload, seed, seconds, trace, sf=None, keep=False):
    """One harness run, checked against the oracle: (record, failures)."""
    import build
    import gen
    cp, build_dir = build.build()
    run_dir = os.path.join(HERE, ".work", "runs",
                           f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        fx = os.path.join(run_dir, "fixture")
        gen.write(fx, sf or SF[workload], seed)
        rec, out = harness(cp, build_dir, run_dir, fx, workload, seed, seconds,
                           trace)
        rec["out"], rec["fixture"] = out, fx
        failures = check(rec, out, fx)
        os.makedirs(os.path.join(HERE, ".work", "records"), exist_ok=True)
        with open(os.path.join(HERE, ".work", "records",
                               os.path.basename(run_dir) + ".json"), "w") as f:
            json.dump({k: v for k, v in rec.items() if k != "oracle_sql"}, f)
    finally:
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    return rec, failures


def report(rec, failures, trace):
    """Prints the human summary; returns the result object."""
    units = rec["units"]
    e2e, extra = end_to_end(rec)
    print(f"workload {rec['workload']}: {len(units)} unit(s), "
          f"heap {rec['heap']} MB")
    print("ambient " + json.dumps(rec["ambient"]))
    for k, unit in END_TO_END:
        print(f"  {k:<16} {e2e[k]:.4f} {unit}")
    print(f"  {'write_amp':<16} {extra['write_amp']:.4f} bytes/byte")
    print(f"  {'error_rate':<16} {extra['error_rate']:.4f} ratio")
    if "unit_tail_s" in extra:
        print(f"  {'unit_tail_s':<16} {extra['unit_tail_s']:.4f} s "
              f"(p{extra['unit_tail_pct']:.1f}, 10 of {len(units)} units beyond)")
    for uid, why in failures:
        print(f"  FAILED unit {uid}: {'; '.join(why)[:500]}")
    if trace:
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in per_layer(rec).items()}
        for k, v in metrics.items():
            print(f"  {k:<34} {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    return {"correct": not failures, "attempted": len(units),
            "failed": len(failures), "metrics": metrics}


def main():
    # a stopped benchmark still stops its JVM (see the finally clauses)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    rec, failures = measure(args.workload, args.seed, args.seconds, args.trace)
    result = report(rec, failures, args.trace)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
