#!/usr/bin/env python3
"""graft benchmark: runs one workload of SparkEntry queries in one fresh
JVM and prints its metrics, checked against the DuckDB oracle.

  python3 perfbench/run.py --workload etl_sql --seed 1 --seconds 20 --trace 0
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --compare A.json B.json

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The full record of the run, with its environment stamp,
failures and per-query split, goes to perfbench/results/. See README.md.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import build
import metrics

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
WORK = os.path.join(BENCH_DIR, ".work")
SHM_CHECKPOINTS = "/dev/shm/graft_stream_ck"
RESULTS = os.path.join(BENCH_DIR, "results")
EXPECTED_SCHEMAS = os.path.join(BENCH_DIR, "expected_schemas.json")
ORACLE_COMPARE = os.path.join(ROOT, "scripts", "local_verify.py")

# The full query sets: every p*/j* query, the streaming proofs, and the LLM
# and graph queries. The listed workloads (README.md says why each exists)
# run subsets of them, chosen with choose.py from a traced run of the full
# set so that their per-layer and query-family time shares match it; the
# *_full workloads run the whole set by hand.
ETL_FULL = [
    "j1_inner", "j2_left_outer", "j2b_full_outer", "j2c_right_outer", "j3_semi",
    "j4_anti", "j5_broadcast", "j6_cross", "j7_range", "j8_asof", "j8b_asof_union",
    "j8c_asof_custom", "j8d_asof_forward", "j9_star", "j10_preagg_join",
    "j11_cbo_reorder", "j12_geo_distance_join", "j13_polygon_join",
    "j14_binned_range_join", "j16_scd2_lookup", "j17_fuzzy_join",
    "j18_polygon_polygon_join", "j19_distance_join",
    "p1_pipeline_etl", "p2_presto_sql", "p2aa_presto_fns_probe", "p2ab_presto_syntax",
    "p2ac_presto_agg_closures", "p2ad_presto_scalar_closures3",
    "p2ae_presto_wave5_closures", "p2af_presto_agg_lambdas",
    "p2ag_presto_array_similarity", "p2ah_presto_probe4", "p2ai_presto_probe6",
    "p2aj_presto_probe7", "p2ak_wire_hashes", "p2b_presto_sql_extras",
    "p2c_presto_sql_arrays", "p2d_presto_sql_misc", "p2e_presto_sql_subscripts",
    "p2f_presto_array_agg", "p2g_presto_unnest", "p2h_match_recognize",
    "p2i_presto_fn_extras", "p2j_presto_listagg", "p2k_presto_fn_extras2",
    "p2l_presto_window_filter", "p2m_presto_json_table", "p2n_presto_fetch_ties",
    "p2o_presto_mr_unmatched", "p2p2_presto_bing_cover", "p2p_presto_bing_tiles",
    "p2q_presto_mr_alternation", "p2r_presto_array_extras", "p2s_presto_array_fns2",
    "p2t2_presto_geo_accessors", "p2t3_presto_geo_holes", "p2t4_presto_geo_relate",
    "p2t5_presto_geo_aggs", "p2t6_presto_geo_r13", "p2t7_presto_geo_collection",
    "p2t_presto_geospatial", "p2u_presto_bitwise_regex", "p2v_presto_fns_misc",
    "p2w_presto_mr_nav", "p2x_presto_json_constructors", "p2y_presto_fns_misc2",
    "p2z_presto_format_rotate", "p3_dedup_pipeline", "p4_presto_script",
    "p4b_presto_ddl", "p4c_presto_delete", "p4d_presto_update",
    "p4e2_presto_merge_multi", "p4e_presto_merge", "p4f_presto_schema_ddl",
    "p4g_presto_ctas_partitioned", "p4h_presto_introspection",
    "p4i_presto_explain_analyze", "p4j_presto_schema_mgmt", "p4k_presto_optimize",
    "p4m_presto_explain_validate", "p5_pipeline_spec", "p6_daily_incremental",
    "p7_preprocess_pipeline", "p8_data_quality", "p9_observe_metrics"]
# the queries of ETL_FULL that write: p1, p3, every p4*, p5, p6, p7
WRITES = {q for q in ETL_FULL if q.split("_")[0] in ("p1", "p3", "p5", "p6", "p7")
          or q.startswith("p4")}
STREAM_FULL = [
    "e1b_stream_tumbling", "e16_stream_session", "e17_stream_state_sessions",
    "e18_stream_stream_join", "e19_stream_pattern", "e22_stream_dedup",
    "e23_stream_parquet_sink", "e24_stream_restart_recovery", "e25_stream_stream_left",
    "e29_stream_session_dynamic", "e33_tws_restart_recovery", "e34_stream_model_scoring"]
WRITES.add("e23_stream_parquet_sink")
LLM_FULL = [
    "g1_pagerank", "g2_triangle_count", "l12_dup_clusters", "l26_semdedup",
    "l26c_semdedup_twolevel", "l3b_knn_ivf", "l35_ivfpq", "l69_logreg_bigram_quality",
    "l70_softmax_domain_classifier", "l58_doremi_step", "l34_winnowing",
    "l17_repetition", "l53_dsir_importance", "l68b_nb_bigram_quality",
    "l71_cluster_diversity", "l41_bigram_logprob", "l65_substring_dedup",
    "l66_substring_scrub", "l2_minhash_lsh", "l2c_simhash", "l51_pii_scrub",
    "l4d_bpe_train", "l7c_image_decode"]

# The workloads BENCHMARK.json lists. A benchmark round makes 70 runs and
# must end within an hour, and 10 to 22 s of a run is set-up, so a run takes
# about 30 s (etl_sql), 35 s (stream_proofs) or 50 s (llm_batch) on a 4-core
# machine. llm_batch gets the most time because its cold pass, the least
# steady figure with fewer queries, needs the longest pass to average out
# the host's noise.
WORKLOADS = {
    "etl_sql": [
        "j2b_full_outer", "j8c_asof_custom", "p2ag_presto_array_similarity",
        "p2b_presto_sql_extras", "p2k_presto_fn_extras2", "p2t_presto_geospatial",
        "p4i_presto_explain_analyze", "p4m_presto_explain_validate", "p5_pipeline_spec"],
    "stream_proofs": [
        "e17_stream_state_sessions", "e23_stream_parquet_sink", "e33_tws_restart_recovery"],
    "llm_batch": [
        "g2_triangle_count", "l12_dup_clusters", "l26_semdedup", "l34_winnowing",
        "l35_ivfpq", "l41_bigram_logprob", "l68b_nb_bigram_quality",
        "l69_logreg_bigram_quality", "l71_cluster_diversity"],
}
# The full sets, run by hand: a run takes 1.5 to 2.5 minutes.
FULL_WORKLOADS = {"etl_sql_full": ETL_FULL, "stream_proofs_full": STREAM_FULL,
                  "llm_batch_full": LLM_FULL}

# Every run makes one cold pass and then this many warm passes; a second warm
# pass would not fit the time budget above.
WARM_PASSES = 1
RUN_TIMEOUT_S = 170
FULL_RUN_TIMEOUT_S = 1200
JVM_HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# The JVM flags of the repository's build.sbt `run`, with a smaller heap and
# a fixed young generation, which keeps peak RSS from following GC pause
# times (README.md).
JVM_FLAGS = ([f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]
             + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Xmx{JVM_HEAP}", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC"])

# Spark confs that name this process or this checkout, not the set-up.
VOLATILE_CONFS = ("spark.app.id", "spark.app.name", "spark.app.startTime", "spark.app.submitTime",
                  "spark.driver.host", "spark.driver.port", "spark.executor.id",
                  "spark.sql.warehouse.dir", "spark.local.dir",
                  "spark.sql.streaming.checkpointLocation")


def pass_orders(workload, seed, traced=False):
    """Query order of each pass; pass 1 is the cold pass. Traced runs
    alternate traced and untraced warm passes, so their count is even."""
    orders = []
    for k in range(1 + WARM_PASSES + (WARM_PASSES % 2 if traced else 0)):
        qs = list(queries_of(workload))
        random.Random(f"{workload}:{seed}:{k}").shuffle(qs)
        orders.append(qs)
    return orders


def queries_of(workload):
    return WORKLOADS.get(workload) or FULL_WORKLOADS[workload]


def cores():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(classpath, orders, traced, selftest=False, timeout_s=RUN_TIMEOUT_S):
    """Run one JVM over the given pass orders and return its raw record."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "check"):
        os.makedirs(os.path.join(WORK, d))
    out = os.path.join(WORK, "raw.json")
    plan = {"cpus": cores(), "work": WORK, "data": DATA, "out": out,
            "trace": int(traced), "selftest": int(selftest)}
    plan_file = os.path.join(WORK, "plan.txt")
    with open(plan_file, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in plan.items())
        f.writelines("order=" + ",".join(o) + "\n" for o in orders)
    cmd = (["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
                                   "-cp", os.pathsep.join(classpath),
                                   "graftbench.Runner", plan_file])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=WORK)
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run: JVM exceeded {timeout_s} s")
    finally:
        # ops.Events removes its per-JVM checkpoint directory on exit but
        # leaves the shared parent; drop it once no other JVM uses it
        try:
            os.rmdir(SHM_CHECKPOINTS)
        except OSError:
            pass
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"run: JVM exited with code {code}")
    with open(out) as f:
        return json.load(f)


def tally(raw):
    """(attempted, failed, {query: first failure}) over every timed
    execution and every output check of a run."""
    executions = [dict(q, pass_=p["pass"]) for p in raw["passes"] for q in p["queries"]]
    failures = {}
    for q in executions:
        if q["error"]:
            failures.setdefault(q["name"], f"pass {q['pass_']} threw: {q['error']}")
    check_failures = check_outputs(raw)
    for n, why in check_failures.items():
        failures.setdefault(n, why)
    failed = sum(1 for q in executions if q["error"]) + len(check_failures)
    return len(executions) + len(raw["check"]), failed, failures


def check_outputs(raw):
    """Failures of the output check as {query: reason}."""
    failures = {}
    check_dir = os.path.join(WORK, "check")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    for c in raw["check"]:
        if "error" in c:
            failures[c["name"]] = "check run failed: " + c["error"]
    if oracle:
        r = subprocess.run([sys.executable, ORACLE_COMPARE, DATA, check_dir],
                           capture_output=True, text=True, timeout=120)
        seen = set()
        for line in r.stdout.splitlines():
            word, _, rest = line.partition(" ")
            name = rest.split("  ")[0]
            if word in ("PASS", "FAIL") and name in oracle:
                seen.add(name)
                if word == "FAIL":
                    failures.setdefault(name, "oracle: " + rest[len(name):].strip())
        for name in oracle:
            if name not in seen:
                failures.setdefault(name, "oracle compare gave no verdict")
    with open(EXPECTED_SCHEMAS) as f:
        schemas = json.load(f)
    for c in raw["check"]:
        if c["name"] in oracle or "error" in c:
            continue
        n = c["name"]
        if schemas.get(n) != c["schema"]:
            failures[n] = f"schema {c['schema']} != expected {schemas.get(n)}"
        elif c["rows"] <= 0:
            failures[n] = "empty result"
        elif c["fingerprints"][0] != c["fingerprints"][1]:
            failures[n] = f"fingerprint differs between evaluations {c['fingerprints']}"
    return failures


def stamp(raw, workload, seed, traced):
    confs = {k: v.replace(ROOT, ".") for k, v in raw["spark_confs"].items()
             if k not in VOLATILE_CONFS}
    return {
        "commit": {"git": git_commit(), "sources_sha256": build.source_hash(build.sources())},
        "nproc": cores(),
        "master": confs.get("spark.master"),
        "spark_confs": confs,
        "jvm_flags": [f.replace(ROOT, ".") for f in raw["jvm_flags"]],
        "seed": seed,
        "sf_dir": os.path.relpath(DATA, ROOT),
        "workload": workload,
        "trace": int(traced),
    }


def query_table(raw):
    """Per query: cold latency and median warm latency, in seconds."""
    out = {}
    for p in raw["passes"]:
        for q in p["queries"]:
            e = out.setdefault(q["name"], {"cold_s": None, "warm_s": []})
            if p["pass"] == 1:
                e["cold_s"] = q["total_s"]
            elif not p["traced"]:
                e["warm_s"].append(q["total_s"])
    for e in out.values():
        e["warm_median_s"] = statistics.median(e["warm_s"]) if e["warm_s"] else None
    return out


def bench(args):
    if args.workload not in WORKLOADS and args.workload not in FULL_WORKLOADS:
        raise SystemExit(f"run: unknown workload {args.workload}; "
                         f"one of {', '.join([*WORKLOADS, *FULL_WORKLOADS])}")
    t0 = time.time()
    classpath = build.build()
    traced = args.trace == 1
    t1 = time.time()
    writes = WRITES.intersection(queries_of(args.workload))
    raw = run_jvm(classpath, pass_orders(args.workload, args.seed, traced), traced,
                  timeout_s=RUN_TIMEOUT_S if args.workload in WORKLOADS
                  else FULL_RUN_TIMEOUT_S)
    t2 = time.time()
    attempted, failed, failures = tally(raw)
    print(f"run: build {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
          f"oracle compare {time.time() - t2:.1f} s", file=sys.stderr)

    warm = [p for p in raw["passes"][1:] if not p["traced"]]
    samples = [q["total_s"] for p in warm for q in p["queries"]]
    write_samples = [q["total_s"] for p in warm for q in p["queries"] if q["name"] in writes]
    tail = metrics.tail_percentile(samples)
    record = {
        "stamp": stamp(raw, args.workload, args.seed, traced),
        "error_rate": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "setup_s": raw["setup_s"],
        "pass_walls_s": [p["wall_s"] for p in raw["passes"]],
        "warm_samples": len(samples),
        "query_tail": {"percentile": tail[0], "value_s": tail[1]} if tail else None,
        "write_p50_s": statistics.median(write_samples) if write_samples else None,
        "queries": query_table(raw),
    }
    if traced:
        layer, per_query, spans = metrics.layers(raw, cores(), writes)
        record["per_layer"] = layer
        record["per_query_layers"] = per_query
        record["spans"] = spans
        units = dict(metrics.PER_LAYER)
        shown = {k: {"value": layer[k], "unit": units[k]} for k, _ in metrics.PER_LAYER}
    else:
        e2e = metrics.end_to_end(raw)
        record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        shown = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(WORK, ignore_errors=True)
    print(f"run: {args.workload} seed {args.seed}: error_rate {failed}/{attempted}"
          + "".join(f"\n  FAIL {n}: {w}" for n, w in sorted(failures.items()))
          + f"\n  record: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    for k, v in shown.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))
    return 0


def compare(a_path, b_path):
    """Print every metric of two run records side by side; refuse when their
    stamps differ in anything but the commit."""
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    sa = {k: v for k, v in a["stamp"].items() if k != "commit"}
    sb = {k: v for k, v in b["stamp"].items() if k != "commit"}
    if sa != sb:
        diff = sorted(k for k in set(sa) | set(sb) if sa.get(k) != sb.get(k))
        print(f"compare: refused, stamps differ in {', '.join(diff)}", file=sys.stderr)
        return 1
    key = "per_layer" if "per_layer" in a else "end_to_end"
    print(f"{'metric':34} {'A':>14} {'B':>14} {'B/A':>8}")
    for k in a[key]:
        va, vb = a[key][k], b[key][k]
        ratio = f"{vb / va:8.3f}" if va else "       -"
        print(f"{k:34} {va:14.6g} {vb:14.6g} {ratio}")
    print(f"{'error_rate':34} {a['error_rate']:14.6g} {b['error_rate']:14.6g}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the benchmark's command line; a run's pass count is fixed
    # per workload, so it does not change what a run measures
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.selftest:
        import selftest
        return selftest.main()
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
