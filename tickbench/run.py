#!/usr/bin/env python3
"""Benchmark of the TickDB product path and the analytics library.

    python3 tickbench/run.py --workload tick_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see tickbench/README.md):
tick_read, tick_mixed, analytics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
full record of a run (samples, env stamps, spans) is written under
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics as mx  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("tick_read", "tick_mixed", "analytics")
ANALYTICS_QUERIES = [
    "q6_agg", "q5_join", "q9_join", "join_anti", "window_rank", "tick_avg_2min",
    "tick_var_es", "graph_pagerank", "graph_label_propagation", "text_tfidf",
    "sim_bruteforce_topk", "vec_kmeans_iter", "streaming_window_agg"]
PRELOAD_POINTS = 100_000
CPUS = 4
HEAP = "3g"
RUN_LIMIT_S = 175
CHECK_RESERVE_S = 20

# Spark on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def cpu_calibration_ms():
    """Time of a fixed pure-Python loop: a host-speed stamp that makes a
    swing caused by a slower or busier host visible in the run record."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return (time.perf_counter() - t) * 1e3


def fingerprint(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        h.update(open(os.path.join(d, name), "rb").read())
    return h.hexdigest()[:16]


def run_jvm(cp, args, work, budget_s):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "tickbench.TickBench"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tick_checks(res, reqs, in_dir, out_dir, acct, mixed):
    """Compare every distinct reply with DuckDB; for tick_mixed also the
    acknowledged points and the rollup-vs-raw answers."""
    orc = oracle.TickOracle(in_dir, res.get("acked_batches", 0))
    verdict, non_empty = {}, {"rollup": 0, "raw": 0, "get": 0}
    for o in res["ops"]:
        if o["status"] != 200 or (o["key"], o["hash"]) in verdict:
            continue
        r = reqs[o["key"]]
        ok, ne = oracle.check_read(orc, r["kind"], r["path"], r["body"], res["bodies"][o["hash"]])
        verdict[(o["key"], o["hash"])] = ok
        non_empty[o["kind"]] += ne
    bad = [o for o in res["ops"] if o["status"] != 200 or not verdict[(o["key"], o["hash"])]]
    res["failed_reads"] = [{"key": o["key"], "status": o["status"],
                            "reply": res["bodies"][o["hash"]][:300]} for o in bad[:10]]
    acct.ops(len(res["ops"]), 0, "")
    acct.fail(sum(o["status"] != 200 for o in bad), "non-2xx or exception on read")
    acct.fail(sum(o["status"] == 200 for o in bad), "wrong read answer", wrong_output=True)
    for kind, n in non_empty.items():
        if n == 0:
            acct.ops(1, 1, f"no non-empty {kind} answer was checked", wrong_output=True)
    if mixed:
        posts = res["posts"]
        acct.ops(len(posts), sum(p["status"] != 200 for p in posts), "failed POST")
        lost, extra = orc.lost_points(os.path.join(out_dir, "final_points"))
        acct.acked_points(sum(res["batch_points"][:res["acked_batches"]]), lost)
        acct.fail(extra, "points stored that nobody acknowledged", wrong_output=True)
        rr = res["rollup_vs_raw"]
        acct.ops(rr["checked"], rr["mismatched"], "rollup answer != raw answer", wrong_output=True)
        if rr["checked"] - rr["empty"] == 0:
            acct.ops(1, 1, "rollup-vs-raw check had no non-empty answer", wrong_output=True)


def per_layer_metrics():
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them."""
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def tick_detail(res):
    """The workload-level figures the per-layer run reports next to the
    layer counters: per-route latency, ingest rate, store size."""
    ops = res["ops"]
    d = {"read_rps": len(ops) / res["window_s"]}
    for k, name in (("rollup", "query_rollup"), ("raw", "query_raw"), ("get", "point_get")):
        s = mx.latency_summary([o["lat_ms"] for o in ops if o["kind"] == k])
        d[f"{name}_p50_ms"] = s["p50"] or 0.0
        d[f"{name}_tail_ms"] = s["tail"] or 0.0
        d[f"{name}_tail_percentile"] = s["tail_p"]
        d[f"{name}_n"] = s["n"]
    posts = [p for p in res.get("posts", []) if p["status"] == 200]
    if posts:
        end_s = max(p["start_ms"] + p["lat_ms"] for p in posts) / 1e3
        d["ingest_points_per_s"] = sum(res["batch_points"][p["acked"]] for p in posts) / end_s
        d["ingest_post_p50_ms"] = mx.percentile([p["lat_ms"] for p in posts], 50)
    d["ingest_posts_n"] = len(posts)
    d["store_bytes_per_point"] = res["store_bytes"] / max(1, res["store_points"])
    return d


def analytics_detail(res):
    laps = res["laps"]
    lap_s = [lap_ms(lap) / 1e3 for lap in laps]
    return {"analytics_lap_s": mx.percentile(lap_s, 50), "analytics_laps_n": len(laps),
            "query_ms_p50": {n: mx.percentile([lap[n]["build_ms"] + lap[n]["plan_ms"] +
                                               lap[n]["exec_ms"] for lap in laps if lap[n]["ok"]]
                                              or [0.0], 50) for n in laps[0]}}


def analytics_checks(res, verdict, acct):
    laps = res["laps"]
    acct.ops(sum(len(lap) for lap in laps),
             sum(not q["ok"] for lap in laps for q in lap.values()), "query threw")
    for name, (ok, rows) in verdict.items():
        if not ok:
            # a wrong or empty result makes every timed execution of it wrong
            acct.fail(max(1, sum(lap.get(name, {}).get("ok", False) for lap in laps)),
                      f"{name}: result differs from its oracle or is empty", wrong_output=True)


def lap_ms(lap):
    return sum(q["build_ms"] + q["plan_ms"] + q["exec_ms"] for q in lap.values() if q["ok"])


def end_to_end(res, workload):
    """The metrics a user sees, defined alike on every workload: an
    operation is an HTTP read on tick_*, and one lap over the query list
    on analytics (the median of 13 different queries would jump between
    queries from run to run)."""
    if workload == "analytics":
        lat = [lap_ms(lap) for lap in res["laps"]]
        n = len(lat)
    else:
        lat = [o["lat_ms"] for o in res["ops"]]
        n = len(lat)
    return {
        "setup_s": (res["session_s"] + res["setup_rep_s"], "s"),
        "ops_per_s": (n / res["window_s"], "1/s"),
        "op_p50_ms": (mx.percentile(lat, 50), "ms"),
        "cpu_ms_per_op": (res["window_cpu_ms"] / max(1, n), "ms"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    cp = build.build(root)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(root, build.OUT, "runs", f"{tag}-{os.getpid()}")
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    if a.workload == "analytics":
        gen.analytics_tables(a.seed, in_dir)
        with open(os.path.join(in_dir, "queries.txt"), "w") as f:
            f.write("\n".join(ANALYTICS_QUERIES))
    else:
        gen.tick_inputs(a.seed, in_dir, PRELOAD_POINTS)
    stamps = {"seed": a.seed, "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
              "testdata_fingerprint": fingerprint(in_dir), "loadavg_1m_before": loadavg(),
              "host_cpus": os.cpu_count(), "cpu_calibration_ms_before": cpu_calibration_ms()}

    launch_ms = int(time.time() * 1000)
    budget = RUN_LIMIT_S - CHECK_RESERVE_S - (time.time() - t_start)
    rc = run_jvm(cp, [a.workload, str(a.seconds), str(a.trace), in_dir, out_dir,
                      str(CPUS), str(a.seed), str(launch_ms)], work, budget)
    stamps["loadavg_1m_after"] = loadavg()
    stamps["cpu_calibration_ms_after"] = cpu_calibration_ms()
    result_file = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(f"benchmark JVM failed (exit {rc}); log: {work}/jvm.log\n")
        sys.stderr.write(open(f"{work}/jvm.log").read()[-3000:])
        sys.exit(1)
    res = json.load(open(result_file))

    acct = mx.Accounting()
    if a.workload == "analytics":
        verdict = oracle.check_analytics(in_dir, out_dir, res["oracle_sql"], ANALYTICS_QUERIES)
        analytics_checks(res, verdict, acct)
        detail = analytics_detail(res)
    else:
        spec = json.load(open(os.path.join(in_dir, "requests.json")))
        reqs = {r["key"]: r for r in spec["static"] + sum(spec["recent"], [])}
        res["batch_points"] = spec["batch_points"]
        tick_checks(res, reqs, in_dir, out_dir, acct, a.workload == "tick_mixed")
        detail = tick_detail(res)
    e2e = end_to_end(res, a.workload)

    if a.trace:
        values = dict(res.get("layers", {}))
        values.update({k: v for k, v in detail.items() if isinstance(v, (int, float))})
        values["error_rate"] = acct.error_rate
        values["jvm.gc_ms"] = float(res["env"]["gc_ms_run"])
        values["jvm.heap_peak_mb"] = res["env"]["heap_peak_mb"]
        values["host.loadavg_1m_before"] = stamps["loadavg_1m_before"]
        values["host.loadavg_1m_after"] = stamps["loadavg_1m_after"]
        # a layer the workload does not run reads 0
        shown = {k: (float(values.get(k) or 0.0), u) for k, u in per_layer_metrics()}
    else:
        shown = e2e

    out = {"correct": acct.correct, "attempted": acct.attempted, "failed": acct.failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}
    record = {"stamps": stamps, "env": res["env"], "failures": acct.causes,
              "failed_reads": res.get("failed_reads"), "end_to_end": e2e, "detail": detail,
              "result": out, "marks": res.get("marks"), "warmup_lap_s": res.get("warmup_lap_s"),
              "setup_reps_s": res["setup_reps_s"], "session_s": res["session_s"],
              "wall_s": time.time() - t_start}
    art_dir = os.path.join(root, build.OUT, "results")
    os.makedirs(art_dir, exist_ok=True)
    if a.trace:
        # the untraced run of the same workload and seed, when there is one,
        # gives the cost of tracing on the end-to-end figures
        plain = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(plain):
            base = json.load(open(plain))["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k][0] / base[k][0] - 1 for k in e2e}
        shutil.move(os.path.join(out_dir, "spans.jsonl"), os.path.join(art_dir, f"{tag}.spans.jsonl"))
    with open(os.path.join(art_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f)
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(art_dir, f"{tag}.jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    for k, v in out["metrics"].items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
