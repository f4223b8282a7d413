#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one command.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload etl_stream|corpus_dag|olap_scan \
      --seed N --seconds S --trace 0|1

Builds graft from source (perfbench/build.py), generates the seeded
inputs, runs the JVM harness (perfbench/scala/Harness.scala) on
local[<cores>], checks the outputs, and prints a summary followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end ones, measured with no listener
attached; with --trace 1 the run adds a traced timed phase and reports
the per-layer metrics instead.  Everything is written under the
checkout (.bench_build, .bench_data, .bench_work, .bench_out).
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen_statements  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402
from workloads import JOB_FLOOR_TARGETS, LAYER_TO_E2E, WORKLOADS  # noqa: E402

# reported with --trace 0, in BENCHMARK.json's end_to_end order. In a
# closed loop with one client ops_per_s is the reciprocal of the mean op
# latency; op_p50_s, op_tail_s, error_rate and peak_rss_mb are printed in
# the summary and reported with --trace 1, because from run to run they
# did not repeat within the bound (error_rate is 0, which no bound fits).
END_TO_END = {"setup_s": "s", "ops_per_s": "op/s"}
MODULES = ["Relational", "StreamingTwins", "Dedup", "Similarity", "TextAnalysis"]
HEAP = "4g"
# seconds after the build: the harness ends its timed phases early, mid-pass
# if it must, so that it is done by JVM_DEADLINE_S; a slower program then
# reports fewer, slower ops instead of no result. A JVM still running at
# JVM_KILL_S is killed, which leaves the run within 180 s.
JVM_DEADLINE_S = 150
JVM_KILL_S = 168
# the JDK module opens graft's build.sbt passes to every forked JVM
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def die(msg, code=1):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def base_dir(root, sf):
    """Base tables at scale sf, generated once per checkout."""
    d = os.path.join(root, ".bench_data", f"base-sf{sf}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write_base(tmp, sf)
        os.replace(tmp, d)
    return d


def make_inputs(root, name, wl, seed, data):
    """Seeded inputs for one run; returns (sizes, manifest)."""
    if name == "etl_stream":
        manifest = gen_statements.write_days(os.path.join(data, "days"), seed, wl["days"])
        files = glob.glob(os.path.join(data, "days", "*", "*"))
        return {"files": len(files), "rows": len(files),
                "bytes": sum(os.path.getsize(f) for f in files)}, manifest
    t = gen_tables.jittered_copy(base_dir(root, wl["sf"]), data, seed)
    return {"files": len(t), "rows": sum(v["rows"] for v in t.values()),
            "bytes": sum(v["bytes"] for v in t.values())}, None


def run_jvm(root, name, wl, args, work, data, t_begin):
    out = os.path.join(work, "result.json")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS] +
           [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-cp", build.classpath(root), "graft.perfbench.Harness",
            f"workload={name}", f"data={data}", f"work={work}", f"out={out}",
            f"seconds={args.seconds}", f"min_ops={wl['min_ops']}", f"trace={args.trace}",
            f"cores={os.cpu_count()}", f"deadline_ms={int((t_begin + JVM_DEADLINE_S) * 1000)}",
            f"ops={','.join(wl.get('ops', []))}",
            f"warm_days={wl.get('warm_days', 0)}"])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                               timeout=max(1, t_begin + JVM_KILL_S - time.time()))
        except subprocess.TimeoutExpired:
            r = None
    if r is None or r.returncode != 0 or not os.path.exists(out):
        keep = os.path.join(root, ".bench_out", f"{name}-seed{args.seed}-jvm.log")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copy(log, keep)
        die(f"harness {'timed out' if r is None else 'failed'}, log in {keep}")
    with open(out) as f:
        return json.load(f)


def op_stats(phase, wrong):
    ops = phase["ops"]
    durs = [o["dur_s"] for o in ops]
    errs = [o for o in ops if o["err"]]
    bad = [o for o in ops if not o["err"] and (o["name"] in wrong or "*" in wrong)]
    n = len(ops)
    p = stats.tail_percentile(n)  # None: too few samples, the maximum stands in
    return {
        "n": n,
        "ops_per_s": n / phase["wall_s"],
        "op_p50_s": statistics.median(durs),
        "op_tail_pct": p or 100,
        "op_tail_s": stats.percentile(durs, p) if p else max(durs),
        "failed": len(errs) + len(bad),
        "error_rate": (len(errs) + len(bad)) / n,
        "failed_ops": sorted({o["name"] for o in errs + bad}),
    }


def du(path):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def layer_metrics(res, wl_name, untraced, traced, sizes, stream_info, work):
    ops = res["traced"]["ops"]
    n = len(ops)
    cores = res["cores"]
    m = [o["m"] for o in ops]

    def per_op(k):
        return sum(x.get(k, 0) for x in m) / n

    out = {"GraftSession.build_s": (res["session_build_s"], "s"),
           "GraftSession.warmup_s": (res["warmup_s"], "s")}
    for k in ["jobs", "stages", "tasks"]:
        out[f"spark.{k}"] = (per_op(k), "count/op")
    spans = res["spans"]
    gap = 0
    for op in (s for s in spans if stats.layer_of(s["name"]) == "op"):
        jobs = [(s["start_ns"], s["end_ns"]) for s in spans
                if s["op"] == op["op"] and stats.layer_of(s["name"]) == "job"]
        gap += op["end_ns"] - op["start_ns"] - stats.covered(jobs, op["start_ns"], op["end_ns"])
    out["spark.job_gap_s"] = (gap / 1e9 / n, "s/op")
    for k in ["executor_run_s", "executor_cpu_s", "gc_s"]:
        out[f"spark.{k}"] = (per_op(k), "s/op")
    for k in ["shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "result_bytes"]:
        out[f"spark.{k}"] = (per_op(k), "B/op")
    out["spark.busy_share"] = (sum(x["executor_run_s"] for x in m) /
                               (sum(o["dur_s"] for o in ops) * cores), "ratio")
    out["spark.failed_tasks"] = (sum(x["failed_tasks"] for x in m), "count")
    out["sources.input_bytes"] = (per_op("input_bytes"), "B/op")
    out["sources.input_rows"] = (per_op("input_rows"), "rows/op")
    prog = [p for x in m for p in x.get("progress", [])]
    # a streaming batch reads one binaryFile row per file
    files = sum(p["rows"] for p in prog) if prog else sum(x["files"] for x in m)
    out["sources.files"] = (files / n, "count/op")
    out["jvm.cpu_s"] = (res["traced"]["cpu_s"] / n, "s/op")
    for mod in MODULES:
        mine = [x for x in m if x["module"] == mod]
        k = len(mine) or 1
        out[f"{mod}.calls"] = (len(mine), "count")
        for ph in ["build_s", "plan_s", "exec_s"]:
            out[f"{mod}.{ph}"] = (sum(x.get(ph, 0) for x in mine) / k, "s/call")
        out[f"{mod}.jobs"] = (sum(x["jobs"] for x in mine) / k, "count/call")
    for t in JOB_FLOOR_TARGETS:
        mine = [(o["dur_s"], o["m"]["jobs"]) for o in ops if o["name"] == t]
        out[f"op.{t}.s"] = (statistics.median([d for d, _ in mine]) if mine else 0, "s")
        out[f"op.{t}.jobs"] = (statistics.median([j for _, j in mine]) if mine else 0, "count")
    nb = len(prog) or 1
    for key, ms in [("trigger_s", "triggerExecution"), ("add_batch_s", "addBatch"),
                    ("latest_offset_s", "latestOffset"),
                    ("query_planning_s", "queryPlanning"), ("wal_commit_s", "walCommit")]:
        out[f"EventStreams.{key}"] = (sum(p.get(ms, 0) for p in prog) / 1e3 / nb, "s/batch")
    stage_total = 0.0
    for st in ["extract", "dedup", "ann"]:
        v = sum(x.get(f"stage.{st}_s", 0) for x in m) / nb
        stage_total += v
        out[f"EventStreams.stage.{st}_s"] = (v, "s/batch")
    add_batch = out["EventStreams.add_batch_s"][0]
    out["EventStreams.overlap_ratio"] = (stage_total / add_batch if add_batch else 0, "ratio")
    if wl_name == "etl_stream":
        durs = [o["dur_s"] for o in res["untraced"]["ops"] + ops]
        q = max(1, len(durs) // 4)
        late_early = statistics.median(durs[-q:]) / statistics.median(durs[:q])
        c = res["check"]
        written = sum(du(c[k]) for k in ["extracted_dir", "pairs_dir", "topk_dir"]) + \
            du(os.path.join(work, "spark-warehouse"))
        read = du(c["watch_dir"])
        out["EventStreams.late_early_ratio"] = (late_early, "ratio")
        out["EventStreams.index_rows"] = (c["dedup_index_rows"] + c["ann_index_rows"], "rows")
        out["EventStreams.bytes_written_per_input_byte"] = (written / read, "ratio")
        out["FundEtl.valid_ratio"] = (stream_info["valid"] / stream_info["files"], "ratio")
    else:
        for k, u in [("late_early_ratio", "ratio"), ("index_rows", "rows"),
                     ("bytes_written_per_input_byte", "ratio")]:
            out[f"EventStreams.{k}"] = (0, u)
        out["FundEtl.valid_ratio"] = (0, "ratio")
    selfs = stats.self_times(spans)
    for layer in ["workload", "op", "build", "plan", "exec", "job"]:
        out[f"self.{layer}_s"] = (sum(selfs[s["id"]] for s in spans
                                      if stats.layer_of(s["name"]) == layer) / 1e9 / n, "s/op")
    out["trace.overhead_op_p50"] = (traced["op_p50_s"] / untraced["op_p50_s"] - 1, "ratio")
    out["trace.overhead_ops_per_s"] = (traced["ops_per_s"] / untraced["ops_per_s"] - 1, "ratio")
    out["op_p50_s"] = (untraced["op_p50_s"], "s")
    out["op_tail_s"] = (untraced["op_tail_s"], "s")
    out["op_tail_pct"] = (untraced["op_tail_pct"], "pct")
    out["error_rate"] = (untraced["error_rate"], "ratio")
    out["peak_rss_mb"] = (res["peak_rss_kb"] / 1024, "MB")
    for k in ["files", "rows", "bytes"]:
        out[f"input.{k}"] = (sizes[k], "count" if k == "files" else k)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (build.sbt and src/ not found)", 2)
    build.ensure_built(root)
    t_begin = time.time()
    name, wl = args.workload, WORKLOADS[args.workload]
    os.makedirs(os.path.join(root, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{name}-{args.seed}-", dir=os.path.join(root, ".bench_work"))
    try:
        data = os.path.join(work, "data")
        sizes, manifest = make_inputs(root, name, wl, args.seed, data)
        t1 = time.time()
        res = run_jvm(root, name, wl, args, work, data, t_begin)
        t2 = time.time()
        stream_info = None
        if name == "etl_stream":
            wrong, stream_info = check.check_stream(work, manifest, res["check"])
        else:
            wrong = check.check_queries(data, work, wl["ops"], res["check"]["failed"])
        print(f"timing: inputs={t1 - t_begin:.1f}s jvm={t2 - t1:.1f}s "
              f"(build {res['session_build_s']:.1f}s init {res['workload_init_s']:.1f}s "
              f"warmup {res['warmup_s']:.1f}s timed {res['untraced']['wall_s']:.1f}s "
              f"check {res['check']['check_s']:.1f}s) oracle={time.time() - t2:.1f}s")
        untraced = op_stats(res["untraced"], wrong)
        e2e = {"setup_s": (res["setup_s"], "s"),
               "ops_per_s": (untraced["ops_per_s"], "op/s"),
               "op_p50_s": (untraced["op_p50_s"], "s"),
               "op_tail_s": (untraced["op_tail_s"], "s"),
               "error_rate": (untraced["error_rate"], "ratio"),
               "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB")}
        print(f"workload={name} seed={args.seed} loop={wl['loop']} "
              f"ops={untraced['n']} tail=p{untraced['op_tail_pct']} inputs={json.dumps(sizes)}")
        print("end_to_end: " + " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in e2e.items()))
        print(f"correct={not wrong} wrong={json.dumps(wrong, ensure_ascii=False)[:2000]} "
              f"failed_ops={untraced['failed_ops']}")
        print("ops: " + " ".join(f"{o['name']}={o['dur_s']:.3f}s" for o in res["untraced"]["ops"]))
        if "ops" in res["check"]:
            print("check: " + " ".join(f"{o['name']}={o['dur_s']:.3f}s"
                                       for o in res["check"]["ops"]))
        print("warmup: " + " ".join(f"{o['name']}={o['dur_s']:.3f}s{' FAILED ' + o['err'] if o['err'] else ''}"
                                    for o in res["warmup_ops"]))
        print("settings: " + json.dumps(res["settings"]))
        for phase in ["untraced", "traced"]:
            if res.get(phase, {}).get("cut"):
                print(f"note: the {phase} timed phase reached its share of the run's time "
                      f"and stopped after {len(res[phase]['ops'])} ops")
        if args.trace:
            traced = op_stats(res["traced"], wrong)
            metrics = layer_metrics(res, name, untraced, traced, sizes, stream_info, work)
            os.makedirs(os.path.join(root, ".bench_out"), exist_ok=True)
            with open(os.path.join(root, ".bench_out", f"{name}-seed{args.seed}-spans.jsonl"),
                      "w") as f:
                for s in res["spans"]:
                    f.write(json.dumps(s) + "\n")
            print("layer_to_end_to_end: " + json.dumps(LAYER_TO_E2E))
        else:
            metrics = {k: e2e[k] for k in END_TO_END}
        print(json.dumps({
            "correct": not wrong and untraced["failed"] == 0,
            "attempted": untraced["n"],
            "failed": untraced["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
