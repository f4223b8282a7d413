"""The workloads: what each op is, the inputs it gets, and which layer
metric should move which end-to-end metric on it.

Every workload is a closed loop with one client: a single driver thread
issues the next op only after the previous one returns, on
``local[<cores>]``.  The timed phase ends at a pass boundary once it has
run ``min_ops`` ops and ``--seconds`` have passed.  ``min_ops`` is set so
that on a 4-core machine the work, not the clock, ends the phase: every
run then measures the same ops, and a run that happens to be fast does not
get an extra, warmer pass that a slow run misses.  BENCHMARK.json carries
one line per workload; the full record is here.

BENCHMARK.json lists etl_stream and corpus_dag.  olap_scan runs the same
way (``--workload olap_scan``) but is not listed: a run of it costs about
as much as a corpus_dag run (cold JIT over the scan/join/window code plus
q51_gap_fill), and three workloads at that cost do not fit the benchmark's
time budget.  corpus_dag therefore also carries one Relational and one
StreamingTwins query, so every operator module is measured by a listed
workload.  For the same budget corpus_dag runs at sf0.01 and runs two of
the job-heavy corpus DAGs, not all of them.
"""

WORKLOADS = {
    "etl_stream": {
        "why": "the paper's own ETL (classify, extract, normalize, enrich) and "
               "the write path: band/IVF index appends, _APPLIED markers, "
               "overlapped stage pools, the streaming commit log",
        "loop": "closed, 1 client",
        "op": "move one statement day folder into the directory watched by "
              "EventStreams.statementPipeline, then processAllAvailable(); timed "
              "from the folder becoming visible to the call returning",
        "inputs": "seeded statement days: 6 platforms x 4 business types + 2 "
                  "defect files per day, with a ground-truth manifest",
        # after one warm day the next still took ~1.5x as long as the ones
        # after it; two warm days bring the timed days to steady state
        "warm_days": 2,
        "days": 20,
        "min_ops": 4,
    },
    "corpus_dag": {
        "why": "LLM-corpus DAGs bound by driver jobs (~26 jobs per op, low "
               "executor busy share): where job-floor cuts and stage "
               "consolidation show; reads Dedup/Similarity/TextAnalysis in batch "
               "(tx_pipeline), plus q46_rfm_segment (a job-floor target) and "
               "st_sessionize so Relational and StreamingTwins stay measured",
        "loop": "closed, 1 client",
        "op": "one corpus DAG, its whole result written to the noop sink",
        "inputs": "seeded key-jittered copy of the generated tables "
                  "(seed sets key offsets and row order, 20k-row groups)",
        "sf": 0.01,
        # the two job-heavy DAGs run three times per pass and the three short
        # ops once, so the median op is a DAG
        "ops": ["dd_cluster_star", "ann_graph_walk", "tx_pipeline",
                "q46_rfm_segment", "st_sessionize",
                "dd_cluster_star", "ann_graph_walk", "dd_cluster_star",
                "ann_graph_walk"],
        "min_ops": 9,
    },
    "olap_scan": {
        "why": "executor-bound scan, join, aggregate and window work: where "
               "codegen, kernel, shuffle and plans (TopK, PrefixScan) work shows "
               "and a job-floor cut should not",
        "loop": "closed, 1 client",
        "op": "one Relational q* or StreamingTwins st_* query, its whole result "
              "written to the noop sink",
        "inputs": "seeded key-jittered copy of the generated tables "
                  "(seed sets key offsets and row order, 20k-row groups)",
        "sf": 0.05,
        "ops": ["q51_gap_fill", "q05_local_supplier", "q21_percentiles",
                "q24_topk_per_key", "st_sessionize"],
        "min_ops": 10,
    },
}

# the job-floor targets (the ops with the most driver jobs per op):
# dd_pipeline, tx_curation_incremental, dd_cluster_star, ann_graph_walk,
# ann_graph_walk_adaptive, tx_bpe_train, tx_bpe_tokenize, ann_pq_topk.
# op.<name>.s and op.<name>.jobs are reported for the ones a listed
# workload runs; corpus_dag leaves the others out to keep a run within
# the benchmark's time budget.
JOB_FLOOR_TARGETS = ["dd_cluster_star", "ann_graph_walk"]
assert set(JOB_FLOOR_TARGETS) <= set(WORKLOADS["corpus_dag"]["ops"])

# which end-to-end metric each layer metric should move, and where
LAYER_TO_E2E = {
    "GraftSession.build_s, warmup_s": "setup_s, all workloads",
    "spark.jobs, spark.stages, spark.tasks": "op_p50_s on corpus_dag; flat on olap_scan",
    "spark.job_gap_s": "op_p50_s on corpus_dag",
    "spark.executor_run_s, spark.executor_cpu_s, spark.busy_share": "ops_per_s on olap_scan",
    "spark.shuffle_write_bytes, spark.shuffle_read_bytes, spark.spill_bytes":
        "op_p50_s on olap_scan",
    "spark.result_bytes": "op_p50_s on corpus_dag; peak_rss_mb",
    "spark.gc_s, spark.failed_tasks": "op_tail_s, error_rate, all workloads",
    "sources.input_bytes, sources.input_rows, sources.files":
        "op_p50_s on olap_scan and etl_stream",
    "<Module>.calls/build_s/plan_s/exec_s/jobs": "op_p50_s on the workload calling it",
    "op.<name>.s, op.<name>.jobs": "op_p50_s on corpus_dag",
    "EventStreams.trigger_s/add_batch_s/latest_offset_s/query_planning_s/wal_commit_s":
        "op_p50_s on etl_stream",
    "EventStreams.stage.*_s, EventStreams.overlap_ratio": "op_p50_s on etl_stream",
    "EventStreams.late_early_ratio, index_rows, bytes_written_per_input_byte":
        "op_tail_s on etl_stream",
    "FundEtl.valid_ratio": "must not move (a correctness signal)",
}
