"""Names, units and meanings of every metric the benchmark reports.

BENCHMARK.json lists the same names; tests/test_perfbench_self.py
keeps the two in step.
"""

from __future__ import annotations

# name -> (unit, better, meaning). Every workload reports all three.
END_TO_END = {
    "setup_s": ("s", "lower",
                "median of three set-ups: input generation + SparkSession start + untimed warm-up"),
    "op_p50_ms": ("ms", "lower",
                  "median latency of one operation: a request (query); an ingest micro-batch, "
                  "a versioned-table commit, read, lookup or maintenance step, or a near-dup "
                  "pass (pipeline)"),
    "ops_per_s": ("1/s", "higher",
                  "operations completed per second the client spent waiting on the engine"),
}

# name -> (unit, better, meaning). Emitted by traced runs; 0 where a workload leaves
# the layer idle.
PER_LAYER = {
    "driver.peak_rss_mb": ("MB", "lower",
                           "peak RSS (VmHWM) of the driver Python process plus its JVM while measured"),
    "session.start_s": ("s", "lower", "median SparkSession start (get_spark) per set-up"),
    "session.warmup_s": ("s", "lower", "median untimed warm-up per set-up"),
    "inputs.gen_s": ("s", "lower", "median input generation per set-up"),
    "session.rehearsal_s": ("s", "lower", "untimed rehearsal of the measured loop, after the first set-up"),
    "tables.load_ms": ("ms", "lower", "median per request of time inside load_table"),
    "api.build_ms": ("ms", "lower", "median QueryAPI method call until its DataFrame is returned"),
    "api.exec_ms": ("ms", "lower", "median collect of a request's DataFrame"),
    "api.jobs": ("count", "lower", "mean Spark jobs per request"),
    "api.tasks": ("count", "lower", "mean Spark tasks per request"),
    "result_cache.hit_ratio": ("ratio", "higher", "cached() calls served from a stored entry"),
    "result_cache.key_ms": ("ms", "lower", "median per request of time inside plan_key"),
    "result_cache.hit_ms": ("ms", "lower", "median cached() call on a hit"),
    "result_cache.miss_ms": ("ms", "lower", "median cached() call on a miss (materialize + store)"),
    "result_cache.bytes_written": ("bytes", "lower", "bytes of cache entries written"),
    "streaming.batches": ("count", "lower", "micro-batches that read input"),
    "streaming.trigger_ms": ("ms", "lower", "median triggerExecution per micro-batch"),
    "streaming.sink_ms": ("ms", "lower", "median addBatch (the foreachBatch sink) per micro-batch"),
    "streaming.engine_ms": ("ms", "lower", "median trigger time outside addBatch"),
    "streaming.state_rows": ("rows", "lower", "dedup state rows after the last micro-batch"),
    "streaming.state_commit_ms": ("ms", "lower", "median state store commit per micro-batch"),
    "streaming.dup_drop_ratio": ("ratio", "higher", "input rows dropped as duplicates / input rows"),
    "upsert.ms": ("ms", "lower", "median upsert_into_table call"),
    "upsert.jobs": ("count", "lower", "mean Spark jobs per upsert"),
    "upsert.write_tasks": ("count", "lower", "mean tasks in the final stage of an upsert's last job"),
    "upsert.files_written": ("count", "lower", "parquet files the upserts added"),
    "upsert.bytes_written": ("bytes", "lower", "bytes of parquet files the upserts added"),
    "upsert.partitions_touched": ("count", "lower", "mean day partitions an upsert wrote"),
    "upsert.rewrite_ratio": ("ratio", "lower", "base rows rewritten / batch rows persisted"),
    "versioned.commit_ms": ("ms", "lower", "median apply_changes_mor call"),
    "versioned.commit_jobs": ("count", "lower", "mean Spark jobs per commit"),
    "versioned.files_written": ("count", "lower", "mean data files a commit added"),
    "versioned.snapshot_files": ("count", "lower", "mean live snapshot files after a commit"),
    "versioned.read_plan_ms": ("ms", "lower", "median read_version/stats_lookup/bloom_lookup call (lazy plan)"),
    "versioned.read_plan_jobs": ("count", "lower", "mean Spark jobs launched while building a read"),
    "versioned.read_exec_ms": ("ms", "lower", "median collect of a read"),
    "versioned.skip_ratio": ("ratio", "higher", "mean share of snapshot files a read did not scan"),
    "versioned.compact_ms": ("ms", "lower", "median materialize_deletes + compact_files step"),
    "versioned.space_amp": ("ratio", "lower", "mean bytes on disk / live snapshot bytes after a commit"),
    "dedup.ms": ("ms", "lower", "median dedup_canonical_corpus build + collect"),
    "dedup.candidate_pairs": ("count", "lower", "document pairs the cluster step grouped together"),
    "dedup.candidate_precision": ("ratio", "higher", "grouped pairs that share a planted original / grouped pairs"),
    "dedup.recall": ("ratio", "higher", "planted near-duplicate documents removed / planted"),
    "similarity.ms": ("ms", "lower", "median semantic_dedup build + collect"),
    "similarity.recall": ("ratio", "higher", "planted near-neighbour vectors dropped / planted"),
    "spark.jobs": ("count", "lower", "jobs in the measured window"),
    "spark.stages": ("count", "lower", "stages that ran tasks"),
    "spark.tasks": ("count", "lower", "tasks"),
    "spark.task_run_ms": ("ms", "lower", "summed executor run time"),
    "spark.task_cpu_ms": ("ms", "lower", "summed executor CPU time"),
    "spark.gc_ms": ("ms", "lower", "summed JVM GC time in tasks"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "shuffle bytes read"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "shuffle bytes written"),
    "spark.output_bytes": ("bytes", "lower", "bytes written by tasks"),
    "spark.output_files": ("count", "lower", "files written by SQL write commands"),
    "spark.driver_gap_ms": ("ms", "lower", "measured wall time during which no job ran"),
    "spark.busy_ratio": ("ratio", "higher", "task run time / (measured wall time x cores)"),
    "arrow.python_ms": ("ms", "lower", "Python worker start + init + run time"),
    "arrow.bytes_to_python": ("bytes", "lower", "bytes sent to Python workers"),
    "arrow.bytes_from_python": ("bytes", "lower", "bytes returned from Python workers"),
}
