"""Metric names, units and directions (mirrored in BENCHMARK.json).

Per-layer metrics are reported for every workload; a layer a workload
does not exercise reads 0 there. Time and byte totals are per pass:
one drain of the backlog on land_stream, one pass over the mix on
query_mix.
"""

from querymix import RELATIONAL, VECTOR

# setup_s       median of the run's set-ups (session start + warm-up)
# pass_s        one pass: the timed drain plus the readback audit on
#               land_stream, the best timed pass over the mix on query_mix
# op_p50_s      median operation: a micro-batch's triggerExecution, or
#               a query's best build + exec
# op_geomean_s  geometric mean of the same operation times
# pass_cpu_s    CPU seconds of the driver JVM, its Python workers and
#               the client during the pass (the drain on land_stream): unlike
#               wall time, it leaves out CPU the host steals
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("op_geomean_s", "s", "lower"),
    ("pass_cpu_s", "s", "lower"),
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.cold_start_s", "s", "lower"),
    ("catalog.tbl_first_s", "s", "lower"),
    ("catalog.tbl_warm_s", "s", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.exec_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("catalyst.s", "s", "lower"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("shuffle.write_mb", "MiB", "lower"),
    ("shuffle.read_mb", "MiB", "lower"),
    ("exec.spill_mb", "MiB", "lower"),
    ("python.udf_s", "s", "lower"),
    ("land.add_batch_s", "s", "lower"),
    ("land.latest_offset_s", "s", "lower"),
    ("land.get_batch_s", "s", "lower"),
    ("land.query_planning_s", "s", "lower"),
    ("land.wal_commit_s", "s", "lower"),
    ("land.commit_offsets_s", "s", "lower"),
    ("land.jobs_per_batch", "count", "lower"),
    ("land.batch_drift", "ratio", "lower"),
    ("land.read_bookkeeping_s", "s", "lower"),
    ("land.data_files", "count", "lower"),
    ("land.data_mb", "MiB", "lower"),
    ("land.book_files", "count", "lower"),
    ("land.parse_route_s", "s", "lower"),
    ("land.rows_in", "rows", "higher"),
    ("land.rows_landed", "rows", "higher"),
    ("land.bookkeeping_mismatch_logdates", "count", "lower"),
    ("notify.calls", "count", "lower"),
    ("notify.posts", "count", "lower"),
    ("notify.renotified", "count", "lower"),
    ("notify.failed", "count", "lower"),
    ("notify.s", "s", "lower"),
    ("driver.peak_rss_mb", "MiB", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    ("trace.unattributed_share", "ratio", "lower"),
] + [
    (f"q.{q}.{part}_s", "s", "lower")
    for q in RELATIONAL + VECTOR
    for part in ("build", "exec")
]
