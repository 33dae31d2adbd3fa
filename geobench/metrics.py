"""Metric definitions of the geotile benchmark.

Each layer metric names the end-to-end metric it should move and the
workloads where it should move it; the traced run writes this mapping
into its side file next to the values. A workload that never enters a
layer reports that layer's metrics as 0 (no work done there).
"""

END_TO_END = (
    # name, unit, better, definition
    ("setup_s", "s", "lower",
     "get_spark (JVM launch) + the job at warm-up size + the job once at full size"),
    ("job_s", "s", "lower", "median wall seconds of one timed full-size iteration"),
    ("rows_per_s", "1/s", "higher", "input rows (pages or kNN probes) / job_s"),
    ("peak_rss_mb", "MB", "lower", "peak summed RSS of driver JVM + Python workers while timed"),
    ("ok_frac", "frac", "higher", "1 - failed/attempted over all output checks of the run"),
)

FLAGSHIP = ("flagship",)
KNN = ("knn",)
ALL = FLAGSHIP + KNN

LAYERS = (
    # name, unit, better, moves, workloads
    ("session.start_s", "s", "lower", "setup_s", ALL),
    ("sources.pages.synth_s", "s", "lower", "rows_per_s", FLAGSHIP),
    ("sources.pages.rows", "count", "higher", "rows_per_s", FLAGSHIP),
    ("geo.cells.geocode_encode_s", "s", "lower", "rows_per_s", FLAGSHIP),
    ("geo.pip.cover_s", "s", "lower", "job_s", FLAGSHIP),
    ("geo.pip.cover_pairs", "count", "lower", "job_s", FLAGSHIP),
    ("geo_ops.pip_join.coarse_s", "s", "lower", "rows_per_s", FLAGSHIP),
    ("geo_ops.pip_join.candidate_rows", "count", "lower", "rows_per_s", FLAGSHIP),
    ("geo_ops.pip_join.refine_s", "s", "lower", "rows_per_s", FLAGSHIP),
    ("geo_ops.pip_join.python_rows", "count", "lower", "rows_per_s", FLAGSHIP),
    ("geo_ops.pip_join.python_total_s", "s", "lower", "rows_per_s", FLAGSHIP),
    ("geo_ops.pip_join.match_ratio", "ratio", "higher", "rows_per_s", FLAGSHIP),
    ("geo_ops.tile_aggregate.s", "s", "lower", "job_s", FLAGSHIP),
    ("geo_ops.tile_aggregate.shuffle_write_bytes", "bytes", "lower", "job_s", FLAGSHIP),
    ("geo_ops.tile_aggregate.tiles", "count", "higher", "job_s", FLAGSHIP),
    ("geo_ops.tile_aggregate.task_skew", "ratio", "lower", "job_s", FLAGSHIP),
    ("jobs_api.flagship.bhits_s", "s", "lower", "job_s", FLAGSHIP),
    ("jobs_api.flagship.scans", "count", "lower", "job_s", FLAGSHIP),
    ("jobs_api.flagship.python_stages", "count", "lower", "job_s", FLAGSHIP),
    ("jobs_api.flagship.exchanges", "count", "lower", "job_s", FLAGSHIP),
    ("geo_ops.knn_join.spark_jobs", "count", "lower", "job_s", KNN),
    ("geo_ops.knn_join.driver_gap_s", "s", "lower", "job_s", KNN),
    ("geo_ops.knn_join.executor_run_s", "s", "lower", "job_s", KNN),
    ("geo_ops.knn_join.shuffle_write_bytes", "bytes", "lower", "job_s", KNN),
    # the staged write/read path of jobs/flagship.py, run in the flagship's
    # traced pass; it is not part of any timed iteration
    ("io.checkpoint_write_s", "s", "lower", "none (staged path, traced only)", FLAGSHIP),
    ("io.bytes_written", "bytes", "lower", "none (staged path, traced only)", FLAGSHIP),
    ("io.checkpoint_read_s", "s", "lower", "none (staged path, traced only)", FLAGSHIP),
    ("spark.stages", "count", "lower", "peak_rss_mb, ok_frac", ALL),
    ("spark.tasks", "count", "lower", "peak_rss_mb, ok_frac", ALL),
    ("spark.tasks_failed", "count", "lower", "ok_frac", ALL),
    ("spark.spill_bytes", "bytes", "lower", "peak_rss_mb", ALL),
    ("spark.executor_cpu_s", "s", "lower", "job_s", ALL),
    ("trace.overhead_s", "s", "lower", "none (traced job_s minus untraced job_s)", ALL),
)

UNITS = {m[0]: m[1] for m in END_TO_END + LAYERS}
