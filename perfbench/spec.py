"""The benchmark's metric catalogue: names, units and what each should move.

BENCHMARK.json at the repository root lists the same workloads and metrics
(the self-tests hold the two in step). Every run prints every end-to-end
metric; a traced run prints every per-layer metric. A traced run fails when
its workload does not yield exactly the per-layer metrics listed below as
measured on it; the others, whose layers it does not exercise, read 0.
"""

from __future__ import annotations

WORKLOADS = ("addresses_job", "pages_scan", "pages_stream", "spatial_joins")

# name -> (unit, better)
END_TO_END = {
    # session start + locator load + locator pack + one cold warm-up pass
    "setup_s": ("s", "lower"),
    # input rows (addresses, pages or query points) per second: the median of
    # rows / wall time over the timed operations (a job, a metrics query, a
    # whole stream drain, a pass over the spatial mix)
    "rows_per_s": ("rows/s", "higher"),
    # median latency of one timed step: a micro-batch's triggerExecution on
    # pages_stream; elsewhere the operation itself, so there it is the wall
    # time that rows_per_s divides the rows by
    "op_p50_ms": ("ms", "lower"),
    # peak resident set (VmHWM) of the driver Python plus the driver JVM
    "peak_rss_mb": ("MB", "lower"),
}

GEOCODE = ("addresses_job", "pages_scan", "pages_stream")
PAGES = ("pages_scan", "pages_stream")
SPATIAL_OPS = ("radius_join", "map_match", "pip_raycast", "knn_cell", "tile_rollup")
STREAM_PHASES = ("addBatch", "queryPlanning", "latestOffset", "getBatch",
                 "walCommit", "commitOffsets")

# name -> (unit, better, end-to-end metric it should move, workloads that
# measure it). Counts fixed by the inputs (rows out, error rows, batches)
# move only when the engine's results or layout change.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "setup_s", WORKLOADS),
    "pipeline.load_locators_s": ("s", "lower", "setup_s", WORKLOADS),
    "geocode.pack_locators_s": ("s", "lower", "setup_s", WORKLOADS),
    "geocode.cleanse_parse_s": ("s", "lower", "rows_per_s", ("addresses_job",)),
    "flowcontrol.health_probe_s": ("s", "lower", "rows_per_s", ("addresses_job",)),
    "batching.write_s": ("s", "lower", "rows_per_s", ("addresses_job",)),
    "batching.ledger_s": ("s", "lower", "rows_per_s", ("addresses_job",)),
    "batching.batches": ("count", "lower", "rows_per_s", ("addresses_job",)),
    "batching.bytes_written": ("B", "lower", "rows_per_s", ("addresses_job",)),
    "geocode.match_s": ("s", "lower", "rows_per_s", GEOCODE),
    "geocode.match_ratio": ("ratio", "higher", "rows_per_s", GEOCODE),
    # on pages_stream these four come from one micro-batch's input replayed
    # outside the stream
    "extraction.extract_and_parse_s": ("s", "lower", "rows_per_s", PAGES),
    "extraction.addresses_per_page": ("ratio", "higher", "rows_per_s", PAGES),
    "extraction.error_rows": ("count", "lower", "rows_per_s", PAGES),
    "geocode.geocode_metrics_s": ("s", "lower", "rows_per_s", PAGES),
    **{f"streaming.{p}_ms": ("ms", "lower", "op_p50_ms", ("pages_stream",))
       for p in STREAM_PHASES},
    "streaming.rows_per_batch": ("rows", "higher", "op_p50_ms", ("pages_stream",)),
    **{f"spatial.{op}_s": ("s", "lower", "op_p50_ms", ("spatial_joins",))
       for op in SPATIAL_OPS},
    **{f"spatial.{op}.rows_out": ("rows", "higher", "op_p50_ms", ("spatial_joins",))
       for op in SPATIAL_OPS},
    "caching.tracked_released": ("count", "lower", "peak_rss_mb", WORKLOADS),
    # traced minus untraced, measured in the same traced run
    "trace.rows_per_s_delta": ("rows/s", "higher", "rows_per_s", WORKLOADS),
    "trace.op_p50_ms_delta": ("ms", "lower", "op_p50_ms", WORKLOADS),
}
