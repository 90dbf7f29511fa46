"""Names and units of every metric the benchmark reports.

BENCHMARK.json lists the same names; ``smoke.py`` checks that the two
agree and that a run emits each one.
"""

from __future__ import annotations

from harness import END_TO_END_UNITS as END_TO_END
from workloads import CURATION_QUERIES

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "readers.load_table_s": ("s", "lower"),
    "readers.scan_floor_s": ("s", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.execute_s": ("s", "lower"),
    "plans.build_share": ("fraction", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "pipeline.flagship_revenue_s": ("s", "lower"),
    "generators.generate_s": ("s", "lower"),
    "ingest.refresh_dimension_s": ("s", "lower"),
    "ingest.ingest_fact_batch_s": ("s", "lower"),
    "ingest.cycle_growth": ("ratio", "lower"),
    "writers.write_partitioned_parquet_s": ("s", "lower"),
    "writers.append_table_s": ("s", "lower"),
    "writers.files_written": ("count", "lower"),
    "writers.bytes_per_row": ("B/row", "lower"),
    "writers.partition_dirs": ("count", "lower"),
    "stream.trigger_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.query_planning_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.commit_offsets_ms": ("ms", "lower"),
    "stream.empty_trigger_ms": ("ms", "lower"),
    "stream.state_rows": ("count", "lower"),
    "stream.state_bytes": ("B", "lower"),
    "stream.enrich_write_s": ("s", "lower"),
    "stream.neardup_increment_s": ("s", "lower"),
    "queue.drain_rows_per_s": ("rows/s", "higher"),
}
for _q in CURATION_QUERIES:
    PER_LAYER[f"curation.{_q}.build_s"] = ("s", "lower")
    PER_LAYER[f"curation.{_q}.execute_s"] = ("s", "lower")
    PER_LAYER[f"curation.{_q}.jobs"] = ("count", "lower")
    PER_LAYER[f"curation.{_q}.tasks"] = ("count", "lower")
PER_LAYER["trace.overhead_frac"] = ("fraction", "lower")
PER_LAYER["trace.spans"] = ("count", "lower")
