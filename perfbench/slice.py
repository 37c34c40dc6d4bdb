"""The analytics slice: registry queries the ``analytics_slice`` workload
runs, and the expected-result file it is checked against."""

from __future__ import annotations

import json
import os
import time

SLICE = (
    "syslog_named_levels",
    "syslog_parse_corpus",
    "stream_replay_throughput",
    "scan_python_datasource",
    "join_bucketed_colocated",
    "llm_cluster_cohesion_audit",
    "llm_ann_recall_audit",
    "llm_minhash_band_digest",
    "kafka_decode_roundtrip",
    "agg_rollup_cascade",
    "tpch_large_volume_customers",
    "window_sessionize_30min",
    "sort_global_range_partitioned",
    "scalar_sql_scripting",
)

# The one slice query without a DuckDB oracle; its severity histogram is
# checked against counts derived from the replayed corpus instead.
REPLAY = "stream_replay_throughput"

# Slice queries that read only fixture data in the repository, not the sf
# tables; every traced ingest run times them, so the plans layer is
# measured without the tables.
FIXTURE_QUERIES = ("syslog_parse_corpus", "syslog_named_levels", "kafka_decode_roundtrip")

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slice_expected.json")


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def time_query(spark, spec, sf_dir: str, expected: dict, tracer, label: str) -> tuple[float, float, str | None]:
    """Build and collect one registry query in its own job group:
    (build s, collect s, None if the result matches ``expected``, else
    what differs)."""
    from perfbench.check import check_slice_result

    spark.sparkContext.setJobGroup(f"{label}:{spec.name}", spec.name)
    with tracer.span("spec.build", query=spec.name, phase=label):
        t0 = time.perf_counter()
        df = spec.build(spark, sf_dir)
        t1 = time.perf_counter()
    with tracer.span("collect", query=spec.name, phase=label):
        pdf = df.toPandas()
        t2 = time.perf_counter()
    return t1 - t0, t2 - t1, check_slice_result(spec.name, pdf, expected)
