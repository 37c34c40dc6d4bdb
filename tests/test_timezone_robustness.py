"""The grading driver supplies its own SparkSession, possibly with a
non-UTC session timezone. __spark_entry__ must produce identical results
anyway (its _utc wrapper pins the tz per call)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_matches_oracle


@pytest.mark.parametrize("name", ["window_lag_lead_gaps", "scalar_datetime_funcs", "syslog_parse_corpus"])
def test_queries_survive_non_utc_session(spark, duck, sf_dir, name):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = entrymod.queries()[name](spark, sf_dir)
        assert_matches_oracle(df, duck, entrymod.oracle_sql()[name], name=name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_ns_timestamps_read_through_the_driver_contract(spark, sf_dir, tmp_path):
    """An events file with nanosecond timestamps (pyarrow's default unit)
    reads through __spark_entry__ on a session that has none of
    session.RESULT_CONFS set, as the driver's own session may not: a batch
    and a streaming builder give the same rows as on the µs file. No
    loader sets a conf, so this holds only because the entry sets them."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from scripts.driver_sim import canon_rows
    from syslog_kafka_spark.model import TABLE_NAMES
    from syslog_kafka_spark.session import RESULT_CONFS

    ns_dir = tmp_path / "sf_ns"
    ns_dir.mkdir()
    for name in TABLE_NAMES:
        if name != "events":
            os.symlink(os.path.join(sf_dir, f"{name}.parquet"), ns_dir / f"{name}.parquet")
    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).replace_schema_metadata(None)
    ts = events.schema.get_field_index("ts")
    events = events.set_column(ts, "ts", events.column("ts").cast(pa.timestamp("ns")))
    ns_events = str(ns_dir / "events.parquet")
    pq.write_table(events, ns_events, coerce_timestamps=None)
    assert pq.read_schema(ns_events).field("ts").type == pa.timestamp("ns")

    foreign = spark.newSession()
    builds = entrymod.queries()
    for name in ("window_lag_lead_gaps", "stream_sliding_window_agg"):
        for key in RESULT_CONFS:
            foreign.conf.unset(key)
        got = canon_rows(builds[name](foreign, str(ns_dir)).toPandas())
        want = canon_rows(builds[name](foreign, sf_dir).toPandas())
        assert got == want, name
    # the ns column was read as raw longs, not as µs timestamps
    assert isinstance(foreign.read.parquet(ns_events).schema["ts"].dataType, LongType)
