"""Compute the expected results the analytics slice is checked against.

For every slice query with a DuckDB oracle this records the canonical
(columns, row count, hash) of the oracle's result, as
``scripts/driver_sim.canon_pandas`` computes it; for the replay query it
records the severity histogram implied by the corpus.
The oracles are slow at sf0.1 (minutes for the llm audits), so this runs
once and its output, ``perfbench/slice_expected.json``, is committed.

    python3 perfbench/make_expected.py --sf-dir <dir with the sf0.1 tables>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.slice import EXPECTED_PATH, REPLAY, SLICE  # noqa: E402


def replay_histogram(con) -> list[list]:
    """[severity, n] rows of the replay query, nulls first: the corpus
    parsed by the DuckDB twin of the parser, times the replay copies."""
    from syslog_kafka_spark.plans.extras import REPLAY_COPIES
    from syslog_kafka_spark.sources.syslog_fixtures import corpus_values_sql
    from syslog_kafka_spark.sources.syslog_parse import oracle_sql_for_lines

    sql = (
        f"SELECT severity, count(*) AS n FROM ({oracle_sql_for_lines(corpus_values_sql())}) "
        "GROUP BY severity ORDER BY severity NULLS FIRST"
    )
    return [[sev, int(n) * REPLAY_COPIES] for sev, n in con.execute(sql).fetchall()]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    import duckdb

    from scripts.driver_sim import TABLES, canon_pandas
    from syslog_kafka_spark.plans.registry import load_all

    specs = load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')")
    queries = {}
    for name in SLICE:
        if name == REPLAY:
            continue
        t0 = time.perf_counter()
        cols, rows, digest = canon_pandas(con.execute(specs[name].oracle).df())
        queries[name] = {"cols": cols, "rows": rows, "hash": digest}
        print(f"{name}: rows={rows} hash={digest} ({time.perf_counter() - t0:.1f} s)", flush=True)
    out = {
        "scale": os.path.basename(os.path.normpath(args.sf_dir)),
        "queries": queries,
        "replay_histogram": replay_histogram(con),
    }
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
