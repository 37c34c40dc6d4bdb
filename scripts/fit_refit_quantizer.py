"""Regenerate syslog_kafka_spark/operators/ivf_refit_frozen.py — the
FROZEN 64-list re-fit coarse quantizer.

The √N-nlist rule, promoted from experiment to gated artifact: the
frozen 16-list quantizer (operators/ann_frozen.py) cannot grow with the
corpus, so at 10× data the blocked near-dup tier's block populations —
and its per-block all-pairs work — grow again (measured 3.72× pipeline,
scripts/neardup_nlist_experiment.py, deleted; see git history).
FAISS's deployment rule re-fits nlist ≈ √N: a 10× corpus gets √10 ≈
3.2× more lists, rounded up to the next power of two = 64, holding
per-block occupancy ~constant (measured
max occupancy 1881 → 808 at sf10, warm pipeline 2.12× over the sf1
frozen-16 baseline).

This script freezes that re-fit so llm_embedding_neardup_refit64 is a
pure function both engines hash-compare — the same pretrained pattern
as every other frozen structure in the repo. The fit mirrors the
experiment exactly (seed 909, first 20 000 vectors by vec_id, raw
float64, numpy k-means): the committed literals ARE the structure the
measured occupancy/cost cut came from.

Usage: python scripts/fit_refit_quantizer.py [sf_dir]
(default .bench/sf10 — regenerate the data first with
scripts/make_sf1.py if absent; the make is seeded, so the fit is
reproducible end to end).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from syslog_kafka_spark.operators.similarity import _kmeans_centroids  # noqa: E402

REFIT_NLIST = 64
REFIT_SEED = 909
REFIT_SAMPLE = 20000
OUT = os.path.join(REPO, "syslog_kafka_spark", "operators", "ivf_refit_frozen.py")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench", "sf10")

    src = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(src):  # Spark directory layout (make_sf1.py output)
        src = os.path.join(src, "*.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM '{src}' ORDER BY vec_id LIMIT {REFIT_SAMPLE}"
    ).fetchall()
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    centroids = _kmeans_centroids(mat, REFIT_NLIST, seed=REFIT_SEED)

    lines = [
        '"""FROZEN re-fit IVF coarse quantizer — GENERATED FILE.',
        "",
        f"Derived by scripts/fit_refit_quantizer.py (seed={REFIT_SEED}; "
        f"{REFIT_NLIST} lists,",
        f"fit on the first {REFIT_SAMPLE} vectors of {os.path.relpath(sf_dir, REPO)}",
        "embeddings — the √N re-fit for the 10× corpus, exactly the fit",
        "scripts/neardup_nlist_experiment.py (deleted; see git history)",
        "measured: max block occupancy 1881 → 808, warm sf10 pipeline 2.12×",
        "over the sf1 frozen-16 baseline). Frozen so",
        "llm_embedding_neardup_refit64 is a pure function both engines",
        'hash-compare. Regenerate with the script; never hand-edit."""',
        "",
        f"REFIT_NLIST = {REFIT_NLIST}",
        f"REFIT_SEED = {REFIT_SEED}",
        f"REFIT_SAMPLE = {REFIT_SAMPLE}",
        "",
        f"# ({REFIT_NLIST}, {mat.shape[1]}) re-fit k-means centroids",
        "IVF64_CENTROIDS: list[list[float]] = [",
    ]
    for c in centroids:
        lines.append("    [" + ", ".join(repr(float(x)) for x in c) + "],")
    lines.append("]")
    lines.append("")
    with open(OUT, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {OUT}: {REFIT_NLIST} x {mat.shape[1]} centroids")


if __name__ == "__main__":
    main()
