"""Registry-ordering invariants: the external correctness gate evaluates
only the FIRST 50 ``load_all()`` entries, so the ordering contract —
every query family represented inside that window — must never rot as
new queries register."""

from __future__ import annotations

from syslog_kafka_spark.plans.registry import WINDOW_PRIORITY, load_all


def test_every_family_lands_in_the_gate_window():
    inventory = load_all()
    window = list(inventory.values())[:50]
    window_families = {spec.family for spec in window}
    all_families = {spec.family for spec in inventory.values()}
    # since r4 there is no exception: the scans oracles were rewritten
    # over inline VALUES, so every family sits inside the gate window
    assert all_families == window_families


def test_window_priority_is_exactly_the_gate_size():
    assert len(WINDOW_PRIORITY) == 50
    assert len(set(WINDOW_PRIORITY)) == 50


def test_window_leads_with_oracle_gated_queries():
    inventory = load_all()
    window = list(inventory.items())[:50]
    rows_only = {name for name, spec in window if spec.oracle is None}
    # every window entry is hash-oracled since r4: SemDeDup (the last
    # rows-only holdout) gained a frozen-centroid oracle
    assert rows_only == set()


def test_every_no_oracle_query_names_a_hash_gated_twin():
    """The 3 by-design rows-only queries (engine-specific approx sketches
    + the replay throughput probe) each point at the hash-gated query —
    or pinned pytest floor — that covers the same mechanism, so 'ungated'
    is a documented pairing, not an asterisk."""
    import os

    inventory = load_all()
    for name, spec in inventory.items():
        if spec.oracle is not None:
            assert spec.gated_twin is None, f"{name}: twin on an oracled query"
            continue
        twin = spec.gated_twin
        assert twin, f"{name}: oracle=None requires gated_twin"
        if "::" in twin:
            path, test_name = twin.split("::", 1)
            # anchor to the repo root so pytest run from any CWD resolves
            # the twin file (twin paths are repo-relative by convention)
            root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            path = os.path.join(root, path)
            assert os.path.exists(path), f"{name}: twin file {path} missing"
            with open(path) as fh:
                assert f"def {test_name}(" in fh.read(), (
                    f"{name}: twin test {twin} not found"
                )
        else:
            assert twin in inventory, f"{name}: twin query {twin} unregistered"
            assert inventory[twin].oracle is not None, (
                f"{name}: twin {twin} is not hash-gated"
            )


def test_decorator_forwards_every_registration_field():
    """r9 regression pin: the @query decorator silently DROPPED its
    ``bench`` argument (accepted, never forwarded to QuerySpec), so
    bench=False queries kept being swept. Assert every decorator
    parameter round-trips into the stored spec."""
    from syslog_kafka_spark.plans.registry import load_all

    inventory = load_all()
    mp = inventory["llm_simhash_multiprobe"]
    assert mp.bench is False  # the output-bound pair query is not swept
    assert inventory["llm_simhash_pair_digest"].bench is True
    # family/oracle/doc/gated_twin forwarding is covered by the other
    # tests in this file; bench was the one field with no consumer-side
    # assertion until the r9 sweep caught it.


def test_docs_state_the_registry_counts():
    """README.md and ARCHITECTURE.md quote the inventory size and the
    number of oracle-gated queries; both must match the registry."""
    import os
    import re

    inventory = load_all()
    counts = (len(inventory), sum(spec.oracle is not None for spec in inventory.values()))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def read(name):
        with open(os.path.join(root, name)) as f:
            return " ".join(f.read().split())

    readme, architecture = read("README.md"), read("ARCHITECTURE.md")
    (size,) = re.findall(r"(\d+)-query inventory", readme)
    ((gated, of),) = re.findall(r"(\d+) of the (\d+) carry a DuckDB oracle", readme)
    ((registered, hashed),) = re.findall(r"(\d+) queries registered; (\d+) hash-gated", architecture)
    assert (int(size), int(gated)) == counts
    assert int(of) == counts[0]
    assert (int(registered), int(hashed)) == counts
