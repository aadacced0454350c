"""Parity suite for the r17 driver-local connected-components fast path.

``dedup_groups`` now replays its min-label propagation on the driver for
small pair sets (``_LOCAL_CC_MAX_EDGES`` cap, int/string ids, no NULLs).
The local path must be BIT-IDENTICAL to the distributed loop on every
shape, including the deliberately partial results the ``max_iterations``
backstop produces — these tests run both paths (the distributed one forced
via a cap of 0) and compare full row sets and schemas.
"""

import warnings

import pytest

from hyperdx_spark.pipeline import dedup
from hyperdx_spark.session import release


def both_paths(monkeypatch, pairs, **kw):
    persistent = pairs.sparkSession.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    local = dedup.dedup_groups(pairs, **kw)
    assert persistent().size() == before  # nothing persisted
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", -1)
    dist = dedup.dedup_groups(pairs, **kw)
    assert persistent().size() > before  # the distributed loop ran
    monkeypatch.undo()
    try:
        assert local.schema == dist.schema
        return sorted(map(tuple, local.collect())), sorted(
            map(tuple, dist.collect())
        )
    finally:
        release(dist)
        assert persistent().size() == before


def test_local_cc_parity_components(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9), (3, 1)], "id_a long, id_b long"
    )
    lo, di = both_paths(monkeypatch, pairs)
    assert lo == di
    assert lo == [
        (1, 1, True), (2, 1, False), (3, 1, False),
        (7, 7, True), (8, 7, False), (9, 9, True),
    ]


def test_local_cc_parity_string_ids(spark, monkeypatch):
    # includes a pair whose code-point order must match UTF8-binary order
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "é"), ("Z", "a"), ("x", "x")],
        "id_a string, id_b string",
    )
    lo, di = both_paths(monkeypatch, pairs)
    assert lo == di


def test_local_cc_parity_empty(spark, monkeypatch):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    lo, di = both_paths(monkeypatch, pairs)
    assert lo == di == []


def test_local_cc_parity_diameter_overflow(spark, monkeypatch):
    """A chain deeper than max_iterations: BOTH paths must warn and split
    the component into the SAME partial groups."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lo, di = both_paths(monkeypatch, pairs, max_iterations=2)
        assert (
            sum("did not converge" in str(x.message) for x in w) == 2
        )  # one warning per path
    assert lo == di
    assert len({g for _, g, _ in lo}) > 1  # genuinely split


def test_local_cc_convergence_exactly_at_cap_no_warning(spark, monkeypatch):
    """Fixed point reached on the LAST allowed round: the round still
    reports a change, so both paths warn identically (the backstop is a
    diameter bound, not a fixed-point proof) — and labels still agree."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        lo, di = both_paths(monkeypatch, pairs, max_iterations=4)
        n_warn = sum("did not converge" in str(x.message) for x in w)
    assert lo == di
    assert n_warn in (0, 2)  # never one-sided


def test_local_cc_null_endpoint_falls_back(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a int, id_b int"
    )
    assert dedup._dedup_groups_local(pairs, "id_a", "id_b", 20) is None


def test_local_cc_type_gates(spark):
    # float ids: SQL min/NaN semantics are not replayed locally — decline
    f = spark.createDataFrame([(1.0, 2.0)], "id_a double, id_b double")
    assert dedup._dedup_groups_local(f, "id_a", "id_b", 20) is None
    # mismatched endpoint types decline too
    m = spark.createDataFrame([(1, "2")], "id_a int, id_b string")
    assert dedup._dedup_groups_local(m, "id_a", "id_b", 20) is None


def test_local_cc_cap_falls_back(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "_LOCAL_CC_MAX_EDGES", 3)
    assert dedup._dedup_groups_local(pairs, "id_a", "id_b", 20) is None


def test_local_cc_custom_colnames(spark, monkeypatch):
    pairs = spark.createDataFrame([(5, 4)], "l long, r long")
    lo, di = both_paths(monkeypatch, pairs, a_col="l", b_col="r")
    assert lo == di == [(4, 4, True), (5, 4, False)]
