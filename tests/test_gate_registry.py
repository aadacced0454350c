"""The gate registry contract the benchmark relies on: every registered
query has a DuckDB oracle, and every builder is reachable on the entry
module under its own name (the tracer patches builders by ``__name__``)."""

import __spark_entry__ as e


def test_every_query_has_an_oracle():
    assert set(e.queries()) == set(e.oracle_sql())


def test_builders_are_entry_attributes_under_their_names():
    bad = [n for n, fn in e.queries().items() if getattr(e, fn.__name__, None) is not fn]
    assert not bad
