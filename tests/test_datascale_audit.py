"""The 10x audit's JSON merge (tools/datascale_query_audit.py): a run over
a name subset replaces those rows and keeps every other one. No Spark
needed — merge_audit is pure."""

from tools.datascale_query_audit import merge_audit


def _row(s1, s10):
    return {"sec_1x": s1, "sec_10x": s10, "ratio": round(s10 / s1, 2)}


def test_subset_run_keeps_untouched_rows_and_replaces_retimed_ones():
    old = {
        "replicas": 10,
        "sf_1x": "/data/sf0.1",
        "queries": {"a": _row(1.0, 2.0), "b": _row(1.0, 3.0), "c": _row(2.0, 2.0)},
    }
    new = {"replicas": 10, "sf_1x": "/data/sf0.1", "queries": {"b": _row(0.5, 1.0), "d": _row(1.0, 1.0)}}
    merged = merge_audit(old, new)
    assert merged["queries"] == {
        "a": _row(1.0, 2.0),
        "b": _row(0.5, 1.0),
        "c": _row(2.0, 2.0),
        "d": _row(1.0, 1.0),
    }
    assert merged["replicas"] == 10 and merged["sf_1x"] == "/data/sf0.1"
    assert set(old["queries"]) == {"a", "b", "c"}  # inputs are not mutated

