"""As-of join and connected-components unit semantics (edge cases the
oracle corpus doesn't exercise)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from docling_api_spark.operators.asof import asof_join, connected_components_star


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "L1"),
         (1, _ts("2024-01-01T12:00:00"), "L2"),
         (2, _ts("2024-01-01T09:00:00"), "L3")],  # before any right row
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30:00"), 100),
         (1, _ts("2024-01-01T11:00:00"), 200),
         (2, _ts("2024-01-01T11:00:00"), 300)],
        "k int, rts timestamp, rid int",
    )
    out = {
        r["tag"]: r["rid"]
        for r in asof_join(left, right, "k", "ts", "rts", ["rid"]).collect()
    }
    assert out == {"L1": 100, "L2": 200, "L3": None}


def test_asof_equal_ts_visible_and_tiebreak(spark):
    """A right row exactly at the left ts matches (<=); two right rows
    at the same instant tie-break to the greatest payload."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "L")], "k int, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 7), (1, _ts("2024-01-01T10:00:00"), 9)],
        "k int, rts timestamp, rid int",
    )
    [row] = asof_join(left, right, "k", "ts", "rts", ["rid"]).collect()
    assert row["rid"] == 9


def test_asof_tolerance_drops_stale_matches(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "L")], "k int, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T08:00:00"), 5)], "k int, rts timestamp, rid int"
    )
    [near] = asof_join(left, right, "k", "ts", "rts", ["rid"], tolerance_seconds=3 * 3600).collect()
    [far] = asof_join(left, right, "k", "ts", "rts", ["rid"], tolerance_seconds=3600).collect()
    assert near["rid"] == 5 and far["rid"] is None


def test_connected_components_chain(spark):
    """A 4-node chain, a pair and an isolated node: every node labelled
    with its component's minimum id, the isolated one with its own."""
    edges = spark.createDataFrame([(10, 20), (20, 30), (30, 40), (50, 60)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in (10, 20, 30, 40, 50, 60, 70)], "id long")
    lab = {r["id"]: r["label"] for r in connected_components_star(edges, nodes).collect()}
    assert lab == {10: 10, 20: 10, 30: 10, 40: 10, 50: 50, 60: 50, 70: 70}
