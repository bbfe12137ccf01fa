"""asof_join tie determinism: several right rows sharing (key, ts) must
always match the same row — the max of the value-column tuple — no matter
how the shuffle delivers them (last(ignorenulls) over a window ordered
only by (ts, side) picks an arbitrary equal-ts row)."""

from __future__ import annotations

from pyspark.sql import functions as F

from petfinder_database_distributor_spark.operators.joins import asof_join


def test_asof_equal_ts_right_rows_match_deterministically(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p0"), (2, 10, "p2")],
        "k long, ts long, pid string",
    )
    # three right rows share (k=1, ts=100); two share (k=1, ts=40)
    right = spark.createDataFrame(
        [(1, 100, 7), (1, 100, 9), (1, 100, 8), (1, 40, 3), (1, 40, 4), (2, 99, 1)],
        "k long, ts long, rid long",
    )
    for _ in range(3):  # repeated runs: different partitionings, same pick
        out = {
            r["pid"]: r["matched_rid"]
            for r in asof_join(
                left.repartition(5),
                right.repartition(7),
                keys=["k"],
                left_ts="ts",
                right_ts="ts",
                right_value_cols=["rid"],
            ).collect()
        }
        assert out["p1"] == 9, "ties at equal ts must resolve to max rid"
        assert out["p0"] == 4
        assert out["p2"] is None, "no prior right row -> left-outer null"
