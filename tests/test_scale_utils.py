"""Scale trades: approximate percentiles against the exact ones."""

from __future__ import annotations


def test_percentile_approx_matches_exact_within_tolerance(spark):
    """The documented 100 TB path for value_percentiles swaps exact
    percentile() for percentile_approx (t-digest-style sketch); pin the
    epsilon so the swap is a measured trade, not a hope."""
    from pyspark.sql import functions as F

    from catalyst_spark.tables import load
    from tests.conftest import SF_DIR

    events = load(spark, SF_DIR, "events")
    row = events.agg(
        F.expr("percentile(value, 0.95)").alias("exact"),
        F.expr("percentile_approx(value, 0.95, 10000)").alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) <= 0.01 * abs(row["exact"])
