"""Skew fixture: the synthetic token table plants a hot source (src-00
carries ~50% of rows — FIXTURES.md F1)."""

from pyspark.sql import functions as F


def test_source_skew_exists(spark):
    from sbse.tokens import synth

    tok = synth(spark, 4000)
    share = (
        tok.groupBy("source").count().orderBy(F.desc("count")).limit(1).collect()[0]
    )
    assert share["source"] == "src-00"
    assert share["count"] > 4000 * 0.4  # the planted hot source
