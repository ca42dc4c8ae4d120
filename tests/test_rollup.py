"""Range-partitioned cumulative sum (W4)."""


def test_global_cumsum_matches_window(spark):
    """Range-partitioned W4 cumsum == the single-partition global window."""
    import pyspark.sql.functions as F2
    from pyspark.sql.window import Window as W2
    from hexscape_spark.indexing import global_cumsum
    df = spark.range(5000).selectExpr("id", "CAST(id % 997 AS DOUBLE) AS v")
    got = global_cumsum(df, ["id"], "v", out="c").toPandas() \
        .sort_values("id").reset_index(drop=True)
    w = W2.orderBy("id").rowsBetween(W2.unboundedPreceding, 0)
    want = df.withColumn("c", F2.sum("v").over(w)).toPandas() \
        .sort_values("id").reset_index(drop=True)
    assert (abs(got.c.values - want.c.values) < 1e-6).all()
    # descending order too
    got_d = global_cumsum(df, ["id"], "v", out="c", ascending=False) \
        .toPandas().sort_values("id").reset_index(drop=True)
    w_d = W2.orderBy(F2.desc("id")).rowsBetween(W2.unboundedPreceding, 0)
    want_d = df.withColumn("c", F2.sum("v").over(w_d)).toPandas() \
        .sort_values("id").reset_index(drop=True)
    assert (abs(got_d.c.values - want_d.c.values) < 1e-6).all()
