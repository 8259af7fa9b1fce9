"""with_sequence: deterministic total-order sequence assignment."""

from pyspark.sql import functions as F

from crawler_distributed_spark.operators.sequence import with_sequence


def test_sequence_basic(spark):
    df = spark.range(0, 500).select((F.col("id") * 37 % 500).alias("k"))
    out, n = with_sequence(df, ["k"], start=10, seq_col="seq")
    assert n == 500
    rows = sorted((r.k, r.seq) for r in out.collect())
    assert rows == [(i, 10 + i) for i in range(500)]


def test_sequence_survives_union_embedding(spark):
    """Regression: stage partition ids shift when the stamped frame is
    embedded in a union — the stamp must read the checkpoint's own
    partition index, not the union's. The filter is on ``k`` (not
    ``seq``) so the optimizer cannot prune ``other`` and the plan really
    holds a Union."""
    df = spark.range(0, 200).select((F.col("id") * 7 % 200).alias("k"))
    stamped, _ = with_sequence(df, ["k"], start=0, seq_col="seq")
    other = spark.range(0, 50, numPartitions=5).select(
        (F.col("id") + 1000).alias("k"), F.lit(-1).cast("long").alias("seq")
    )
    unioned = other.unionByName(stamped).where(F.col("k") < 1000)
    assert "Union" in unioned._jdf.queryExecution().executedPlan().toString()
    got = sorted((r.k, r.seq) for r in unioned.collect())
    assert got == [(i, i) for i in range(200)]


def test_sequence_multi_column_order(spark):
    df = spark.createDataFrame(
        [(1, 2), (0, 5), (1, 0), (0, 1), (2, 0)], "a int, b int"
    )
    out, _ = with_sequence(df, ["a", "b"], seq_col="seq")
    got = {(r.a, r.b): r.seq for r in out.collect()}
    assert got == {(0, 1): 0, (0, 5): 1, (1, 0): 2, (1, 2): 3, (2, 0): 4}


def test_sequence_empty(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    out, n = with_sequence(df, ["k"], seq_col="seq")
    assert out.count() == 0 and n == 0


def test_sequence_nullable_long_key(spark):
    """Nulls sort first (ascending) and take the lowest sequence numbers."""
    df = spark.createDataFrame(
        [(None, 0), (5, 1), (None, 2), (3, 3), (1, 4)], "k long, t int"
    ).repartition(3)
    out, n = with_sequence(df, ["k", "t"], start=100, seq_col="seq")
    assert n == 5
    got = [(r.k, r.t) for r in sorted(out.collect(), key=lambda r: r.seq)]
    assert got == [(None, 0), (None, 2), (1, 4), (3, 3), (5, 1)]
    assert sorted(r.seq for r in out.collect()) == list(range(100, 105))


def test_sequence_date_key(spark):
    df = spark.range(0, 300).select(
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") * 17 % 300).cast("int")).alias("d")
    )
    out, n = with_sequence(df, ["d"], seq_col="seq")
    assert n == 300
    rows = out.select(F.datediff("d", F.lit("2024-01-01")).alias("i"), "seq").collect()
    assert sorted((r.i, r.seq) for r in rows) == [(i, i) for i in range(300)]


def test_sequence_plan_is_jvm_only(spark):
    df = spark.range(0, 100).select((F.col("id") * 3 % 100).alias("k"))
    out, _ = with_sequence(df, ["k"], seq_col="seq")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
