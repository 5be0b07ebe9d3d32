"""operators/rank.py::distributed_rank — exactness vs the single-task
window form, globally and per key (NULL keys included), on shuffled
input."""

from pyspark.sql import Window
from pyspark.sql import functions as F


def _events(spark):
    from delfos_etl_pipeline_spark.sources.parquet import load_table
    from tests.conftest import SF_DIR

    return (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "event_type", "ts", "value")
        .repartition(7)  # adversarial initial layout
    )


def test_global_rank_matches_window(spark):
    from delfos_etl_pipeline_spark.operators.rank import distributed_rank

    ev = _events(spark)
    got = distributed_rank(ev, order_cols=("ts", "event_id"))
    w = Window.orderBy("ts", "event_id")
    want = ev.withColumn("rn", F.row_number().over(w).cast("bigint"))
    assert (
        got.select("event_id", "rn")
        .exceptAll(want.select("event_id", "rn"))
        .count()
        == 0
    )
    n = ev.count()
    ranks = got.agg(
        F.min("rn"), F.max("rn"), F.count_distinct("rn")
    ).first()
    assert tuple(ranks) == (1, n, n)  # a permutation of 1..n


def test_per_key_rank_matches_window(spark):
    from delfos_etl_pipeline_spark.operators.rank import distributed_rank

    ev = _events(spark)
    got = distributed_rank(
        ev, order_cols=("ts", "event_id"), key_cols=("event_type",)
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    want = ev.withColumn("rn", F.row_number().over(w).cast("bigint"))
    assert (
        got.select("event_id", "rn")
        .exceptAll(want.select("event_id", "rn"))
        .count()
        == 0
    )
    # NULL keys rank as one more group: mixed with non-NULL keys, and
    # with every key NULL.
    base = spark.range(100).withColumn("o", (F.col("id") * 37) % 100)
    for k in (
        F.when(F.col("id") % 3 == 0, None).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 2).cast("string"))
        ),
        F.lit(None).cast("string"),
    ):
        df = base.withColumn("k", k)
        got = distributed_rank(df, order_cols=("o", "id"), key_cols=("k",))
        w = Window.partitionBy("k").orderBy("o", "id")
        want = df.withColumn("rn", F.row_number().over(w))
        assert sorted(got.select("id", "rn").collect()) == sorted(
            want.select("id", "rn").collect()
        )


def test_rank_column_name_and_no_internal_columns(spark):
    from delfos_etl_pipeline_spark.operators.rank import distributed_rank

    ev = _events(spark)
    got = distributed_rank(ev, order_cols=("ts", "event_id"), rank_col="pos")
    assert got.columns == [*ev.columns, "pos"]
