import pytest


def test_running_total_signed_values_across_partitions(spark):
    """running_total must match a single-partition prefix sum for
    SIGNED values: partition offsets come from each partition's total
    (max of the running sum would overshoot wherever the sum peaks
    mid-partition, corrupting every later offset — the sweep-line
    regression)."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.keys import running_total

    # +1/-1 stream whose running sum peaks early inside each range
    rows = [(i, 1 if (i % 5) < 2 else -1) for i in range(2000)]
    df = spark.createDataFrame(rows, "t long, delta long").repartition(16)
    got = {
        r.t: r.cum
        for r in running_total(df, [F.col("t").asc()], "delta", "cum").collect()
    }
    run = 0
    for i, (_, d) in enumerate(rows):
        run += d
        assert got[i] == run, f"at t={i}: {got[i]} != {run}"


@pytest.mark.parametrize("parts", [1, 7, 16])
def test_running_totals_two_columns_share_one_order(spark, parts):
    """running_totals: both output columns must equal their own global
    prefix sums over the shared order — including a signed column —
    whatever the input partitioning."""
    from pyspark.sql import functions as F

    from sfcrimedatapipeline_spark.operators.keys import running_totals

    rows = [(i, i % 7, 1 if (i % 3) == 0 else -1) for i in range(1500)]
    df = spark.createDataFrame(rows, "t long, a long, b long").repartition(parts)
    got = {
        r.t: (r.cum_a, r.cum_b)
        for r in running_totals(
            df, [F.col("t").asc()], [("a", "cum_a"), ("b", "cum_b")]
        ).collect()
    }
    ra = rb = 0
    for t, a, b in rows:
        ra += a
        rb += b
        assert got[t] == (ra, rb), f"at t={t}: {got[t]} != {(ra, rb)}"


def test_dense_ids_values_match_python_sort(spark):
    """dense_ids: dense 1..N longs in (k NULLS LAST, s) order — ties on
    k broken by s — identical under every input partitioning."""
    from sfcrimedatapipeline_spark.operators.keys import dense_ids

    n = 1200
    rows = [(None if i % 11 == 0 else i % 13, (i * 7919) % n) for i in range(n)]
    df = spark.createDataFrame(rows, "k int, s long")
    want = {
        s: i + 1
        for i, (_, s) in enumerate(
            sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[1]))
        )
    }
    for parts in (1, 7, 16):
        out = dense_ids(df.repartition(parts), ["k", "s"], "id")
        assert out.columns == ["id", "k", "s"]
        assert out.schema["id"].dataType.simpleString() == "bigint"
        got = {r.s: r.id for r in out.collect()}
        assert got == want, f"{parts} partitions"
