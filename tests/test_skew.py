"""Skew-mitigation operators: results must equal the unsalted plans on
a deliberately zipfian dataset (one hub key holding most rows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from codegraph_spark.operators.skew import salted_count_distinct, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    # hub symbol 'hub' gets 5000 references, 50 cold keys get 10 each
    hub = spark.range(5000).select(
        F.lit("hub").alias("sym"), F.col("id").alias("ref_id")
    )
    cold = spark.range(500).select(
        F.concat(F.lit("s"), (F.col("id") % 50).cast("string")).alias("sym"),
        (F.col("id") + 10_000).alias("ref_id"),
    )
    return hub.unionByName(cold).persist()


@pytest.fixture(scope="module")
def dim(spark):
    syms = [("hub", "Hub Symbol")] + [(f"s{i}", f"Symbol {i}") for i in range(50)]
    return spark.createDataFrame(syms, "sym string, display string")


def test_salted_join_equals_plain(skewed, dim):
    plain = skewed.join(dim, ["sym"]).select("sym", "ref_id", "display")
    salted = salted_join(skewed, dim, on=["sym"], n_salt=8).select(
        "sym", "ref_id", "display"
    )
    assert salted.exceptAll(plain).isEmpty()
    assert plain.exceptAll(salted).isEmpty()


def test_salted_join_spreads_hub(skewed, dim):
    salted = salted_join(skewed, dim, on=["sym"], n_salt=8)
    # the hub rows must carry >1 distinct salt before the drop — proxy:
    # recompute the salt expression and count shards for the hub key
    n_shards = (
        skewed.filter(F.col("sym") == "hub")
        .select(F.pmod(F.xxhash64("sym", "ref_id"), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert n_shards > 1
    assert salted.count() == 5500


def test_salted_count_distinct(skewed):
    got = {
        r["sym"]: r["n_distinct"]
        for r in salted_count_distinct(skewed, "sym", "ref_id", n_salt=8).collect()
    }
    want = {
        r["sym"]: r["n"]
        for r in skewed.groupBy("sym")
        .agg(F.countDistinct("ref_id").alias("n"))
        .collect()
    }
    assert got == want


def test_salted_self_pairs_hub_shingle(spark):
    """Planted hub shingle (100 docs share it → 4950 pairs): results
    identical to the plain self-join, and the salted build side is
    bounded per shuffle shard instead of one 100-row hot task."""
    from codegraph_spark.operators.skew import salted_self_pairs

    hub = spark.range(100).select(
        F.concat(F.lit("d"), F.lpad(F.col("id").cast("string"), 3, "0")).alias("doc_id"),
        F.lit("the").alias("shingle"),
    )
    cold = spark.range(300).select(
        F.concat(F.lit("d"), F.lpad((F.col("id") % 60).cast("string"), 3, "0")).alias("doc_id"),
        F.concat(F.lit("sh"), F.col("id").cast("string")).alias("shingle"),
    )
    sh = hub.unionByName(cold).persist()

    n_salt = 8
    got = salted_self_pairs(sh, ["shingle"], "doc_id", n_salt=n_salt, hot_threshold=50)
    a, b = sh.alias("a"), sh.alias("b")
    want = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()
    assert got.count() == want.count()  # multiset equality incl. dup co-occurrences

    # per-shard bound on the salted build side: no (key, salt) shard
    # holds more than ~3x the fair share of the hub's 100 rows
    shard_sizes = (
        sh.join(
            sh.groupBy("shingle").agg(F.count("*").alias("n")).filter("n > 50").select("shingle"),
            "shingle", "left_semi",
        )
        .withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)))
        .groupBy("shingle", "_salt")
        .agg(F.count("*").alias("rows"))
    )
    max_shard = shard_sizes.agg(F.max("rows")).collect()[0][0]
    assert max_shard <= 3 * (100 // n_salt)



@pytest.mark.parametrize("n_salt", [0, -1])
def test_salted_self_pairs_rejects_empty_salt_range(spark, n_salt):
    """n_salt < 1 has no salt range (the replica sequence counts down,
    pmod by 0 is NULL): it must raise instead of returning other pairs."""
    from codegraph_spark.operators.skew import salted_self_pairs

    df = spark.createDataFrame([("d0", "k"), ("d1", "k")], "doc_id string, shingle string")
    with pytest.raises(ValueError, match="n_salt"):
        salted_self_pairs(df, ["shingle"], "doc_id", n_salt=n_salt, hot_threshold=0)

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 4)),
    min_size=1, max_size=30,
))
def test_salted_self_pairs_fuzz(spark, rows):
    """Random (doc, key) multisets: salted pair generation is always
    multiset-identical to the naive self-join, across hot thresholds."""
    from codegraph_spark.operators.skew import salted_self_pairs

    df = spark.createDataFrame(
        [(f"d{d}", f"k{k}") for d, k in rows], "doc_id string, shingle string"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in salted_self_pairs(
            df, ["shingle"], "doc_id", n_salt=4, hot_threshold=3
        ).collect()
    )
    a, b = df.alias("a"), df.alias("b")
    want = sorted(
        (r["doc_a"], r["doc_b"])
        for r in a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        ).collect()
    )
    assert got == want
