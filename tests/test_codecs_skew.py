"""Codecs (flumecodec analog), O21 log-method passthrough, skew utils."""

import functools

import pytest
from pyspark.sql import functions as F

from flumedb_spark import Flume, ParquetLog, Reduce
from flumedb_spark.codecs import CODECS
from flumedb_spark.operators import skew


def test_raw_codec_roundtrip(spark, tmp_log_dir):
    db = Flume(ParquetLog(tmp_log_dir, codec="raw"), spark=spark)
    db.append(["hello", "world"])
    assert db.get(0) == "hello"
    assert db.stream(seqs=False) == ["hello", "world"]
    with pytest.raises(TypeError):
        db.append({"not": "a string"})
    db.close()


def test_binary_codec_roundtrip(spark, tmp_log_dir):
    db = Flume(ParquetLog(tmp_log_dir, codec="binary"), spark=spark)
    payload = bytes(range(256))
    db.append([payload])
    assert db.get(0) == payload
    db.close()


def concat(acc, item):
    return (acc or "") + item


def test_raw_codec_with_mapper_and_view(spark, tmp_log_dir):
    # mapper + reduce run through the codec, not hardcoded JSON. The
    # concat folds are order-sensitive and a view's feed is an unsorted
    # scan: the first catch-up spans four log files of growing size (the
    # scan plans bigger files first), so only the views' own seq sort,
    # sequential or with a combiner, reproduces the left fold
    db = Flume(
        ParquetLog(tmp_log_dir, codec="raw"),
        mapper=lambda s: s.upper(),
        spark=spark,
    )
    db.use("concat", Reduce(1, concat))
    db.use("concat_par", Reduce(1, concat, combiner=lambda a, b: a + b))
    batches = [list("ab"), list("cdefg"), list("hijklmnopq"), list("rstuvwxyz0123456789")]
    for b in batches:
        db.append(b)
    assert len(db.log._load_meta()["files"]) == len(batches)
    assert db.get(0) == "A"
    want = functools.reduce(concat, [x.upper() for b in batches for x in b], None)
    assert db.concat.get() == want
    assert db.concat_par.get() == want
    db.close()


def test_log_method_passthrough_o21(spark, tmp_log_dir):
    class LogWithExtras(ParquetLog):
        methods = {"commit_count": "sync"}

        def commit_count(self):
            return self._meta["commits"]

    db = Flume(LogWithExtras(tmp_log_dir), spark=spark)
    db.append({"foo": 1})
    db.append({"foo": 2})
    assert db.commit_count() == 2
    db.close()

    class BadKind(ParquetLog):
        methods = {"x": "async"}

        def x(self):
            return 1

    with pytest.raises(ValueError):
        Flume(BadKind(tmp_log_dir + "2"), spark=spark)

    class Clashing(ParquetLog):
        methods = {"append": "sync"}

    with pytest.raises(ValueError):
        Flume(Clashing(tmp_log_dir + "3"), spark=spark)


def test_codec_registry(spark):
    assert set(CODECS) == {"json", "raw", "binary"}


# ---- skew utilities ------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 90% of rows share key 0 (hot key), unique row ids for salting
    rows = [(i, i % 10 if i % 10 < 2 else 0, f"v{i}") for i in range(2000)]
    return spark.createDataFrame(rows, "row_id long, k long, payload string")


def test_salted_join_equals_plain_join(spark, skewed_df):
    dim = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(10)], "k long, dim_name string"
    )
    plain = skewed_df.join(dim, "k").select("row_id", "dim_name")
    salted = skew.salted_join(skewed_df, dim, "k", "row_id", n_salts=8).select(
        "row_id", "dim_name"
    )
    assert sorted((r.row_id, r.dim_name) for r in plain.collect()) == sorted(
        (r.row_id, r.dim_name) for r in salted.collect()
    )


def test_salted_distinct_count(spark, skewed_df):
    expected = {
        r.k: r.n
        for r in skewed_df.groupBy("k")
        .agg(F.countDistinct("payload").alias("n"))
        .collect()
    }
    got = {
        r.k: r.n_distinct
        for r in skew.salted_distinct_count(
            skewed_df, "k", "payload", "row_id", n_salts=8
        ).collect()
    }
    assert got == expected


def test_salt_is_deterministic(spark, skewed_df):
    a = {r.row_id: r._salt for r in skew.with_salt(skewed_df, "row_id", 8).collect()}
    b = {r.row_id: r._salt for r in skew.with_salt(skewed_df, "row_id", 8).collect()}
    assert a == b  # retries reproduce identical salts (exactly-once safe)


def test_salted_join_spreads_hot_key_partitions(spark, skewed_df):
    """The POINT of salting: under a shuffle join (broadcast disabled),
    the join keys are (k, _salt), so one hot key hashes across n_salts
    reducer partitions instead of one. Assert the plan keys include the
    salt and that the hot key's rows actually land in >1 shuffle
    partition."""
    from flumedb_spark.operators import skew
    from pyspark.sql import functions as F

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dim = skewed_df.select("k").distinct().withColumn("dim_name", F.concat(F.lit("d"), "k"))
        s = skew.with_salt(skewed_df, "row_id", 8)
        # the hot key's (k=0, 90% of rows) rows spread across >1 salt
        n_salts_hot = (
            s.where(F.col("k") == 0).select("_salt").distinct().count()
        )
        assert n_salts_hot > 1, "hot key not spread across salts"
        joined = skew.salted_join(skewed_df, dim, "k", "row_id", n_salts=8)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan  # join keys carry the salt
        assert "BroadcastHashJoin" not in plan  # really a shuffle join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
