"""The shared read cache (sources.tables.read_cached): every
feature-store read takes its schema from the session's cache instead of
launching a schema-inference job, and still sees every change to the
files or to the confs that shape inference."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from dbt_snowflake_feature_store_spark import Entity, FeatureView
from dbt_snowflake_feature_store_spark.sources.tables import read_cached


@pytest.fixture
def served(fs, spark, tmp_path):
    """An external FV over a parquet source, exported to the online store."""
    path = str(tmp_path / "cust.parquet")
    spark.createDataFrame(
        [(1, 10.0, 1.5), (2, 20.0, 2.5)], "cust_id INT, f_a DOUBLE, f_b DOUBLE"
    ).write.parquet(path)
    fs.register_source("cust_src", path)
    fs.register_entity(Entity(name="cust", join_keys=["cust_id"]))
    fs.register_feature_view(
        FeatureView("cust_fv", ["cust"], sql="SELECT cust_id, f_a FROM cust_src"),
        version="1",
    )
    fs.export_online_store("cust_fv", "1")
    return fs


def test_reregistered_fv_with_new_column_is_served(served):
    fs = served
    assert fs.online_lookup("cust_fv", "1", {"cust_id": 1}).columns == [
        "cust_id",
        "f_a",
    ]
    fs.register_feature_view(
        FeatureView(
            "cust_fv", ["cust"], sql="SELECT cust_id, f_a, f_b FROM cust_src"
        ),
        version="1",
        overwrite=True,
    )
    fs.export_online_store("cust_fv", "1")
    row = fs.online_lookup("cust_fv", "1", {"cust_id": 2}).collect()[0]
    assert row.asDict() == {"cust_id": 2, "f_a": 20.0, "f_b": 2.5}


def test_landed_batch_with_extra_column_is_seen(fs, spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    pq.write_table(pa.table({"id": [1], "v": [1.0]}), str(src / "b1.parquet"))
    fs.register_source("landing", str(src), options={"mergeSchema": "true"})
    doc = fs.registry.get("sources", "LANDING")
    assert fs._load_source(doc).columns == ["id", "v"]
    pq.write_table(
        pa.table({"id": [2], "v": [2.0], "w": ["x"]}), str(src / "b2.parquet")
    )
    df = fs._load_source(doc)
    assert df.columns == ["id", "v", "w"]
    assert sorted(map(tuple, df.collect())) == [(1, 1.0, None), (2, 2.0, "x")]


def test_inference_conf_toggle_is_followed(spark, tmp_path):
    path = str(tmp_path / "us.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_600_000_000_000_000], pa.timestamp("us"))}),
        path,
    )
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf)
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(conf, value)
            got = dict(read_cached(spark, path).dtypes)["ts"]
            assert got == dict(spark.read.parquet(path).dtypes)["ts"]
            assert got == ("timestamp_ntz" if value == "true" else "timestamp")
    finally:
        spark.conf.set(conf, prev)


def test_missing_path_raises_as_before(fs, spark, tmp_path):
    missing = str(tmp_path / "nope")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(missing)
    for read in (
        lambda: read_cached(spark, missing),
        lambda: fs.storage.read(spark, missing),
    ):
        with pytest.raises(AnalysisException) as cached:
            read()
        assert cached.value.getCondition() == plain.value.getCondition()


def test_partitioned_source_repairs_nanos_timestamps(fs, spark, tmp_path):
    """A TIMESTAMP(NANOS) column reads as bigint under nanosAsLong; the
    footer probe must find it in a partitioned layout too, not only in
    files directly under the source directory."""
    us = 1_600_000_000_000_000
    table = pa.table({"id": [1], "ts": pa.array([us * 1000 + 999], pa.timestamp("ns"))})
    flat, part = tmp_path / "flat", tmp_path / "part" / "dt=2024-01-01"
    flat.mkdir()
    part.mkdir(parents=True)
    pq.write_table(table, str(flat / "p0.parquet"))
    pq.write_table(table, str(part / "p0.parquet"))
    fs.register_source("flat_src", str(flat))
    fs.register_source("part_src", str(tmp_path / "part"))
    for name in ("FLAT_SRC", "PART_SRC"):
        df = fs._load_source(fs.registry.get("sources", name))
        assert dict(df.dtypes)["ts"] == "timestamp", name
        assert df.select(F.unix_timestamp("ts")).first()[0] == us // 1_000_000


def test_warm_online_lookup_is_one_job(served, count_jobs):
    fs = served
    fs.online_lookup("cust_fv", "1", {"cust_id": 1}).collect()  # warm
    assert count_jobs(
        lambda: fs.online_lookup("cust_fv", "1", {"cust_id": 1}).collect()
    ) == 1


def test_warm_scoring_launches_no_inference_job(served, spark, count_jobs):
    fs = served
    spine = spark.createDataFrame([(1,), (2,), (3,)], "cust_id INT")

    def score():
        out = fs.retrieve_online_features(spine, ["cust_fv"], ["1"])
        out.write.format("noop").mode("overwrite").save()
        return out

    built = score()  # warm
    write_only = count_jobs(
        lambda: built.write.format("noop").mode("overwrite").save()
    )
    assert count_jobs(
        lambda: fs.retrieve_online_features(spine, ["cust_fv"], ["1"])
    ) == 0
    assert count_jobs(score) == write_only
