"""Source readers (schema + rename maps — ETL_DAG.py:162-187 surface)
and truncate-and-load / dynamic-partition-overwrite sinks
(ETL_DAG.py:210-229 surface)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_dag_spark.functions.country import iso3_column, with_iso3
from etl_dag_spark.sources.readers import read_source
from etl_dag_spark.sources.sinks import overwrite_parquet


def test_read_csv_with_schema_and_rename(spark, tmp_path):
    p = tmp_path / "sales.csv"
    p.write_text("TXN_ID,AMOUNT\n1,10.5\n2,20.0\n")
    df = read_source(
        spark,
        str(p),
        fmt="csv",
        schema="TXN_ID int, AMOUNT double",
        rename={"TXN_ID": "transaction_id", "AMOUNT": "amount"},
    )
    assert df.columns == ["transaction_id", "amount"]
    assert df.schema.simpleString() == "struct<transaction_id:int,amount:double>"
    assert {(r.transaction_id, r.amount) for r in df.collect()} == {(1, 10.5), (2, 20.0)}


def test_rename_missing_column_raises(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a\n1\n")
    with pytest.raises(ValueError, match="missing columns"):
        read_source(spark, str(p), fmt="csv", schema="a int", rename={"nope": "b"})


def test_unsupported_format_raises(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        read_source(spark, "/dev/null", fmt="xml")


def test_overwrite_parquet_is_truncate_and_load(spark, tmp_path):
    path = str(tmp_path / "t")
    overwrite_parquet(spark.range(10).withColumnRenamed("id", "v"), path)
    overwrite_parquet(spark.range(3).withColumnRenamed("id", "v"), path)
    assert spark.read.parquet(path).count() == 3  # second load replaced the first


def test_dynamic_partition_overwrite_replaces_only_written_partitions(spark, tmp_path):
    path = str(tmp_path / "part")
    full = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)], "day string, v int"
    )
    overwrite_parquet(full, path, partition_by=["day"])
    # backfill ONE day; the other day's data must survive
    fix = spark.createDataFrame([("2024-01-02", 99)], "day string, v int")
    overwrite_parquet(fix, path, partition_by=["day"])
    # partition-column values come back type-inferred (here: date)
    got = {(str(r.day), r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 99)}
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == [
        "day=2024-01-01",
        "day=2024-01-02",
    ]


def test_country_iso3_aliases_and_unknowns(spark):
    df = spark.createDataFrame(
        [(1, "  united states "), (2, "UK"), (3, "Atlantis"), (4, "NATION_7"), (5, None)],
        "id int, country string",
    )
    got = {r.id: r.iso3 for r in df.select("id", iso3_column("country").alias("iso3")).collect()}
    assert got == {1: "USA", 2: "GBR", 3: None, 4: "DEU", 5: None}
    # broadcast-join variant must agree with the literal-map variant
    got2 = {r.id: r.country_iso3 for r in with_iso3(df, "country").collect()}
    assert got2 == got


def test_read_json_with_schema_and_rename(spark, tmp_path):
    p = tmp_path / "events.json"
    p.write_text('{"Id": 1, "Kind": "click"}\n{"Id": 2, "Kind": "view"}\n')
    df = read_source(
        spark, str(p), fmt="json",
        schema="Id bigint, Kind string",
        rename={"Id": "event_id", "Kind": "event_type"},
    )
    assert df.columns == ["event_id", "event_type"]
    assert {(r.event_id, r.event_type) for r in df.collect()} == {(1, "click"), (2, "view")}


def test_stratified_sample_proportions_and_determinism(spark):
    from etl_dag_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"
    a = SPARK_QUERIES["etl_stratified_sample"](spark, sf)
    b = SPARK_QUERIES["etl_stratified_sample"](spark, sf)
    rows_a = {r.order_id for r in a.collect()}
    rows_b = {r.order_id for r in b.collect()}
    assert rows_a == rows_b  # seeded → reproducible
    per = {r.priority: r["count"] for r in a.groupBy("priority").count().collect()}
    assert set(per) == {"1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"}
    for n in per.values():
        assert 200 <= n <= 400  # ~10% of ~3000 per stratum


def test_percentile_sketch_tracks_exact(spark):
    from etl_dag_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"
    approx = {
        r.event_type: (r.p50_approx, r.p90_approx)
        for r in SPARK_QUERIES["olap_percentiles_sketch"](spark, sf).collect()
    }
    exact = {
        r.event_type: (r.p50_value, r.p90_value)
        for r in SPARK_QUERIES["olap_percentiles"](spark, sf).collect()
    }
    for et, (a50, a90) in approx.items():
        e50, e90 = exact[et]
        assert abs(a50 - e50) <= max(0.5, 0.02 * abs(e50))
        assert abs(a90 - e90) <= max(0.5, 0.02 * abs(e90))


def test_orc_round_trip(spark, tmp_path):
    p = str(tmp_path / "t_orc")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").write.mode("overwrite").orc(p)
    df = read_source(spark, p, fmt="orc", rename={"v": "value"})
    assert df.columns == ["k", "value"]
    assert df.count() == 100
    assert df.agg({"value": "sum"}).first()[0] == sum(2 * i for i in range(100))


def test_fuzzy_country_resolution(spark):
    from etl_dag_spark.functions.country import fuzzy_iso3_frame

    df = spark.createDataFrame(
        [
            (1, "United States"),   # exact (alias map)
            (2, "UNTED STATES"),    # 1 edit → fuzzy USA
            (3, "GERMANI"),         # 2 edits → fuzzy DEU
            (4, "Atlantis"),        # nothing close → none
            (5, None),              # NULL stays none
            (6, "UNTED STATES"),    # duplicate name: same resolution
        ],
        "id int, country string",
    )
    got = {
        r.id: (r.country_iso3, r.match_kind)
        for r in fuzzy_iso3_frame(df, "country").collect()
    }
    assert got == {
        1: ("USA", "exact"),
        2: ("USA", "fuzzy"),
        3: ("DEU", "fuzzy"),
        4: (None, "none"),
        5: (None, "none"),
        6: ("USA", "fuzzy"),
    }


class _RecordingWriter:
    """Stands in for DataFrameWriter: records the builder chain so the
    JDBC sink's contract (format/mode/options/save) is testable without
    a warehouse or a JDBC driver jar on the classpath."""

    def __init__(self):
        self.fmt = None
        self.mode_ = None
        self.options = {}
        self.saved = False

    def format(self, fmt):
        self.fmt = fmt
        return self

    def mode(self, mode):
        self.mode_ = mode
        return self

    def option(self, key, value):
        self.options[key] = value
        return self

    def save(self):
        self.saved = True


class _FakeDF:
    def __init__(self, writer):
        self.write = writer


def test_overwrite_jdbc_truncate_and_load_contract():
    from etl_dag_spark.sources.sinks import overwrite_jdbc

    w = _RecordingWriter()
    overwrite_jdbc(
        _FakeDF(w),
        url="jdbc:postgresql://wh:5432/analytics",
        table="public.fact_sales",
        num_partitions=8,
        options={"driver": "org.postgresql.Driver", "user": "loader"},
    )
    assert w.saved
    assert w.fmt == "jdbc"
    assert w.mode_ == "overwrite"  # with truncate=true == TRUNCATE TABLE + load
    assert w.options["url"] == "jdbc:postgresql://wh:5432/analytics"
    assert w.options["dbtable"] == "public.fact_sales"
    assert w.options["truncate"] == "true"
    assert w.options["batchsize"] == "10000"
    assert w.options["numPartitions"] == "8"  # connection budget, not df partitions
    assert w.options["driver"] == "org.postgresql.Driver"
    assert w.options["user"] == "loader"


def test_overwrite_jdbc_without_truncate_drops_and_recreates():
    from etl_dag_spark.sources.sinks import overwrite_jdbc

    w = _RecordingWriter()
    overwrite_jdbc(_FakeDF(w), url="jdbc:h2:mem:t", table="t", truncate=False)
    assert w.saved and w.options["truncate"] == "false"
    assert "numPartitions" not in w.options


def test_read_evolved_reconciles_schema_drift(spark, tmp_path):
    """read_evolved over three schema generations: v1 (id, amt INT),
    v2 (id, amount DOUBLE — renamed + widened, new col region), v3
    (id, amount, region, legacy junk col). Target (id, amount DOUBLE,
    region, loaded INT default 1): old files fill missing columns with
    the default/NULL, the rename maps v1's amt, the junk column drops,
    and every column lands at the target type."""
    from etl_dag_spark.sources.readers import read_evolved

    src = str(tmp_path / "evolving")
    spark.createDataFrame([(1, 10)], "id long, amt int").write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(
        [(2, 20.5, "EU")], "id long, amount double, region string"
    ).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, 30.0, "NA", "junk")],
        "id long, amount double, region string, legacy string",
    ).write.mode("append").parquet(src)

    out = read_evolved(
        spark,
        src,
        "id bigint, amount double, region string, loaded int",
        rename={"amt": "amount"},
        defaults={"loaded": 1},
    )
    assert [f.simpleString() for f in out.schema.fields] == [
        "id:bigint", "amount:double", "region:string", "loaded:int"
    ]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].amount == 10.0 and rows[1].region is None and rows[1].loaded == 1
    assert rows[2].amount == 20.5 and rows[2].region == "EU"
    assert rows[3].region == "NA" and not hasattr(rows[3], "legacy")


def test_schema_memo_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A part file rewritten in place leaves its directory's mtime and
    size as they were; the memo must still serve the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_dag_spark.sources.tables import read_parquet_cached_schema

    ds = tmp_path / "ds"
    ds.mkdir()
    part = ds / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert read_parquet_cached_schema(spark, str(ds)).columns == ["a"]

    before = os.stat(ds)
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    os.utime(ds, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(ds)
    assert (after.st_mtime_ns, after.st_size) == (before.st_mtime_ns, before.st_size)

    df = read_parquet_cached_schema(spark, str(ds))
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]
