"""Write path / formats / mutations tests (SURVEY.md §2.1, §3.2)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from clickhouse_clickhouse_spark.sources.formats import read_any, write_any
from clickhouse_clickhouse_spark.sources.write import (
    insert_partitioned, mutate_delete, mutate_update, optimize_compact,
)


@pytest.fixture
def sample(spark):
    return spark.createDataFrame(
        [(i, i % 3, float(i) * 1.5, f"row{i}") for i in range(100)],
        "id long, part int, val double, name string")


def test_insert_partitioned_layout_and_roundtrip(spark, sample, tmp_path):
    path = str(tmp_path / "t")
    insert_partitioned(sample, path, partition_by=["part"], sort_by=["id"])
    back = spark.read.parquet(path)
    assert back.count() == 100
    # partition dirs exist -> partition pruning is a directory skip
    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == \
        ["part=0", "part=1", "part=2"]
    # pruned read touches one partition only
    assert back.filter(F.col("part") == 1).count() == 33


def test_format_roundtrips(spark, sample, tmp_path):
    for fmt in ("parquet", "orc", "csv", "json", "xml"):
        p = str(tmp_path / fmt)
        write_any(sample, p, fmt)
        back = read_any(spark, p, fmt, schema=sample.schema if fmt != "csv" else None)
        assert back.count() == 100, fmt
        got = {r.id for r in back.select("id").collect()}
        assert got == set(range(100)), fmt


def test_format_needs_jars_raises(spark, sample, tmp_path):
    with pytest.raises(NotImplementedError):
        write_any(sample, str(tmp_path / "x"), "delta")
    with pytest.raises(ValueError):
        write_any(sample, str(tmp_path / "x"), "bogus")
    # avro no longer gates (round-5 from-scratch codec): full round trip
    from clickhouse_clickhouse_spark.sources.formats import read_any

    p = str(tmp_path / "a")
    write_any(sample, p, "avro")
    back = read_any(spark, p, "avro")
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, sample.collect()))


def test_mutate_update(spark, sample, tmp_path):
    path = str(tmp_path / "t")
    sample.write.parquet(path)
    mutate_update(spark, path, {"val": F.lit(-1.0)}, F.col("id") < 10)
    back = spark.read.parquet(path)
    assert back.filter(F.col("val") == -1.0).count() == 10
    assert back.count() == 100


def test_mutate_delete(spark, sample, tmp_path):
    path = str(tmp_path / "t")
    sample.write.parquet(path)
    mutate_delete(spark, path, F.col("part") == 0)
    back = spark.read.parquet(path)
    assert back.count() == 66
    assert back.filter(F.col("part") == 0).count() == 0


def test_optimize_compact(spark, sample, tmp_path):
    path = str(tmp_path / "t")
    sample.repartition(8).write.parquet(path)
    optimize_compact(spark, path, sort_by=["id"], target_files=1)
    back = spark.read.parquet(path)
    assert back.count() == 100
    import glob
    assert len(glob.glob(path + "/*.parquet")) == 1


def test_write_compression_codecs(spark, sample, tmp_path):
    import glob
    for codec, ext in [("zstd", ".zstd.parquet"), ("gzip", ".gz.parquet")]:
        p = str(tmp_path / f"c_{codec}")
        write_any(sample, p, "parquet", compression=codec)
        files = glob.glob(p + "/*.parquet")
        assert files and any(ext in f for f in files), (codec, files)
        assert spark.read.parquet(p).count() == 100


def test_bloom_filter_skip_index(spark, sample, tmp_path):
    """bloom_filter skip-index analog: the parquet footer carries a bloom
    filter for the flagged column, and point lookups still read correctly."""
    path = str(tmp_path / "bf")
    insert_partitioned(sample, path, sort_by=["id"],
                       bloom_filter_cols=["name"])
    assert spark.read.parquet(path).filter(F.col("name") == "row42").count() == 1
    # bloom filter bytes make the flagged file strictly larger than an
    # identical write without it (pyarrow in this env doesn't expose the
    # bloom offset in metadata, so compare footprints)
    import glob, os
    plain = str(path) + "_plain"
    insert_partitioned(sample, plain, sort_by=["id"])
    size_bf = sum(os.path.getsize(f) for f in glob.glob(path + "/*.parquet"))
    size_plain = sum(os.path.getsize(f) for f in glob.glob(plain + "/*.parquet"))
    assert size_bf > size_plain


def test_system_tables_surface(spark, sf_dir, tmp_path):
    from clickhouse_clickhouse_spark.sources.system_tables import (
        apply_ch_settings, system_columns, system_numbers, system_one,
        system_parts, system_settings, system_tables,
    )

    assert system_one(spark).collect() == [Row(dummy=0)]
    assert system_numbers(spark, 5).agg(F.sum("number")).collect()[0][0] == 10

    spark.createDataFrame([(1, "x")], "k int, v string") \
         .createOrReplaceTempView("sys_probe")
    tables = system_tables(spark)
    assert tables.filter(F.col("name") == "sys_probe").count() == 1
    cols = {r.name: r.type for r in
            system_columns(spark, "sys_probe").collect()}
    assert cols == {"k": "int", "v": "string"}

    path = str(tmp_path / "pt")
    spark.read.parquet(f"{sf_dir}/nation.parquet") \
         .write.partitionBy("n_regionkey").parquet(path)
    parts = system_parts(spark, path, table="nation")
    rows = parts.collect()
    assert len(rows) >= 5 and all(r.bytes_on_disk > 0 for r in rows)
    assert parts.agg(F.sum("rows")).collect()[0][0] == 25

    assert system_settings(spark).filter(
        F.col("name") == "spark.sql.shuffle.partitions").count() == 1

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    applied = apply_ch_settings(
        spark, {"max_bytes_in_join_to_broadcast": 12345678})
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "12345678"
    assert applied["max_bytes_in_join_to_broadcast"][0] == \
        "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    try:
        apply_ch_settings(spark, {"definitely_unknown": 1})
        raise AssertionError("should have raised")
    except KeyError:
        pass


def test_partition_attach_detach_drop(spark, sf_dir, tmp_path):
    from clickhouse_clickhouse_spark.sources.write import (
        attach_partition, detach_partition, drop_partition,
    )

    path = str(tmp_path / "adm")
    spark.read.parquet(f"{sf_dir}/nation.parquet") \
         .write.partitionBy("n_regionkey").parquet(path)
    assert spark.read.parquet(path).count() == 25

    detach_partition(path, "n_regionkey", 2)
    assert spark.read.option("basePath", path).parquet(path).count() == 20
    attach_partition(path, "n_regionkey", 2)
    assert spark.read.parquet(path).count() == 25
    drop_partition(path, "n_regionkey", 2)
    assert spark.read.parquet(path).count() == 20


def test_column_ttl_nulls_expired_columns(spark, tmp_path):
    import datetime

    from clickhouse_clickhouse_spark.sources.write import apply_column_ttl

    T0 = datetime.datetime(2024, 1, 1)
    rows = [(i, T0 + datetime.timedelta(days=i), f"pii{i}", float(i))
            for i in range(6)]
    path = str(tmp_path / "ttl")
    spark.createDataFrame(rows, "k int, ts timestamp, pii string, v double") \
         .write.parquet(path)
    apply_column_ttl(spark, path, "ts",
                     F.lit(T0 + datetime.timedelta(days=3)), ["pii"])
    out = {r.k: (r.pii, r.v) for r in spark.read.parquet(path).collect()}
    assert all(out[k][0] is None for k in (0, 1, 2))      # expired: nulled
    assert all(out[k][0] == f"pii{k}" for k in (3, 4, 5))  # fresh: kept
    assert all(out[k][1] == float(k) for k in range(6))    # other col intact


def test_sort_projection_routing_and_pruning(spark, sf_dir, tmp_path):
    from clickhouse_clickhouse_spark.plans.sort_projection import (
        SortProjection, route_scan,
    )

    base = spark.read.parquet(f"{sf_dir}/orders.parquet")
    proj = SortProjection(path=str(tmp_path / "by_cust"),
                          order_by=("o_custkey",))
    proj.build(base)

    routed = route_scan(spark, base, [proj], ["o_custkey"])
    got = routed.filter(F.col("o_custkey") == 371) \
                .agg(F.count("*"), F.sum("o_totalprice")).collect()
    want = base.filter(F.col("o_custkey") == 371) \
               .agg(F.count("*"), F.sum("o_totalprice")).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # routes back to base when keys don't match
    assert route_scan(spark, base, [proj], ["o_orderdate"]) is base


def test_optimize_deduplicate_and_modify_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from clickhouse_clickhouse_spark.sources.write import (
        modify_column_type, optimize_deduplicate,
    )

    p = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 5), (1, "a", 5), (1, "b", 9), (2, "a", 7)],
        "k long, s string, v long").write.parquet(p)

    # all-columns dedup drops only the exact-duplicate row
    optimize_deduplicate(spark, p)
    assert spark.read.parquet(p).count() == 3

    # keyed dedup keeps the first row per k ordered by v desc
    optimize_deduplicate(spark, p, by=["k"], order_by=["v"])
    rows = {r.k: (r.s, r.v) for r in spark.read.parquet(p).collect()}
    assert rows == {1: ("a", 5), 2: ("a", 7)}

    # MODIFY COLUMN v -> reference type name maps through types_map
    modify_column_type(spark, p, "v", "Float64")
    assert dict(spark.read.parquet(p).dtypes)["v"] == "double"
    assert {r.v for r in spark.read.parquet(p).collect()} == {5.0, 7.0}


def test_system_formats(spark):
    from clickhouse_clickhouse_spark.sources.system_tables import (
        system_formats,
    )

    f = {r.name: (r.is_output, r.is_input)
         for r in system_formats(spark).collect()}
    assert f["JSONEachRow"] == (True, True)
    assert f["Regexp"] == (False, True)
    assert f["Pretty"] == (True, False)
    assert len(f) >= 20


def test_system_query_log(spark):
    """system.query_log records dialect statements with normalized
    forms, queryable from dialect SQL itself."""
    from clickhouse_clickhouse_spark.ch_sql import ch_sql, ch_statement

    spark.createDataFrame([(1,)], "k int") \
        .createOrReplaceTempView("__ql_t")
    ch_sql(spark, "SELECT k FROM __ql_t WHERE k = 42")
    ch_statement(spark, "DESCRIBE __ql_t")
    log = ch_sql(spark, "SELECT query_kind, normalized_query "
                        "FROM system.query_log").collect()
    kinds = [r.query_kind for r in log]
    assert "Select" in kinds and "Describe" in kinds
    assert any(r.normalized_query == "SELECT k FROM __ql_t WHERE k = ?"
               for r in log)
    # repeated parameterized calls share one normalized form
    ch_sql(spark, "SELECT k FROM __ql_t WHERE k = 77")
    log2 = ch_sql(spark, "SELECT count() AS n FROM system.query_log "
                         "WHERE normalized_query = "
                         "'SELECT k FROM __ql_t WHERE k = ?'").collect()
    assert log2[0].n >= 2


def test_arrow_ipc_roundtrip(spark, sf_dir, tmp_path):
    """Arrow IPC format: per-partition IPC files round-trip through
    write_any/read_any with schema inference from the file footer."""
    from clickhouse_clickhouse_spark.sources.formats import (
        read_any,
        write_any,
    )
    from clickhouse_clickhouse_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")
    p = str(tmp_path / "arrow")
    write_any(o, p, "arrow")
    back = read_any(spark, p, "arrow")
    assert sorted(map(str, back.collect())) == \
        sorted(map(str, o.collect()))


DATA_DIR = "spark.clickhouse_clickhouse_spark.dataDir"


def _create_file_backed(spark, tmp_path, ddl):
    """CREATE a MergeTree table whose parts live under ``tmp_path``."""
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    spark.conf.set(DATA_DIR, str(tmp_path))
    try:
        ch_statement(spark, ddl)
    finally:
        spark.conf.set(DATA_DIR, "")


def test_string_partition_key_keeps_its_type(spark, tmp_path):
    """A String PARTITION BY key stays a string through INSERT, SELECT,
    OPTIMIZE FINAL and a later INSERT, because every read of the table
    directory uses the DDL schema. With the schema inferred, the view
    read the key as an int ('007' came back as 7), the merge rewrote
    ``code=007`` as ``code=7``, and a later key 'x9' was stored as
    NULL."""
    import os

    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    _create_file_backed(spark, tmp_path,
                        "CREATE TABLE pk_str (code String, v Int64) "
                        "ENGINE = MergeTree PARTITION BY code ORDER BY v")

    def rows():
        return [tuple(r) for r in ch_statement(
            spark, "SELECT code, v FROM pk_str ORDER BY v").collect()]

    def insert(*pairs):
        ch_statement(spark, "INSERT INTO pk_str FORMAT JSONEachRow",
                     [f'{{"code": "{c}", "v": {v}}}' for c, v in pairs])

    insert(("007", 1), ("42", 2))
    assert rows() == [("007", 1), ("42", 2)]
    ch_statement(spark, "OPTIMIZE TABLE pk_str FINAL").collect()
    assert sorted(d for d in os.listdir(tmp_path / "pk_str")
                  if d.startswith("code=")) == ["code=007", "code=42"]
    assert rows() == [("007", 1), ("42", 2)]
    insert(("x9", 3))
    assert rows() == [("007", 1), ("42", 2), ("x9", 3)]
    # the view is the DDL: its types, in declaration order (inference put
    # the partition column last, so a positional VALUES insert bound its
    # values to the wrong columns)
    assert spark.table("pk_str").dtypes == [("code", "string"),
                                             ("v", "bigint")]
    ch_statement(spark, "INSERT INTO pk_str VALUES ('y1', 4)")
    assert rows()[-1] == ("y1", 4)


def test_insert_list_payload_job_budget(spark, tmp_path):
    """A list-payload JSONEachRow INSERT into a file-backed table, status
    row collected, runs at most two Spark jobs: the payload enters
    through Arrow (no Python worker), the parsed rows are evaluated
    once (by the partitioned write; ``written`` is the payload's
    length), the view re-registers without inferring a schema, and the
    status row is collected without a job. A malformed line parses to
    an all-NULL row, so it is written and counted like any other."""
    import json

    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    _create_file_backed(spark, tmp_path,
                        "CREATE TABLE ins_budget (k Int64, v Int64) "
                        "ENGINE = MergeTree PARTITION BY k ORDER BY v")
    lines = [json.dumps({"k": i % 5, "v": i}) for i in range(200)]
    lines.insert(100, "{not json")
    sc = spark.sparkContext
    group = "test_insert_list_payload_job_budget"
    sc.setJobGroup(group, group)
    try:
        got = ch_statement(spark, "INSERT INTO ins_budget FORMAT "
                                  "JSONEachRow", lines).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert got == [Row(table="ins_budget", written=len(lines))]
    assert len(jobs) <= 2, jobs
    stored = spark.table("ins_budget")
    assert stored.count() == len(lines)
    assert stored.filter(F.col("v").isNull()).count() == 1



def test_alter_columns_survive_file_backed_reread(spark, tmp_path):
    """ALTER ADD/DROP COLUMN on a file-backed table changes its DDL
    schema too, which the view is re-read with after every INSERT and
    OPTIMIZE: an added column's inserted values read back, and a dropped
    column stays dropped though its old values are still on disk."""
    from clickhouse_clickhouse_spark.ch_sql import ch_statement

    _create_file_backed(spark, tmp_path,
                        "CREATE TABLE alt_files (k Int64, v Int64) "
                        "ENGINE = MergeTree PARTITION BY k ORDER BY v")

    def rows():
        return [tuple(r) for r in ch_statement(
            spark, "SELECT * FROM alt_files ORDER BY v").collect()]

    ch_statement(spark, "INSERT INTO alt_files FORMAT JSONEachRow",
                 ['{"k": 1, "v": 1}'])
    ch_statement(spark, "ALTER TABLE alt_files ADD COLUMN note "
                        "Nullable(String)")
    ch_statement(spark, "INSERT INTO alt_files FORMAT JSONEachRow",
                 ['{"k": 2, "v": 2, "note": "hi"}'])
    assert rows() == [(1, 1, None), (2, 2, "hi")]
    ch_statement(spark, "OPTIMIZE TABLE alt_files FINAL").collect()
    assert rows() == [(1, 1, None), (2, 2, "hi")]
    ch_statement(spark, "ALTER TABLE alt_files DROP COLUMN note")
    ch_statement(spark, "INSERT INTO alt_files FORMAT JSONEachRow",
                 ['{"k": 3, "v": 3}'])
    assert spark.table("alt_files").columns == ["k", "v"]
    assert rows() == [(1, 1), (2, 2), (3, 3)]
    show = ch_statement(spark, "SHOW CREATE TABLE alt_files").first()[0]
    assert "note" not in show
