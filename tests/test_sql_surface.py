"""The tab-3 SQL surface beyond SELECT (SURVEY §2.10 Q1 DML branch +
§2.1 S9 DDL executor): the reference's execute_query routes non-SELECT
statements to the database and reports rowcounts
(dashboard/timescaledb_model.py:655-690). The Spark restatement is
spark.sql DDL/DML against managed tables in the session warehouse."""

from __future__ import annotations

import pytest


@pytest.fixture()
def table(spark):
    name = "sql_surface_scratch"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_ddl_insert_select_roundtrip(spark, table):
    spark.sql(f"CREATE TABLE {table} (cid INT, value DOUBLE) USING parquet")
    spark.sql(f"INSERT INTO {table} VALUES (1, 10.5), (2, 20.0)")
    spark.sql(f"INSERT INTO {table} SELECT 3, 30.25")
    rows = spark.sql(f"SELECT * FROM {table} ORDER BY cid").collect()
    assert [(r.cid, r.value) for r in rows] == [(1, 10.5), (2, 20.0), (3, 30.25)]
    # catalog sees it; DESCRIBE works (the diagnostics surface)
    cols = {r.col_name for r in spark.sql(f"DESCRIBE TABLE {table}").collect()}
    assert {"cid", "value"} <= cols


def test_insert_overwrite_is_the_update_analogue(spark, table):
    """The reference's UPDATE/DELETE statements map to filtered
    INSERT OVERWRITE rewrites in Spark SQL (SURVEY §2.2 P8/P9)."""
    spark.sql(f"CREATE TABLE {table} (cid INT, value DOUBLE) USING parquet")
    spark.sql(f"INSERT INTO {table} VALUES (1, -5.0), (2, 20.0), (3, 0.0)")
    # Spark (correctly) refuses to overwrite a table it is reading in the
    # same statement — the rewrite stages through a scratch table first.
    staging = f"{table}_staging"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    try:
        spark.sql(f"""
            CREATE TABLE {staging} USING parquet AS
            SELECT cid, CASE WHEN value < 0 THEN 0.0 ELSE value END AS value
            FROM {table} WHERE value IS NOT NULL
        """)
        spark.sql(f"INSERT OVERWRITE {table} SELECT * FROM {staging}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
    rows = {r.cid: r.value for r in spark.sql(f"SELECT * FROM {table}").collect()}
    assert rows == {1: 0.0, 2: 20.0, 3: 0.0}


def test_tags_kv_set_get_overwrite_delete_compact(spark):
    """The reference's tags KV table (name VARCHAR PRIMARY KEY, value
    VARCHAR) as an append-only last-write-wins log: upsert, overwrite,
    tombstone delete, and compaction must all resolve correctly."""
    from real_big_data_project_spark.sources import tags as TG

    tbl = "tags_test_kv"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert TG.get_tag(spark, "schema_version", table=tbl) is None

    TG.set_tag(spark, "schema_version", "1", table=tbl)
    TG.set_tag(spark, "watermark", "2024-01-01", table=tbl)
    TG.set_tag(spark, "schema_version", "2", table=tbl)  # overwrite
    assert TG.get_tag(spark, "schema_version", table=tbl) == "2"
    assert TG.get_tag(spark, "watermark", table=tbl) == "2024-01-01"
    assert {(r.name, r.value) for r in TG.tags_df(spark, table=tbl).collect()} \
        == {("schema_version", "2"), ("watermark", "2024-01-01")}

    TG.delete_tag(spark, "watermark", table=tbl)
    assert TG.get_tag(spark, "watermark", table=tbl) is None

    TG.compact_tags(spark, table=tbl)
    log = spark.table(tbl).collect()
    assert {(r.name, r.value, r.seq) for r in log} == {("schema_version", "2", 1)}
    assert TG.get_tag(spark, "schema_version", table=tbl) == "2"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_min_spark_version_pin(spark):
    # The running session (4.x) passes; a sub-4.0 version string raises
    # the actionable error instead of leaking raw AnalysisExceptions
    # from Spark-4-only surfaces (VERDICT r5 item 5).
    import pytest as _pytest

    from real_big_data_project_spark.session import require_min_spark

    require_min_spark(spark)

    class _Fake:
        version = "3.5.3"

    with _pytest.raises(RuntimeError, match="requires Spark >= 4.0"):
        require_min_spark(_Fake())


def test_small_codegen_cache_warns_once(spark, monkeypatch):
    # The codegen cache size is static: a foreign session built with a
    # smaller one cannot be fixed at runtime, only reported, once.
    import warnings

    from real_big_data_project_spark import session as S

    class _Conf(dict):
        def set(self, k, v):
            self[k] = v

    class _Fake:
        version = "4.1.2"
        conf = _Conf({S.CODEGEN_CACHE: "100"})

    monkeypatch.setattr(S, "_codegen_cache_warned", False)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        S.ensure_session_confs(spark)  # the engine's own session: silent
    with pytest.warns(RuntimeWarning,
                      match="maxEntries=100 is below the engine's 1000"):
        S.ensure_session_confs(_Fake())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        S.ensure_session_confs(_Fake())  # once per process
