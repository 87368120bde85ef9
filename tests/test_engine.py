"""Engine/warehouse tests: stage-and-swap writer, task verbs, statement
executor (SURVEY.md §2.2 parity)."""

from __future__ import annotations

import os

import pytest

from bricolage_spark.ddl import parse_ct
from bricolage_spark.engine import TableSpec, split_statements
from bricolage_spark.exception import JobFailure


def df_of(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_tablespec_parse():
    t = TableSpec.parse("sales.daily")
    assert (t.schema, t.name, t.view_name) == ("sales", "daily", "sales__daily")
    d = TableSpec.parse("plain")
    assert (d.schema, d.view_name) == ("default", "plain")


def test_save_register_read(engine, spark):
    df = df_of(spark, [(1, "a"), (2, "b")], "id int, v string")
    n = engine.save_table(df, "t1")
    assert n == 2
    assert engine.table("t1").count() == 2
    assert spark.sql("select * from t1").count() == 2  # registered view


def test_overwrite_is_atomic_swap(engine, spark):
    engine.save_table(df_of(spark, [(1,)], "id int"), "t")
    d = engine.table_dir("t")
    engine.save_table(df_of(spark, [(2,), (3,)], "id int"), "t")
    assert engine.table("t").count() == 2
    # no stage/old leftovers
    parent = os.path.dirname(d)
    assert [p for p in os.listdir(parent) if "__stage__" in p or "__old__" in p] == []


def test_append_mode(engine, spark):
    engine.save_table(df_of(spark, [(1,)], "id int"), "t")
    engine.save_table(df_of(spark, [(2,)], "id int"), "t", mode="append")
    assert engine.table("t").count() == 2


def test_truncate_keeps_schema(engine, spark):
    engine.save_table(df_of(spark, [(1, "x")], "id int, v string"), "t")
    engine.truncate("t")
    t = engine.table("t")
    assert t.count() == 0
    assert [f.name for f in t.schema.fields] == ["id", "v"]


def test_rename_table(engine, spark):
    engine.save_table(df_of(spark, [(1,)], "id int"), "a")
    engine.rename_table("a", "b")
    assert engine.table("b").count() == 1
    assert not engine.table_exists("a")
    with pytest.raises(JobFailure, match="no such table"):
        engine.rename_table("a", "c")


def test_schema_reuse_misses_after_another_engine_overwrites(engine, spark):
    """The remembered schema is keyed on the directory's stamp: a second
    engine's overwrite with other columns and types swaps the directory,
    so the first engine's table() and register() infer the new schema."""
    from bricolage_spark.engine import SparkEngine

    engine.save_table(df_of(spark, [(1,)], "id int"), "t")
    assert engine.table("t").dtypes == [("id", "int")]
    other = SparkEngine(spark, engine.warehouse)
    other.save_table(df_of(spark, [("a", "b")], "id string, v string"), "t")
    assert engine.table("t").dtypes == [("id", "string"), ("v", "string")]
    spark.catalog.dropTempView("t")
    engine.register("t")
    assert spark.table("t").dtypes == [("id", "string"), ("v", "string")]
    assert [tuple(r) for r in spark.table("t").collect()] == [("a", "b")]


def test_partitioned_write_still_infers_partition_types(engine, spark):
    """Partitioning moves the partition column last and types it from
    the directory names, so the frame's schema is not the table's."""
    df = df_of(spark, [(1, "7"), (2, "8")], "id int, p string")
    engine.save_table(df, "pt", partition_by=["p"])
    inferred = spark.read.parquet(engine.table_dir("pt")).schema
    assert engine.table("pt").schema == inferred
    assert engine.table("pt").dtypes == [("id", "int"), ("p", "int")]
    assert spark.table("pt").dtypes == [("id", "int"), ("p", "int")]


def test_append_reuses_only_an_equal_schema(engine, spark):
    """An append of the remembered schema runs only its write job; one
    whose frame schema differs falls back to inference (one more job)."""
    from conftest import spark_jobs

    engine.save_table(df_of(spark, [(1,)], "id int"), "t")
    same = df_of(spark, [(2,)], "id int")
    n_same = spark_jobs(spark, lambda: engine.save_table(same, "t", mode="append"))
    wider = df_of(spark, [(3, "x")], "id int, v string")
    n_wider = spark_jobs(spark, lambda: engine.save_table(wider, "t", mode="append"))
    assert n_wider == n_same + 1
    assert engine.table("t").schema == spark.read.parquet(engine.table_dir("t")).schema
    assert engine.table("t").count() == 3


def test_drop_and_rename_leave_no_stale_schema(engine, spark):
    engine.save_table(df_of(spark, [(1,)], "id int"), "a")
    engine.rename_table("a", "b")
    assert engine.table_dir("a") not in engine._schemas
    assert engine.known_schema("b") == engine.table("b").schema
    engine.drop_table("b")
    assert engine.table_dir("b") not in engine._schemas
    assert engine.known_schema("b") is None
    # a table written at the old path by someone else reads as written
    df_of(spark, [("z",)], "s string").write.parquet(engine.table_dir("b"))
    assert engine.table("b").dtypes == [("s", "string")]


def test_drop_force_semantics(engine):
    engine.drop_table("nope", force=True)  # no error
    with pytest.raises(JobFailure, match="cannot drop"):
        engine.drop_table("nope", force=False)


def test_split_statements_string_aware():
    stmts = split_statements("insert into t values ('a;b'); select 1;  ")
    assert len(stmts) == 2
    assert "a;b" in stmts[0]


def test_execute_insert_select(engine, spark):
    engine.save_table(df_of(spark, [(1,), (2,)], "x int"), "src")
    engine.save_table(df_of(spark, [(0,)], "x int"), "dest")
    engine.execute_statement("insert into dest select x from src where x > 1")
    assert sorted(r.x for r in engine.table("dest").collect()) == [0, 2]


def test_execute_delete_where(engine, spark):
    engine.save_table(df_of(spark, [(1,), (2,), (3,)], "x int"), "t")
    engine.execute_statement("delete from t where x >= 2")
    assert [r.x for r in engine.table("t").collect()] == [1]


def test_execute_create_view_and_ctas(engine, spark):
    engine.save_table(df_of(spark, [(1,), (2,)], "x int"), "t")
    engine.execute_statement("create or replace view v as select x*2 as y from t")
    assert sorted(r.y for r in spark.sql("select * from v").collect()) == [2, 4]
    engine.execute_statement("create table t2 as select x from t where x = 1")
    assert engine.table("t2").count() == 1


def test_execute_script_returns_last_select(engine, spark):
    engine.save_table(df_of(spark, [(5,)], "x int"), "t")
    df = engine.execute_script("truncate t; select 42 as answer")
    assert df.collect()[0].answer == 42
    assert engine.table("t").count() == 0


def test_schema_qualified_tables(engine, spark):
    engine.save_table(df_of(spark, [(1,)], "x int"), "sales.daily")
    df = engine.sql("select * from sales.daily")
    assert df.count() == 1


def test_parse_ct_reference_fixture_shape():
    # mirrors test/home/subsys/users.ct
    ddl = """
    create table users
    ( id int encode delta
    , user_name varchar(1000)
    , birthday date
    , created_at timestamp not null
    )
    distkey (id) sortkey (id)
    ;
    """
    tdef = parse_ct(ddl)
    assert tdef.table == "users"
    names = [f.name for f in tdef.schema.fields]
    assert names == ["id", "user_name", "birthday", "created_at"]
    assert tdef.schema["created_at"].nullable is False
    assert tdef.distkey == "id" and tdef.sortkeys == ["id"]
    assert tdef.encodes == {"id": "delta"}


def test_bucketed_join_has_no_shuffle(engine, spark):
    """distkey parity: two co-bucketed tables join without an Exchange."""
    from bricolage_spark.plans import formatted_plan

    a = spark.range(1000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(1000).selectExpr("id as k", "id * 3 as vb")
    engine.save_table_bucketed(a, "bk_a", "k", n_buckets=4)
    engine.save_table_bucketed(b, "bk_b", "k", n_buckets=4)
    # force a merge join: at real scale these sides exceed the broadcast
    # threshold; locally Catalyst would broadcast and skip bucketing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located buckets: no shuffle
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bucketed_append_reregister_and_selfread_overwrite(engine, spark):
    """The durable-bucketed-registry contract: bucket FILES survive the
    session while catalog entries do not — bucketed_table re-registers
    over the existing files (scan stays Bucketed: true); append adds
    O(batch) per-bucket files; and a stage-and-swap overwrite whose
    plan READS the table being overwritten (the compaction shape) must
    not lose rows."""
    from pyspark.sql import functions as SF

    df1 = spark.range(100).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash"),
        SF.lit("s1").alias("snapshot"),
    )
    try:
        engine.save_table_bucketed(df1, "bk_reg", "ahash", n_buckets=4)
        # simulate a fresh process: the catalog entry dies with the session
        spark.sql("DROP TABLE bk_reg")
        reread = engine.bucketed_table("bk_reg", "ahash", 4)
        assert reread.count() == 100
        # bucketing must survive re-registration: a distinct on the
        # bucket key aggregates in place — Bucketed scan, no Exchange.
        # (A plain count() reports Bucketed: false by design — Spark's
        # auto-bucketed-scan skips per-bucket reading when the query
        # can't exploit it.)
        plan = (
            reread.select("ahash")
            .distinct()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Bucketed: true" in plan
        assert "Exchange" not in plan
        # O(batch) append — again through a cold catalog
        spark.sql("DROP TABLE bk_reg")
        df2 = spark.range(100, 150).select(
            SF.md5(SF.col("id").cast("string")).alias("ahash"),
            SF.lit("s2").alias("snapshot"),
        )
        n = engine.save_table_bucketed(
            df2, "bk_reg", "ahash", n_buckets=4, mode="append"
        )
        assert n == 50
        assert engine.bucketed_table("bk_reg", "ahash", 4).count() == 150
        # self-read overwrite (registry compaction): dedup the table into
        # itself — the union below makes every key a duplicate first
        dup = engine.bucketed_table("bk_reg", "ahash", 4)
        engine.save_table_bucketed(
            dup.unionByName(dup), "bk_reg", "ahash", n_buckets=4, mode="append"
        )
        full = engine.bucketed_table("bk_reg", "ahash", 4)
        assert full.count() == 450  # 150 + the 300-row duplicate append
        engine.save_table_bucketed(
            full.dropDuplicates(["ahash"]), "bk_reg", "ahash", n_buckets=4
        )
        compacted = engine.bucketed_table("bk_reg", "ahash", 4)
        assert compacted.count() == 150
        assert compacted.select("ahash").distinct().count() == 150
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_reg")
        spark.sql("DROP TABLE IF EXISTS bk_reg__stage")


def test_vacuum_compacts(engine, spark):
    df = spark.range(100).repartition(8).selectExpr("id as x")
    engine.save_table(df, "t")
    engine.vacuum("t", target_partitions=1)
    files = [f for f in os.listdir(engine.table_dir("t")) if f.endswith(".parquet")]
    assert len(files) == 1
    assert engine.table("t").count() == 100


def test_delete_keeps_null_condition_rows(engine):
    """DELETE removes rows where cond IS TRUE only; rows where the
    condition evaluates to NULL (3-valued logic) must survive —
    e.g. NULL dt vs dt = '2024-01-01' (ADVICE r1, Redshift parity)."""
    df = engine.spark.createDataFrame(
        [(1, "2024-01-01"), (2, None), (3, "2024-01-02")], "id long, dt string"
    )
    engine.save_table(df, "delnull", mode="overwrite")
    engine.execute_statement("DELETE FROM delnull WHERE dt = '2024-01-01'")
    ids = sorted(r.id for r in engine.table("delnull").collect())
    assert ids == [2, 3]  # NULL-dt row kept


def test_save_table_returns_written_rowcount_without_rescan(engine):
    df = engine.spark.createDataFrame([(i,) for i in range(7)], "x long")
    assert engine.save_table(df, "obs7", mode="overwrite") == 7
    assert engine.save_table(df.limit(2), "obs7", mode="append") == 2
    assert engine.table("obs7").count() == 9


def test_register_all_skips_internal_dirs(engine, tmp_path):
    import os
    df = engine.spark.createDataFrame([(1,)], "x long")
    engine.save_table(df, "realtab", mode="overwrite")
    # simulate crash leftovers + bucketed sibling data dirs
    base = engine.table_dir("realtab")
    for suffix in (".__stage__dead", ".__old__dead", ".__bucketed__"):
        os.makedirs(base + suffix, exist_ok=True)
    names = engine.register_all()
    assert "realtab" in names
    assert all("__" not in n for n in names)


def test_bucketed_table_replaces_stale_entry_from_other_warehouse(
    engine, spark, tmp_path
):
    """Catalog entries are session-global while engines are per-warehouse:
    a same-name bucketed table registered by ANOTHER engine must not be
    silently served — bucketed_table detects the location mismatch and
    re-registers over THIS engine's files."""
    from bricolage_spark.engine import SparkEngine
    from pyspark.sql import functions as SF

    other = SparkEngine(spark, str(tmp_path / "other_wh"))
    try:
        other.save_table_bucketed(
            spark.range(7).select(SF.col("id").cast("string").alias("k")),
            "bk_clash",
            "k",
            n_buckets=2,
        )
        engine.save_table_bucketed(
            spark.range(100).select(SF.col("id").cast("string").alias("k")),
            "bk_clash",
            "k",
            n_buckets=2,
        )
        # `engine`'s write re-registered the name to its own location;
        # now simulate the stale direction: re-register OTHER's entry,
        # then read through `engine` — it must serve engine's 100 rows
        spark.sql("DROP TABLE bk_clash")
        assert other.bucketed_table("bk_clash", "k", 2).count() == 7
        assert engine.bucketed_table("bk_clash", "k", 2).count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_clash")


def test_bucketed_spec_drift_fails_fast(engine, spark):
    """The bucket count is an on-disk CONTRACT persisted at write time
    (_bucket_spec.json): re-registering with a drifted count (a job's
    registry-buckets edited 8 -> 4) must raise, not let Spark elide
    Exchanges over a false layout and return wrong join results."""
    from pyspark.sql import functions as SF

    df = spark.range(200).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    )
    try:
        engine.save_table_bucketed(df, "bk_spec", "ahash", n_buckets=8)
        spark.sql("DROP TABLE bk_spec")  # simulate a fresh session
        with pytest.raises(JobFailure, match="bucket spec mismatch"):
            engine.bucketed_table("bk_spec", "ahash", 4)
        # claiming MORE buckets than written is the sneaky direction
        # (no part-file id can disprove it — only the sidecar can)
        with pytest.raises(JobFailure, match="bucket spec mismatch"):
            engine.bucketed_table("bk_spec", "ahash", 16)
        with pytest.raises(JobFailure, match="bucket spec mismatch"):
            engine.bucketed_table("bk_spec", "snapshot", 8)
        # a drifted APPEND is refused before any file is written
        with pytest.raises(JobFailure, match="bucket spec mismatch"):
            engine.save_table_bucketed(
                df, "bk_spec", "ahash", n_buckets=4, mode="append"
            )
        # the written spec still reads fine
        assert engine.bucketed_table("bk_spec", "ahash", 8).count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_spec")


def test_bucketed_table_is_not_shadowed_by_plain_temp_view(engine, spark):
    """A same-name temp view (the plain layout registered by
    save_table/register_all) resolves FIRST in spark.table(), so without
    the shadow drop bucketed_table would silently serve the wrong
    layout — in the migration crash window, stale data. Found while
    testing the registry-compact twin guard."""
    from pyspark.sql import functions as SF

    rows = spark.range(30).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    )
    try:
        engine.save_table_bucketed(rows, "bk_shadow", "ahash", 4)
        # a plain twin with DIFFERENT content registers a temp view
        # under the same name (save_table's registration path)
        engine.save_table(rows.limit(5), "bk_shadow")
        assert spark.table("bk_shadow").count() == 5  # the shadow is real
        served = engine.bucketed_table("bk_shadow", "ahash", 4)
        assert served.count() == 30  # ...and bucketed_table sees through it
        plan = (
            served.select("ahash").distinct()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_shadow")


def test_bucketed_table_shadow_probe_propagates_unexpected_errors(
    engine, spark, monkeypatch
):
    """r12 ADVICE: the shadow-drop's except must catch ONLY not-found —
    a py4j/session failure swallowed there falls through to
    spark.table(name), which resolves the temp view first and serves
    the exact wrong layout the probe exists to prevent."""
    import pytest
    from pyspark.sql import functions as SF

    rows = spark.range(10).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    )
    try:
        engine.save_table_bucketed(rows, "bk_shadow_err", "ahash", 4)
        monkeypatch.setattr(
            spark.catalog,
            "getTable",
            lambda name: (_ for _ in ()).throw(RuntimeError("py4j broke")),
        )
        with pytest.raises(RuntimeError, match="py4j broke"):
            engine.bucketed_table("bk_shadow_err", "ahash", 4)
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS bk_shadow_err")


def test_bucket_spec_sidecar_travels_with_the_swap(engine, spark, monkeypatch):
    """r11 advice: the sidecar must be written INTO the staging dir
    before the stage->location rename, not stamped after it — a crash
    in the post-rename window would leave a sidecar-less bucketed dir,
    and the part-filename fallback can only disprove UNDER-claimed
    counts, so an over-claimed re-registration after such a crash
    would silently elide Exchanges over a false layout."""
    import bricolage_spark.engine as E
    from pyspark.sql import functions as SF

    real_rename = os.rename
    seen = {}

    def spy(src, dst):
        if "__stage__" in src:
            seen["spec_in_stage"] = os.path.exists(
                os.path.join(src, "_bucket_spec.json")
            )
        real_rename(src, dst)

    monkeypatch.setattr(E.os, "rename", spy)
    df = spark.range(50).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    )
    try:
        engine.save_table_bucketed(df, "bk_sidecar", "ahash", n_buckets=4)
        assert seen.get("spec_in_stage") is True, (
            "sidecar was not in the staging dir at swap time"
        )
        # and the swapped-in dir carries it, same as before
        assert os.path.exists(
            os.path.join(engine.bucketed_dir("bk_sidecar"), "_bucket_spec.json")
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_sidecar")


def test_bucketed_legacy_dir_filename_inference(engine, spark):
    """Pre-sidecar bucket dirs: the bucket id Spark encodes in every
    part-file name (part-*_BBBBB.c000) proves an under-claimed count
    wrong even with no _bucket_spec.json present."""
    from pyspark.sql import functions as SF

    df = spark.range(200).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash")
    )
    try:
        engine.save_table_bucketed(df, "bk_legacy", "ahash", n_buckets=8)
        os.remove(
            os.path.join(engine.bucketed_dir("bk_legacy"), "_bucket_spec.json")
        )
        spark.sql("DROP TABLE bk_legacy")
        with pytest.raises(JobFailure, match="bucket count mismatch"):
            engine.bucketed_table("bk_legacy", "ahash", 4)
        assert engine.bucketed_table("bk_legacy", "ahash", 8).count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_legacy")


def test_bucketed_managed_name_collision_raises(engine, spark):
    """A MANAGED catalog table squatting on the engine's view name must
    not be dropped (dropping a managed table deletes its DATA, not just
    stale metadata) — bucketed_table raises and the data survives."""
    from pyspark.sql import functions as SF

    df = spark.range(50).select(SF.col("id").cast("string").alias("k"))
    try:
        engine.save_table_bucketed(df, "bk_mng", "k", n_buckets=2)
        spark.sql("DROP TABLE bk_mng")  # fresh-session simulation
        spark.range(7).selectExpr("id as x").write.saveAsTable("bk_mng")
        with pytest.raises(JobFailure, match="MANAGED"):
            engine.bucketed_table("bk_mng", "k", 2)
        assert spark.table("bk_mng").count() == 7  # data intact
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_mng")


def test_save_table_bucketed_overwrite_refuses_managed_collision(engine, spark):
    """save_table_bucketed's stage-and-swap must apply the same
    managed-table guard as bucketed_table — refusing BEFORE the stage
    write, with the squatting table's data intact."""
    from pyspark.sql import functions as SF

    df = spark.range(20).select(SF.col("id").cast("string").alias("k"))
    try:
        spark.range(9).selectExpr("id as x").write.saveAsTable("bk_mng_ow")
        with pytest.raises(JobFailure, match="MANAGED"):
            engine.save_table_bucketed(df, "bk_mng_ow", "k", n_buckets=2)
        assert spark.table("bk_mng_ow").count() == 9
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_mng_ow")


def test_bucketed_sort_spec_drift_fails_fast(engine, spark):
    """SORTED BY is trusted metadata too — Spark elides sorts on it, so
    a drifted sort-column re-registration must fail like a drifted
    count."""
    from pyspark.sql import functions as SF

    df = spark.range(50).select(
        SF.md5(SF.col("id").cast("string")).alias("ahash"),
        SF.col("id").alias("seq"),
    )
    try:
        engine.save_table_bucketed(
            df, "bk_sort", "ahash", n_buckets=2, sort_cols=["ahash", "seq"]
        )
        spark.sql("DROP TABLE bk_sort")
        with pytest.raises(JobFailure, match="SORTED BY"):
            engine.bucketed_table("bk_sort", "ahash", 2, sort_cols=["seq"])
        with pytest.raises(JobFailure, match="SORTED BY"):
            engine.bucketed_table("bk_sort", "ahash", 2)  # defaults to key
        assert (
            engine.bucketed_table(
                "bk_sort", "ahash", 2, sort_cols=["ahash", "seq"]
            ).count()
            == 50
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_sort")
