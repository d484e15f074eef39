"""Spark 4 Python Data Source over the fake-PG layer (sources/pyds.py):
spark.read.format("fakepg") must match a direct DB-API cursor SELECT,
honor range partitioning with executor-side per-partition connections,
push WHERE text, and pin snapshots against concurrent writers."""

from __future__ import annotations

import pytest

from simple_anonymizer_spark.sources.pyds import FakePGDataSource

from test_pg_integration import source_db, table_reader  # noqa: F401 (fixture)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(FakePGDataSource)
    return spark


def _read(spark, db, table, **opts):
    return table_reader(spark, db, **opts)(table)


def test_full_scan_matches_dbapi_bridge(registered, source_db):
    import simple_anonymizer_spark.sources.fakepg as fakepg

    spark = registered
    df = _read(spark, source_db, "users")
    got = sorted(tuple(r) for r in df.collect())
    conn = fakepg.connect(source_db.path)
    cur = conn.cursor()
    cur.execute('SELECT "id", "first_name", "last_name", "email" FROM "public"."users"')
    exp = sorted(tuple(r) for r in cur.fetchall())
    conn.close()
    assert got == exp
    assert df.columns == ["id", "first_name", "last_name", "email"]


def test_partitioned_scan_same_rows_more_tasks(registered, source_db):
    spark = registered
    df = _read(
        spark, source_db, "orders",
        partition_column="id", lower=1, upper=15, num_partitions=3,
    )
    assert df.rdd.getNumPartitions() == 3
    single = _read(spark, source_db, "orders")
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, single.collect()))


def test_where_pushdown(registered, source_db):
    df = _read(registered, source_db, "orders", where="status = 'completed'")
    rows = df.collect()
    assert rows and all(r.status == "completed" for r in rows)


def test_snapshot_pins_out_concurrent_writer(registered, source_db):
    import simple_anonymizer_spark.sources.fakepg as fakepg

    conn = fakepg.connect(source_db.path)
    cur = conn.cursor()
    cur.execute("SELECT pg_export_snapshot()")
    snap = cur.fetchall()[0][0]

    writer = fakepg.connect(source_db.path)
    wc = writer.cursor()
    wc.execute(
        "INSERT INTO \"public\".\"users\" (\"id\", \"first_name\", \"last_name\", \"email\") "
        "VALUES (99, 'Late', 'Writer', 'late@x.com')"
    )
    writer.commit()

    pinned = _read(registered, source_db, "users", snapshot_id=snap)
    assert sorted(r.id for r in pinned.collect()) == list(range(1, 11))
    unpinned = _read(registered, source_db, "users")
    assert 99 in {r.id for r in unpinned.collect()}
    conn.close()
    writer.close()


def test_unknown_table_raises(registered, source_db):
    with pytest.raises(Exception, match="unknown table"):
        _read(registered, source_db, "nope").schema


# ---------------------------------------------------------------------------
# Write path: df.write.format("fakepg")
# ---------------------------------------------------------------------------


def _write(df, db, table, mode="append", **opts):
    w = (
        df.write.format("fakepg")
        .option("path", db.path)
        .option("table", table)
        .mode(mode)
    )
    for k, v in opts.items():
        w = w.option(k, str(v))
    w.save()


def test_write_append_roundtrip(registered, source_db):
    spark = registered
    before = sorted(map(tuple, _read(spark, source_db, "users").collect()))
    extra = spark.createDataFrame(
        [(101, "New", "User", "new.user@example.com"),
         (102, "Other", "Person", "other@example.com")],
        "id long, first_name string, last_name string, email string",
    )
    _write(extra, source_db, "users")
    after = sorted(map(tuple, _read(spark, source_db, "users").collect()))
    assert len(after) == len(before) + 2
    assert (101, "New", "User", "new.user@example.com") in after


def test_write_overwrite_replaces_leaf_table(registered, source_db):
    spark = registered
    fresh = spark.createDataFrame(
        [(999, 1, '[{"number": "555"}]', "{}")],
        "id long, user_id long, phones string, settings string",
    )
    _write(fresh, source_db, "profiles", mode="overwrite")
    got = _read(spark, source_db, "profiles").collect()
    assert len(got) == 1 and got[0].id == 999


def test_write_overwrite_referenced_parent_restricts(registered, source_db):
    # users has children (orders, profiles): clearing it must raise the
    # FK violation, like a real DELETE under RESTRICT.
    spark = registered
    fresh = spark.createDataFrame(
        [(1, "Only", "Row", "only@example.com")],
        "id long, first_name string, last_name string, email string",
    )
    with pytest.raises(Exception, match="violates foreign key|fkey"):
        _write(fresh, source_db, "users", mode="overwrite")


def test_write_on_conflict_update_upserts(registered, source_db):
    spark = registered
    rows = sorted(map(tuple, _read(spark, source_db, "users").collect()))
    existing_id = rows[0][0]
    upsert = spark.createDataFrame(
        [(existing_id, "Updated", "Name", "updated@example.com"),
         (900, "Brand", "New", "brand@example.com")],
        "id long, first_name string, last_name string, email string",
    )
    _write(upsert, source_db, "users",
           on_conflict="update", primary_key="id")
    after = {r.id: (r.first_name, r.email)
             for r in _read(registered, source_db, "users").collect()}
    assert after[existing_id] == ("Updated", "updated@example.com")
    assert after[900] == ("Brand", "brand@example.com")
    assert len(after) == len(rows) + 1


def test_write_on_conflict_nothing_keeps_existing(registered, source_db):
    spark = registered
    rows = sorted(map(tuple, _read(spark, source_db, "users").collect()))
    existing = rows[0]
    dup = spark.createDataFrame(
        [(existing[0], "X", "Y", "x@y.z")],
        "id long, first_name string, last_name string, email string",
    )
    _write(dup, source_db, "users", on_conflict="nothing", primary_key="id")
    after = {r.id: r.first_name
             for r in _read(registered, source_db, "users").collect()}
    assert after[existing[0]] == existing[1]   # original survived


def test_streaming_foreachbatch_into_fakepg(registered, source_db, tmp_path):
    """Structured Streaming -> DB sink: each micro-batch upserts through
    the Python Data Source writer, so a stream lands in Postgres with
    the same ON CONFLICT semantics as the batch path."""
    import shutil

    spark = registered
    src = tmp_path / "stream_src"
    src.mkdir()
    staged = spark.createDataFrame(
        [(200 + i, f"S{i}", f"T{i}", f"s{i}@x.y") for i in range(20)],
        "id long, first_name string, last_name string, email string",
    )
    staged.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stg"))
    for f in (tmp_path / "stg").glob("part-*.parquet"):
        shutil.copy(f, src / f.name)

    path = source_db.path

    def sink(batch_df, batch_id):
        (batch_df.write.format("fakepg")
         .option("path", path).option("table", "users")
         .option("on_conflict", "update").option("primary_key", "id")
         .mode("append").save())

    before = _read(spark, source_db, "users").count()
    q = (
        spark.readStream.schema(staged.schema).parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(240)
    after = _read(spark, source_db, "users").collect()
    assert len(after) == before + 20
    assert {r.first_name for r in after if r.id >= 200} == {f"S{i}" for i in range(20)}
