"""Lake sink tests: converted-table write/read/drop + registry (K1-K8)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from udata_datalake_service_spark.sinks.lake import Lake


def test_write_read_register_drop(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    url = "https://a.org/f.csv"
    name = hashlib.md5(url.encode()).hexdigest()

    n = lake.write_table(df, name)
    assert n == 2
    back = lake.read_table(name)
    assert sorted(r["v"] for r in back.collect()) == ["a", "b"]

    lake.register(name, {"encoding": "utf-8"}, "r1", url)
    reg = lake.registry()
    rows = reg.collect()
    assert len(rows) == 1 and rows[0]["parsing_table"] == name
    assert rows[0]["url"] == url

    lake.drop_table(name)
    assert lake.registry().count() == 0


def test_hostile_column_names_roundtrip(spark, tmp_path):
    """Reference goldens (tests/test_analysis/test_analysis_csv.py:171-215):
    a SQL-injection header and a '%'-with-spaces header must survive the
    full inspect → write → read roundtrip with names and values intact.
    The reference needs quoting + a %%-escape hack for its SQL DDL; Spark
    has no string DDL in this path, so the names pass through untouched."""
    from udata_datalake_service_spark.sources.inference import inspect_csv

    injection = 'col_name" text);DROP TABLE toto;--'
    p = tmp_path / "hostile.csv"
    p.write_text(f"int,{injection},% mon pourcent\n1,test,pct\n", encoding="utf-8")
    typed, insp = inspect_csv(spark, str(p))

    lake = Lake(spark, str(tmp_path / "lake_hostile"))
    lake.write_table(typed, "hostile")
    back = lake.read_table("hostile")
    assert injection in back.columns and "% mon pourcent" in back.columns
    row = back.collect()[0]
    assert row["int"] == 1
    assert row[injection] == "test"
    assert row["% mon pourcent"] == "pct"


def test_min_lines_floor(spark, tmp_path):
    # reference MIN_LINES_FOR_PARQUET=200 floor (config_default.toml:74-75)
    lake = Lake(spark, str(tmp_path / "lake2"))
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    n = lake.write_table(df, "small", min_lines_for_parquet=200)
    assert n == 10
    import pathlib

    assert not pathlib.Path(lake.table_path("small")).exists()


def test_index_columns_sort_within_partitions(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake3"))
    df = spark.createDataFrame([(i % 7, i) for i in range(100)], "k long, id long")
    lake.write_table(df.repartition(2), "sorted", index_columns=["k"])
    back = lake.read_table("sorted")
    assert back.count() == 100


# ----------------------------------------------------------------- service --
def test_service_route_surface(spark, tmp_path, catalog_df, checks_df):
    """Every reference route's data contract through HydraService."""
    from udata_datalake_service_spark.service import HydraService

    lake = Lake(spark, str(tmp_path / "svc_lake"))
    lake.write_app_table(catalog_df, "catalog")
    lake.write_app_table(checks_df, "checks")
    svc = HydraService(spark, lake)

    # GET /api/checks/latest + /all — assert on check-side fields (the
    # joined row carries both tables' columns; "status" by name would pick
    # the catalog's)
    latest = svc.latest_check(resource_id="r1").collect()
    assert len(latest) == 1 and latest[0]["mime_type"] == "text/csv"
    assert svc.all_checks(resource_id="r1").count() >= 1

    # GET /api/checks/aggregate (expression group_by)
    agg = svc.checks_aggregate("status", "2024-01-02").collect()
    assert all(set(r.asDict()) == {"value", "count"} for r in agg)

    # resources CRUD
    assert svc.get_resource("r1").count() == 1
    assert svc.resource_status("r1").collect()[0]["deleted"] is False
    svc.delete_resource("r1")
    assert svc.get_resource("r1").collect()[0]["deleted"] is True

    upd = spark.createDataFrame(
        [("d9", "r9", "https://n.org/new.csv", False, None, True, None, None, None)],
        "dataset_id string, resource_id string, url string, deleted boolean, "
        "last_check long, priority boolean, harvest_modified_at timestamp, "
        "status string, id long",
    ).select(*[F.col(c) for c in catalog_df.columns])
    svc.upsert_resource(upd)
    assert svc.get_resource("r9").count() == 1

    # dashboards + health
    assert svc.crawler_status().count() == 1
    assert svc.worker_status().count() >= 1
    assert svc.stats().count() >= 1
    assert svc.health()["ok"] is True

    # POST /api/checks with injected transport
    def t(url, method):
        return 200, {"Content-Length": "5", "Last-Modified": "x"}, None

    batch = spark.createDataFrame([("r9", "https://n.org/new.csv")],
                                  "resource_id string, url string")
    out = svc.run_checks(batch, transport=t).collect()
    assert out[0]["status"] == 200 and out[0]["domain"] == "n.org"


# ------------------------------------------------- crash-safe commits ----
def test_versioned_commit_readers_see_old_or_new(spark, tmp_path):
    """Every intermediate state of a rewrite must leave the table readable:
    (a) new version written but manifest not yet flipped → old data;
    (b) manifest flipped → new data. No state where the table is gone."""
    from pathlib import Path

    lake = Lake(spark, str(tmp_path / "lake"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    lake.write_app_table(df1, "catalog")
    base = Path(lake.app_table_path("catalog"))

    # simulate the crash window: a fully-written but uncommitted version
    ver = lake._new_version()
    spark.createDataFrame([(9, "z")], "id long, v string").write.parquet(
        str(base / ver)
    )
    assert sorted(r["id"] for r in lake.read_app_table("catalog").collect()) == [1, 2]

    # commit completes → readers flip to the new version atomically
    lake._commit_version(base, ver)
    assert [r["id"] for r in lake.read_app_table("catalog").collect()] == [9]


def test_rewrite_app_table_never_leaves_gap(spark, tmp_path):
    """rewrite_app_table reads its own table as input; the old version must
    stay on disk until the manifest flips (the rmtree+rename swap it
    replaced had a window with NO table on disk)."""
    from pathlib import Path

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(
        spark.createDataFrame([(i,) for i in range(10)], "id long"), "t"
    )
    base = Path(lake.app_table_path("t"))
    v1 = lake._current_dir(base)
    kept = lake.read_app_table("t").filter(F.col("id") % 2 == 0)
    lake.rewrite_app_table(kept, "t")
    assert lake.read_app_table("t").count() == 5
    # previous version retained one commit for in-flight readers
    assert v1.exists()
    # ...and GC'd after the next commit
    lake.rewrite_app_table(lake.read_app_table("t").limit(3), "t")
    assert not v1.exists()
    assert lake.read_app_table("t").count() == 3


def test_drop_table_crash_order_leaves_orphan_not_dangling_row(spark, tmp_path):
    """Registry row is deleted BEFORE the data dir: a crash in between
    leaves an orphan dir for the GC, never a row pointing at nothing."""
    from pathlib import Path

    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1,)], "id long")
    lake.write_table(df, "tbl_a")
    lake.register("tbl_a", {"n": 1}, resource_id="r1", url="u1")

    # crash simulation: registry delete succeeded, rmtree never ran
    lake._delete_registry_rows("tbl_a")
    assert lake.registry().filter(F.col("parsing_table") == "tbl_a").count() == 0
    assert Path(lake.table_path("tbl_a")).exists()  # orphan, GC's job

    # a completed drop removes the dir too (idempotent on the registry)
    lake.drop_table("tbl_a")
    assert not Path(lake.table_path("tbl_a")).exists()


def test_append_lands_in_current_version(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.append_app_table(spark.createDataFrame([(1,)], "id long"), "ch")
    lake.append_app_table(spark.createDataFrame([(2,)], "id long"), "ch")
    assert sorted(r["id"] for r in lake.read_app_table("ch").collect()) == [1, 2]
    # a replace after appends folds everything into one new version
    lake.rewrite_app_table(
        lake.read_app_table("ch").filter(F.col("id") == 2), "ch"
    )
    assert [r["id"] for r in lake.read_app_table("ch").collect()] == [2]


def test_vacuum_reclaims_unreferenced_versions(spark, tmp_path):
    from pathlib import Path

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(spark.createDataFrame([(1,)], "id long"), "t")
    base = Path(lake.app_table_path("t"))
    live = lake._current_dir(base)

    # a rewrite retains the previous version (for in-flight readers)...
    lake.rewrite_app_table(lake.read_app_table("t"), "t")
    live2 = lake._current_dir(base)
    # ...and a crash leftover: fully-written version, manifest never flipped
    # (made AFTER the rewrite — commit-time GC would have swept it already)
    orphan = base / lake._new_version()
    spark.createDataFrame([(9,)], "id long").write.parquet(str(orphan))

    removed = lake.vacuum()
    assert str(orphan) in removed and str(live) in removed
    assert live2.exists() and not orphan.exists()
    assert lake.read_app_table("t").count() == 1  # current untouched
    assert lake.vacuum() == []  # idempotent


def test_time_travel_history_previous_and_diff(spark, tmp_path):
    import pytest as _pytest

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    v2 = spark.createDataFrame([(1, "a"), (2, "B"), (4, "d")], "id long, v string")
    lake.write_table(v1, "t")
    assert [h["is_current"] for h in lake.table_history("t")] == [True]
    with _pytest.raises(FileNotFoundError):
        lake.read_table_previous("t")

    lake.write_table(v2, "t")
    hist = lake.table_history("t")
    assert len(hist) == 2 and hist[-1]["is_current"] and not hist[0]["is_current"]
    # VERSION AS OF the superseded commit
    prev = {(r["id"], r["v"]) for r in lake.read_table_at("t", hist[0]["version"]).collect()}
    assert prev == {(1, "a"), (2, "b"), (3, "c")}
    assert {(r["id"], r["v"]) for r in lake.read_table_previous("t").collect()} == prev

    diff = {(r["__change"], r["id"], r["v"]) for r in lake.version_diff("t").collect()}
    assert diff == {
        ("added", 2, "B"), ("added", 4, "d"),
        ("removed", 2, "b"), ("removed", 3, "c"),
    }

    # a third commit GCs the first version: depth-1 retention is explicit
    v3 = spark.createDataFrame([(9, "z")], "id long, v string")
    lake.write_table(v3, "t")
    assert len(lake.table_history("t")) == 2
    with _pytest.raises(FileNotFoundError):
        lake.read_table_at("t", hist[0]["version"])


def test_write_training_shards_manifest_and_stability(spark, tmp_path):
    """Sharded export: every row lands in exactly one shard, the manifest
    matches a recount of the written data, and re-exporting a GROWN corpus
    never moves an existing row to a different shard."""
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [(i, f"text {i}", "web") for i in range(200)],
        "doc_id long, text string, source string",
    )
    manifest = lake.write_training_shards(df, "corpus", 4, ["doc_id"])
    rows = {r["shard"]: r for r in manifest.collect()}
    assert sum(r["n_rows"] for r in rows.values()) == 200
    assert set(rows) <= {0, 1, 2, 3}

    back = lake.read_app_table("corpus")
    recount = {
        r["shard"]: r["n"]
        for r in back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert recount == {s: r["n_rows"] for s, r in rows.items()}
    assert back.select("doc_id").distinct().count() == 200

    shard_of = {r["doc_id"]: r["shard"] for r in back.select("doc_id", "shard").collect()}
    grown = spark.createDataFrame(
        [(i, f"text {i}", "web") for i in range(400)],
        "doc_id long, text string, source string",
    )
    lake.write_training_shards(grown, "corpus", 4, ["doc_id"])
    shard_of2 = {
        r["doc_id"]: r["shard"]
        for r in lake.read_app_table("corpus").select("doc_id", "shard").collect()
    }
    assert all(shard_of2[i] == shard_of[i] for i in shard_of)

    import pytest as _p

    with _p.raises(ValueError):
        lake.write_training_shards(df, "corpus", 0, ["doc_id"])


def test_compact_table_merges_small_files_and_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(5000)], "id long, v string")
    # simulate append-heavy history: many tiny files in one version
    lake.write_app_table(df.repartition(24), "checks_like")
    before = lake.read_app_table("checks_like")
    before_rows = {r["id"] for r in before.collect()}

    stats = lake.compact_table("checks_like", target_bytes=10**9, app_table=True)
    assert stats["files_before"] >= 24
    assert stats["files_after"] == 1

    after = lake.read_app_table("checks_like")
    assert after.count() == 5000
    assert {r["id"] for r in after.collect()} == before_rows
    # crash-safety contract: the committed MANIFEST pointer flipped in place
    assert (tmp_path / "lake" / "checks_like" / "MANIFEST").exists()


def test_compact_table_missing_raises(spark, tmp_path):
    import pytest as _p

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    with _p.raises(FileNotFoundError):
        lake.compact_table("nope", app_table=True)


def test_append_exactly_once_dedups_retries_and_survives_crash(spark, tmp_path):
    """The exactly-once contract: a retried batch_id never double-appends,
    and a crash BETWEEN data write and manifest flip (simulated by an
    uncommitted version dir) leaves the table without the batch so the
    retry commits it exactly once."""
    from pathlib import Path

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b2 = spark.createDataFrame([(3, "c")], "id long, v string")

    assert lake.append_app_table_exactly_once(b1, "t", "batch-1") is True
    # retry of the same batch: no-op, no duplicates
    assert lake.append_app_table_exactly_once(b1, "t", "batch-1") is False
    assert lake.read_app_table("t").count() == 2

    # crash window: a fully-written but UNCOMMITTED version (no manifest
    # flip) — readers still see the old version; the retry commits cleanly
    base = Path(str(tmp_path / "lake" / "t"))
    stale = base / "v-crashed"
    b2.write.mode("overwrite").parquet(str(stale))
    assert lake.read_app_table("t").count() == 2  # crash invisible
    assert lake.append_app_table_exactly_once(b2, "t", "batch-2") is True
    rows = {(r["id"], r["v"]) for r in lake.read_app_table("t").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c")}
    # and batch-2 retry is now a no-op too
    assert lake.append_app_table_exactly_once(b2, "t", "batch-2") is False
    assert lake.read_app_table("t").count() == 3


def test_service_availability_report(spark, tmp_path, catalog_df, checks_df):
    from udata_datalake_service_spark.service import HydraService

    lake = Lake(spark, str(tmp_path / "svc_lake2"))
    lake.write_app_table(catalog_df, "catalog")
    lake.write_app_table(checks_df, "checks")
    svc = HydraService(spark, lake)
    rep = {r["resource_id"]: r for r in svc.availability_report().collect()}
    assert rep, "empty report"
    for r in rep.values():
        assert 0.0 <= r["availability"] <= 1.0
        assert r["longest_failure_streak"] <= r["n_failures"]


def test_cas_rewrite_detects_lost_update(spark, tmp_path):
    """Two read-modify-writers from the same snapshot: the second commit
    must raise ConcurrentWriteError instead of silently clobbering."""
    import pytest

    from udata_datalake_service_spark.sinks.lake import ConcurrentWriteError

    lake = Lake(spark, str(tmp_path / "lake"))
    base = spark.createDataFrame([(1, 10)], "id long, v long")
    lake.write_app_table(base, "acc")
    snap = lake.table_version("acc", app=True)
    assert snap is not None

    # writer B commits first from the same snapshot
    b = lake.read_app_table("acc").withColumn("v", F.col("v") + 1)
    lake.rewrite_app_table(b, "acc", expected_version=snap)
    # writer A now holds a stale snapshot
    a = lake.read_app_table("acc").withColumn("v", F.col("v") + 100)
    with pytest.raises(ConcurrentWriteError):
        lake.rewrite_app_table(a, "acc", expected_version=snap)
    # B's commit survives untouched; a retry from a FRESH snapshot works
    assert lake.read_app_table("acc").collect()[0]["v"] == 11
    snap2 = lake.table_version("acc", app=True)
    a2 = lake.read_app_table("acc").withColumn("v", F.col("v") + 100)
    lake.rewrite_app_table(a2, "acc", expected_version=snap2)
    assert lake.read_app_table("acc").collect()[0]["v"] == 111


def test_cas_retry_loop_serializes_increments(spark, tmp_path):
    """The documented OCC recipe: snapshot → modify → CAS commit → on
    ConcurrentWriteError re-read and retry. Interleaved writers must
    produce the serial result (no lost update)."""
    from udata_datalake_service_spark.sinks.lake import ConcurrentWriteError

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(spark.createDataFrame([(1, 0)], "id long, v long"), "ctr")

    def increment():
        while True:
            snap = lake.table_version("ctr", app=True)
            cur = lake.read_app_table("ctr").withColumn("v", F.col("v") + 1)
            try:
                lake.rewrite_app_table(cur, "ctr", expected_version=snap)
                return
            except ConcurrentWriteError:
                continue

    # interleave: each pre-reads a snapshot, then both try to commit
    for _ in range(5):
        increment()
    assert lake.read_app_table("ctr").collect()[0]["v"] == 5


def test_staging_dirs_survive_concurrent_commit_gc(spark, tmp_path):
    """A slow writer's staged-but-uncommitted data must not be reclaimed
    by a faster committer's GC (staged dirs are not `v-*`), and vacuum
    sweeps orphaned staging dirs."""
    from pathlib import Path

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(spark.createDataFrame([(1,)], "id long"), "t")
    base = Path(lake.app_table_path("t"))
    # simulate a slow writer's staged dir
    staged = base / "_staging-v-99999999999999999999-deadbeef"
    staged.mkdir()
    (staged / "part-0.parquet").write_bytes(b"x")
    # two committed rewrites trigger the in-commit GC twice
    lake.rewrite_app_table(lake.read_app_table("t"), "t")
    lake.rewrite_app_table(lake.read_app_table("t"), "t")
    assert staged.exists()
    # a FRESH staging dir may be an in-flight writer: vacuum keeps it
    assert not any("_staging-" in r for r in lake.vacuum())
    assert staged.exists()
    # ...and reclaims it once it is older than the grace period
    import os as _os

    _os.utime(staged, (0, 0))
    removed = lake.vacuum()
    assert not staged.exists()
    assert any("_staging-" in r for r in removed)


import pytest as _pytest


@_pytest.mark.parametrize("store_name", ["posix", "s3"])
def test_registry_concurrent_registers_and_drops_lose_nothing(
    spark, tmp_path, store_name
):
    """The registry critical section: N threads register concurrently on a
    FRESH lake (first-write race — the losing thread must fall through to
    the append path, not discard the winner's flip), then registers race
    drop-rewrites of a disjoint table (an append between a drop's read
    and flip must never be silently lost). Parameterized over POSIX and
    object-store semantics (r7): the conditional-PUT lock must give the
    same mutual exclusion the O_EXCL lock does."""
    import threading

    from udata_datalake_service_spark.sinks.store import (
        PosixStore,
        S3SemanticsStore,
    )

    store = PosixStore() if store_name == "posix" else S3SemanticsStore()
    lake = Lake(spark, str(tmp_path / "lake"), store=store)

    # phase 1: concurrent first-writes + appends
    errs = []

    def reg(i):
        try:
            lake.register(f"tbl{i}", {"n": i}, resource_id=f"r{i}", url=f"https://x/{i}")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=reg, args=(i,)) for i in range(12)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    got = {r["parsing_table"] for r in lake.registry().collect()}
    assert got == {f"tbl{i}" for i in range(12)}

    # phase 2: appends racing drop-rewrites of OTHER rows
    def reg_more():
        for i in range(12, 24):
            lake.register(f"tbl{i}", {"n": i}, resource_id=f"r{i}", url=f"https://x/{i}")

    def drop_some():
        for i in range(0, 12, 2):
            lake._delete_registry_rows(f"tbl{i}")

    t1 = threading.Thread(target=reg_more)
    t2 = threading.Thread(target=drop_some)
    t1.start(); t2.start(); t1.join(); t2.join()
    got = {r["parsing_table"] for r in lake.registry().collect()}
    expect = {f"tbl{i}" for i in range(24)} - {f"tbl{i}" for i in range(0, 12, 2)}
    assert got == expect


def test_registry_first_write_is_versioned(spark, tmp_path):
    """A fresh registry's first register must land behind a MANIFEST
    (regression: an early mkdir made the bare dir read as legacy-plain,
    skipping the versioned branch entirely)."""
    from pathlib import Path

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.register("tbl_v", {"n": 1}, resource_id="r", url="https://x/v.csv")
    base = Path(lake.registry_path)
    assert (base / "MANIFEST").exists()
    ver = (base / "MANIFEST").read_text().strip()
    assert (base / ver).is_dir()
    # appends keep landing INSIDE the versioned dir, not the base
    lake.register("tbl_w", {"n": 2}, resource_id="r2", url="https://x/w.csv")
    files_in_base = [f for f in base.iterdir()
                     if f.is_file() and f.suffix == ".parquet"]
    assert files_in_base == []
    assert lake.registry().count() == 2


def test_compact_and_exactly_once_preserve_partition_layout(spark, tmp_path):
    """Maintenance rewrites must keep the physical col=value layout:
    compaction and the first exactly-once append on a date-partitioned
    table both used to flatten it (breaking partition-drop retention and
    pruning)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.range(40).select(
        F.col("id"),
        F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1).cast("string")).alias("day"),
    )
    lake.append_app_table(df, "evts", partition_by=["day"])

    def partition_dirs():
        cur = lake._current_dir(Path(lake.app_table_path("evts")))
        return sorted(
            d.name for d in cur.iterdir() if d.is_dir() and d.name.startswith("day=")
        )

    before = partition_dirs()
    assert len(before) == 3

    lake.compact_table("evts", target_bytes=1, app_table=True)
    assert partition_dirs() == before
    assert lake.read_app_table("evts").count() == 40

    batch = spark.range(40, 44).select(
        F.col("id"), F.lit("2024-01-09").alias("day")
    )
    assert lake.append_app_table_exactly_once(batch, "evts", "b1") is True
    assert sorted(partition_dirs()) == sorted(before + ["day=2024-01-09"])
    assert lake.read_app_table("evts").count() == 44


def test_write_bucketed_table_refuses_versioned_target(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    lake = Lake(spark, str(tmp_path / "lake"))
    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
    lake.write_table(df, "vt", min_lines_for_parquet=1)
    with _pytest.raises(ValueError, match="versioned"):
        lake.write_bucketed_table(df, "vt", ["k"])


# ----------------------------------------------- storage-semantics matrix ----
import pytest  # noqa: E402

from udata_datalake_service_spark.sinks.lake import ConcurrentWriteError  # noqa: E402
from udata_datalake_service_spark.sinks.store import (  # noqa: E402
    PosixStore,
    S3SemanticsStore,
)


import os as _os_env
import uuid as _uuid

def _moto_available() -> bool:
    try:
        import moto.server  # noqa: F401

        return True
    except ImportError:
        return False


# default-ON when moto is importable (VERDICT r8 #3: the strongest
# storage evidence must run in a plain `pytest tests/`); the env var is
# an OPT-OUT now (SPARK_HYDRA_S3_TESTS=0 disables the leg)
_S3_TESTS = _os_env.environ.get("SPARK_HYDRA_S3_TESTS") != "0" and _moto_available()


@pytest.fixture(scope="session")
def moto_endpoint():
    """A REAL S3 API implementation (moto server) on loopback — default
    when moto is installed; SPARK_HYDRA_S3_TESTS=0 opts out."""
    if not _S3_TESTS:
        pytest.skip("real-S3 leg disabled (SPARK_HYDRA_S3_TESTS=0 or no moto)")
    moto = pytest.importorskip("moto.server")
    server = moto.ThreadedMotoServer(port=0)
    server.start()
    port = server._server.socket.getsockname()[1]
    yield f"http://127.0.0.1:{port}"
    server.stop()


def _make_store(backend: str, request):
    """Fresh store instance per test for the cross-backend matrix."""
    if backend == "posix":
        return PosixStore()
    if backend == "s3-semantics":
        return S3SemanticsStore()
    # moto-s3: a real S3 implementation serves every control-plane op
    endpoint = request.getfixturevalue("moto_endpoint")
    import boto3

    from udata_datalake_service_spark.sinks.store import S3ObjectStore

    bucket = f"lake-{_uuid.uuid4().hex[:12]}"
    client = boto3.client(
        "s3",
        endpoint_url=endpoint,
        aws_access_key_id="test",
        aws_secret_access_key="test",
        region_name="us-east-1",
    )
    client.create_bucket(Bucket=bucket)
    return S3ObjectStore(bucket, client)


@pytest.fixture(params=["posix", "s3-semantics", "moto-s3"])
def proto_store(request):
    return _make_store(request.param, request)


class TestCommitProtocolAcrossBackends:
    """VERDICT r6 task 7 + r7 task 4 + r8 task 3: the OCC commit protocol
    exercised against POSIX semantics, the local object-store shim, AND
    (default when moto is installed) a real S3 API implementation (moto
    server) through boto3 — non-atomic copy+delete renames, conditional
    PUT locks, list-after-write, fresh Last-Modified on COPY. Every
    invariant must hold under ALL backends. Since round 9 the moto leg
    routes the parquet DATA plane through the bucket too: publishes are
    per-object uploads, committed bytes live only server-side, and reads
    list+GET the version prefix into a local cache (s3a itself would
    need the hadoop-aws jars this container does not ship)."""

    def test_write_read_overwrite_time_travel_drop(self, spark, tmp_path, proto_store):
        lake = Lake(spark, str(tmp_path / "lake"), store=proto_store)
        df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        df2 = spark.createDataFrame([(3, "c")], "id long, v string")
        lake.write_table(df1, "t")
        v1 = lake.table_version("t")
        assert sorted(r["v"] for r in lake.read_table("t").collect()) == ["a", "b"]
        lake.write_table(df2, "t")
        assert [r["v"] for r in lake.read_table("t").collect()] == ["c"]
        # previous version retained for in-flight readers / time travel
        assert sorted(r["v"] for r in lake.read_table_at("t", v1).collect()) == [
            "a", "b",
        ]
        lake.register("t", {}, "r1", "https://x/t.csv")
        assert lake.registry().count() == 1
        lake.drop_table("t")
        assert lake.registry().count() == 0
        import os as _os

        assert not _os.path.exists(lake.table_path("t"))

    def test_log_table_commit_log_laws_across_backends(
        self, spark, tmp_path, proto_store
    ):
        """The commit-log append (marker-file exactly-once, O(batch))
        must hold its laws on every backend: commit/replay, torn-append
        invisibility is covered by the posix law test; here the full
        append → read → fold → replay → append cycle runs against each
        store, including the real S3 API."""
        lake = Lake(spark, str(tmp_path / "lake"), store=proto_store)
        b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        b1 = spark.createDataFrame([(3, "c")], "id long, v string")
        assert lake.append_log_table_exactly_once(b0, "t", "ep-0") is True
        assert lake.append_log_table_exactly_once(b0, "t", "ep-0") is False
        assert lake.append_log_table_exactly_once(b1, "t", "ep-1") is True
        want = [(1, "a"), (2, "b"), (3, "c")]
        assert sorted(map(tuple, lake.read_log_table("t").collect())) == want
        stats = lake.compact_log_table("t")
        assert stats["batches_folded"] == 2
        assert sorted(map(tuple, lake.read_log_table("t").collect())) == want
        assert lake.append_log_table_exactly_once(b0, "t", "ep-0") is False
        assert lake.append_log_table_exactly_once(b1, "t", "ep-2") is True
        assert (
            sorted(map(tuple, lake.read_log_table("t").collect()))
            == want + [(3, "c")]
        )

    def test_compact_table_preserves_rows(self, spark, tmp_path, proto_store):
        import warnings as _warnings

        lake = Lake(spark, str(tmp_path / "lakec"), store=proto_store)
        df = spark.createDataFrame([(i,) for i in range(100)], "id long")
        lake.write_app_table(df, "t")
        # ADVICE r9: the in-place append must warn on backends where a
        # concurrent reader can list a partial append (object store),
        # and stay silent on atomic-visibility backends
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            for _ in range(3):
                lake.append_app_table(df, "t")  # one+ new file per append
        append_warns = [
            w for w in caught if "append_app_table_exactly_once" in str(w.message)
        ]
        if getattr(proto_store, "partial_append_visible", False):
            assert append_warns, "object-store append must steer to staged path"
        else:
            assert not append_warns
        report = lake.compact_table("t", app_table=True)
        assert report["files_before"] >= 4
        assert report["files_after"] == 1
        assert lake.read_app_table("t").count() == 400

    def test_cas_conflict_is_loud(self, spark, tmp_path, proto_store):
        lake = Lake(spark, str(tmp_path / "lakecas"), store=proto_store)
        df = spark.createDataFrame([(1,)], "id long")
        lake.write_table(df, "t")
        snapshot = lake.table_version("t")
        lake.write_table(spark.createDataFrame([(2,)], "id long"), "t")
        from pathlib import Path

        base = Path(lake.table_path("t"))
        ver = lake._new_version()
        staging = base / f"_staging-{ver}"
        df.write.mode("overwrite").parquet(str(staging))
        with pytest.raises(ConcurrentWriteError):
            lake._commit_version(base, ver, expect=snapshot, staging=staging)
        # loser's staging discarded, winner's data intact
        assert not staging.exists()
        assert [r["id"] for r in lake.read_table("t").collect()] == [2]

    def test_stale_commit_lock_is_reclaimed(self, spark, tmp_path, proto_store):
        """ADVICE r7: a crashed holder's orphan lock must be reclaimable
        under EVERY backend. Under the s3 stores, rename is copy+delete
        and stamps a fresh mtime on the claim — so staleness must be
        decided from the pre-rename stat and ownership verified by token
        equality alone, or the takeover re-freshens the orphan forever
        and every later commit times out.

        The lock is aged by SLEEPING past stale_after (an object store's
        Last-Modified cannot be backdated the way utime can), which also
        keeps the leg identical across backends."""
        import time as _time
        from pathlib import Path

        lake = Lake(spark, str(tmp_path / "lakelock"), store=proto_store)
        df = spark.createDataFrame([(1,)], "id long")
        lake.write_table(df, "t")
        base = Path(lake.table_path("t"))
        lock = base / "_COMMIT_LOCK"
        assert lake.store.try_create_exclusive(lock, b"crashed-holder-token")
        # age past stale_after; generous margin over LastModified's
        # whole-second granularity on the S3 backends
        _time.sleep(2.2)
        with lake._commit_lock(base, timeout=10.0, stale_after=1.0):
            pass  # acquired despite the orphan — and released cleanly
        # the table is not bricked: later commits go through the same lock
        lake.write_table(spark.createDataFrame([(2,)], "id long"), "t")
        assert [r["id"] for r in lake.read_table("t").collect()] == [2]
        # no stale-claim leftovers either (enumerated through the store)
        assert not lake.store.claim_leftovers(base)

    def test_live_commit_lock_is_not_stolen(self, spark, tmp_path, proto_store):
        """A fresh (live) lock must survive a contender's full timeout:
        no takeover, original token intact."""
        from pathlib import Path

        lake = Lake(spark, str(tmp_path / "lakelive"), store=proto_store)
        lake.write_table(spark.createDataFrame([(1,)], "id long"), "t")
        base = Path(lake.table_path("t"))
        lock = base / "_COMMIT_LOCK"
        assert lake.store.try_create_exclusive(lock, b"live-holder")
        with pytest.raises(TimeoutError):
            with lake._commit_lock(base, timeout=0.3, stale_after=120.0):
                pass
        assert lake.store.read_text(lock) == "live-holder"
        lake.store.delete(lock)

    def test_first_append_to_new_table_does_not_warn(
        self, spark, tmp_path, proto_store
    ):
        """ADVICE r10: the object-store steering warning must NOT fire on
        the first append to a brand-new table — that path falls back to
        the staged `_replace_write` (no partial-visibility window), and a
        false positive trains callers to ignore the real warning."""
        import warnings as _warnings

        lake = Lake(spark, str(tmp_path / "lakefw"), store=proto_store)
        df = spark.createDataFrame([(1,)], "id long")
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            lake.append_app_table(df, "brandnew")
        assert not [
            w for w in caught if "append_app_table_exactly_once" in str(w.message)
        ]
        assert lake.read_app_table("brandnew").count() == 1

    def test_compaction_carries_exactly_once_ledger(
        self, spark, tmp_path, proto_store
    ):
        """ADVICE r10 (medium): a rewrite that PRESERVES exactly-once-
        appended data (compaction) must carry the _batches.json ledger —
        otherwise a crash-replayed epoch re-commits after compaction and
        double-counts rows the stream checkpoint considers durable."""
        lake = Lake(spark, str(tmp_path / "lakelg"), store=proto_store)
        df = spark.createDataFrame([(1,), (2,)], "id long")
        assert lake.append_app_table_exactly_once(df, "t", "epoch-0") is True
        assert lake.append_app_table_exactly_once(df, "t", "epoch-1") is True
        assert lake.read_app_table("t").count() == 4

        lake.compact_table("t", app_table=True)
        # replay of a pre-compaction epoch still no-ops
        assert lake.append_app_table_exactly_once(df, "t", "epoch-0") is False
        assert lake.append_app_table_exactly_once(df, "t", "epoch-1") is False
        assert lake.read_app_table("t").count() == 4
        # and NEW epochs still commit
        assert lake.append_app_table_exactly_once(df, "t", "epoch-2") is True
        assert lake.read_app_table("t").count() == 6

        # same contract through rewrite_app_table(carry_exactly_once_ledger)
        snap = lake.table_version("t", app=True)
        merged = lake.read_app_table("t").distinct()
        lake.rewrite_app_table(
            merged, "t", expected_version=snap, carry_exactly_once_ledger=True
        )
        assert lake.append_app_table_exactly_once(df, "t", "epoch-2") is False
        assert lake.read_app_table("t").count() == 2  # distinct() kept ids 1,2

    def test_compact_preserves_widened_schema(self, spark, tmp_path, proto_store):
        """r11 find: compacting a version holding MIXED-schema files
        (wide write + narrow schema-evolved in-place append) must keep
        the widened column and its data — the plain-footer read dropped
        both silently (same class as the ADVICE-r8 exactly-once fix)."""
        lake = Lake(spark, str(tmp_path / "lakews"), store=proto_store)
        wide = spark.createDataFrame([(1, "a", 9.5)], "id long, v string, extra double")
        lake.write_app_table(wide, "t")
        narrow = spark.createDataFrame([(2, "b")], "id long, v string")
        lake.append_app_table(narrow, "t", allow_schema_evolution=True)

        lake.compact_table("t", app_table=True)
        t = lake.read_app_table("t")
        rows = {r["id"]: r for r in t.collect()}
        assert "extra" in t.columns
        assert rows[1]["extra"] == 9.5
        assert rows[2]["extra"] is None

    def test_rewrite_cas_catches_racing_exactly_once_append(
        self, spark, tmp_path, proto_store
    ):
        """ADVICE r10 (medium): an exactly-once append landing between a
        compacting rewrite's read and its flip must make the rewrite FAIL
        (CAS), never be silently lost — exactly-once appends bump the
        manifest, so the stale expected_version is detectable."""
        lake = Lake(spark, str(tmp_path / "lakecasx"), store=proto_store)
        df = spark.createDataFrame([(1,)], "id long")
        lake.append_app_table_exactly_once(df, "t", "e0")
        snap = lake.table_version("t", app=True)
        merged = lake.read_app_table("t").distinct()
        # racing producer commits e1 after the compactor snapshotted
        lake.append_app_table_exactly_once(df, "t", "e1")
        with pytest.raises(ConcurrentWriteError):
            lake.rewrite_app_table(
                merged, "t", expected_version=snap, carry_exactly_once_ledger=True
            )
        # the raced epoch survived; ledger intact (replay no-ops)
        assert lake.read_app_table("t").count() == 2
        assert lake.append_app_table_exactly_once(df, "t", "e1") is False

    def test_registry_append_then_rewrite(self, spark, tmp_path, proto_store):
        lake = Lake(spark, str(tmp_path / "lakereg"), store=proto_store)
        df = spark.createDataFrame([(1,)], "id long")
        for i in range(3):
            lake.write_table(df, f"t{i}")
            lake.register(f"t{i}", {}, f"r{i}", f"https://x/{i}.csv")
        assert lake.registry().count() == 3
        lake.drop_table("t1")
        got = sorted(r["parsing_table"] for r in lake.registry().collect())
        assert got == ["t0", "t2"]


def test_s3_publish_crash_leaves_readers_on_previous_version(spark, tmp_path):
    """The torn-rename window POSIX doesn't have: an object-store publish
    that dies mid-copy must leave (a) the MANIFEST on the previous
    version, (b) readers returning the previous rows, and (c) the partial
    destination reclaimable by vacuum. This is the exact behavior the
    staged-dir + manifest-PUT protocol exists to guarantee."""
    from pathlib import Path

    store = S3SemanticsStore(fail_after_copies=1)  # die MID-publish
    lake = Lake(spark, str(tmp_path / "lake"), store=PosixStore())
    df1 = spark.createDataFrame([(1, "old")], "id long, v string")
    lake.write_table(df1, "t")
    v1 = lake.table_version("t")

    # swap in the crashing object-store backend for the second commit:
    # a multi-file version dies after one object has landed, leaving a
    # genuinely partial destination prefix
    lake.store = store
    df2 = spark.createDataFrame(
        [(2, "new"), (3, "newer")], "id long, v string"
    ).repartition(2)
    with pytest.raises(RuntimeError, match="injected object-store crash"):
        lake.write_table(df2, "t")

    # (a) manifest still points at v1, (b) readers see the old rows
    assert lake.table_version("t") == v1
    assert [r["v"] for r in lake.read_table("t").collect()] == ["old"]

    # (c) the partial destination dir (a v-* not in the manifest) plus the
    # intact staging source are both reclaimed by vacuum
    lake.store = S3SemanticsStore()  # healed backend
    base = Path(lake.table_path("t"))
    leftovers = [
        d.name for d in base.iterdir()
        if d.is_dir() and d.name != v1 and not d.name.startswith("_COMMIT_LOCK")
    ]
    assert leftovers, "expected a partial publish leftover"
    removed = lake.vacuum(staging_grace_s=0.0)
    assert removed
    still = [
        d.name for d in base.iterdir()
        if d.is_dir() and d.name.startswith(("v-", "_staging-")) and d.name != v1
    ]
    assert still == []
    # and the table still reads fine afterwards
    assert [r["v"] for r in lake.read_table("t").collect()] == ["old"]


def test_s3_publish_file_atomic_visibility(tmp_path):
    """ADVICE r7: S3SemanticsStore.publish_file models a single-object
    PUT, which real S3 makes atomic (a reader sees the old object or the
    new one, never a torn mix). A concurrent reader hammering the key
    while it is republished must never observe a partial body."""
    import threading

    st = S3SemanticsStore()
    dst = tmp_path / "obj"
    old, new = b"A" * 200_000, b"B" * 200_000
    dst.write_bytes(old)
    torn: list[int] = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            data = dst.read_bytes()
            if data != old and data != new:
                torn.append(len(data))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(50):
            body = new if i % 2 == 0 else old
            tmp = tmp_path / f"up-{i}"
            tmp.write_bytes(body)
            st.publish_file(tmp, dst)
            assert not tmp.exists()
    finally:
        stop.set()
        t.join()
    assert not torn, f"reader observed torn object bodies: {torn}"


def _assert_object_store_primitives(st, tmp_path):
    """Shared contract: exclusive create is single-winner, rename is
    copy+delete, relink refuses an existing destination, delete is
    idempotent, missing reads are FileNotFoundError. Expressed purely
    through the store API so the SAME body runs against the local shim
    and a real S3 implementation."""
    a, b = tmp_path / "a", tmp_path / "b"
    assert st.try_create_exclusive(a, b"tok1")
    assert not st.try_create_exclusive(a, b"tok2")
    assert st.read_text(a) == "tok1"
    st.rename(a, b)
    assert not st.exists(a) and st.read_text(b) == "tok1"
    with pytest.raises(FileExistsError):
        st.relink(b, b)
    st.relink(b, a)
    assert st.read_text(a) == "tok1"
    st.delete(a)
    st.delete(a)  # idempotent
    with pytest.raises(FileNotFoundError):
        st.read_text(a)
    with pytest.raises(FileNotFoundError):
        st.mtime(a)
    assert st.mtime(b) > 0


def test_s3_store_primitive_semantics(tmp_path):
    """The shim's primitives behave like the object store they model."""
    _assert_object_store_primitives(S3SemanticsStore(), tmp_path)


def test_moto_store_primitive_semantics(tmp_path, request):
    """The SAME primitive contract executed by a real S3 implementation
    (moto server over boto3) — env-gated, skip-clean elsewhere."""
    _assert_object_store_primitives(_make_store("moto-s3", request), tmp_path)


def test_append_schema_drift_is_loud_and_evolution_widens(spark, tmp_path):
    """r8: an append whose schema drifts used to lose the new column
    SILENTLY at read time (the dir reads as one file's schema). Now:
    drift without the flag is a loud ValueError; with
    allow_schema_evolution the table widens (old rows read NULL); a
    same-name type conflict is refused either way."""
    lake = Lake(spark, str(tmp_path / "lake_evo"))
    lake.write_app_table(
        spark.createDataFrame([(1, "a")], "id long, v string"), "t"
    )

    import pytest as _pytest

    wider = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    )
    with _pytest.raises(ValueError, match="schema drift"):
        lake.append_app_table(wider, "t")
    with _pytest.raises(ValueError, match="type conflict"):
        lake.append_app_table(
            spark.createDataFrame([(3, 4)], "id long, v long"), "t"
        )
    # widening append with the flag: union schema on read, NULL backfill
    lake.append_app_table(wider, "t", allow_schema_evolution=True)
    back = lake.read_app_table("t")
    assert set(back.columns) == {"id", "v", "score"}
    got = {r["id"]: (r["v"], r["score"]) for r in back.collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}
    # narrowing append (subset of columns) also needs the flag
    narrow = spark.createDataFrame([(4,)], "id long")
    with _pytest.raises(ValueError, match="schema drift"):
        lake.append_app_table(narrow, "t")
    lake.append_app_table(narrow, "t", allow_schema_evolution=True)
    got = {r["id"]: (r["v"], r["score"]) for r in lake.read_app_table("t").collect()}
    assert got[4] == (None, None)
    # matched-schema appends still need no flag
    lake.append_app_table(
        spark.createDataFrame(
            [(5, "e", 1.0)], "id long, v string, score double"
        ),
        "t",
    )
    assert lake.read_app_table("t").count() == 4


def test_moto_vacuum_reclaims_stale_claims_from_bucket(spark, tmp_path, request):
    """Crashed stale-takeover claims live as BUCKET KEYS under the s3
    backend — vacuum must enumerate them through store.claim_leftovers
    (a local iterdir can't see them) and delete the keys. Env-gated like
    the rest of the moto matrix."""
    from pathlib import Path

    store = _make_store("moto-s3", request)
    lake = Lake(spark, str(tmp_path / "lakevac"), store=store)
    lake.write_table(spark.createDataFrame([(1,)], "id long"), "t")
    base = Path(lake.table_path("t"))
    # two orphaned claims from crashed takeovers
    for i in range(2):
        store.put_text(base / f"_COMMIT_LOCK.stale-{i:08x}", f"tok{i}")
    assert len(store.claim_leftovers(base)) == 2
    removed = lake.vacuum(staging_grace_s=0.0)
    assert sum("_COMMIT_LOCK.stale-" in r for r in removed) == 2
    assert store.claim_leftovers(base) == []
    # the table itself is untouched
    assert [r["id"] for r in lake.read_table("t").collect()] == [1]


def test_moto_data_bytes_live_only_in_bucket(spark, tmp_path, request):
    """VERDICT r8 #3 — the data plane goes through the object store: after
    a commit the parquet part files exist as BUCKET KEYS and have no local
    footprint; a read lists the version prefix (list-after-write) and GETs
    the bytes back; drop removes the keys."""
    from pathlib import Path

    store = _make_store("moto-s3", request)
    lake = Lake(spark, str(tmp_path / "lakedata"), store=store)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id long, v string")
    lake.write_table(df, "t")
    base = Path(lake.table_path("t"))
    ver = lake.table_version("t")
    # committed bytes are server-side only: keys exist, local dir doesn't
    keys = [o["Key"] for o in store._iter_keys(store._key(base / ver) + "/")]
    assert any(k.endswith(".parquet") for k in keys)
    assert not (base / ver).exists()
    # read = list + GET into the local cache, values intact
    assert sorted(r["id"] for r in lake.read_table("t").collect()) == list(range(50))
    assert (base / ver).is_dir()  # the materialized cache
    # a second read does not re-download (size-matched cache hit)
    mtimes = {p: p.stat().st_mtime_ns for p in (base / ver).rglob("*.parquet")}
    lake.read_table("t").collect()
    assert {p: p.stat().st_mtime_ns for p in (base / ver).rglob("*.parquet")} == mtimes
    # exactly-once append with the ledger riding the bucket round-trip
    assert lake.append_app_table_exactly_once(
        spark.createDataFrame([(100, "x")], "id long, v string"), "app", "b-1"
    )
    assert not lake.append_app_table_exactly_once(
        spark.createDataFrame([(100, "x")], "id long, v string"), "app", "b-1"
    )
    assert lake.read_app_table("app").count() == 1
    # drop removes the keys too
    lake.drop_table("t")
    assert list(store._iter_keys(store._key(base) + "/")) == []


def test_moto_torn_publish_leaves_readers_on_previous_version(spark, tmp_path, request):
    """The torn-publish window against the REAL S3 API: a publish that
    dies mid-upload leaves the MANIFEST on the previous version, readers
    on the previous rows (served from the bucket), and the partial
    destination prefix reclaimable by vacuum."""
    from pathlib import Path

    store = _make_store("moto-s3", request)
    lake = Lake(spark, str(tmp_path / "laketorn"), store=store)
    lake.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "t"
    )
    v1 = lake.table_version("t")
    # second write crashes after 1 object PUT
    store.fail_after_puts = store.puts_done + 1
    with pytest.raises(RuntimeError, match="injected object-store crash"):
        lake.write_table(spark.createDataFrame([(3, "c")], "id long, v string"), "t")
    store.fail_after_puts = None
    # readers stay on the previous version, straight from the bucket
    assert lake.table_version("t") == v1
    assert sorted(r["v"] for r in lake.read_table("t").collect()) == ["a", "b"]
    # the partial prefix (and the crashed writer's local staging) reclaim
    base = Path(lake.table_path("t"))
    removed = lake.vacuum(staging_grace_s=0.0)
    assert any("v-" in r or "_staging-" in r for r in removed)
    leftover = {
        o["Key"].split("/")[len(store._key(base).split("/"))]
        for o in store._iter_keys(store._key(base) + "/")
    }
    assert leftover <= {v1, "MANIFEST"}  # no partial v-* prefix survives
    # and the table still takes new commits cleanly
    lake.write_table(spark.createDataFrame([(9, "z")], "id long, v string"), "t")
    assert [r["v"] for r in lake.read_table("t").collect()] == ["z"]


def test_moto_fresh_process_reads_and_drops_bucket_resident_table(spark, tmp_path, request):
    """A second Lake instance with NO local footprint (new machine, same
    bucket) must read a bucket-resident table via MANIFEST + list + GET,
    and drop must remove the keys — a local-existence guard would strand
    them forever."""
    import shutil
    from pathlib import Path

    store = _make_store("moto-s3", request)
    root = str(tmp_path / "lakefresh")
    lake_a = Lake(spark, root, store=store)
    lake_a.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), "t"
    )
    # simulate a fresh host: wipe ALL local state under the root
    shutil.rmtree(root)
    lake_b = Lake(spark, root, store=store)
    assert sorted(r["v"] for r in lake_b.read_table("t").collect()) == ["a", "b"]
    # wipe again so drop_table runs with no local footprint either
    shutil.rmtree(root)
    lake_c = Lake(spark, root, store=store)
    lake_c.drop_table("t")
    base = Path(lake_c.table_path("t"))
    assert list(store._iter_keys(store._key(base) + "/")) == []


# ------------------------------------------------------ commit-log tables ----
def test_log_table_exactly_once_laws(spark, tmp_path):
    """append_log_table_exactly_once: O(batch) commits with marker-file
    atomicity. Laws: commit True / replay False off the marker alone;
    distinct batches commit independently; a torn append (data dir, no
    marker) is INVISIBLE to readers and healed in place by the replay;
    zero-commit reads return the bootstrap schema, empty."""
    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")

    assert lake.append_log_table_exactly_once(b0, "t", "ep-0") is True
    assert lake.append_log_table_exactly_once(b0, "t", "ep-0") is False  # replay
    assert lake.append_log_table_exactly_once(b1, "t", "ep-1") is True
    got = sorted(map(tuple, lake.read_log_table("t").collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # torn append: data dir lands, crash before the marker — invisible
    from pathlib import Path

    base = Path(lake.app_table_path("t"))
    cur = lake._current_dir(base)
    torn = spark.createDataFrame([(9, "torn")], "id long, v string")
    torn.write.mode("overwrite").parquet(str(cur / f"batch={lake._log_safe('ep-2')}"))
    assert sorted(map(tuple, lake.read_log_table("t").collect())) == got
    # the replay overwrites the torn dir and commits — exactly one copy
    assert lake.append_log_table_exactly_once(torn, "t", "ep-2") is True
    got2 = sorted(map(tuple, lake.read_log_table("t").collect()))
    assert got2 == [(1, "a"), (2, "b"), (3, "c"), (9, "torn")]

    # zero-commit table: bootstrap schema, no rows
    empty = spark.createDataFrame([], "id long, v string")
    assert lake.append_log_table_exactly_once(empty, "e", "ep-0") is True
    r = lake.read_log_table("e")
    assert r.count() == 0 and set(r.columns) == {"id", "v"}


def test_log_table_compaction_folds_and_markers_survive(spark, tmp_path):
    """compact_log_table: rows identical before/after (manifest-flip
    atomic), batch dirs folded to one, and every pre-fold marker
    survives — a crash-replayed producer keeps no-opping after its rows
    were folded; post-fold appends land and read normally."""
    from pathlib import Path

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    for ep in range(4):
        lake.append_log_table_exactly_once(
            spark.createDataFrame([(ep, f"v{ep}")], "id long, v string"), "t", f"ep-{ep}"
        )
    before = sorted(map(tuple, lake.read_log_table("t").collect()))
    stats = lake.compact_log_table("t")
    assert stats["batches_folded"] == 4 and stats["markers_carried"] == 4
    assert sorted(map(tuple, lake.read_log_table("t").collect())) == before
    base = Path(lake.app_table_path("t"))
    cur = lake._current_dir(base)
    assert sum(1 for d in cur.iterdir() if d.name.startswith("batch=")) == 1

    # replays of folded epochs still no-op
    for ep in range(4):
        assert (
            lake.append_log_table_exactly_once(
                spark.createDataFrame([(ep, "dup")], "id long, v string"), "t", f"ep-{ep}"
            )
            is False
        )
    # and new epochs keep landing
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(99, "new")], "id long, v string"), "t", "ep-99"
    ) is True
    assert sorted(map(tuple, lake.read_log_table("t").collect())) == before + [(99, "new")]


def test_log_table_append_cost_is_batch_sized(spark, tmp_path):
    """The reason this verb exists: committing epoch N must not rewrite
    epochs 0..N-1. Pinned structurally (no wall-clock): after each
    append, every PRIOR batch dir's data files are bit-identical (same
    paths, sizes, mtimes) — an O(table) rewrite would recreate them."""
    from pathlib import Path

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    seen: dict[str, tuple] = {}
    for ep in range(5):
        lake.append_log_table_exactly_once(
            spark.createDataFrame([(ep,)], "id long"), "t", f"ep-{ep}"
        )
        base = Path(lake.app_table_path("t"))
        cur = lake._current_dir(base)
        for d in cur.iterdir():
            if not d.name.startswith("batch="):
                continue
            for p in d.glob("*.parquet"):
                sig = (p.stat().st_size, p.stat().st_mtime_ns)
                if str(p) in seen:
                    assert seen[str(p)] == sig, f"prior batch file rewritten: {p}"
                seen[str(p)] = sig
    assert len(seen) >= 5


def test_log_table_concurrent_distinct_batches_all_commit(spark, tmp_path):
    """The no-shared-read-modify-write claim, exercised for real: four
    distinct batches committed from four threads at once must all land
    exactly once (the rewrite-ledger path would CAS-conflict here; the
    marker protocol has nothing to conflict on)."""
    from concurrent.futures import ThreadPoolExecutor

    from udata_datalake_service_spark.sinks.lake import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    # bootstrap serially so the racing appends all land in one version
    lake.append_log_table_exactly_once(
        spark.createDataFrame([(0,)], "id long"), "t", "ep-0"
    )

    def commit(ep: int) -> bool:
        return lake.append_log_table_exactly_once(
            spark.createDataFrame([(ep * 10 + j,) for j in range(3)], "id long"),
            "t",
            f"ep-{ep}",
        )

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(commit, [1, 2, 3, 4]))
    assert results == [True, True, True, True]
    got = sorted(r["id"] for r in lake.read_log_table("t").collect())
    assert got == sorted([0] + [e * 10 + j for e in (1, 2, 3, 4) for j in range(3)])


def test_moto_log_replay_after_partial_upload_no_duplicates(spark, tmp_path, request):
    """ADVICE r11 (high): on the S3 backend a crash AFTER some batch part
    files were uploaded but BEFORE the marker PUT must not poison the
    batch — the replay's Spark job picks different part-file names, and
    the delta upload is add-only, so without the pre-write prefix clear
    the marker would commit BOTH attempts' files (duplicate rows).

    Simulated by planting a stale first-attempt part file directly under
    the batch prefix in the bucket (markerless, so invisible), then
    replaying the append and asserting the read holds exactly one copy
    and the stale key is gone."""
    from pathlib import Path

    store = _make_store("moto-s3", request)
    lake = Lake(spark, str(tmp_path / "lakedup"), store=store)
    b0 = spark.createDataFrame([(1, "a")], "id long, v string")
    b1 = spark.createDataFrame([(2, "b")], "id long, v string")
    assert lake.append_log_table_exactly_once(b0, "t", "ep-0") is True

    base = Path(lake.app_table_path("t"))
    cur = lake._current_dir(base)
    bdir = cur / f"batch={lake._log_safe('ep-1')}"
    # first attempt's upload: same rows, a part-file name the replay's
    # job will never reuse
    stale_local = tmp_path / "stale"
    b1.coalesce(1).write.mode("overwrite").parquet(str(stale_local))
    (src,) = stale_local.glob("*.parquet")
    stale_key = (
        store._key(bdir) + "/part-00000-stale-attempt.c000.snappy.parquet"
    )
    store.c.put_object(Bucket=store.bucket, Key=stale_key, Body=src.read_bytes())
    # markerless ⇒ the torn attempt is invisible
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [1]

    # replay: must clear the prefix before re-uploading, then commit
    assert lake.append_log_table_exactly_once(b1, "t", "ep-1") is True
    got = sorted(map(tuple, lake.read_log_table("t").collect()))
    assert got == [(1, "a"), (2, "b")], f"duplicate rows from stale attempt: {got}"
    keys = [o["Key"] for o in store._iter_keys(store._key(bdir) + "/")]
    assert stale_key not in keys


def test_log_append_migrates_legacy_rewrite_rows(spark, tmp_path, proto_store):
    """ADVICE r11 (medium): the first commit-log append to a table built
    by the REWRITE path (rows as root-level part files) must not hide the
    pre-existing rows — they are folded into a marker-committed legacy
    batch, once, on every backend."""
    lake = Lake(spark, str(tmp_path / "lakemig"), store=proto_store)
    legacy = spark.createDataFrame([(1, "old"), (2, "old")], "id long, v string")
    assert lake.append_app_table_exactly_once(legacy, "t", "rw-0") is True
    # pre-migration read already works via the zero-marker root fallback
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [1, 2]

    new = spark.createDataFrame([(3, "new")], "id long, v string")
    assert lake.append_log_table_exactly_once(new, "t", "ep-0") is True
    got = sorted(map(tuple, lake.read_log_table("t").collect()))
    assert got == [(1, "old"), (2, "old"), (3, "new")]
    # idempotent: further appends do not re-fold the legacy rows
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(4, "new")], "id long, v string"), "t", "ep-1"
    ) is True
    got = sorted(map(tuple, lake.read_log_table("t").collect()))
    assert got == [(1, "old"), (2, "old"), (3, "new"), (4, "new")]
    # and the fingerprint-shaped anti-join keeps seeing legacy rows
    assert lake.read_log_table("t").where("v = 'old'").count() == 2


def test_log_append_refuses_partitioned_legacy_table(spark, tmp_path):
    """Partitioned rewrite-path rows live under col=value/ dirs the root
    fold cannot carry — the append must refuse loudly instead of hiding
    them (partial migration would be the silent-loss bug in disguise)."""
    import pytest as _pytest

    lake = Lake(spark, str(tmp_path / "lakepart"))
    legacy = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id long, v string, day string"
    )
    lake.write_app_table(legacy, "t", partition_by=["day"])
    with _pytest.raises(ValueError, match="partitioned rewrite-path data"):
        lake.append_log_table_exactly_once(
            spark.createDataFrame([(3, "c", "d3")], "id long, v string, day string"),
            "t",
            "ep-0",
        )


def test_compact_log_table_aborts_on_concurrent_append(spark, tmp_path):
    """ADVICE r11: an append committing between the fold's read and its
    manifest flip would be dropped (its marker carried ⇒ replay no-ops ⇒
    rows silently lost forever). The post-staging marker re-list must
    abort the flip; a retry folds everything."""
    import pytest as _pytest

    from udata_datalake_service_spark.sinks.lake import ConcurrentWriteError

    lake = Lake(spark, str(tmp_path / "lakeca"))
    for ep in range(2):
        lake.append_log_table_exactly_once(
            spark.createDataFrame([(ep,)], "id long"), "t", f"ep-{ep}"
        )

    real_read = lake.read_log_table
    fired = {"done": False}

    def read_with_concurrent_append(name):
        # lands AFTER compact listed its fold set, BEFORE the flip
        if not fired["done"]:
            fired["done"] = True
            assert lake.append_log_table_exactly_once(
                spark.createDataFrame([(99,)], "id long"), "t", "ep-late"
            ) is True
        return real_read(name)

    lake.read_log_table = read_with_concurrent_append
    try:
        with _pytest.raises(ConcurrentWriteError, match="gained 1 commit"):
            lake.compact_log_table("t")
    finally:
        lake.read_log_table = real_read
    # nothing lost: the late append is visible, and a retry folds it too
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [0, 1, 99]
    stats = lake.compact_log_table("t")
    assert stats["batches_folded"] == 3
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [0, 1, 99]
    # the late producer's replay still no-ops after the fold
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(99,)], "id long"), "t", "ep-late"
    ) is False


def test_log_bootstrap_cas_loser_adopts_winner(spark, tmp_path):
    """ADVICE r11: two concurrent FIRST appends to a brand-new log table
    both take the schema-bootstrap path; the manifest-CAS loser must
    adopt the winner's (identical, schema-only) bootstrap and commit its
    batch instead of raising. Deterministic loser simulation: the
    bootstrap write races a winner that publishes first."""
    from udata_datalake_service_spark.sinks.lake import ConcurrentWriteError

    lake = Lake(spark, str(tmp_path / "lakeboot"))
    winner = Lake(spark, str(tmp_path / "lakeboot"))
    real_replace = lake._replace_write

    def losing_replace(df, base, **kw):
        # the winner bootstraps + commits its batch while the loser's
        # bootstrap is in flight; the loser's CAS then fails
        winner.append_log_table_exactly_once(
            spark.createDataFrame([(1,)], "id long"), "t", "ep-w"
        )
        raise ConcurrentWriteError("manifest moved: simulated lost bootstrap race")

    lake._replace_write = losing_replace
    try:
        assert lake.append_log_table_exactly_once(
            spark.createDataFrame([(2,)], "id long"), "t", "ep-l"
        ) is True
    finally:
        lake._replace_write = real_replace
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [1, 2]


def test_moto_log_append_is_o_batch_no_data_download(spark, tmp_path, request):
    """The commit-log append on the bucket backend must stay O(batch):
    committing epoch N from a fresh host (empty local cache) must NOT
    download the other batches' data bytes — only the control surface
    (markers + root schema files). Before r12 the append materialized
    the WHOLE version prefix, silently making every commit O(table)."""
    import shutil as _shutil
    from pathlib import Path

    store = _make_store("moto-s3", request)
    root = str(tmp_path / "lakeobatch")
    lake_a = Lake(spark, root, store=store)
    for ep in range(3):
        assert lake_a.append_log_table_exactly_once(
            spark.createDataFrame([(ep,)], "id long"), "t", f"ep-{ep}"
        )
    # fresh host: no local cache at all
    _shutil.rmtree(root)
    lake_b = Lake(spark, root, store=store)
    assert lake_b.append_log_table_exactly_once(
        spark.createDataFrame([(99,)], "id long"), "t", "ep-99"
    ) is True
    cur = lake_b._current_dir(Path(lake_b.app_table_path("t")))
    cached_batches = {
        d.name for d in cur.iterdir() if d.name.startswith("batch=")
    }
    # only the batch this host committed is in its local cache
    assert cached_batches == {f"batch={lake_b._log_safe('ep-99')}"}, cached_batches
    # markers for all PRIOR epochs were fetched (replay checks work);
    # this host's own marker is a bucket-side conditional PUT
    assert len(list((cur / "_commits").glob("*.json"))) == 3
    marker_keys = [
        o["Key"]
        for o in store._iter_keys(store._key(cur / "_commits") + "/")
    ]
    assert len(marker_keys) == 4
    # and a replay of an old epoch still no-ops without data downloads
    assert lake_b.append_log_table_exactly_once(
        spark.createDataFrame([(0,)], "id long"), "t", "ep-0"
    ) is False
    cached_batches = {
        d.name for d in cur.iterdir() if d.name.startswith("batch=")
    }
    assert cached_batches == {f"batch={lake_b._log_safe('ep-99')}"}
    # full read still sees every committed row (materialize_dir path)
    assert sorted(r["id"] for r in lake_b.read_log_table("t").collect()) == [
        0, 1, 2, 99,
    ]


def test_moto_partitioned_legacy_guard_survives_fresh_host(spark, tmp_path, request):
    """ADVICE r12 (medium): the partitioned-legacy refusal in
    _migrate_legacy_log_roots used local iterdir, but materialize_control
    deliberately skips col=value/ data keys on the bucket backend — on a
    FRESH host the guard silently passed and the first commit-log marker
    hid the partitioned legacy rows. The guard must detect partition dirs
    from the backend listing."""
    import shutil as _shutil

    import pytest as _pytest

    store = _make_store("moto-s3", request)
    root = str(tmp_path / "lakepartmoto")
    lake_a = Lake(spark, root, store=store)
    legacy = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d2")], "id long, v string, day string"
    )
    lake_a.write_app_table(legacy, "t", partition_by=["day"])
    # fresh host: empty local cache, rows live only in the bucket
    _shutil.rmtree(root)
    lake_b = Lake(spark, root, store=store)
    with _pytest.raises(ValueError, match="partitioned rewrite-path data"):
        lake_b.append_log_table_exactly_once(
            spark.createDataFrame(
                [(3, "c", "d3")], "id long, v string, day string"
            ),
            "t",
            "ep-0",
        )


def test_compact_adopts_straggler_between_relist_and_flip(
    spark, tmp_path, proto_store
):
    """ADVICE r12 (medium): a marker landing AFTER the fold's re-list but
    BEFORE the manifest flip was silently lost (its producer already
    returned True, so no replay ever comes). The post-flip straggler
    sweep must adopt it into the new version."""
    lake = Lake(spark, str(tmp_path / "lakestrag"), store=proto_store)
    for ep in range(2):
        assert lake.append_log_table_exactly_once(
            spark.createDataFrame([(ep,)], "id long"), "t", f"ep-{ep}"
        ) is True

    real_commit = lake._commit_version
    fired = {"done": False}

    def commit_with_straggler(base, ver, expect=None, staging=None):
        # lands AFTER the re-list (which runs before _commit_version),
        # BEFORE the flip — the exact formerly-lost window
        if not fired["done"]:
            fired["done"] = True
            assert lake.append_log_table_exactly_once(
                spark.createDataFrame([(99,)], "id long"), "t", "ep-strag"
            ) is True
        return real_commit(base, ver, expect=expect, staging=staging)

    lake._commit_version = commit_with_straggler
    try:
        stats = lake.compact_log_table("t")
    finally:
        lake._commit_version = real_commit
    assert stats["stragglers_adopted"] == 1
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [0, 1, 99]
    # the straggler's producer replay still no-ops (marker adopted)
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(99,)], "id long"), "t", "ep-strag"
    ) is False
    # a further compaction folds the adopted dir like any other batch
    stats2 = lake.compact_log_table("t")
    assert stats2["batches_folded"] == 2  # fold dir + adopt dir
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [0, 1, 99]


def test_append_post_verify_survives_concurrent_compaction_flip(
    spark, tmp_path, proto_store
):
    """Producer side of the lost-append fence: when the compaction's
    re-list AND sweep both ran before this append's marker landed, the
    append must notice the manifest moved and re-append into the new
    version instead of reporting success for invisible rows."""
    from pathlib import Path as _P

    lake = Lake(spark, str(tmp_path / "lakefence"), store=proto_store)
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(0,)], "id long"), "t", "ep-0"
    ) is True

    target = f"{lake._log_safe('ep-late')}.json"
    real_tce = proto_store.try_create_exclusive
    fired = {"done": False}

    def tce_with_flip(path, data):
        # compaction completes (flip + sweep) just before the producer's
        # marker becomes durable in the OLD version dir
        if _P(path).name == target and not fired["done"]:
            fired["done"] = True
            lake.compact_log_table("t")
        return real_tce(path, data)

    proto_store.try_create_exclusive = tce_with_flip
    try:
        assert lake.append_log_table_exactly_once(
            spark.createDataFrame([(7,)], "id long"), "t", "ep-late"
        ) is True
    finally:
        proto_store.try_create_exclusive = real_tce
    rows = [r["id"] for r in lake.read_log_table("t").collect()]
    assert sorted(rows) == [0, 7]  # exactly once: no loss, no duplicate
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(7,)], "id long"), "t", "ep-late"
    ) is False


def test_recover_log_table_after_sweep_crash(spark, tmp_path, proto_store):
    """The one residual window: compactor crashes between its flip and
    its straggler sweep. recover_log_table (run automatically at the
    next compaction) must adopt the stragglers from the swept-from
    breadcrumb."""
    import pytest as _pytest

    lake = Lake(spark, str(tmp_path / "lakerec"), store=proto_store)
    for ep in range(2):
        assert lake.append_log_table_exactly_once(
            spark.createDataFrame([(ep,)], "id long"), "t", f"ep-{ep}"
        ) is True

    real_commit = lake._commit_version
    fired = {"done": False}

    def commit_with_straggler(base, ver, expect=None, staging=None):
        if not fired["done"]:
            fired["done"] = True
            assert lake.append_log_table_exactly_once(
                spark.createDataFrame([(99,)], "id long"), "t", "ep-strag"
            ) is True
        return real_commit(base, ver, expect=expect, staging=staging)

    real_sweep = lake._adopt_log_stragglers

    def crashing_sweep(*a, **k):
        raise RuntimeError("injected crash between flip and sweep")

    lake._commit_version = commit_with_straggler
    lake._adopt_log_stragglers = crashing_sweep
    try:
        with _pytest.raises(RuntimeError, match="injected crash"):
            lake.compact_log_table("t")
    finally:
        lake._commit_version = real_commit
        lake._adopt_log_stragglers = real_sweep
    # honest intermediate state: the flip happened, the straggler is
    # invisible until recovery runs
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [0, 1]
    out = lake.recover_log_table("t")
    assert out["stragglers_adopted"] == 1
    assert sorted(r["id"] for r in lake.read_log_table("t").collect()) == [0, 1, 99]
    # recovery is idempotent
    assert lake.recover_log_table("t")["stragglers_adopted"] == 0
    assert lake.append_log_table_exactly_once(
        spark.createDataFrame([(99,)], "id long"), "t", "ep-strag"
    ) is False


# ------------------------------------------------ schema resolution memo ----
def _with_job_count(spark, fn):
    """(fn(), the number of Spark jobs it started), counted through a
    StatusTracker job group cleared on the way out."""
    sc = spark.sparkContext
    group = f"test-jobs-{_uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("partition_by", [None, ["check_date"]])
def test_repeated_read_of_unchanged_table_runs_no_job(spark, tmp_path, partition_by):
    import datetime as dt

    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    df = spark.createDataFrame(
        [(1, "a", dt.date(2024, 1, 1)), (2, None, dt.date(2024, 1, 2)),
         (3, "c", dt.date(2024, 1, 2))],
        "id long, v string, check_date date",
    )
    lake.write_app_table(df, "checks", partition_by=partition_by)
    _, first = _with_job_count(spark, lambda: lake.read_app_table("checks"))
    again, n = _with_job_count(spark, lambda: lake.read_app_table("checks"))
    assert first >= 1 and n == 0
    fresh = Lake(spark, root).read_app_table("checks")
    assert again.schema == fresh.schema
    assert sorted(again.collect()) == sorted(fresh.collect())


def test_widening_append_after_memoized_read_shows_new_column(spark, tmp_path):
    """The memo is checked against the files the read itself lists, so a
    widening append from this instance or from another `Lake` on the same
    root is seen by the next read."""
    root = str(tmp_path / "lake")
    lake = Lake(spark, root)
    lake.write_app_table(spark.createDataFrame([(1, "a")], "id long, v string"), "t")
    lake.read_app_table("t")
    lake.read_app_table("t")  # memoized
    lake.append_app_table(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double"),
        "t",
        allow_schema_evolution=True,
    )
    back = lake.read_app_table("t")
    assert set(back.columns) == {"id", "v", "score"}
    assert {r["id"]: r["score"] for r in back.collect()} == {1: None, 2: 9.5}

    Lake(spark, root).append_app_table(
        spark.createDataFrame([(3, True)], "id long, flag boolean"),
        "t",
        allow_schema_evolution=True,
    )
    back = lake.read_app_table("t")
    assert set(back.columns) == {"id", "v", "score", "flag"}
    assert {r["id"]: r["flag"] for r in back.collect()} == {1: None, 2: None, 3: True}


def test_schema_memo_holds_one_entry_per_table_and_drop_evicts(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    lake.write_app_table(spark.createDataFrame([(1, 0)], "id long, n long"), "catalog")
    for _ in range(5):
        cur = lake.read_app_table("catalog")
        lake.rewrite_app_table(cur.withColumn("n", F.col("n") + 1), "catalog")
    assert lake.read_app_table("catalog").collect()[0]["n"] == 5
    assert list(lake._schemas) == [lake.app_table_path("catalog")]

    lake.write_table(spark.createDataFrame([(1,)], "id long"), "conv")
    lake.read_table("conv")
    assert lake.table_path("conv") in lake._schemas
    lake.drop_table("conv")
    assert lake.table_path("conv") not in lake._schemas


def test_registry_reads_with_its_declared_schema_and_runs_no_job(spark, tmp_path):
    from udata_datalake_service_spark.schemas import TABLES_INDEX_SCHEMA

    lake = Lake(spark, str(tmp_path / "lake"))
    assert lake.registry().schema == TABLES_INDEX_SCHEMA  # empty fallback
    lake.register("t1", {"total_lines": 2}, "r1", "https://a.org/1.csv")
    lake.register("t2", {"total_lines": 3}, "r2", "https://a.org/2.csv", {"id": "btree"})
    reg, n = _with_job_count(spark, lake.registry)
    assert n == 0
    assert reg.schema == TABLES_INDEX_SCHEMA
    ver = lake.table_version("tables_index", app=True)
    inferred = spark.read.parquet(f"{lake.registry_path}/{ver}")
    assert inferred.schema == TABLES_INDEX_SCHEMA
    assert sorted(reg.collect()) == sorted(inferred.collect())
