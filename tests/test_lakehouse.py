"""Direct unit tests for the snapshot table layer — edge cases the
lifecycle queries don't isolate (SURVEY.md §5 strategy: self-verifying
DML + unit coverage of the commit protocol)."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
    ConflictError,
    LakehouseTable,
    partition_transform,
)
from dbx_workspace_and_emr_iceberg_spark.tables import load_table

from tests.conftest import SF_DIR


@pytest.fixture()
def wh():
    d = tempfile.mkdtemp(prefix="lh_unit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_create_twice_rejected(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region"))
    with pytest.raises(ValueError, match="already exists"):
        t.create(load_table(spark, SF_DIR, "region"))


def test_noop_delete_commits_nothing(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region"))
    v_before = t.current_version()
    v_after = t.delete_where(F.col("r_regionkey") > 999)
    assert v_after == v_before, "no-op delete must not create a snapshot"


def test_overwrite_replaces_files(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region"))
    old_files = set(t._files())
    t.overwrite(load_table(spark, SF_DIR, "nation"))
    assert set(t._files()).isdisjoint(old_files)
    assert t.read().count() == 25
    # time travel still sees the pre-overwrite data
    assert t.read(version=1).count() == 5


def test_stale_writer_conflict(spark, wh):
    t1 = LakehouseTable(spark, wh, "t")
    t1.create(load_table(spark, SF_DIR, "region").coalesce(1))
    t2 = LakehouseTable(spark, wh, "t")  # second writer, same table
    t1.append(load_table(spark, SF_DIR, "region").limit(1).coalesce(1))
    with pytest.raises(ConflictError):
        t2._commit({"files": t2._files(), "schema": t2.schema_json(), "op": "x"}, 1)


def test_empty_table_read_has_schema(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region").coalesce(1))
    t.delete_where(F.lit(True))
    df = t.read()
    assert df.count() == 0
    assert df.columns == ["r_regionkey", "r_name"]


def test_partition_transform_parsing():
    name, _ = partition_transform("days(ts)")
    assert name == "p_days_ts"
    name, _ = partition_transform("bucket(16, user_id)")
    assert name == "p_bucket_user_id"
    name, _ = partition_transform("truncate(3, p_brand)")
    assert name == "p_trunc_p_brand"
    with pytest.raises(ValueError):
        partition_transform("spiral(ts)")


def test_expired_snapshot_files_deleted(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    reg = load_table(spark, SF_DIR, "region").coalesce(1)
    t.create(reg)
    t.overwrite(load_table(spark, SF_DIR, "nation").coalesce(1))
    v1_files = t._read_manifest(1)["files"]
    t.expire_snapshots(keep_last=1)
    assert all(not os.path.exists(f) for f in v1_files), "orphan files not removed"
    assert t.read().count() == 25, "current snapshot intact"


def test_incremental_empty_range(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    v = t.create(load_table(spark, SF_DIR, "region"))
    assert t.read_incremental(v, v).count() == 0


def test_changelog_skips_metadata_only_commits(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    v1 = t.create(load_table(spark, SF_DIR, "region"))
    v2 = t.add_column("note", "string")
    chg = t.changelog(v1, v2)
    assert chg.count() == 0
    assert "_change_type" in chg.columns


def test_changelog_overwrite_is_full_diff(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    reg = load_table(spark, SF_DIR, "region")
    v1 = t.create(reg)
    v2 = t.overwrite(reg.filter(F.col("r_regionkey") < 2))
    chg = t.changelog(v1, v2)
    n_del = chg.filter(F.col("_change_type") == "DELETE").count()
    n_ins = chg.filter(F.col("_change_type") == "INSERT").count()
    # overwrite rewrote all 5 rows into files keeping only 2: net -3
    assert n_del - n_ins == 3


def test_rewrite_sorted_preserves_rows(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    nat = load_table(spark, SF_DIR, "nation")
    t.create(nat.repartition(4, "n_name"))
    t.rewrite_sorted("n_nationkey", target_files=4)
    got = t.read()
    assert got.exceptAll(nat).count() == 0 and nat.exceptAll(got).count() == 0


# --- regression tests: round-2 advisor findings ----------------------------


def test_delete_where_keeps_null_predicate_rows(spark, wh):
    """SQL DELETE removes rows where cond is TRUE only; a NULL predicate
    must keep the row (NOT NULL => NULL would silently drop it)."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3), (4, None)], "id int, score int"
    ).coalesce(1)
    t = LakehouseTable(spark, wh, "t")
    t.create(df)
    t.delete_where(F.col("score") > 5)  # TRUE only for id=1
    left = {r.id for r in t.read().collect()}
    assert left == {2, 3, 4}, f"NULL-predicate rows must survive, got {left}"


def test_merge_preserves_null_key_target_rows(spark, wh):
    """A pre-existing target row whose merge-key column is NULL is not
    matched by any source row and must pass through unchanged (key-
    nullability classification would corrupt or delete it)."""
    tgt = spark.createDataFrame(
        [(1, "a"), (None, "keep_me")], "k int, v string"
    ).coalesce(1)
    src = spark.createDataFrame([(1, "updated"), (7, "new")], "k int, v string")
    t = LakehouseTable(spark, wh, "t")
    t.create(tgt)
    t.merge_into(
        src, on="k", update_cols={"v": F.col("__src").getField("v")}, insert=True
    )
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(1, "updated"), (None, "keep_me"), (7, "new")}, rows


def test_merge_rejects_duplicate_source_keys(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1))
    dup_src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k int, v string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_into(dup_src, on="k")


def test_partitioned_read_honors_manifest_after_dml(spark, wh):
    """Copy-on-write DML on a partitioned table leaves stale files on
    disk until expiry; read() must follow the manifest file list, not
    the directory listing, or deleted rows resurrect."""

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id"
    ).filter(F.col("event_id") % 7 == 0)
    t = LakehouseTable(spark, wh, "ev")
    t.create(ev, partition_by=["bucket(2, user_id)"])
    n0 = t.read().count()
    doomed = t.read().filter(F.col("event_id") % 14 == 0).count()
    assert doomed > 0
    t.delete_where(F.col("event_id") % 14 == 0)
    assert t.read().count() == n0 - doomed, "deleted rows resurrected from stale files"
    # time travel to the pre-delete snapshot still sees everything
    assert t.read(version=1).count() == n0


def test_snapshots_relation_survives_expiry(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    reg = load_table(spark, SF_DIR, "region").coalesce(1)
    t.create(reg)
    t.append(reg.limit(1))
    t.append(reg.limit(1))
    t.expire_snapshots(keep_last=1)
    vers = [r.version for r in t.snapshots().collect()]
    assert vers == [3], f"snapshots() must skip expired manifests, got {vers}"


def test_rest_catalog_conf_shape():
    """The REST+OAuth2 knobs the reference pins (main.tf:795-801) must
    all surface through iceberg_rest_catalog_conf — config-only, no
    jars needed to assert the contract."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        iceberg_rest_catalog_conf,
    )

    conf = iceberg_rest_catalog_conf(
        uri="https://catalog.example.com/api/rest",
        warehouse="wh_name",
        catalog="uc",
        credential="client-id:client-secret",
        oauth2_server_uri="https://auth.example.com/oauth/token",
        scope="catalog",
        token_refresh_enabled=True,
    )
    assert conf["spark.sql.catalog.uc.type"] == "rest"
    assert conf["spark.sql.catalog.uc.uri"].startswith("https://")
    assert conf["spark.sql.catalog.uc.credential"] == "client-id:client-secret"
    assert (
        conf["spark.sql.catalog.uc.oauth2-server-uri"]
        == "https://auth.example.com/oauth/token"
    )
    assert conf["spark.sql.catalog.uc.scope"] == "catalog"
    assert conf["spark.sql.catalog.uc.token-refresh-enabled"] == "true"
    assert conf["spark.sql.defaultCatalog"] == "uc"
    # secrets are caller-injected only: omitting them omits the keys
    minimal = iceberg_rest_catalog_conf(uri="u", warehouse="w")
    assert not any(k.endswith(".credential") for k in minimal)
    assert not any(k.endswith(".oauth2-server-uri") for k in minimal)


def test_read_pruned_across_partition_evolution(spark, wh):
    """read_pruned must stay correct when the table holds files from
    MULTIPLE partition-spec eras: each file is judged by the transform
    its own path carries (days-era files by day, months-era files by
    month), and files carrying no time transform of the filter column
    are kept — the safe over-read Iceberg applies under spec evolution."""

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-14 00:00:00").cast("timestamp"))
        )
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)

    t = LakehouseTable(spark, wh, "ev_evo")
    t.create(half_a, partition_by=["days(ts)"])
    t.evolve_partitioning(["months(ts)"])
    t.append(half_b)  # same time range, coarser layout

    lo, hi = "2024-01-11 00:00:00", "2024-01-12 00:00:00"
    got, n_scan, n_total = t.read_pruned("ts", lo, hi)
    # non-canonical but valid bound spellings must canonicalize, not
    # silently mis-truncate and prune matching files
    got_date_only, n2, _ = t.read_pruned("ts", "2024-01-11", "2024-01-12")
    got_t_sep, n3, _ = t.read_pruned("ts", "2024-01-11T00:00:00", "2024-01-12T00:00:00")
    assert n2 == n_scan and n3 == n_scan
    want = ev.filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    )
    assert want.count() > 0, "fixture drift: probed day empty"
    assert got.count() == want.count()
    assert {r.event_id for r in got.collect()} == {
        r.event_id for r in want.collect()
    }
    # pruning still bites: the days-era contributes only day-11 files,
    # while every months-era file (all January) must be kept
    assert n_scan < n_total, f"no pruning across eras: {n_scan}/{n_total}"


def test_read_pruned_keeps_untransformed_columns_safe(spark, wh):
    """A range filter on a column with NO time transform in the spec
    (bucket-only layout) must degrade to a full scan + residual filter,
    never a wrong prune."""

    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    t = LakehouseTable(spark, wh, "ev_bkt")
    t.create(ev, partition_by=["bucket(4, user_id)"])
    lo, hi = "2024-01-11 00:00:00", "2024-01-12 00:00:00"
    got, n_scan, n_total = t.read_pruned("ts", lo, hi)
    assert n_scan == n_total, "bucket layout cannot prune a ts range"
    want = ev.filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    ).count()
    assert got.count() == want


def test_overwrite_partitions_replaces_only_touched(spark, wh):
    """S6 dynamic overwrite: only partitions present in the incoming
    frame are replaced; other partitions' files are carried into the
    new snapshot UNMODIFIED (same physical files, not rewritten)."""

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp"))
        )
    )
    t = LakehouseTable(spark, wh, "ev_dpo")
    t.create(ev, partition_by=["days(ts)"])
    in_day = (F.col("ts") >= F.lit("2024-01-11 00:00:00").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp")
    )
    untouched_before = {f for f in t._files() if "p_days_ts=2024-01-11" not in f}
    repl = ev.filter(in_day).limit(7).withColumn("event_type", F.lit("X"))
    t.overwrite_partitions(repl)
    # untouched files carried as-is
    untouched_after = {f for f in t._files() if "p_days_ts=2024-01-11" not in f}
    assert untouched_before <= untouched_after
    # touched day replaced exactly
    got = t.read().filter(in_day)
    assert got.count() == 7
    assert {r.event_type for r in got.collect()} == {"X"}


def test_overwrite_partitions_on_missing_table_creates(spark, wh):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id").limit(10)
    t = LakehouseTable(spark, wh, "ev_new")
    v = t.overwrite_partitions(ev)
    assert v == 1 and t.read().count() == 10


def test_appended_files_between_shared_contract(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        appended_files_between,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 10").coalesce(1))
    t.append(nat.filter("n_nationkey >= 10").coalesce(1))
    # full history diff == current file set (append-only so far)
    assert set(appended_files_between(t.root, 0, 2)) == set(t._files(2))
    # suffix diff == only the second commit's files
    added_v2 = appended_files_between(t.root, 1, 2)
    assert set(added_v2) == set(t._files(2)) - set(t._files(1))
    # non-append snapshot in range refuses (the streaming-source guard)
    from pyspark.sql import functions as F

    t.delete_where(F.col("n_nationkey") == 3)
    with _pytest.raises(ValueError, match="non-append"):
        appended_files_between(t.root, 0, 3)
    # batch caller layers its changelog hint on the same error
    with _pytest.raises(ValueError, match="changelog"):
        t.read_incremental(0)


def test_incremental_over_expired_range_raises_contracted_error(
    spark, tmp_path
):
    """An incremental range that reaches into EXPIRED snapshots must
    fail with the contracted ValueError (→ read_incremental re-raises
    with the changelog hint; the lakehouse stream restart path shows a
    graceful error), not leak a raw FileNotFoundError (ADVICE r6)."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        appended_files_between,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 5").coalesce(1))              # v1
    t.append(nat.filter("n_nationkey BETWEEN 5 AND 9").coalesce(1))  # v2
    t.append(nat.filter("n_nationkey > 9").coalesce(1))              # v3
    t.expire_snapshots(keep_last=1)  # v1, v2 manifests gone
    with _pytest.raises(ValueError, match="expired"):
        appended_files_between(t.root, 0, 3)
    # the batch wrapper layers its changelog hint on the SAME error
    with _pytest.raises(ValueError, match="changelog"):
        t.read_incremental(0)


def test_merge_schema_evolution_is_atomic_on_conflict(spark, tmp_path):
    """withSchemaEvolution is ONE transaction: a merge whose commit
    conflicts must leave the target schema UNCHANGED (the r6 spelling
    committed add_column per new source column before the data commit,
    stranding an evolved-schema-no-data table on failure)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        ConflictError,
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.coalesce(1))
    cols_before = [f["name"] for f in t.schema_json()["fields"]]

    src = nat.limit(3).select(
        "n_nationkey", "n_name", "n_regionkey",
        F.lit("x").alias("brand_new_col"),
    )
    rival = LakehouseTable(spark, str(tmp_path), "n")
    orig_commit = t._commit

    def losing_commit(manifest, expected_parent):
        # rival lands first on EVERY attempt → merge ultimately fails
        rival.append(nat.limit(1).selectExpr(
            "n_nationkey + 990 AS n_nationkey", "n_name", "n_regionkey"))
        return orig_commit(manifest, expected_parent)

    t._commit = losing_commit
    try:
        with _pytest.raises(ConflictError):
            t.merge_into(src, on="n_nationkey", schema_evolution=True)
    finally:
        t._commit = orig_commit
    # target schema untouched — no half-applied evolution
    assert [f["name"] for f in t.schema_json()["fields"]] == cols_before
    # and the happy path evolves + merges in ONE commit
    v_before = t.current_version()
    v_after = t.merge_into(src, on="n_nationkey", schema_evolution=True)
    assert v_after == v_before + 1
    assert "brand_new_col" in t.read().columns


def test_expire_snapshots_age_retention_and_idempotence(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 5").coalesce(1))        # v1
    t.append(nat.filter("n_nationkey BETWEEN 5 AND 9").coalesce(1))  # v2
    t.append(nat.filter("n_nationkey > 9").coalesce(1))        # v3
    t.append(nat.limit(0).coalesce(1))                         # v4
    v1_ts = [r for r in t.snapshots().collect() if r.version == 1][0].ts_ms

    # age cutoff BEFORE v1: nothing is old enough, nothing expires
    assert t.expire_snapshots(keep_last=1, older_than_ms=v1_ts) == []
    # cutoff after v1 only: v1 expires, v2 survives on age despite
    # being outside keep_last
    removed = t.expire_snapshots(keep_last=1, older_than_ms=v1_ts + 1)
    assert removed == [1]
    # repeat call is a no-op, not a crash (v1's manifest is gone)
    assert t.expire_snapshots(keep_last=1, older_than_ms=v1_ts + 1) == []
    # current table is intact
    assert t.read().count() == nat.count()
    assert t.read(version=2).count() == 10


def test_expire_age_protection_keeps_protected_snapshots_readable(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 5").coalesce(1))        # v1: [A]
    t.append(nat.filter("n_nationkey BETWEEN 5 AND 9").coalesce(1))  # v2: [A,B]
    t.overwrite(nat.filter("n_nationkey > 9").coalesce(1))     # v3: [C]
    v2_ts = [r for r in t.snapshots().collect() if r.version == 2][0].ts_ms

    # v2 is age-protected (not older than its own ts); v1 expires.
    # v2 still references v1's files — they must SURVIVE.
    removed = t.expire_snapshots(keep_last=1, older_than_ms=v2_ts)
    assert removed == [1]
    assert t.read(version=2).count() == 10  # was: PATH_NOT_FOUND

    # growing keep_last after a tighter expiry must not crash on the
    # already-removed manifests
    assert t.expire_snapshots(keep_last=3) == []


def test_add_column_initial_default(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 10").coalesce(1))          # pre-evolution
    v_evolve = t.add_column("quality_tier", "string", default="unreviewed")
    t.append(                                                     # post-evolution
        nat.filter("n_nationkey >= 10")
        .withColumn(
            "quality_tier",
            F.when(F.col("n_nationkey") % 2 == 0, "gold"),  # real NULLs too
        )
        .coalesce(1)
    )
    cur = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
    # old rows: the default, NOT null
    assert all(cur[k] == "unreviewed" for k in range(10))
    # new rows: stored values survive, including genuine NULLs
    assert cur[10] == "gold" and cur[11] is None
    # defaults survive unrelated commits (inheritance through _commit)
    t.delete_where(F.col("n_nationkey") == 3)
    cur2 = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
    assert cur2[4] == "unreviewed" and 3 not in cur2
    # compaction materializes the column; rewritten rows keep the value
    t.compact(target_partitions=1)
    cur3 = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
    assert cur3[5] == "unreviewed" and cur3[10] == "gold" and cur3[11] is None
    # pre-evolution snapshot has no such column at all
    assert "quality_tier" not in t.read(version=1).columns
    assert v_evolve == 2


def test_changelog_cancels_rewrites_across_default_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 6").coalesce(1))           # v1
    t.add_column("tier", "string", default="unreviewed")          # v2
    t.delete_where(F.col("n_nationkey") == 3)                     # v3 CoW
    ch = t.changelog(2, 3).collect()
    # survivors must cancel: exactly ONE DELETE (key 3), zero INSERTs,
    # and its pre-image carries the default, not NULL
    deletes = [r for r in ch if r._change_type == "DELETE"]
    inserts = [r for r in ch if r._change_type == "INSERT"]
    assert len(deletes) == 1 and not inserts, ch
    assert deletes[0].n_nationkey == 3 and deletes[0].tier == "unreviewed"


def test_partitioned_table_applies_initial_default(spark, tmp_path):
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .filter("event_id < 200")
    )
    t = LakehouseTable(spark, str(tmp_path), "ev")
    t.create(ev.coalesce(1), partition_by=["days(ts)"])
    t.add_column("source_tag", "string", default="legacy")
    t.append(
        ev.limit(5)
        .select(
            (F.col("event_id") + 10000).alias("event_id"),
            "ts",
            "user_id",
            F.lit("fresh").alias("source_tag"),
        )
        .coalesce(1)
    )
    got = {r.event_id: r.source_tag for r in t.read().collect()}
    assert got[0] == "legacy" and got[10000] == "fresh"
    df, scanned, total = t.read_pruned(
        "ts", ev.agg(F.min("ts")).collect()[0][0],
        ev.agg(F.max("ts")).collect()[0][0],
    )
    tags = {r.source_tag for r in df.collect()}
    assert "legacy" in tags


def test_call_named_table_and_mixed_args(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    eng.create_table("proc_named", nat.coalesce(1))
    eng.managed("proc_named").append(nat.limit(2).selectExpr(
        "n_nationkey + 500 AS n_nationkey", "n_name", "n_regionkey"))
    # Iceberg's canonical fully-named spelling
    out = eng.sql(
        "CALL system.rollback_to_snapshot(table => 'proc_named', version => 1)"
    ).collect()
    assert out[0].table == "proc_named"
    assert eng.managed("proc_named").read().count() == nat.count()
    # positional after named is rejected, not mis-bound
    with _pytest.raises(ValueError, match="positional argument"):
        eng.sql(
            "CALL system.expire_snapshots('proc_named', older_than_ms => 99, 2)"
        )
    spark.catalog.dropTempView("proc_named")


def test_commit_with_retries_recovers_from_concurrent_writer(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        ConflictError,
        LakehouseTable,
        commit_with_retries,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 10").coalesce(1))

    writer2 = LakehouseTable(spark, str(tmp_path), "n")
    attempts = {"n": 0}

    def racy_append():
        attempts["n"] += 1
        if attempts["n"] == 1:
            # a concurrent writer lands between our read and commit:
            # capture the stale parent, let writer2 commit, then try
            parent = t.current_version()
            writer2.append(
                nat.filter("n_nationkey BETWEEN 10 AND 12").coalesce(1)
            )
            return t._commit(
                {"files": t._files(parent), "schema": t.schema_json(),
                 "op": "append"},
                parent,
            )
        return t.append(nat.filter("n_nationkey > 12").coalesce(1))

    v = commit_with_retries(racy_append, retries=2)
    assert attempts["n"] == 2 and v == 3
    assert t.read().count() == nat.count()

    # exhausted retries propagate the conflict, never a silent drop
    def always_conflicts():
        raise ConflictError("simulated")

    with _pytest.raises(ConflictError):
        commit_with_retries(always_conflicts, retries=1, backoff_s=0.0)


def test_rename_and_drop_column_manifest_only(spark, tmp_path):
    """M6 completion (r7): RENAME and DROP COLUMN are manifest-only.
    Rename keeps pre-rename files' VALUES readable via the per-file
    name mapping (an explicit logical-schema read would null them);
    rewrites graduate files to the new physical name; drop removes the
    field without touching a single data file; time travel still shows
    the historical schema."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.coalesce(1))                                   # v1
    n0 = nat.count()
    files_v1 = set(t._files())

    t.rename_column("n_name", "nation_name")                    # v2
    assert set(t._files()) == files_v1                          # no rewrite
    got = t.read()
    assert "nation_name" in got.columns and "n_name" not in got.columns
    # values preserved from pre-rename files
    assert got.filter(F.col("nation_name").isNull()).count() == 0
    orig = {r.n_nationkey: r.n_name for r in nat.collect()}
    assert all(
        orig[r.n_nationkey] == r.nation_name for r in got.collect()
    )

    # append AFTER the rename: new files carry the new physical name
    t.append(                                                   # v3
        nat.limit(3).select(
            (F.col("n_nationkey") + 800).alias("n_nationkey"),
            F.col("n_name").alias("nation_name"),
            "n_regionkey",
        )
    )
    assert t.read().count() == n0 + 3
    assert t.read().filter(F.col("nation_name").isNull()).count() == 0

    # chained rename: era-1 files physically n_name, era-2 nation_name
    t.rename_column("nation_name", "nname")                     # v4
    got = t.read()
    assert got.filter(F.col("nname").isNull()).count() == 0
    assert got.count() == n0 + 3

    # rewrite graduates every file to the CURRENT physical name and
    # the mapping becomes inert (new files in no mapping list)
    t.compact(target_partitions=1)                              # v5
    assert t.read().filter(F.col("nname").isNull()).count() == 0

    # drop: manifest-only, same files
    files_v5 = set(t._files())
    t.drop_column("n_regionkey")                                # v6
    assert set(t._files()) == files_v5
    assert t.read().columns == ["n_nationkey", "nname"]

    # time travel shows historical schema AND values
    v1 = t.read(version=1)
    assert "n_name" in v1.columns
    assert v1.filter(F.col("n_name").isNull()).count() == 0

    # guards
    with _pytest.raises(ValueError, match="already exists"):
        t.rename_column("nname", "n_nationkey")
    with _pytest.raises(ValueError, match="no column"):
        t.drop_column("ghost")


def test_rename_drop_partition_source_refused(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    wh = str(tmp_path)
    t = LakehouseTable(spark, os.path.join(wh, "local", "default"), "ev")
    t.create(ev, partition_by=["bucket(2, user_id)"])
    # the spec is in the manifest, so the catalogs' handles refuse too
    with _catalog_handles(spark, wh, "ev") as handles:
        for h in [t, *handles]:
            with pytest.raises(ValueError, match="partition source"):
                h.rename_column("user_id", "uid")
            with pytest.raises(ValueError, match="partition source"):
                h.drop_column("user_id")
    # non-source columns still evolve fine
    t.rename_column("event_id", "eid")
    assert "eid" in t.read().columns


def test_append_rejects_mismatched_columns(spark, tmp_path):
    """Name-based append must REJECT frames whose columns don't cover
    the table schema — before r7 it wrote the files anyway and the
    manifest-schema scan read the appended rows back as all-NULL
    (silent corruption, found via the INSERT...VALUES door whose frame
    arrives named col1/col2)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    reg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    t = LakehouseTable(spark, str(tmp_path), "r")
    t.create(reg.coalesce(1))
    bad = spark.createDataFrame([(90, "ATLANTIS")], "col1 int, col2 string")
    with pytest.raises(ValueError, match="lacks column"):
        t.append(bad)
    # positional path aligns names AND casts int -> the table's type
    t.append_positional(bad)
    got = {r.r_regionkey: r.r_name for r in t.read().collect()}
    assert got[90] == "ATLANTIS"
    # extra/reordered columns: name-based append selects table order
    extra = reg.limit(1).selectExpr(
        "r_name", "r_regionkey + 50 AS r_regionkey", "'junk' AS debris"
    )
    t.append(extra)
    assert t.read().filter("r_regionkey >= 50").count() == 2
    assert "debris" not in t.read().columns


def test_changelog_across_schema_evolution(spark, tmp_path):
    """CDC spanning rename + drop + add + data commits emits every row
    in the FINAL schema (Iceberg changelog behavior): renamed columns
    re-keyed, dropped columns gone, later-added columns NULL for
    pre-evolution pairs. Previously unionByName across the boundary
    errored outright."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    reg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    t = LakehouseTable(spark, str(tmp_path), "r")
    t.create(reg.coalesce(1))                        # v1
    t.append(reg.limit(1).selectExpr(
        "r_regionkey + 40 AS r_regionkey", "r_name"))  # v2 (data)
    t.rename_column("r_name", "region_name")         # v3 (meta)
    t.drop_column("r_regionkey")                     # v4 (meta)
    t.add_column("zone", "string")                   # v5 (meta)
    t.append(spark.createDataFrame(
        [("ATLANTIS", "deep")], "region_name string, zone string"
    ).coalesce(1))                                   # v6 (data)

    chg = t.changelog(1)
    assert set(chg.columns) == {"region_name", "zone", "_change_type", "_change_version"}
    rows = chg.collect()
    # v2's append surfaces its row under the FINAL names, zone NULL
    v2 = [r for r in rows if r._change_version == 2]
    assert len(v2) == 1 and v2[0].region_name is not None and v2[0].zone is None
    # v6's append carries the post-evolution columns
    v6 = [r for r in rows if r._change_version == 6]
    assert {(r.region_name, r.zone) for r in v6} == {("ATLANTIS", "deep")}


def test_timestamp_as_of_skips_staged_branch_snapshots(spark, tmp_path):
    """A main-side TIMESTAMP AS OF read resolving to the newest
    snapshot by timestamp must skip staged branch snapshots — else an
    INSERT INTO t.branch_b leaks unaudited rows into main-side time
    travel (the WAP leak class; review-pass finding)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "tt")
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))  # v1 main
    b = BranchedLakehouse(t)
    b.create_branch("b")
    b.write_to_branch("b", spark.createDataFrame([(9,)], "id long"))  # v2 staged
    ts_now = t._read_manifest(2)["timestamp_ms"] + 10_000
    got = t.read_as_of_timestamp(ts_now)
    assert got.count() == 2, "TIMESTAMP AS OF leaked staged branch rows"
    # the branch itself still sees its write
    assert b.read_ref("b").count() == 3


def test_fast_forward_refuses_divergent_publish(spark, tmp_path):
    """fast_forward('main', b) when main advanced AFTER the branch was
    based must refuse (Iceberg: target must be a descendant) — a blind
    rollforward would silently discard the concurrent main commit's
    rows (data-loss hazard; review-pass finding)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "ff")
    t.create(spark.createDataFrame([(1,)], "id long"))  # v1 main
    b = BranchedLakehouse(t)
    b.create_branch("b")  # based at v1
    b.write_to_branch("b", spark.createDataFrame([(9,)], "id long"))  # v2 staged
    t.append(spark.createDataFrame([(2,)], "id long"))  # v3: main ADVANCED
    with pytest.raises(ValueError, match="not an ancestor"):
        b.fast_forward("main", "b")
    with pytest.raises(ValueError, match="not an ancestor"):
        b.fast_forward_main("b")
    # main's concurrent commit survives intact
    assert t.read().count() == 2

    # the happy path still publishes: rebase the branch on main's new
    # head, write, publish — a true fast-forward
    b.replace_branch("b", t.main_head())
    b.write_to_branch("b", spark.createDataFrame([(10,)], "id long"))
    b.fast_forward("main", "b")
    assert t.read().count() == 3


def test_fast_forward_branch_to_branch_guarded(spark, tmp_path):
    """The branch→branch arm carries the same ancestry guard: moving a
    branch onto a ref that does not descend from it is a refusal, while
    advancing a stale branch onto its own descendant succeeds."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "fb")
    t.create(spark.createDataFrame([(1,)], "id long"))  # v1 main
    b = BranchedLakehouse(t)
    b.create_branch("dev")   # v1
    b.create_branch("lag")   # v1
    b.write_to_branch("dev", spark.createDataFrame([(9,)], "id long"))  # v2
    # lag (v1) is an ancestor of dev's head (v2): fast-forward OK
    assert b.fast_forward("lag", "dev") == 2
    # now diverge: lag writes its own snapshot off v2, dev writes too
    b.write_to_branch("lag", spark.createDataFrame([(8,)], "id long"))  # v3
    b.write_to_branch("dev", spark.createDataFrame([(7,)], "id long"))  # v4
    with pytest.raises(ValueError, match="not an ancestor"):
        b.fast_forward("lag", "dev")


def test_expire_snapshots_protects_ref_targets(spark, tmp_path):
    """Snapshots still pointed to by a branch/tag — and staged
    snapshots of live branches — survive expire_snapshots regardless
    of keep_last, matching Iceberg ref retention; read_ref must keep
    working after routine maintenance (review-pass finding)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "er")
    t.create(spark.createDataFrame([(1,)], "id long"))   # v1
    b = BranchedLakehouse(t)
    b.create_tag("v1-tag")                               # -> v1
    t.append(spark.createDataFrame([(2,)], "id long"))   # v2
    b.create_branch("s")                                 # -> v2
    b.write_to_branch("s", spark.createDataFrame([(9,)], "id long"))  # v3 staged
    t.append(spark.createDataFrame([(3,)], "id long"))   # v4
    t.append(spark.createDataFrame([(4,)], "id long"))   # v5

    removed = t.expire_snapshots(keep_last=1)
    # v1 (tag), v2 (branch base is v2? branch points at v3), v3
    # (staged + branch head) are protected; only unreferenced old
    # main snapshots expire
    assert 1 not in removed and 3 not in removed
    assert b.read_ref("v1-tag").count() == 1
    assert b.read_ref("s").count() == 3
    # dropping the refs releases them for the next maintenance pass
    b.drop_tag("v1-tag")
    b.drop_branch("s")
    removed2 = t.expire_snapshots(keep_last=1)
    assert 1 in removed2 and 3 in removed2


def test_quantizer_and_assign_zero_guards(spark):
    """quantized_unit_vectors raises loudly on a zero-norm input vector
    (instead of NaN/Inf failing an ANSI cast deep in the job); zero-sum
    centroids drop out of _int_assign instead of ZeroDivisionError
    inside mapInPandas (review-pass findings)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import (
        _int_assign,
        quantized_unit_vectors,
    )

    bad = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "id long, v array<double>"
    )
    with pytest.raises(Exception, match="zero-norm"):
        quantized_unit_vectors(bad, "id", "v").collect()

    good = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>"
    )
    q = quantized_unit_vectors(good, "id", "v")
    # one genuine centroid + one all-zero centroid: assignment must
    # complete and use only the genuine one
    out = _int_assign(q, [(0, [10_000, 0]), (1, [0, 0])]).collect()
    assert {r.cluster for r in out} == {0}
    with pytest.raises(ValueError, match="zero vector"):
        _int_assign(q, [(0, [0, 0])])


def test_repeated_wap_publish_cycle(spark, tmp_path):
    """A long-lived staging branch can write → publish repeatedly
    (ADVICE r9, reproduced as a dead-end): the publish rollforward is
    stamped rollforward_of, so the NEXT publish proves ancestry through
    it instead of refusing."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "wap")
    t.create(spark.createDataFrame([(1,)], "id long"))  # v1
    b = BranchedLakehouse(t)
    b.create_branch("stage")
    for i, expect in ((9, 2), (10, 3), (11, 4)):
        b.write_to_branch("stage", spark.createDataFrame([(i,)], "id long"))
        b.fast_forward_main("stage")
        assert t.read().count() == expect, f"publish #{expect - 1} failed"


def test_fast_forward_stale_branch_catches_up_to_main(spark, tmp_path):
    """Iceberg's standard branch catch-up: fast-forwarding a stale
    branch onto a ref at a NEWER main snapshot succeeds — the branch
    head is a genuine ancestor along main history (ADVICE r9: the old
    walk broke at the first main-side snapshot and refused)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "cu")
    t.create(spark.createDataFrame([(1,)], "id long"))   # v1
    b = BranchedLakehouse(t)
    b.create_branch("stale")                             # -> v1
    # interleave a staged write from ANOTHER branch so the main walk
    # must skip staged entries on its way down
    b.create_branch("other")
    b.write_to_branch("other", spark.createDataFrame([(9,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))   # main advances
    t.append(spark.createDataFrame([(3,)], "id long"))   # and again
    b.create_tag("head-now")                             # -> main head
    b.fast_forward("stale", "head-now")
    assert b.read_ref("stale").count() == 3
    # a genuinely divergent branch still refuses
    with pytest.raises(ValueError, match="not an ancestor"):
        b.fast_forward("other", "head-now")


def test_cherrypick_accepts_staged_branch_append(spark, tmp_path):
    """cherrypick_snapshot accepts op branch_append:* — the recovery
    path the fast-forward refusal message points at (ADVICE r9: it
    used to reject staged snapshots, so the documented path always
    failed). The delta base is ref_base, not the log parent."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
        cherrypick_snapshot,
    )

    t = LakehouseTable(spark, str(tmp_path), "cp")
    t.create(spark.createDataFrame([(1,)], "id long"))   # v1
    b = BranchedLakehouse(t)
    b.create_branch("d")                                 # -> v1
    v_staged = b.write_to_branch(
        "d", spark.createDataFrame([(9,)], "id long")
    )
    t.append(spark.createDataFrame([(2,)], "id long"))   # main diverges
    with pytest.raises(ValueError, match="not an ancestor"):
        b.fast_forward_main("d")
    v = cherrypick_snapshot(t, v_staged)
    assert t.main_head() == v
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 9]


def test_insert_branch_reports_written_row_count(spark, tmp_path):
    """INSERT INTO t.branch_<b> reports the rows actually WRITTEN
    (parquet footer counts of the new files), not a re-run of the
    source SELECT (ADVICE r9: a non-deterministic source could report
    a count differing from the rows written)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string") \
        .createOrReplaceTempView("ib_src")
    eng.sql("CREATE TABLE ib AS SELECT * FROM ib_src")
    eng.sql("ALTER TABLE ib CREATE BRANCH st")
    r1 = eng.sql(
        "INSERT INTO ib.branch_st VALUES (3, 'c'), (4, 'd'), (5, 'e')"
    ).collect()[0]
    assert r1.n_rows == 3, f"first branch insert reported {r1.n_rows}"
    r2 = eng.sql("INSERT INTO ib.branch_st VALUES (6, 'f')").collect()[0]
    assert r2.n_rows == 1, f"second branch insert reported {r2.n_rows}"


def test_cherrypick_legacy_staged_manifest_uses_log_parent(spark, tmp_path):
    """A staged manifest written before ref_base existed falls back to
    the LOG parent as the delta base (same fallback as
    _assert_fast_forward) — treating it as base-less would count the
    branch's inherited base files as delta and resurrect rows main has
    since deleted (review-pass finding)."""
    import json as _json

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
        cherrypick_snapshot,
    )

    t = LakehouseTable(spark, str(tmp_path), "cpl")
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))  # v1
    b = BranchedLakehouse(t)
    b.create_branch("d")
    v_staged = b.write_to_branch("d", spark.createDataFrame([(9,)], "id long"))
    # simulate a legacy staged manifest: strip the ref_base key
    mp = t._manifest_path(v_staged)
    m = _json.load(open(mp))
    assert m.pop("ref_base", None) is not None
    _json.dump(m, open(mp, "w"))
    # main deletes a row the branch's base files still contain
    t.delete_where(F.col("id") == 1)
    ids_before = sorted(r.id for r in t.read().collect())
    assert ids_before == [2]
    cherrypick_snapshot(t, v_staged)
    ids = sorted(r.id for r in t.read().collect())
    assert ids == [2, 9], f"cherrypick resurrected deleted rows: {ids}"


def test_repeated_publish_survives_snapshot_expiry(spark, tmp_path):
    """expire_snapshots between WAP publishes must not break the next
    publish's ancestry proof: ref retention keeps the staged chain
    (branch head) and the rollforward identity stamps survive, so only
    genuinely unreferenced snapshots expire."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "exp")
    t.create(spark.createDataFrame([(1,)], "id long"))
    b = BranchedLakehouse(t)
    b.create_branch("s")
    b.write_to_branch("s", spark.createDataFrame([(9,)], "id long"))
    b.fast_forward_main("s")
    t.expire_snapshots(keep_last=1)
    b.write_to_branch("s", spark.createDataFrame([(10,)], "id long"))
    b.fast_forward_main("s")
    assert t.read().count() == 3


def test_merge_explicit_update_cols_keep_unlisted_target_values(spark, wh):
    """SQL-standard UPDATE semantics (review-pass r10, reproduced):
    an explicit update_cols dict updates ONLY the listed columns —
    unlisted columns keep the TARGET value, never the source's."""
    t = LakehouseTable(spark, wh, "mu")
    t.create(
        spark.createDataFrame([(1, "ALPHA", 10), (2, "BETA", 20)],
                              "k long, nm string, v long")
    )
    src = spark.createDataFrame([(1, "SRCNAME", 99)], "k long, nm string, v long")
    t.merge_into(src, on="k", update_cols={"v": F.col("__src").getField("v")})
    rows = {r.k: (r.nm, r.v) for r in t.read().collect()}
    assert rows[1] == ("ALPHA", 99), rows  # nm kept, v updated
    assert rows[2] == ("BETA", 20)


def test_merge_without_update_clause_keeps_matched_rows(spark, wh):
    """update_cols={} = no UPDATE clause: a delete-only MERGE must
    leave non-deleted matched rows byte-identical (they used to be
    rewritten from source)."""
    t = LakehouseTable(spark, wh, "md")
    t.create(
        spark.createDataFrame([(1, "ALPHA"), (2, "BETA")], "k long, nm string")
    )
    src = spark.createDataFrame(
        [(1, "DROP"), (2, "SRC_B"), (7, "NEW")], "k long, nm string"
    )
    t.merge_into(
        src,
        on="k",
        update_cols={},
        insert=True,
        delete_cond=F.col("__src").getField("nm") == "DROP",
    )
    rows = {r.k: r.nm for r in t.read().collect()}
    assert rows == {2: "BETA", 7: "NEW"}, rows  # 2 untouched, 1 deleted


def test_merge_update_set_star_still_takes_source(spark, wh):
    """update_cols=None keeps UPDATE SET * semantics: every column of
    a matched row comes from source."""
    t = LakehouseTable(spark, wh, "ms")
    t.create(spark.createDataFrame([(1, "ALPHA")], "k long, nm string"))
    src = spark.createDataFrame([(1, "SRC_A")], "k long, nm string")
    t.merge_into(src, on="k", update_cols=None)
    assert t.read().collect()[0].nm == "SRC_A"


def test_temporal_bound_iso_contract():
    """THE one bound normalizer (r14): temporal inputs canonicalize in
    either separator convention, date-only gains midnight, and
    NON-temporal strings return None so callers pass them through
    verbatim — a blanket separator replace corrupted string-column
    bounds like 'NEW YORK' (review-pass r14)."""
    import datetime

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        temporal_bound_iso,
    )

    assert temporal_bound_iso(datetime.datetime(1996, 6, 1)) == "1996-06-01 00:00:00"
    assert temporal_bound_iso(datetime.date(1996, 6, 1)) == "1996-06-01 00:00:00"
    assert temporal_bound_iso("1996-06-01T08:30:00") == "1996-06-01 08:30:00"
    assert temporal_bound_iso("1996-06-01 08:30:00", sep="T") == "1996-06-01T08:30:00"
    assert temporal_bound_iso("1996-06-01") == "1996-06-01 00:00:00"
    # fractional seconds survive, canonicalized to the stats encoder's
    # 6-digit convention (r15 — see
    # test_temporal_bound_iso_fraction_canonicalization)
    assert (
        temporal_bound_iso("1996-06-01 08:30:00.25", sep="T")
        == "1996-06-01T08:30:00.250000"
    )
    # non-temporal strings: caller must pass through verbatim
    assert temporal_bound_iso("NEW YORK") is None
    assert temporal_bound_iso("ATLAS") is None
    assert temporal_bound_iso("1996-06") is None
    # minute-precision inputs gain ':00' (ADVICE r14: the positional
    # trunc slices and lexicographic stat compares assume full
    # 'HH:MM:SS'; '...T08:30' < '...T08:30:00' over-pruned the
    # boundary minute)
    assert temporal_bound_iso("1996-06-01 08:30") == "1996-06-01 08:30:00"
    assert temporal_bound_iso("1996-06-01T08:30", sep="T") == "1996-06-01T08:30:00"
    # a fraction without seconds is not a temporal shape we canonicalize
    assert temporal_bound_iso("1996-06-01 08:30.5") is None


def _boundary_day_table(spark, wh, ddl: str, days):
    """Three files, one per day, via repartitionByRange on the day
    column — the exact-boundary pruning probe's fixture shape."""

    rows = [(d, i) for i, d in enumerate(days)]
    df = spark.createDataFrame(rows, ddl).repartitionByRange(3, "d")
    t = LakehouseTable(spark, wh, "bday")
    t.create(df)
    return t


def test_pruned_files_date_column_exact_boundary_day(spark, wh):
    """VERDICT r14 #2: a DATE-typed column's stats encode date-only ISO
    strings while bounds normalize to 'T00:00:00'; lexicographically
    '2024-01-02' < '2024-01-02T00:00:00', so the file whose max IS the
    inclusive lower-bound day was wrongly pruned.  With midnight-
    canonical date stats + the dtype gate, the file must be KEPT and
    read_range must return its rows."""
    import datetime

    days = [datetime.date(2024, 1, d) for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d date, i long", days)
    assert len(t._files()) == 3
    # lo bound == the earliest file's max day: that file must survive
    kept = t.pruned_files("d", "2024-01-02", "2024-01-09")
    assert len(kept) == 3, f"boundary-day file wrongly pruned: {kept}"
    assert t.read_range("d", "2024-01-02", "2024-01-09").count() == 3
    # date-object bounds take the same path
    got = t.read_range("d", days[0], days[0]).collect()
    assert [r.i for r in got] == [0]
    # pruning still prunes: a range strictly between days drops files
    assert len(t.pruned_files("d", "2024-01-03", "2024-01-04")) == 0


def test_pruned_files_date_shaped_string_column(spark, wh):
    """A STRING column holding date-shaped values must compare RAW: the
    dtype gate keeps temporal normalization away from it, otherwise the
    '...T00:00:00'-padded bound sorts after the bare 'YYYY-MM-DD' stat
    and the exact-boundary file is wrongly pruned."""
    days = ["2024-01-02", "2024-01-05", "2024-01-09"]
    t = _boundary_day_table(spark, wh, "d string, i long", days)
    assert len(t._files()) == 3
    kept = t.pruned_files("d", "2024-01-02", "2024-01-09")
    assert len(kept) == 3, f"boundary-day file wrongly pruned: {kept}"
    assert t.read_range("d", "2024-01-02", "2024-01-02").count() == 1
    assert len(t.pruned_files("d", "2024-01-03", "2024-01-04")) == 0


def test_read_pruned_residual_string_column_boundary(spark, wh):
    """Review-pass r15: read_pruned's residual predicate must compare a
    date-SHAPED STRING column against the RAW bounds — padding them to
    '... 00:00:00' would drop the boundary day lexicographically
    ('2024-01-02' >= '2024-01-02 00:00:00' is FALSE).  The string
    column carries no time transform, so every file is kept and the
    residual alone decides correctness."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, d, 12), f"2024-01-{d:02d}", d)
        for d in (2, 5, 9)
    ]
    t = LakehouseTable(spark, wh, "sb")
    t.create(
        spark.createDataFrame(rows, "ts timestamp_ntz, d string, i long"),
        partition_by=["days(ts)"],
    )
    out, kept, total = t.read_pruned("d", "2024-01-02", "2024-01-06")
    assert kept == total  # no transform of d: nothing prunable
    got = sorted(r.i for r in out.collect())
    assert got == [2, 5], f"boundary day dropped: {got}"


def test_pruned_files_self_heals_legacy_date_stats(spark, wh):
    """Review-pass r15: manifests carry file stats FORWARD across
    commits, so stats written before the midnight canonicalization
    (bare 'YYYY-MM-DD' for DATE columns) can survive in a live table.
    pruned_files must normalize the STAT side through the same
    normalizer as the bounds, or the legacy stat sorts before its own
    day's bound and the boundary file is wrongly pruned."""
    import json

    days = [__import__("datetime").date(2024, 1, d) for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d date, i long", days)
    # rewrite the head manifest's stats to the LEGACY date-only form
    head = t.main_head()
    mpath = t._manifest_path(head)
    m = json.loads(open(mpath).read())
    for s in m["stats"].values():
        for side in ("min", "max"):
            if "d" in s[side]:
                s[side]["d"] = s[side]["d"][:10]  # strip 'T00:00:00'
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    kept = t.pruned_files("d", "2024-01-02", "2024-01-09")
    assert len(kept) == 3, f"legacy-stat boundary file wrongly pruned: {kept}"
    assert t.read_range("d", "2024-01-02", "2024-01-02").count() == 1


def test_temporal_bound_iso_fraction_canonicalization():
    """Review-pass r15: the stats encoder (datetime.isoformat) emits
    NO fraction when microseconds are zero and EXACTLY six digits
    otherwise — bounds must canonicalize to the same convention or the
    lexicographic compare over-prunes ('…15.5' < '…15.500000')."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        temporal_bound_iso,
    )

    f = temporal_bound_iso
    assert f("1996-06-01 08:30:15.5") == "1996-06-01 08:30:15.500000"
    assert f("1996-06-01T08:30:15.5", sep="T") == "1996-06-01T08:30:15.500000"
    # zero fractions strip entirely (isoformat omits zero micros)
    assert f("1996-06-01 08:30:15.0") == "1996-06-01 08:30:15"
    assert f("1996-06-01 08:30:15.000000") == "1996-06-01 08:30:15"
    # digits past microseconds truncate (timestamp[us] data)
    assert f("1996-06-01 08:30:15.1234567") == "1996-06-01 08:30:15.123456"
    import datetime

    assert (
        f(datetime.datetime(1996, 6, 1, 8, 30, 15, 500000))
        == "1996-06-01 08:30:15.500000"
    )


def test_pruned_files_fractional_second_boundary(spark, wh):
    """A timestamp file whose max is exactly the lo bound's
    fractional-second instant must be KEPT: stats carry 6-digit
    microseconds, so a short-fraction bound must canonicalize before
    the lexicographic compare (review-pass r15)."""
    import datetime

    ts = [datetime.datetime(2024, 1, 2, 8, 30, 15, 500000),
          datetime.datetime(2024, 1, 5, 0, 0, 0),
          datetime.datetime(2024, 1, 9, 0, 0, 0)]
    t = _boundary_day_table(spark, wh, "d timestamp_ntz, i long", ts)
    kept = t.pruned_files("d", "2024-01-02 08:30:15.5", "2024-01-09")
    assert len(kept) == 3, f"fractional boundary file wrongly pruned: {kept}"
    got = t.read_range("d", "2024-01-02 08:30:15.5", "2024-01-02 08:30:15.5")
    assert [r.i for r in got.collect()] == [0]


def test_pruned_files_rejects_unparseable_temporal_bound(spark, wh):
    """A bound the normalizer cannot canonicalize must FAIL LOUDLY on a
    temporal column (review-pass r15): the raw space-separated string
    would compare lexicographically against 'T'-separated stats and
    silently prune matching files."""
    import datetime

    import pytest as _pytest

    days = [datetime.date(2024, 1, d) for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d date, i long", days)
    with _pytest.raises(ValueError, match="unsupported temporal bound"):
        t.pruned_files("d", "2024-01-02 08:30.5", "2024-01-09")


def test_pruned_files_zoned_timestamp_column_boundary(spark, wh):
    """Review-pass r15: a ZONED TimestampType column's pyarrow stats
    are tz-aware ('…+00:00' in isoformat), and tz-aware bounds carried
    the same suffix — either side's offset defeats the lexicographic
    compare against the naive canonical form, silently over-pruning
    the exact-boundary file.  Both the stats encoder and the bound
    normalizer now canonicalize zoned instants to UTC-naive."""
    import datetime

    utc = datetime.timezone.utc
    ts = [datetime.datetime(2024, 1, d, 8, 30, 15, tzinfo=utc)
          for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d timestamp, i long", ts)
    assert len(t._files()) == 3
    # tz-aware datetime bounds at the exact boundary instants
    kept = t.pruned_files("d", ts[0], ts[2])
    assert len(kept) == 3, f"zoned boundary file wrongly pruned: {kept}"
    got = t.read_range("d", ts[0], ts[0]).collect()
    assert [r.i for r in got] == [0]
    # naive ISO-string bounds against the zoned column's stats
    kept2 = t.pruned_files("d", "2024-01-02 08:30:15", "2024-01-09 08:30:15")
    assert len(kept2) == 3, f"naive bound vs zoned stats pruned: {kept2}"


# --- review-pass r15 batch 2: silent-failure classes in the DML/CDC paths ---


def test_partitioned_dml_hits_encoded_partition_dirs(spark, wh):
    """DELETE/UPDATE on a time-transform-partitioned table: the
    partition value '2024-01-01 00:00:00' is written as
    'p_days_ts=...00%3A00%3A00' on disk, and input_file_name returns
    that URI-ENCODED ('%2000%253A...'); without one decode the affected
    set never intersects the manifest and the DML silently no-ops
    (review-pass r15, reproduced)."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1, 8, 0) + datetime.timedelta(days=i % 3), i)
        for i in range(10)
    ]
    t = LakehouseTable(spark, wh, "enc_dml")
    t.create(
        spark.createDataFrame(rows, "ts timestamp, i long"),
        partition_by=["days(ts)"],
    )
    t.delete_where(F.col("i") == 3)
    assert t.read().count() == 9
    t.update_set(F.col("i") == 5, {"i": F.lit(500)})
    vals = sorted(r.i for r in t.read().collect())
    assert 500 in vals and 5 not in vals and 3 not in vals


def test_changelog_and_incremental_skip_staged_snapshots(spark, wh):
    """A WAP branch write stages a snapshot in the shared log; main's
    CDC and incremental scans must skip it — the leak surfaced
    unaudited branch rows as a phantom INSERT/DELETE pair, and ONE
    branch write permanently errored every incremental consumer whose
    range crossed it (review-pass r15, both reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "wap_cdc")
    t.create(spark.createDataFrame([(1,), (2,)], "v int").coalesce(1))  # v1
    b = BranchedLakehouse(t)
    b.create_branch("audit")
    b.write_to_branch(
        "audit", spark.createDataFrame([(99,)], "v int").coalesce(1)
    )  # v2 staged
    t.append(spark.createDataFrame([(3,)], "v int").coalesce(1))  # v3 main
    chg = sorted(
        (r.v, r._change_type, r._change_version) for r in t.changelog(1).collect()
    )
    assert chg == [(3, "INSERT", 3)], chg
    assert sorted(r.v for r in t.read_incremental(1).collect()) == [3]
    # a checkpointed offset can BE the staged version (raw log head at
    # checkpoint time): the delta base is the last MAIN state before it
    assert sorted(r.v for r in t.read_incremental(2).collect()) == [3]


def test_changelog_survives_files_plus_schema_commit(spark, wh):
    """merge_into(schema_evolution=True) rewrites files AND extends the
    schema in ONE snapshot; changelog used to feed exceptAll two
    different-arity frames and crash with NUM_COLUMNS_MISMATCH — both
    sides now align to the final schema first (review-pass r15,
    reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "evo_cdc")
    t.create(spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1))
    t.merge_into(
        spark.createDataFrame([(1, 11, "x")], "id int, v int, w string").coalesce(1),
        "id",
        schema_evolution=True,
    )
    rows = sorted(
        (r.id, r.v, r.w, r._change_type, r._change_version)
        for r in t.changelog(0).collect()
    )
    assert rows == [
        (1, 10, None, "DELETE", 2),
        (1, 10, None, "INSERT", 1),
        (1, 11, "x", "INSERT", 2),
    ], rows


def test_merge_accepts_null_keyed_source_rows(spark, wh):
    """NULL merge keys never match a target row, so multiple NULL-keyed
    source rows are plain NOT-MATCHED inserts — the cardinality check
    must not count the NULL group as duplicates (review-pass r15); a
    genuine duplicate key must still raise."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "null_merge")
    t.create(spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1))
    t.merge_into(
        spark.createDataFrame([(None, 1), (None, 2)], "id int, v int").coalesce(1),
        "id",
    )
    got = sorted([(r.id, r.v) for r in t.read().collect()], key=str)
    assert got == sorted([(1, 10), (None, 1), (None, 2)], key=str)
    with pytest.raises(ValueError, match="cardinality"):
        t.merge_into(
            spark.createDataFrame([(1, 5), (1, 6)], "id int, v int").coalesce(1),
            "id",
        )


def test_partitioned_read_keeps_user_p_prefixed_column(spark, wh):
    """Only DERIVED partition columns are hidden on read: a real data
    column that happens to start with 'p_' belongs to the manifest
    schema and must keep its values (it used to be dropped and re-added
    as all-NULL — review-pass r15)."""
    import datetime

    t = LakehouseTable(spark, wh, "pcol")
    t.create(
        spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1), 1, 0.5)],
            "ts timestamp, i long, p_score double",
        ),
        partition_by=["days(ts)"],
    )
    [row] = t.read().collect()
    assert row.p_score == 0.5
    assert "p_days_ts" not in t.read().columns


def test_read_nonexistent_table_raises_cleanly(spark, wh):
    """Scans of a never-created table raise the contracted ValueError
    (schema_json's rule), not a raw FileNotFoundError (partitioned) or
    a cryptic cannot-infer-schema (base) — review-pass r15."""
    with pytest.raises(ValueError, match="does not exist"):
        LakehouseTable(spark, wh, "ghost").read()
    with pytest.raises(ValueError, match="does not exist"):
        LakehouseTable(spark, wh, "ghost2").read_pruned(
            "ts", "2024-01-01", "2024-01-02"
        )


def test_managed_reopens_with_stats_subclass(spark, wh):
    """A re-opened managed table (new Engine over an existing
    warehouse) must serve CALL rewrite_data_files' sort strategy and
    keep the per-file min/max stats through subsequent DML commits:
    a stats-less handle class used to crash the first (AttributeError)
    and silently drop the second (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    e1 = Engine(spark, warehouse=wh)
    e1.create_table("reopen_t", spark.range(100).selectExpr("id AS c"))
    e2 = Engine(spark, warehouse=wh)  # fresh engine, same warehouse
    t = e2.managed("reopen_t")
    assert type(t) is LakehouseTable
    e2.sql(
        "CALL system.rewrite_data_files('reopen_t', strategy => 'sort', "
        "sort_order => 'c')"
    )
    # stats survive DML through the re-opened handle
    t.delete_where(F.col("c") == 1)
    m = t._read_manifest(t.main_head())
    assert m.get("stats"), "stats dropped by DML on a re-opened table"


def test_catalog_rejects_empty_identifier_parts(spark, wh):
    """'nation.' / 'a..b' / '': os.path.join silently drops the empty
    component, so a typo'd identifier resolved to the SCHEMA directory
    — drop_table would rmtree it (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
        LakehouseCatalog,
    )

    cat = LakehouseCatalog(spark, wh)
    for bad in ("nation.", ".nation", "a..b", ""):
        with pytest.raises(ValueError, match="empty part"):
            cat.table(bad)


def test_read_expired_version_raises_cleanly(spark, wh):
    """read(version=N) on an expired snapshot raises the contracted
    ValueError, not a raw FileNotFoundError leaking an internal path
    (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "exp_read")
    t.create(spark.createDataFrame([(1,)], "v int"))
    t.append(spark.createDataFrame([(2,)], "v int"))
    t.append(spark.createDataFrame([(3,)], "v int"))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired or never existed"):
        t.read(version=1)
    with pytest.raises(ValueError, match="expired or never existed"):
        t.read(version=99)


# --- ADVICE r15: staged from_version / expired-walk contracts ---------------


def test_changelog_normalizes_staged_from_version(spark, wh):
    """A caller who checkpointed the raw log head right after a WAP
    write holds a STAGED from_version; seeding prev_files with branch
    state made the next main commit emit phantom DELETEs for
    branch-only files (ADVICE r15, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
    )

    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    b = BranchedLakehouse(t)
    b.create_branch("audit")
    v2 = b.write_to_branch(
        "audit", spark.createDataFrame([(9,)], "id long")
    )  # staged
    v3 = t.append(spark.createDataFrame([(3,)], "id long"))  # main
    rows = sorted(
        (r["id"], r["_change_type"]) for r in t.changelog(v2, v3).collect()
    )
    assert rows == [(3, "INSERT")]


def test_main_head_json_contracts_expired_walk(spark, wh):
    """main_head_json's downward walk must raise the same contracted
    ValueError as LakehouseTable.main_head() when it crosses an expired
    snapshot — the stream source's schema()/latestOffset otherwise
    surfaced a raw FileNotFoundError (ADVICE r15, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        main_head_json,
    )

    t = LakehouseTable(spark, wh, "t")
    v1 = t.create(spark.createDataFrame([(1,)], "id long"))
    b = BranchedLakehouse(t)
    b.create_branch("a")
    b.write_to_branch("a", spark.createDataFrame([(2,)], "id long"))
    os.remove(os.path.join(t.root, "_snapshots", f"v{v1:05d}.json"))
    with pytest.raises(ValueError, match="publish or drop staged refs"):
        main_head_json(t.root)


def test_int_vectorized_topk_empty_query_batch(spark):
    """Zero queries must yield zero rows, not a numpy dimension
    mismatch inside the executor: np.array([]) is shape (0,), so the
    batch matmul cm @ qm.T raised before the r18 short-circuit
    (ADVICE r17)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import (
        quantized_unit_vectors,
    )
    from dbx_workspace_and_emr_iceberg_spark.operators.similarity import (
        cosine_topk_int_vectorized,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    q = quantized_unit_vectors(corpus, "vec_id", "v")
    empty = q.filter("vec_id < 0")
    out = cosine_topk_int_vectorized(q, empty, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "n_id", "sim_key", "rank",
    ]


# --- review-pass r18: snapshot-protocol invariants --------------------------


def test_expire_protects_main_head_below_staged(spark, tmp_path):
    """When staged branch snapshots occupy the trailing keep_last slots,
    the main head fell into the candidate range — expiring it wedged
    every main-side read, unrecoverably (review-pass r18, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(3).toDF("id"))
    b = BranchedLakehouse(t)
    b.create_branch("s")
    b.write_to_branch("s", spark.range(3, 6).toDF("id"))
    assert t.expire_snapshots(keep_last=1) == []  # v1 = main head: kept
    assert t.main_head() == 1
    assert t.read().count() == 3
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)


def test_update_and_merge_reject_unknown_set_columns(spark, tmp_path):
    """A typo'd SET column made the whole UPDATE/MERGE-update a silent
    no-op that still committed and reported success (review-pass r18,
    reproduced); Spark/Iceberg raise UNRESOLVED_COLUMN."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.createDataFrame([(1, 10.0)], "id long, price double"))
    with pytest.raises(ValueError, match="prce"):
        t.update_set(F.col("id") == 1, {"prce": F.lit(0.0)})
    src = spark.createDataFrame([(1, 5.0)], "id long, price double")
    with pytest.raises(ValueError, match="prce"):
        t.merge_into(src, on="id", update_cols={"prce": F.lit(0.0)})


def test_readded_column_reads_null_not_old_data(spark, tmp_path):
    """DROP then ADD of the same column resurrected the dropped
    physical values through the name-based scan (review-pass r18,
    reproduced); Iceberg's field-id semantics read NULL.  add_column
    also rejects a duplicate name (a committed duplicate-field schema
    breaks every later scan)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.createDataFrame([(1, "SECRET")], "id long, ssn string"))
    t.drop_column("ssn")
    t.add_column("ssn", "string")
    assert [r.ssn for r in t.read().collect()] == [None]
    # rows appended AFTER the re-add read their stored values
    t.append(spark.createDataFrame([(2, "new")], "id long, ssn string"))
    got = {r.id: r.ssn for r in t.read().collect()}
    assert got == {1: None, 2: "new"}
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("id", "long")


def test_rollback_refuses_staged_and_missing(spark, tmp_path):
    """CALL rollback_to_snapshot published an UNAUDITED staged snapshot
    to main, bypassing the WAP audit gate, and a missing version leaked
    FileNotFoundError (review-pass r18, reproduced).  The audited
    fast_forward publish path still works."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(2).toDF("id"))
    b = BranchedLakehouse(t)
    b.create_branch("audit")
    b.write_to_branch("audit", spark.range(9).toDF("id"))
    with pytest.raises(ValueError, match="STAGED"):
        t.rollback_to(2)
    with pytest.raises(ValueError, match="no snapshot"):
        t.rollback_to(99)
    b.fast_forward_main("audit")
    assert t.read().count() == 11  # branch write appends to its base


def test_time_travel_rewrite_skips_string_literals(spark, tmp_path):
    """The r18 literal-protection rule applied to the time-travel
    rewriter: '<managed> VERSION AS OF n' INSIDE a quoted literal was
    rewritten into a __tt_* view name, silently changing the compared
    value (review-pass r18, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.sql_dml import (
        rewrite_time_travel,
    )

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.create_table("t5", spark.range(1).toDF("id"))
    sql = "SELECT * FROM audit WHERE note = 't5 VERSION AS OF 1'"
    assert rewrite_time_travel(eng, sql) == sql
    # outside a literal the rewrite still fires
    out = rewrite_time_travel(eng, "SELECT * FROM t5 VERSION AS OF 1")
    assert "__tt_t5_version_" in out


def test_table_name_cannot_escape_warehouse(spark, tmp_path):
    """'../prod/t' wrote a table OUTSIDE the warehouse (review-pass
    r18, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    for bad in ("../evil", "a/b", "a\\b", "..", ""):
        with pytest.raises(ValueError, match="invalid table name"):
            LakehouseTable(spark, str(tmp_path), bad)


def test_stats_survive_staged_branch_write(spark, tmp_path):
    """Stats carry-forward read only the LOG parent — after a staged
    branch write, main files absent from the branch manifest lost
    their min/max forever and became unprunable (review-pass r18,
    reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(0, 10).toDF("id").coalesce(1))
    t.append(spark.range(100, 200).toDF("id").coalesce(1))
    b = BranchedLakehouse(t)
    b.create_branch("s")
    b.write_to_branch("s", spark.range(300, 310).toDF("id").coalesce(1))
    t.append(spark.range(400, 500).toDF("id").coalesce(1))
    m = t._read_manifest(t.main_head())
    assert all(f in m.get("stats", {}) for f in m["files"])


def test_commit_exclusive_create_detects_racer(spark, tmp_path):
    """_commit's 'w'-mode manifest write let two writers both 'win' —
    the second silently overwrote the first's same-numbered manifest
    (review-pass r18).  With the exclusive create, a manifest that
    exists while _current has already moved raises ConflictError; a
    crashed leftover (manifest present, _current NOT moved) is
    replaced so it cannot wedge the table."""
    import json as _json

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        ConflictError,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(1).toDF("id"))
    # STALE crashed leftover (old timestamp): v2 manifest exists,
    # _current still 1 -> recovered by replacement
    with open(t._manifest_path(2), "x") as f:
        _json.dump(
            {"files": [], "schema": t.schema_json(), "timestamp_ms": 0}, f
        )
    assert t.append(spark.range(5, 6).toDF("id")) == 2  # recovered
    assert t.read().count() == 2
    # FRESH same-version manifest = in-flight concurrent writer (its
    # os.replace of _current is microseconds away) -> ConflictError,
    # never a silent overwrite
    import time as _time

    with open(t._manifest_path(3), "x") as f:
        _json.dump(
            {
                "files": [],
                "schema": t.schema_json(),
                "timestamp_ms": int(_time.time() * 1000),
            },
            f,
        )
    with pytest.raises(ConflictError):
        t._commit({"files": [], "schema": t.schema_json(), "op": "x"}, 2)
    # and a racer whose pointer swing already landed: the stale
    # expected_parent fails the version check up front
    with open(t._current_path() + ".tmp", "w") as f:
        f.write("3")
    os.replace(t._current_path() + ".tmp", t._current_path())
    with pytest.raises(ConflictError):
        t._commit({"files": [], "schema": t.schema_json(), "op": "x"}, 2)


def test_commit_stalled_writer_not_lost(wh):
    """VERDICT-r18 #1 (reproduced, then fixed r19): writer A creates
    v(N).json then stalls >60s before the pointer swing; under the old
    heuristic-only protocol writer B declared A's manifest a crashed
    leftover, overwrote it, and BOTH writers reported success — A's
    commit silently lost.  The per-table flock makes a live stalled
    writer keep its claim: B gets a retryable ConflictError, A's
    commit survives intact."""
    import threading

    from dbx_workspace_and_emr_iceberg_spark.sources import lakehouse

    t = LakehouseTable(None, wh, "t")
    t._COMMIT_LOCK_TIMEOUT_S = 0.5
    t._commit({"files": [], "schema": {"fields": []}, "op": "create"}, 0)

    a_at_swing = threading.Event()
    b_done = threading.Event()
    orig_cp, calls = t._current_path, {}

    def gated_current_path():
        # A's 2nd call builds the swing's tmp path — stall there,
        # i.e. between manifest create and pointer swing
        th = threading.current_thread().name
        calls[th] = calls.get(th, 0) + 1
        if th == "stalledA" and calls[th] == 2:
            a_at_swing.set()
            b_done.wait(timeout=30)
        return orig_cp()

    t._current_path = gated_current_path
    # make A's manifest timestamp look >60s old so the legacy
    # staleness heuristic would have "recovered" (overwritten) it
    real_time = lakehouse.time

    class OldClockForA:
        def __getattr__(self, n):
            return getattr(real_time, n)

        def time(self):
            off = 120 if threading.current_thread().name == "stalledA" else 0
            return real_time.time() - off

    results = {}

    def writer_a():
        try:
            results["A"] = t._commit(
                {"files": ["fileA"], "schema": {"fields": []}, "op": "x"}, 1
            )
        except Exception as e:  # noqa: BLE001 — recorded for the assert
            results["A"] = repr(e)

    lakehouse.time = OldClockForA()
    try:
        ta = threading.Thread(target=writer_a, name="stalledA")
        ta.start()
        assert a_at_swing.wait(timeout=30)
        with pytest.raises(ConflictError, match="commit lock held"):
            t._commit(
                {"files": ["fileB"], "schema": {"fields": []}, "op": "x"}, 1
            )
        b_done.set()
        ta.join(timeout=30)
    finally:
        lakehouse.time = real_time
        b_done.set()

    assert results["A"] == 2  # the stalled writer's commit survived
    assert t.current_version() == 2
    assert t._read_manifest(2)["files"] == ["fileA"]


def test_commit_foreign_manifest_replacement_raises(wh):
    """The pre-swing claim verification: if the manifest we just wrote
    no longer carries our writer UUID (out-of-protocol interference),
    _commit raises instead of publishing someone else's content as our
    success, and the pointer does not move."""
    t = LakehouseTable(None, wh, "t")
    t._commit({"files": [], "schema": {"fields": []}, "op": "create"}, 0)

    orig_read = t._read_manifest

    def tampered_read(version):
        m = orig_read(version)
        if version == 2:
            m = dict(m, writer="somebody-else")
        return m

    t._read_manifest = tampered_read
    with pytest.raises(ConflictError, match="foreign writer"):
        t._commit({"files": ["mine"], "schema": {"fields": []}, "op": "x"}, 1)
    t._read_manifest = orig_read
    assert t.current_version() == 1  # pointer never swung


def test_commit_lock_released_on_failure(wh):
    """The flock is released on every exit path — a failed commit (bad
    expected_parent) must not leave the table locked."""
    t = LakehouseTable(None, wh, "t")
    t._COMMIT_LOCK_TIMEOUT_S = 0.5
    t._commit({"files": [], "schema": {"fields": []}, "op": "create"}, 0)
    with pytest.raises(ConflictError):
        t._commit({"files": [], "schema": {"fields": []}, "op": "x"}, 7)
    # immediately committable again: lock was released
    assert t._commit({"files": [], "schema": {"fields": []}, "op": "x"}, 1) == 2


# --- file-scoped MERGE, per-file stats across handles, local frames --------


def _range_files_table(spark, wh, name="fm"):
    """A stats-carrying table of ids 0..299 in three key-disjoint files."""

    t = LakehouseTable(spark, wh, name)
    t.create(
        spark.range(0, 300)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartitionByRange(3, "k")
    )
    m = t._read_manifest(t.main_head())
    assert len(m["files"]) == 3
    return t, m


def test_merge_rewrites_only_files_overlapping_source_keys(spark, wh):
    """Source keys inside one file's [min, max]: only that file is
    rewritten; every other file keeps its path and its stats entry."""
    t, before = _range_files_table(spark, wh)
    src = spark.createDataFrame([(10, -1), (20, -2)], "k long, v long")
    t.merge_into(src, on="k")
    after = t._read_manifest(t.main_head())
    hit = [
        f
        for f in before["files"]
        if before["stats"][f]["min"]["k"] <= 10 <= before["stats"][f]["max"]["k"]
    ]
    untouched = [f for f in before["files"] if f not in hit]
    assert len(hit) == 1 and len(untouched) == 2
    assert after["rewritten"] == 1
    for f in untouched:
        assert f in after["files"]
        assert after["stats"][f] == before["stats"][f]
    assert hit[0] not in after["files"]
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == 300 and rows[10] == -1 and rows[20] == -2
    assert rows[11] == 110 and rows[299] == 2990
    assert t.row_count() == 300


def test_merge_all_null_source_keys_inserts_only(spark, wh):
    """A source whose keys are all NULL matches nothing: its rows are
    inserted and no existing file is a candidate for the rewrite."""
    t, before = _range_files_table(spark, wh)
    src = spark.createDataFrame([(None, 1), (None, 2)], "k long, v long")
    t.merge_into(src, on="k")
    after = t._read_manifest(t.main_head())
    assert after["rewritten"] == 0
    assert set(before["files"]) <= set(after["files"])
    assert t.read().filter("k IS NULL").count() == 2
    assert t.read().count() == 302 == t.row_count()


def test_merge_source_key_type_mismatch_skips_pruning(spark, wh):
    """A source key of another type than the table's (string vs long)
    disables pruning — every file stays a candidate — instead of
    comparing str bounds with int stats (TypeError)."""
    t, before = _range_files_table(spark, wh)
    src = spark.createDataFrame([("5", 55), ("400", 4)], "k string, v long")
    t.merge_into(src, on="k", update_cols={"v": F.col("__src").getField("v")})
    after = t._read_manifest(t.main_head())
    assert after["rewritten"] == 3
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[5] == 55 and rows[400] == 4 and len(rows) == 301


def test_merge_schema_evolution_keeps_untouched_files_absent(spark, wh):
    """Untouched files predate a MERGE-evolved column: they read NULL for
    it, even when a dropped column of the same name is still in them."""
    t, _ = _range_files_table(spark, wh)
    t.drop_column("v")
    src = spark.createDataFrame([(10, 7)], "k long, v long")
    t.merge_into(src, on="k", schema_evolution=True)
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[10] == 7
    assert all(v is None for k, v in rows.items() if k != 10)


def test_pruning_ignores_stats_of_renamed_or_absent_columns(spark, wh):
    """Footer stats are keyed by physical name: after RENAME the old
    files prune under their physical name, and after DROP + re-ADD the
    old files (which read the default) are never pruned on the stale
    stats of the dropped column."""
    t, _ = _range_files_table(spark, wh)
    t.rename_column("k", "key")
    assert len(t.pruned_files("key", 0, 5)) == 1
    assert t.read_range("key", 0, 5).count() == 6
    t.drop_column("v")
    t.add_column("v", "long", default=7)
    assert len(t.pruned_files("v", 7, 7)) == 3
    assert t.read_range("v", 7, 7).count() == 300


@contextlib.contextmanager
def _catalog_handles(spark, wh, name):
    """The handles LakehouseCatalog and the REST catalog return for
    table ``name`` under ``<wh>/local/default``."""
    from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
        LakehouseCatalog,
    )
    from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        RestLakehouseCatalog,
    )

    with RestCatalogServer(wh, catalog="local") as server:
        yield [
            LakehouseCatalog(spark, wh).table(name),
            RestLakehouseCatalog(spark, RestCatalogClient(server.uri)).table(
                f"default.{name}"
            ),
        ]


def test_stats_survive_dml_through_every_handle(spark, wh):
    """Regression: DML through a catalog handle (a plain LakehouseTable)
    used to commit a manifest with no stats, and pruning then kept every
    file forever. Kept files' stats must survive, so pruning still
    prunes, through the LakehouseCatalog and the REST catalog alike —
    and both handles serve the range scan, the files relation and the
    sort rewrite, which used to exist only on the engine's handle."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=os.path.join(wh, "local", "default"))
    eng.create_table(
        "orders",
        spark.range(0, 300)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartitionByRange(3, "k"),
    )

    def assert_stats_kept(before: dict, handle) -> None:
        after = handle._read_manifest(handle.main_head())
        assert after["version"] > before["version"]
        kept = [f for f in before["stats"] if f in after["files"]]
        assert kept, "every file rewritten: the check would be vacuous"
        for f in kept:
            assert after["stats"][f] == before["stats"][f]
        assert len(handle.pruned_files("k", 250, 260)) < len(after["files"])

    with _catalog_handles(spark, wh, "orders") as handles:
        for base, h in zip((1, 4), handles):
            assert type(h) is LakehouseTable
            before = h._read_manifest(h.main_head())
            h.delete_where(F.col("k") == base)
            assert_stats_kept(before, h)
            before = h._read_manifest(h.main_head())
            h.update_set(F.col("k") == base + 1, {"v": F.lit(0)})
            assert_stats_kept(before, h)
            before = h._read_manifest(h.main_head())
            h.merge_into(
                spark.createDataFrame([(base + 2, 0)], "k long, v long"), on="k"
            )
            assert_stats_kept(before, h)
            assert h.read_range("k", 250, 259).count() == 10
            files = h.files().collect()
            assert [r.file_path for r in files] == h._files()
            assert all(json.loads(r.stats_json)["record_count"] for r in files)
            h.rewrite_data_files(strategy="sort", sort_order="k")
            assert h._read_manifest(h.main_head())["op"] == "rewrite_sorted:k"
    assert eng.managed("orders").read().count() == 298


def _day_rows(spark, day: int, ids):
    import datetime

    return spark.createDataFrame(
        [(datetime.datetime(2024, 1, day, 8), i, f"s{i}", i * 0.5) for i in ids],
        "ts timestamp, i long, s string, v double",
    )


def test_catalog_handle_append_follows_manifest_partition_spec(spark, wh):
    """Regression: the partition spec lived on the handle's class, so an
    append through a catalog handle wrote unpartitioned files without
    stats into a days(ts) table. The spec is in the manifest: every
    handle's append lands in its day's p_days_ts= dir, with stats."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        partition_segments,
    )

    t = LakehouseTable(spark, os.path.join(wh, "local", "default"), "pev")
    t.create(_day_rows(spark, 1, range(3)), partition_by=["days(ts)"])
    with _catalog_handles(spark, wh, "pev") as handles:
        for day, h in zip((2, 3), handles):
            h.append(_day_rows(spark, day, [10 * day]))
            m = h._read_manifest(h.main_head())
            days = {
                f: dict(partition_segments(f)).get("p_days_ts") for f in m["files"]
            }
            new = [f for f, d in days.items() if d == f"2024-01-0{day} 00:00:00"]
            assert new and all(f in m["stats"] for f in new)
            assert None not in days.values()
    assert t.partition_spec() == ["days(ts)"]
    assert sorted(r.i for r in t.read().collect()) == [0, 1, 2, 20, 30]


def test_partitioned_read_follows_manifest_schema(spark, wh):
    """Regression: partitioned tables had a read of their own that took
    each batch dir's file schema instead of the manifest's, so a dropped
    column came back, and after a rename the old name came back while
    the new one read all NULL. Every read now goes through the
    manifest-schema scan."""
    t = LakehouseTable(spark, wh, "pds")
    t.create(
        _day_rows(spark, 1, range(4)).union(_day_rows(spark, 2, range(4, 8))),
        partition_by=["days(ts)"],
    )
    t.drop_column("v")
    assert t.read().columns == ["ts", "i", "s"]
    t.rename_column("s", "s2")
    got = t.read()
    assert got.columns == ["ts", "i", "s2"]
    assert sorted((r.i, r.s2) for r in got.collect()) == [
        (i, f"s{i}") for i in range(8)
    ]


def test_local_frame_type_parity(spark):
    """local_frame (the Arrow LocalRelation every driver-built frame in
    sources/ uses) round-trips the same values and schema as
    createDataFrame(list) for every type its callers pass, NULLs
    included, and yields a correctly typed empty frame for any table
    schema."""
    import datetime
    import decimal

    from pyspark.sql.types import StructType

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        local_frame,
    )

    ddl = "s string, i int, l long, d string"
    rows = [
        ("t", 3, 150_000, "add c long"),
        (None, None, None, None),
        ("ü€", -(2**31), 2**63 - 1, ""),
    ]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in got._jdf.queryExecution().executedPlan().toString()

    wide = StructType.fromDDL(
        "a int, b long, c string, d double, e timestamp, f timestamp_ntz, "
        "g date, h decimal(12,2), i boolean, j array<int>, "
        "k map<string,int>, l struct<x:int,y:string>, m binary, n float, "
        "o short, p byte"
    )
    empty = local_frame(spark, [], wide)
    assert empty.schema == wide
    assert empty.collect() == []
    one = [
        (
            1, 2, "x", 1.5, None, datetime.datetime(2024, 1, 2, 3, 4, 5),
            datetime.date(2024, 1, 2), decimal.Decimal("12.34"), True, [1, None],
            {"a": 1}, (1, "y"), b"\x00\x01", 0.5, 7, -3,
        )
    ]
    assert local_frame(spark, one, wide).collect() == spark.createDataFrame(
        one, wide
    ).collect()
