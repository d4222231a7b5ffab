"""Unit tests for the SQL DML front-door parser (sources/sql_dml.py) —
pure-Python parse coverage (no Spark needed for the parse layer) plus
one end-to-end engine round trip per statement kind.

Execution semantics are covered by the m12_sql_dml_door registered
query and the LakehouseTable unit tests; these tests pin the grammar:
what must parse, into what, and what must be rejected loudly.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml


# --- classify --------------------------------------------------------------


@pytest.mark.parametrize(
    ("sql", "kind"),
    [
        ("DELETE FROM t WHERE x > 1", "DELETE"),
        ("  delete from t", "DELETE"),
        ("UPDATE t SET x = 1", "UPDATE"),
        ("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE", "MERGE"),
        ("SELECT * FROM t", None),
        ("-- comment\nSELECT 1", None),
        ("", None),
    ],
)
def test_classify(sql, kind):
    assert sql_dml.classify(sql) == kind


# --- DELETE ----------------------------------------------------------------


def test_parse_delete_with_where():
    assert sql_dml.parse_delete("DELETE FROM tbl WHERE a < 5 AND b IS NULL") == (
        "tbl",
        "a < 5 AND b IS NULL",
    )


def test_parse_delete_without_where():
    assert sql_dml.parse_delete("DELETE FROM tbl;") == ("tbl", None)


# --- UPDATE ----------------------------------------------------------------


def test_parse_update_multi_assignments():
    tbl, assigns, where = sql_dml.parse_update(
        "UPDATE t SET a = upper(concat(a, ',x')), b = b + 1 WHERE c IN (1, 2)"
    )
    assert tbl == "t"
    # the comma inside concat('...') must not split the assignment list
    assert assigns == {"a": "upper(concat(a, ',x'))", "b": "b + 1"}
    assert where == "c IN (1, 2)"


def test_parse_update_no_where():
    tbl, assigns, where = sql_dml.parse_update("UPDATE t SET a = 1")
    assert (tbl, where) == ("t", None)
    assert assigns == {"a": "1"}


# --- MERGE -----------------------------------------------------------------


def test_parse_merge_full_form():
    spec = sql_dml.parse_merge(
        """
        MERGE INTO tgt AS t USING src AS s
        ON t.k = s.k
        WHEN MATCHED AND s.flag = 'drop' THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = t.n + 1
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert spec["target"] == "tgt" and spec["source"] == "src"
    assert spec["target_alias"] == "t" and spec["source_alias"] == "s"
    assert spec["on"] == "k"
    assert spec["insert"] is True
    assert spec["delete_cond"] == "s.flag = 'drop'"
    assert spec["update_set"] == {"v": "s.v", "n": "t.n + 1"}


def test_parse_merge_no_aliases():
    spec = sql_dml.parse_merge(
        "MERGE INTO tgt USING src ON k WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["target"] == "tgt" and spec["source"] == "src"
    assert spec["target_alias"] is None and spec["source_alias"] is None
    assert spec["on"] == "k" and spec["insert"] is True


def test_parse_merge_rejects_mismatched_keys():
    with pytest.raises(ValueError, match="same-named"):
        sql_dml.parse_merge(
            "MERGE INTO a USING b ON a.x = b.y WHEN MATCHED THEN DELETE"
        )


def test_parse_merge_rejects_insert_columns():
    with pytest.raises(ValueError, match="INSERT \\*"):
        sql_dml.parse_merge(
            "MERGE INTO a USING b ON k "
            "WHEN NOT MATCHED THEN INSERT (x) VALUES (b.x)"
        )


def test_rewrite_aliases():
    assert (
        sql_dml._rewrite("s.v + t.n - s.other", "t", "s")
        == "__src.v + n - __src.other"
    )


# --- end-to-end through the engine ----------------------------------------


def test_engine_sql_dml_round_trip(spark):
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    wh = tempfile.mkdtemp(prefix="sqldml_")
    try:
        eng = Engine(spark, warehouse=wh)
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
        ).coalesce(1)
        eng.create_table("items", df)

        r = eng.sql("UPDATE items SET n = n * 2 WHERE k <= 2").collect()[0]
        assert (r.operation, r.n_rows) == ("update", 3)
        assert {
            (x.k, x.n) for x in eng.sql("SELECT k, n FROM items").collect()
        } == {(1, 20), (2, 40), (3, 30)}

        r = eng.sql("DELETE FROM items WHERE v = 'c'").collect()[0]
        assert (r.operation, r.n_rows) == ("delete", 2)

        spark.createDataFrame(
            [(2, "b2", 99), (9, "new", 9)], "k int, v string, n int"
        ).createOrReplaceTempView("items_src")
        r = eng.sql(
            "MERGE INTO items AS t USING items_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert (r.operation, r.n_rows) == ("merge", 3)
        assert {
            (x.k, x.v) for x in eng.sql("SELECT k, v FROM items").collect()
        } == {(1, "a"), (2, "b2"), (9, "new")}

        # non-DML still routes to plain Spark SQL
        assert eng.sql("SELECT 1 AS one").collect()[0].one == 1
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- property-based grammar round-trip (pure Python, no Spark) -------------

from hypothesis import given, settings
from hypothesis import strategies as st

_IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True).filter(
    # exclude the grammar's own keywords so generated aliases can't
    # collide with clause boundaries
    lambda s: s not in {"as", "using", "on", "when", "set", "where", "from"}
)
_NUM = st.integers(min_value=0, max_value=10_000)


@given(table=_IDENT, col=_IDENT, n=_NUM)
@settings(max_examples=50, deadline=None)
def test_delete_roundtrip_property(table, col, n):
    tbl, where = sql_dml.parse_delete(f"DELETE FROM {table} WHERE {col} > {n}")
    assert tbl == table and where == f"{col} > {n}"


@given(table=_IDENT, cols=st.lists(_IDENT, min_size=1, max_size=4, unique=True), n=_NUM)
@settings(max_examples=50, deadline=None)
def test_update_roundtrip_property(table, cols, n):
    sets = ", ".join(f"{c} = {c} + {n}" for c in cols)
    tbl, assigns, where = sql_dml.parse_update(
        f"UPDATE {table} SET {sets} WHERE {cols[0]} < {n}"
    )
    assert tbl == table
    assert assigns == {c: f"{c} + {n}" for c in cols}
    assert where == f"{cols[0]} < {n}"


@given(
    tgt=_IDENT,
    src=_IDENT,
    key=_IDENT,
    val=_IDENT,
    aliased=st.booleans(),
    with_update=st.booleans(),
    with_insert=st.booleans(),
    with_delete=st.booleans(),
)
@settings(max_examples=80, deadline=None)
def test_merge_roundtrip_property(
    tgt, src, key, val, aliased, with_update, with_insert, with_delete
):
    if not (with_update or with_insert or with_delete):
        with_insert = True
    ta, sa = ("t", "s") if aliased else (tgt, src)
    head = (
        f"MERGE INTO {tgt} AS t USING {src} AS s"
        if aliased
        else f"MERGE INTO {tgt} USING {src}"
    )
    clauses = []
    if with_delete:
        clauses.append(f"WHEN MATCHED AND {sa}.{val} = 'x' THEN DELETE")
    if with_update:
        clauses.append(f"WHEN MATCHED THEN UPDATE SET {ta}.{val} = {sa}.{val}")
    if with_insert:
        clauses.append("WHEN NOT MATCHED THEN INSERT *")
    stmt = f"{head} ON {ta}.{key} = {sa}.{key} " + " ".join(clauses)
    spec = sql_dml.parse_merge(stmt)
    assert spec["target"] == tgt and spec["source"] == src
    assert spec["on"] == key
    assert spec["insert"] is with_insert
    assert (spec["delete_cond"] is not None) is with_delete
    assert (spec["update_set"] is not None) is with_update
    if with_update:
        assert spec["update_set"] == {val: f"{sa}.{val}"}


# --- SELECT-side time travel rewriter ---------------------------------------


def test_time_travel_rewriter_edges(spark, tmp_path):
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("tt_edge", nat.coalesce(1))
    t.append(nat.limit(2).selectExpr("n_nationkey + 700 AS n_nationkey", "n_name", "n_regionkey"))
    eng.refresh_view("tt_edge")
    n0 = nat.count()

    # trailing semicolon / paren must not ride into the parsed value
    assert eng.sql("SELECT count(*) AS n FROM tt_edge VERSION AS OF 1;").collect()[0].n == n0
    assert (
        eng.sql("SELECT * FROM (SELECT * FROM tt_edge VERSION AS OF 1) x").count()
        == n0
    )
    # quoted version number parses
    assert eng.sql("SELECT count(*) AS n FROM tt_edge VERSION AS OF '1'").collect()[0].n == n0
    # epoch-seconds TIMESTAMP AS OF: a second past the LAST commit must
    # resolve the current snapshot (v1-time probing is ms-tie-flaky in
    # a test; m16 covers it with an explicit ms-tie wait)
    v2_ts = t.snapshots().collect()[-1].ts_ms
    epoch_s = v2_ts // 1000 + 1
    assert (
        eng.sql(f"SELECT count(*) AS n FROM tt_edge TIMESTAMP AS OF {epoch_s}").collect()[0].n
        == n0 + 2
    )
    # unparseable value falls through untouched -> Spark's own error
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.sql("SELECT count(*) FROM tt_edge VERSION AS OF banana").collect()
    # qualified references are left for the catalog layer (no mangling)
    out = sql_dml.rewrite_time_travel(eng, "SELECT * FROM cat.db.tt_edge VERSION AS OF 1")
    assert "cat.db.tt_edge VERSION AS OF 1" in out
    for v in spark.catalog.listTables():
        if v.name.startswith("__tt_tt_edge") or v.name == "tt_edge":
            spark.catalog.dropTempView(v.name)


def test_time_travel_views_deterministic_and_dropped(spark, tmp_path):
    """__tt_* views: (1) names derive from a CONTENT digest, not
    seeded hash() — two different literals can never collide onto one
    view; (2) engine.sql drops them after execution, so repeated
    time-travel reads leave the session catalog clean (ADVICE r6)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("tt_clean", nat.coalesce(1))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 750 AS n_nationkey", "n_name", "n_regionkey"))
    eng.refresh_view("tt_clean")
    n0 = nat.count()

    # two DIFFERENT versions in one statement must resolve to two
    # different snapshots (a collision would silently alias them)
    row = eng.sql(
        "SELECT (SELECT count(*) FROM tt_clean VERSION AS OF 1) AS a, "
        "(SELECT count(*) FROM tt_clean VERSION AS OF 2) AS b"
    ).collect()[0]
    assert (row.a, row.b) == (n0, n0 + 2)
    # ...and no __tt_* debris remains in the session
    leftover = [
        v.name for v in spark.catalog.listTables()
        if v.name.startswith("__tt_tt_clean")
    ]
    assert leftover == []
    spark.catalog.dropTempView("tt_clean")


# --- CALL system.* procedures ----------------------------------------------


def test_call_procedures_dispatch(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_t", nat.coalesce(1))
    t.append(nat.limit(3).selectExpr("n_nationkey + 600 AS n_nationkey", "n_name", "n_regionkey"))
    eng.refresh_view("proc_t")
    n0 = nat.count()

    # rollback via CALL — positional arg
    out = eng.sql("CALL system.rollback_to_snapshot('proc_t', 1)").collect()
    assert out[0].procedure == "rollback_to_snapshot"
    assert eng.sql("SELECT count(*) AS n FROM proc_t").collect()[0].n == n0

    # compaction via the Iceberg-named procedure, named arg
    eng.sql("CALL system.rewrite_data_files('proc_t', target_partitions => 1)")
    assert eng.managed("proc_t").read().count() == n0

    # expire — Iceberg's argument NAME (retain_last aliases keep_last)
    eng.sql("CALL system.expire_snapshots('proc_t', retain_last => 2)")
    assert eng.managed("proc_t").read().count() == n0

    # unknown procedure / bad arg fail loudly
    with _pytest.raises(ValueError, match="unknown procedure"):
        eng.sql("CALL system.vacuum('proc_t')")
    with _pytest.raises(ValueError, match="unknown argument"):
        eng.sql("CALL system.expire_snapshots('proc_t', bogus => 1)")
    spark.catalog.dropTempView("proc_t")


def test_call_expire_iceberg_positional_order(spark, tmp_path):
    """Iceberg's signature is expire_snapshots(table, older_than,
    retain_last). The old binding put keep_last FIRST, so an
    Iceberg-style CALL with a timestamp second argument silently
    expired nothing (ADVICE r6). Positional order now matches."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    # pure-parse check of the binding
    _proc, _table, kwargs = sql_dml.parse_call(
        "CALL system.expire_snapshots('t', 1700000000000, 3)"
    )
    assert kwargs == {"older_than_ms": 1700000000000, "keep_last": 3}

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_pos", nat.coalesce(1))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 700 AS n_nationkey", "n_name", "n_regionkey"))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 800 AS n_nationkey", "n_name", "n_regionkey"))
    far_future_ms = (t.snapshots().collect()[-1].ts_ms) + 10**9
    before = t.snapshots().count()
    # Iceberg-style: timestamp first, retain_last second — must expire
    eng.sql(f"CALL system.expire_snapshots('proc_pos', {far_future_ms}, 1)")
    assert t.snapshots().count() < before
    assert eng.managed("proc_pos").read().count() == nat.count() + 4
    spark.catalog.dropTempView("proc_pos")


def test_parse_call_grammar_pure():
    """Grammar-only checks for the r7 procedure surface — no Spark."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    # zero-arg procedure besides the table
    assert sql_dml.parse_call("CALL system.rewrite_manifests('t')") == (
        "rewrite_manifests", "t", {},
    )
    # Iceberg snapshot_id alias binds to the engine's version kwarg
    assert sql_dml.parse_call(
        "CALL cat.system.cherrypick_snapshot(table => 't', snapshot_id => 3)"
    ) == ("cherrypick_snapshot", "t", {"version": 3})
    # nested parens in a quoted arg survive the statement regex
    proc, table, kw = sql_dml.parse_call(
        "CALL system.rewrite_data_files('t', strategy => 'sort', "
        "sort_order => 'zorder(a, b)')"
    )
    assert kw["sort_order"] == "zorder(a, b)"
    # duplicate via alias+name is still a duplicate
    with _pytest.raises(ValueError, match="duplicate"):
        sql_dml.parse_call(
            "CALL system.expire_snapshots('t', retain_last => 1, "
            "keep_last => 2)"
        )


def test_call_cherrypick_and_remove_orphans(spark, tmp_path):
    import os

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_cp", nat.coalesce(1))
    n0 = nat.count()
    t.append(nat.limit(4).selectExpr(
        "n_nationkey + 900 AS n_nationkey", "n_name", "n_regionkey"))
    eng.sql("CALL system.rollback_to_snapshot('proc_cp', 1)")
    # re-apply v2's append delta on top of the rollback, via the door
    out = eng.sql(
        "CALL system.cherrypick_snapshot('proc_cp', snapshot_id => 2)"
    ).collect()
    assert out[0].procedure == "cherrypick_snapshot"
    assert eng.managed("proc_cp").read().count() == n0 + 4

    # orphan sweep: an unreferenced parquet goes, live files stay
    orphan_dir = os.path.join(str(tmp_path), "proc_cp", "data", "junkbatch")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1xPAR1")
    res = eng.sql("CALL system.remove_orphan_files('proc_cp')").collect()
    assert "part-junk.parquet" in res[0].result
    assert not os.path.exists(orphan)
    assert eng.managed("proc_cp").read().count() == n0 + 4

    # older_than guard: a FRESH orphan survives an aged sweep
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1xPAR1")
    eng.sql("CALL system.remove_orphan_files('proc_cp', older_than => 1000)")
    assert os.path.exists(orphan)
    spark.catalog.dropTempView("proc_cp")


def test_call_rewrite_manifests_metadata_only(spark, tmp_path):
    """rewrite_manifests: metadata-only commit — file list deduped and
    canonically sorted, DATA FILES untouched (same inode set), table
    content identical; op recorded in the snapshot lineage."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_mf", nat.repartition(3))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 550 AS n_nationkey", "n_name", "n_regionkey"))
    files_before = set(t._files())
    v0 = t.current_version()
    eng.sql("CALL system.rewrite_manifests('proc_mf')")
    assert t.current_version() == v0 + 1
    assert set(t._files()) == files_before          # no data rewrite
    assert t._files() == sorted(set(t._files()))    # canonical order
    assert t.read().count() == nat.count() + 2
    snaps = {r.version: r.operation for r in t.snapshots().collect()}
    assert snaps[v0 + 1] == "rewrite_manifests"
    spark.catalog.dropTempView("proc_mf")


def test_sql_door_dml_retries_on_conflict(spark, tmp_path):
    """engine.sql('UPDATE …') under a racing writer: the first commit
    hits ConflictError (version moved underneath), commit_with_retries
    re-runs the restartable statement against the NEW state, and the
    final table reflects BOTH writers — Iceberg's commit.retry default,
    now wired into the SQL door (r6 verdict item #4)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("race_t", nat.coalesce(1))
    n0 = nat.count()

    rival = LakehouseTable(spark, str(tmp_path), "race_t")
    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(manifest, expected_parent):
        if not raced["done"]:
            raced["done"] = True
            # a second writer lands BETWEEN this statement's read and
            # its commit — the classic optimistic-concurrency race
            rival.append(nat.limit(2).selectExpr(
                "n_nationkey + 950 AS n_nationkey", "n_name", "n_regionkey"))
        return orig_commit(manifest, expected_parent)

    t._commit = racing_commit
    try:
        eng.sql("UPDATE race_t SET n_name = lower(n_name) WHERE n_regionkey = 0")
    finally:
        t._commit = orig_commit
    assert raced["done"]
    rows = eng.managed("race_t").read().collect()
    # both writers' effects present: rival's 2 appended rows survived…
    assert len(rows) == n0 + 2
    # …and the UPDATE hit every region-0 row, including any appended
    # by the rival (the retry re-read the rival's state first)
    for r in rows:
        if r.n_regionkey == 0:
            assert r.n_name == r.n_name.lower()
    spark.catalog.dropTempView("race_t")


def test_call_rewrite_data_files_strategies(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    eng.create_table("proc_rw", nat.repartition(4))
    n0 = nat.count()

    # sort strategy → rewrite_sorted
    eng.sql(
        "CALL system.rewrite_data_files('proc_rw', strategy => 'sort', "
        "sort_order => 'n_nationkey', target_partitions => 2)"
    )
    t = eng.managed("proc_rw")
    assert t.read().count() == n0
    assert len(t._files()) == 2

    # zorder sort_order (nested parens must survive the CALL regex)
    eng.sql(
        "CALL system.rewrite_data_files('proc_rw', strategy => 'sort', "
        "sort_order => 'zorder(n_nationkey, n_regionkey)', "
        "target_partitions => 2)"
    )
    assert t.read().count() == n0

    # binpack + sort_order is contradictory → loud
    with _pytest.raises(ValueError, match="sort_order requires"):
        eng.sql(
            "CALL system.rewrite_data_files('proc_rw', "
            "strategy => 'binpack', sort_order => 'n_name')"
        )
    spark.catalog.dropTempView("proc_rw")


def test_alter_table_door_evolution(spark, tmp_path):
    """ALTER TABLE ADD/DROP/RENAME COLUMN through the SQL door (M6 via
    DDL — Iceberg's manifest-only evolution): values survive renames,
    drop touches no data files, DEFAULT literals bind, and non-managed
    ALTER statements fall through to Spark SQL untouched."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("alt_t", nat.coalesce(1))
    n0 = nat.count()

    out = eng.sql(
        "ALTER TABLE alt_t ADD COLUMN grade STRING DEFAULT 'unrated'"
    ).collect()
    assert out[0].operation == "alter"
    got = eng.sql("SELECT count(*) AS n FROM alt_t WHERE grade = 'unrated'")
    assert got.collect()[0].n == n0  # v3 initial default on old files

    eng.sql("ALTER TABLE alt_t RENAME COLUMN n_name TO nation_name")
    row = eng.sql(
        "SELECT count(*) AS n FROM alt_t WHERE nation_name IS NOT NULL"
    ).collect()[0]
    assert row.n == n0  # pre-rename files keep their values

    files_before = set(t._files())
    eng.sql("ALTER TABLE alt_t DROP COLUMN n_regionkey")
    assert set(t._files()) == files_before  # manifest-only
    assert "n_regionkey" not in eng.managed("alt_t").read().columns

    # grammar-level parse checks
    assert sql_dml.parse_alter(
        "ALTER TABLE t ADD COLUMN x BIGINT DEFAULT 7"
    ) == ("add", "t", ("x", "bigint", 7))
    with _pytest.raises(ValueError, match="unsupported ALTER"):
        sql_dml.parse_alter("ALTER TABLE t CHANGE COLUMN x TYPE DOUBLE")

    # non-managed ALTER falls through to Spark SQL (its own error,
    # not this parser's)
    with _pytest.raises(Exception) as ei:
        eng.sql("ALTER TABLE no_such_tbl DROP COLUMN x")
    assert "unsupported ALTER" not in str(ei.value)
    spark.catalog.dropTempView("alt_t")


def test_alter_add_column_ddl_types(spark, tmp_path):
    """Regression: ADD COLUMN stored the DDL spelling ('int') in the
    manifest schema, which StructType.fromJson rejects, so every later
    read of the table failed. DDL types are stored as their JSON names;
    a type that does not parse raises and commits nothing."""
    import decimal

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = eng.create_table("ddl_t", spark.range(2).selectExpr("id AS k"))
    try:
        for col, ddl in (("a", "int"), ("b", "bigint"), ("c", "decimal(10,2)")):
            eng.sql(f"ALTER TABLE ddl_t ADD COLUMN {col} {ddl}")
        eng.sql("INSERT INTO ddl_t VALUES (9, 1, 2, 3.25)")
        got = eng.managed("ddl_t").read()
        assert got.schema.simpleString() == (
            "struct<k:bigint,a:int,b:bigint,c:decimal(10,2)>"
        )
        assert sorted(got.collect()) == [
            (0, None, None, None),
            (1, None, None, None),
            (9, 1, 2, decimal.Decimal("3.25")),
        ]
        v = t.current_version()
        for bad in ("notatype", "a int"):
            with pytest.raises(ValueError, match="unsupported type"):
                eng.sql(f"ALTER TABLE ddl_t ADD COLUMN d {bad}")
        assert t.current_version() == v
    finally:
        spark.catalog.dropTempView("ddl_t")


def test_ctas_and_insert_door(spark, tmp_path):
    """CREATE TABLE AS / INSERT INTO / INSERT OVERWRITE through the
    SQL door — the reference's spark-sql write flow (README.md:35-45)
    against the managed snapshot layer; VALUES lists, retries wiring,
    and fall-through for non-managed targets."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet") \
        .createOrReplaceTempView("nation_src")

    out = eng.sql(
        "CREATE TABLE ctas_t AS SELECT n_nationkey, n_name FROM nation_src"
    ).collect()[0]
    assert (out.operation, out.version) == ("ctas", 1)
    n0 = out.n_rows
    assert eng.sql("SELECT count(*) AS n FROM ctas_t").collect()[0].n == n0

    out = eng.sql(
        "INSERT INTO ctas_t VALUES (900, 'ATLANTIS'), (901, 'ELDORADO')"
    ).collect()[0]
    assert (out.operation, out.version, out.n_rows) == ("insert", 2, n0 + 2)

    out = eng.sql(
        "INSERT OVERWRITE ctas_t SELECT n_nationkey, n_name "
        "FROM nation_src WHERE n_regionkey = 0"
    ).collect()[0]
    assert out.operation == "insert_overwrite"
    assert out.n_rows < n0
    # history intact: pre-overwrite snapshot still readable
    assert eng.sql(
        "SELECT count(*) AS n FROM ctas_t VERSION AS OF 2"
    ).collect()[0].n == n0 + 2

    # CTAS onto an existing managed table fails loudly
    with _pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE ctas_t AS SELECT 1 AS x")

    # non-managed INSERT falls through to Spark (its own error for a
    # temp view target, not this parser's)
    with _pytest.raises(Exception) as ei:
        eng.sql("INSERT INTO nation_src VALUES (1, 'x', 2)")
    assert "unsupported INSERT" not in str(ei.value)

    # pure parse checks
    assert sql_dml.parse_insert(
        "INSERT OVERWRITE TABLE t SELECT * FROM s"
    ) == ("OVERWRITE", "t", "SELECT * FROM s")
    mode, tbl, body = sql_dml.parse_insert("INSERT INTO t VALUES (1, 'a')")
    assert body.startswith("SELECT * FROM VALUES")
    spark.catalog.dropTempView("ctas_t")
    spark.catalog.dropTempView("nation_src")


def test_insert_column_list_falls_through(spark, tmp_path):
    """A column-list INSERT (`INSERT INTO t (a, b) VALUES …`) is not in
    this subset's grammar — it must reach Spark SQL (whose own error
    mentions the target, not 'unsupported INSERT')."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    with _pytest.raises(Exception) as ei:
        eng.sql("INSERT INTO nowhere_t (a, b) VALUES (1, 2)")
    assert "unsupported INSERT" not in str(ei.value)


def test_create_branch_rejects_existing_if_not_exists_noop(spark, tmp_path):
    """CREATE BRANCH on an existing ref must raise (Iceberg's
    CREATE-vs-REPLACE distinction — silently re-pointing an audited
    branch is the WAP footgun); IF NOT EXISTS is a no-op keeping the
    OLD pointer; REPLACE BRANCH re-points."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "br_src"
    )
    try:
        eng.sql("CREATE TABLE br_t AS SELECT * FROM br_src")
        eng.sql("ALTER TABLE br_t CREATE BRANCH audit")
        eng.sql("INSERT INTO br_t VALUES (2, 'b')")  # main moves to v2
        with _pytest.raises(ValueError, match="exists"):
            eng.sql("ALTER TABLE br_t CREATE BRANCH audit AS OF VERSION 2")
        # IF NOT EXISTS: no-op, pointer unchanged (still reads 1 row)
        eng.sql("ALTER TABLE br_t CREATE BRANCH IF NOT EXISTS audit")
        n = eng.sql(
            "SELECT count(*) AS n FROM br_t VERSION AS OF 'audit'"
        ).collect()[0][0]
        assert n == 1
        # REPLACE is the sanctioned re-point
        eng.sql("ALTER TABLE br_t REPLACE BRANCH audit AS OF VERSION 2")
        n2 = eng.sql(
            "SELECT count(*) AS n FROM br_t VERSION AS OF 'audit'"
        ).collect()[0][0]
        assert n2 == 2
        # tags: IF NOT EXISTS no-ops instead of the immutability error
        eng.sql("ALTER TABLE br_t CREATE TAG gold")
        eng.sql("ALTER TABLE br_t CREATE TAG IF NOT EXISTS gold")
        with _pytest.raises(ValueError, match="immutable"):
            eng.sql("ALTER TABLE br_t CREATE TAG gold")
    finally:
        spark.catalog.dropTempView("br_src")


def test_branch_write_accepts_dash_and_dot_names(spark, tmp_path):
    """Any branch the ALTER grammar can CREATE must be writable via
    INSERT INTO t.branch_<name> — the two regexes share one ref
    charset (review-pass finding: dash-named branches used to parse in
    DDL but fall through to an opaque Spark error on write)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "brd_src"
    )
    try:
        eng.sql("CREATE TABLE brd_t AS SELECT * FROM brd_src")
        for name in ("rel-1", "v1.2"):
            eng.sql(f"ALTER TABLE brd_t CREATE BRANCH {name}")
            eng.sql(f"INSERT INTO brd_t.branch_{name} VALUES (9, 'z')")
            n = eng.sql(
                f"SELECT count(*) AS n FROM brd_t VERSION AS OF '{name}'"
            ).collect()[0][0]
            assert n == 2, name
        # main untouched by branch writes
        assert eng.sql("SELECT count(*) FROM brd_t").collect()[0][0] == 1
    finally:
        spark.catalog.dropTempView("brd_src")


def test_main_dml_after_branch_write_excludes_staged_files(spark, tmp_path):
    """Main-side DML must base on main_head(), not the shared log head:
    after a branch write, INSERT into MAIN must not fold the branch's
    staged files in (review-pass finding, was reproduced live)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "mh_src"
    )
    try:
        eng.sql("CREATE TABLE mh_t AS SELECT * FROM mh_src")
        eng.sql("ALTER TABLE mh_t CREATE BRANCH b")
        eng.sql("INSERT INTO mh_t.branch_b VALUES (9, 'z')")
        eng.sql("INSERT INTO mh_t VALUES (2, 'b')")
        ids = sorted(
            r.id for r in eng.sql("SELECT id FROM mh_t").collect()
        )
        assert ids == [1, 2], ids  # staged row 9 must NOT appear
        # the branch still sees exactly its own lineage
        bids = sorted(
            r.id
            for r in eng.sql(
                "SELECT id FROM mh_t VERSION AS OF 'b'"
            ).collect()
        )
        assert bids == [1, 9], bids
        # and a tag created now pins main's head, not the staged write
        eng.sql("ALTER TABLE mh_t CREATE TAG after")
        tids = sorted(
            r.id
            for r in eng.sql(
                "SELECT id FROM mh_t VERSION AS OF 'after'"
            ).collect()
        )
        assert tids == [1, 2], tids
    finally:
        spark.catalog.dropTempView("mh_src")


def test_replace_branch_default_is_main_head(spark, tmp_path):
    """REPLACE BRANCH without AS OF VERSION re-points to main_head(),
    never to another branch's staged snapshot (review-pass finding,
    was reproduced live)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "rb_src"
    )
    try:
        eng.sql("CREATE TABLE rb_t AS SELECT * FROM rb_src")
        eng.sql("ALTER TABLE rb_t CREATE BRANCH b1")
        eng.sql("ALTER TABLE rb_t CREATE BRANCH b2")
        eng.sql("INSERT INTO rb_t.branch_b1 VALUES (9, 'z')")
        eng.sql("ALTER TABLE rb_t REPLACE BRANCH b2")
        ids = sorted(
            r.id
            for r in eng.sql(
                "SELECT id FROM rb_t VERSION AS OF 'b2'"
            ).collect()
        )
        assert ids == [1], ids  # b1's staged row must not leak into b2
    finally:
        spark.catalog.dropTempView("rb_src")


def test_main_head_raises_past_expired_history(spark, tmp_path):
    """main_head() walking staged snapshots down into expired history
    must raise the contracted error, not FileNotFoundError."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "exp_t")
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))  # v2
    b = BranchedLakehouse(t)
    b.create_branch("s")
    b.write_to_branch("s", spark.createDataFrame([(9,)], "id long"))  # v3 staged
    b.write_to_branch("s", spark.createDataFrame([(10,)], "id long"))  # v4 staged
    # r18: expire_snapshots now PROTECTS the main_head() walk path
    # [mh..cur], so this maintenance call can no longer wedge the
    # table — v2 (main head) survives even though keep_last=2 only
    # nominally retains the staged pair
    t.expire_snapshots(keep_last=2)
    assert t.main_head() == 2
    assert t.read().count() == 2
    # the contracted error itself still guards the walk when history
    # is holed by forces OUTSIDE expire_snapshots (manual cleanup,
    # torn storage) — simulate by removing the head manifest directly
    import os as _os

    _os.remove(t._manifest_path(2))
    with _pytest.raises(ValueError, match="expired below staged"):
        t.main_head()


def test_empty_set_clause_raises():
    """An UPDATE SET clause with zero parseable assignments is
    malformed SQL and must raise — a falsy {} would silently no-op the
    UPDATE (review-pass r10)."""
    import pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.sql_dml import (
        _parse_assignments,
    )

    with pytest.raises(ValueError, match="empty SET"):
        _parse_assignments("")
    with pytest.raises(ValueError, match="empty SET"):
        _parse_assignments(" , ")


# --- review-pass r15 batch 3: SQL-door silent-failure classes ---------------


def test_strip_is_quote_aware():
    """'--' inside a string literal is DATA, not a comment — the old
    blanket regex truncated the statement (single-line: unbalanced
    quote; multi-line: silently rebalanced into a DIFFERENT predicate)
    (review-pass r15, reproduced)."""
    s = sql_dml._strip("DELETE FROM t WHERE a = '--' OR b = '--'")
    assert s == "DELETE FROM t WHERE a = '--' OR b = '--'"
    tbl, cond = sql_dml.parse_delete("DELETE FROM t WHERE a = '--x'")
    assert (tbl, cond) == ("t", "a = '--x'")
    # real comments still stripped (outside quotes)
    assert sql_dml._strip("DELETE FROM t -- drop all\n WHERE x = 1") == (
        "DELETE FROM t \n WHERE x = 1"
    )


def test_parse_merge_rejects_unsupported_or_unreachable_clauses():
    """Silently mis-executing is the failure mode (review-pass r15,
    reproduced): a conditional NOT MATCHED insert dropped its
    condition and inserted EVERYTHING; an UPDATE textually before a
    conditional DELETE deleted rows SQL would update; duplicate
    clauses silently kept only the last."""
    head = "MERGE INTO t USING s ON t.id = s.id "
    with pytest.raises(ValueError, match="NOT MATCHED AND"):
        sql_dml.parse_merge(head + "WHEN NOT MATCHED AND s.f = 1 THEN INSERT *")
    with pytest.raises(ValueError, match="unreachable"):
        sql_dml.parse_merge(
            head
            + "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            + "WHEN MATCHED AND s.d = 1 THEN DELETE"
        )
    with pytest.raises(ValueError, match="duplicate"):
        sql_dml.parse_merge(
            head
            + "WHEN MATCHED AND s.a = 1 THEN DELETE "
            + "WHEN MATCHED AND s.b = 1 THEN DELETE"
        )
    with pytest.raises(ValueError, match="unreachable"):
        sql_dml.parse_merge(
            head + "WHEN MATCHED THEN DELETE WHEN MATCHED THEN UPDATE SET v = 1"
        )
    with pytest.raises(ValueError, match="duplicate WHEN NOT MATCHED"):
        sql_dml.parse_merge(
            head + "WHEN NOT MATCHED THEN INSERT * WHEN NOT MATCHED THEN INSERT *"
        )
    # the supported order still parses
    spec = sql_dml.parse_merge(
        head
        + "WHEN MATCHED AND s.d = 1 THEN DELETE "
        + "WHEN MATCHED THEN UPDATE SET t.v = s.v "
        + "WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["delete_cond"] == "s.d = 1" and spec["insert"] is True


def test_rewrite_aliases_case_insensitive():
    """SQL identifiers are case-insensitive: 'SET T.v = S.v' with
    aliases declared t/s is legal spark-sql and must map into the
    merge namespace (review-pass r15, reproduced)."""
    assert sql_dml._rewrite("S.v + T.w", "t", "s") == "__src.v + w"


def test_insert_overwrite_binds_positionally(spark, tmp_path):
    """INSERT OVERWRITE ... VALUES used to commit the VALUES frame's
    schema, silently renaming the table's columns to col1/col2
    (review-pass r15); SQL binds positionally into the EXISTING
    schema."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.sql("CREATE TABLE ow_t AS SELECT 1 AS id, 'a' AS name")
    eng.sql("INSERT OVERWRITE ow_t VALUES (2, 'b')")
    df = eng.table("ow_t")
    assert df.columns == ["id", "name"]
    assert [(r.id, r.name) for r in df.collect()] == [(2, "b")]


def test_call_rejects_duplicate_table_argument(spark, tmp_path):
    """A positional table plus 'table =>' silently overwrote the
    binding and ran the procedure against the WRONG table (review-pass
    r15); Iceberg rejects the duplicate."""
    with pytest.raises(ValueError, match="duplicate table"):
        sql_dml.parse_call(
            "CALL system.expire_snapshots('t1', table => 't2')"
        )


def test_time_travel_inside_insert_and_ctas(spark, tmp_path):
    """Snapshotting into a new table — the canonical time-travel use —
    must work through the SQL door: the DML dispatch used to run the
    body before the VERSION AS OF rewrite (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.sql("CREATE TABLE tt_src AS SELECT 1 AS id")
    eng.sql("INSERT INTO tt_src VALUES (2)")  # v2
    eng.sql("CREATE TABLE tt_snap AS SELECT * FROM tt_src VERSION AS OF 1")
    assert [r.id for r in eng.table("tt_snap").collect()] == [1]
    eng.sql("INSERT INTO tt_snap SELECT * FROM tt_src VERSION AS OF 1")
    assert sorted(r.id for r in eng.table("tt_snap").collect()) == [1, 1]


# --- ADVICE r15: escape handling inside string literals ----------------------


def test_strip_handles_backslash_escaped_quote():
    r"""A Spark-legal literal like 'it\'s -- x' used to close the quote
    at \' and the stripper truncated the statement at the '--' inside
    the literal; paired escaped quotes could rebalance into a DIFFERENT
    valid predicate (ADVICE r15, reproduced)."""
    s = "DELETE FROM t WHERE a = 'it\\'s -- x'"
    assert sql_dml._strip(s) == s
    # doubled-quote escape form too
    s2 = "DELETE FROM t WHERE a = 'it''s -- x'"
    assert sql_dml._strip(s2) == s2
    # two literals each with an escaped quote must NOT rebalance into
    # one literal that swallows the predicate between them
    s3 = "UPDATE t SET a = 'x\\'' WHERE b = '\\'y' AND c = 1 -- tail"
    assert sql_dml._strip(s3) == (
        "UPDATE t SET a = 'x\\'' WHERE b = '\\'y' AND c = 1"
    )


def test_split_top_level_handles_escaped_quotes():
    """SET-list splitting must not break inside a literal containing an
    escaped quote followed by a comma (ADVICE r15)."""
    parts = sql_dml._split_top_level("a = 'x\\', y', b = 2")
    assert parts == ["a = 'x\\', y'", "b = 2"]
    parts2 = sql_dml._split_top_level("a = 'x'', y', b = 2")
    assert parts2 == ["a = 'x'', y'", "b = 2"]


# --- review-pass r18: clause coverage, literal-safe rewrite, CASE WHEN ------


def test_parse_merge_rejects_unparseable_clause_instead_of_dropping():
    """re.findall skipped text it could not match, so a Spark/Iceberg-
    legal 'WHEN NOT MATCHED BY SOURCE THEN DELETE' silently vanished
    while the rest of the MERGE executed — missing semantics with a
    green gate (review-pass r18, reproduced). Every character of the
    WHEN section must now belong to a parsed clause."""
    with pytest.raises(ValueError, match="BY SOURCE"):
        sql_dml.parse_merge(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    with pytest.raises(ValueError, match="BY TARGET"):
        sql_dml.parse_merge(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED BY TARGET THEN INSERT *"
        )


def test_parse_merge_case_when_in_update_set():
    """The clause boundary is 'WHEN [NOT] MATCHED', not any bare
    'WHEN': a CASE WHEN inside UPDATE SET used to truncate the
    assignment to {'v': 'CASE'} and re-scan the remainder as clause
    soup (review-pass r18, reproduced)."""
    spec = sql_dml.parse_merge(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.v = "
        "CASE WHEN s.x > 0 THEN 1 ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["update_set"] == {"v": "CASE WHEN s.x > 0 THEN 1 ELSE 0 END"}
    assert spec["insert"] is True


def test_rewrite_leaves_string_literals_alone():
    """A quote-blind alias sub corrupted literals: with source alias s,
    re.I made \\bs\\. match the 'S.' inside 'U.S.' and the merge
    compared against 'U.__src.' — a value in no row (review-pass r18,
    reproduced)."""
    assert sql_dml._rewrite("s.n_name = 's.fake'", "t", "s") == (
        "__src.n_name = 's.fake'"
    )
    assert sql_dml._rewrite("s.country = 'U.S.'", "t", "s") == (
        "__src.country = 'U.S.'"
    )
    # doubled-quote escapes stay inside one literal
    assert sql_dml._rewrite("t.a = 's.''s.'", "t", "s") == "a = 's.''s.'"
    # double-quoted segments are protected too
    assert sql_dml._rewrite('s.a = "s.b"', "t", "s") == '__src.a = "s.b"'


def test_rewrite_leaves_backslash_escaped_literals_alone():
    """ADVICE r18 (reproduced): _LITERAL_RE only knew doubled-quote
    escapes, so a backslash-escaped quote 'closed' the literal early
    and the rewriter corrupted the literal's interior — the exact
    corruption class the quote-aware split was added to fix.  The
    other tokenizers (_strip, _split_top_level) already honored
    backslash escapes; the regex now agrees with them."""
    assert sql_dml._rewrite(r"s.flag = 'it\'s s.x'", "t", "s") == (
        r"__src.flag = 'it\'s s.x'"
    )
    # literal ending in an escaped backslash does NOT swallow the quote
    assert sql_dml._rewrite(r"s.flag = 'a\\' AND s.y = 1", "t", "s") == (
        r"__src.flag = 'a\\' AND __src.y = 1"
    )
    # time-travel rewrite shares the regex: a VERSION AS OF inside a
    # backslash-escaped literal must not be rewritten
    sql = r"SELECT 'x\' VERSION AS OF 3 ' AS lit FROM t"
    assert sql_dml.rewrite_time_travel(object(), sql) == sql


def _strip_manifest_stats(table) -> None:
    """Turn ``table`` into a legacy table: drop the per-file ``stats``
    (record counts, min/max) from every committed manifest, as written
    before every write collected them."""
    import glob
    import json

    for path in glob.glob(os.path.join(table.snap_dir, "v*.json")):
        with open(path) as f:
            m = json.load(f)
        m.pop("stats", None)
        with open(path, "w") as f:
            json.dump(m, f, indent=1)


def test_summary_n_rows_from_metadata_every_arm(spark, tmp_path):
    """n_rows comes from the manifest's per-file record counts, not a
    scan. For every SQL-door arm it must equal what a scan counts (the
    batch for a branch INSERT), including across an ADD COLUMN ...
    DEFAULT and a RENAME COLUMN, and on a table whose manifest has no
    counts at all (footer fallback). Collecting each summary starts no
    Spark job: it is a LocalRelation."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        BranchedLakehouse,
        LakehouseTable,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    eng = Engine(spark, warehouse=str(tmp_path))
    spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v").createOrReplaceTempView(
        "nr_src"
    )
    spark.createDataFrame(
        [(3, 100, 0), (39, 101, 0), (500, 102, 0), (None, 103, 0)],
        "k long, v2 long, w long",
    ).createOrReplaceTempView("nr_merge")
    # no record counts in this table's manifests: a legacy table
    legacy = LakehouseTable(spark, str(tmp_path), "nr_legacy")
    legacy.create(spark.range(0, 25).selectExpr("id AS k", "id AS v").repartition(3))
    _strip_manifest_stats(legacy)
    assert "stats" not in legacy._read_manifest(legacy.main_head())

    def summary(sql: str, group: str):
        out = eng.sql(sql)
        sc.setJobGroup(group, group)
        try:
            row = out.collect()[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert tracker.getJobIdsForGroup(group) == [], f"{sql}: summary ran a job"
        return row

    def scan(table: str) -> int:
        return eng.managed(table).read().count()

    try:
        steps = [
            ("nr_t", "CREATE TABLE nr_t AS SELECT * FROM nr_src"),
            ("nr_t", "UPDATE nr_t SET v = v + 1 WHERE k < 10"),
            ("nr_t", "DELETE FROM nr_t WHERE k = 12345"),  # no-op
            ("nr_t", "DELETE FROM nr_t WHERE k BETWEEN 5 AND 8"),
            ("nr_t", "ALTER TABLE nr_t ADD COLUMN w long DEFAULT 7"),
            ("nr_t", "ALTER TABLE nr_t RENAME COLUMN v TO v2"),
            (
                "nr_t",
                "MERGE INTO nr_t t USING nr_merge s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v2 = s.v2 "
                "WHEN NOT MATCHED THEN INSERT *",
            ),
            ("nr_t", "INSERT INTO nr_t VALUES (900, 1, 2), (901, 3, 4)"),
            ("nr_legacy", "DELETE FROM nr_legacy WHERE k = 3"),
            ("nr_legacy", "INSERT INTO nr_legacy VALUES (77, 77)"),
            ("nr_t", "INSERT OVERWRITE nr_t SELECT k, v, v FROM nr_src WHERE k < 9"),
        ]
        for i, (table, sql) in enumerate(steps):
            row = summary(sql, f"nr_summary_{i}")
            if "ALTER" not in sql:
                assert row.n_rows == scan(table), sql
        eng.sql("ALTER TABLE nr_t CREATE BRANCH b")
        base = scan("nr_t")
        row = summary("INSERT INTO nr_t.branch_b VALUES (1, 2, 3)", "nr_summary_b")
        assert row.operation == "insert_branch"
        t = eng.managed("nr_t")
        assert row.n_rows == BranchedLakehouse(t).read_ref("b").count() - base == 1
        assert summary(
            "CALL system.rewrite_manifests('nr_t')", "nr_summary_call"
        ).procedure == "rewrite_manifests"
    finally:
        for v in ("nr_src", "nr_merge", "nr_t", "nr_legacy"):
            spark.catalog.dropTempView(v)
