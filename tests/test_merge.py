"""Merge-strategy matrix + idempotency (SURVEY.md §5 items 3-4)."""

from __future__ import annotations

import pytest

from _spark_multi_format_data_lake_pipeline_spark.catalog import CatalogManager
from _spark_multi_format_data_lake_pipeline_spark.sinks.merge import TableMerger, find_key_column

DB = "merge_test_db"


@pytest.fixture()
def cat(spark):
    c = CatalogManager(spark)
    c.drop_database(DB)
    c.create_database(DB)
    yield c
    c.drop_database(DB)


def _df(spark, rows):
    return spark.createDataFrame(rows, schema="id int, name string, qty int")


def test_find_key_column(spark):
    assert find_key_column(_df(spark, [])) == "id"
    df = spark.createDataFrame([(1, "x")], schema="sku int, name string")
    assert find_key_column(df) == "sku"
    df = spark.createDataFrame([(1,)], schema="other int")
    assert find_key_column(df) is None


def test_ctas_when_target_missing(spark, cat):
    m = TableMerger(spark)
    res = m.merge_table(_df(spark, [(1, "a", 10)]), f"{DB}.t1", target_exists=False)
    assert res["strategy"] == "CREATE_TABLE"
    assert res["final_rows"] == 1


def test_merge_upsert_updates_and_inserts(spark, cat):
    m = TableMerger(spark)
    m.merge_table(_df(spark, [(1, "a", 10), (2, "b", 20)]), f"{DB}.t2", False)
    # update id=2, insert id=3
    res = m.merge_table(_df(spark, [(2, "b2", 25), (3, "c", 30)]), f"{DB}.t2", True)
    assert res["strategy"] == "MERGE"
    assert res["final_rows"] == 3
    rows = {r.id: (r.name, r.qty) for r in spark.table(f"{DB}.t2").collect()}
    assert rows == {1: ("a", 10), 2: ("b2", 25), 3: ("c", 30)}


def test_insert_overwrite_when_no_key(spark, cat):
    m = TableMerger(spark)
    nokey = spark.createDataFrame([("x", 1)], schema="name string, qty int")
    m.merge_table(nokey, f"{DB}.t3", False)
    res = m.merge_table(
        spark.createDataFrame([("y", 2), ("z", 3)], schema="name string, qty int"),
        f"{DB}.t3",
        True,
    )
    assert res["strategy"] == "INSERT_OVERWRITE"
    assert res["final_rows"] == 2


def test_merge_idempotent(spark, cat):
    m = TableMerger(spark)
    src = _df(spark, [(1, "a", 1), (2, "b", 2)])
    m.merge_table(src, f"{DB}.t4", False)
    r1 = m.merge_table(src, f"{DB}.t4", True)
    r2 = m.merge_table(src, f"{DB}.t4", True)
    assert r1["final_rows"] == r2["final_rows"] == 2
    assert sorted(
        (r.id, r.name, r.qty) for r in spark.table(f"{DB}.t4").collect()
    ) == [(1, "a", 1), (2, "b", 2)]


def test_merge_sql_contract_text():
    """The Iceberg MERGE statement can't execute jar-free, so pin its text:
    same clause structure as reference utils/merge_utils.py:70-82
    (UPDATE SET * / INSERT *), modulo identifiers."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.merge import merge_sql_statement

    tokens = merge_sql_statement("db.products", "product_id").split()
    assert tokens == [
        "MERGE", "INTO", "db.products", "t",
        "USING", "source_changes", "s",
        "ON", "t.product_id", "=", "s.product_id",
        "WHEN", "MATCHED", "THEN", "UPDATE", "SET", "*",
        "WHEN", "NOT", "MATCHED", "THEN", "INSERT", "*",
    ]


def _merge_into_model(target_rows, source_rows, key_idx):
    """Pure-Python semantics of the contract MERGE INTO statement
    (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *), the statement
    pinned textually by test_merge_sql_contract_text. SQL equality: a NULL
    key never matches, so NULL-key target rows survive and NULL-key source
    rows insert. Assumes unique non-null keys per side (the upsert
    precondition; Iceberg/Delta MERGE *errors* on multi-match)."""
    src_by_key = {r[key_idx]: r for r in source_rows if r[key_idx] is not None}
    out = []
    matched = set()
    for t in target_rows:
        k = t[key_idx]
        if k is not None and k in src_by_key:
            out.append(src_by_key[k])  # UPDATE SET *
            matched.add(k)
        else:
            out.append(t)
    for s in source_rows:
        k = s[key_idx]
        if k is None or k not in matched:
            out.append(s)  # INSERT *
    return sorted(out, key=repr)


_SCHEMAS = {
    "int_key": ("id int, name string, qty int", 0,
                lambda i: (i, f"n{i}", i * 10), lambda i: (i, f"N{i}", i * 100)),
    "str_key": ("price double, sku string, n bigint", 1,
                lambda i: (i + 0.5, f"s{i}", i), lambda i: (i + 0.25, f"s{i}", i * 7)),
}


@pytest.mark.parametrize("schema_name", list(_SCHEMAS))
@pytest.mark.parametrize("overlap", ["disjoint", "partial", "full"])
@pytest.mark.parametrize("with_nulls", [False, True])
def test_antijoin_merge_matches_merge_into_semantics(
    spark, cat, schema_name, overlap, with_nulls
):
    """Property matrix (key-overlap x null-keys x schema): the jar-free
    anti-join upsert must produce exactly the final table the contract
    MERGE INTO statement would — modeled row-by-row by _merge_into_model,
    since executing the SQL path needs Iceberg/Delta jars."""
    schema, key_idx, mk_t, mk_s = _SCHEMAS[schema_name]
    key = schema.split(",")[key_idx].strip().split()[0]

    target_rows = [mk_t(i) for i in range(6)]
    lo, hi = {"disjoint": (6, 11), "partial": (3, 8), "full": (0, 6)}[overlap]
    source_rows = [mk_s(i) for i in range(lo, hi)]
    if with_nulls:
        def null_key(row):
            r = list(row)
            r[key_idx] = None
            return tuple(r)
        target_rows.append(null_key(mk_t(90)))
        source_rows.append(null_key(mk_s(91)))

    tbl = f"{DB}.prop_{schema_name}_{overlap}_{int(with_nulls)}"
    m = TableMerger(spark)
    m.merge_table(spark.createDataFrame(target_rows, schema=schema), tbl, False, key=key)
    res = m.merge_table(spark.createDataFrame(source_rows, schema=schema), tbl, True, key=key)
    assert res["strategy"] == "MERGE"

    got = sorted((tuple(r) for r in spark.table(tbl).collect()), key=repr)
    want = _merge_into_model(target_rows, source_rows, key_idx)
    assert got == want


def test_merge_sql_path_executes_contract_statement(spark, cat, monkeypatch):
    """use_merge_sql=True must run exactly the contract statement (captured
    via a patched session.sql — the real call needs Iceberg/Delta jars)."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.merge import merge_sql_statement

    m = TableMerger(spark, use_merge_sql=True)
    executed: list[str] = []
    real_sql = spark.sql
    monkeypatch.setattr(
        m.spark, "sql", lambda q, *a, **k: executed.append(q) or real_sql("SELECT 1")
    )
    src = _df(spark, [(1, "a", 10)])
    m._merge_sql(src, f"{DB}.contract_t", "id")
    assert executed == [merge_sql_statement(f"{DB}.contract_t", "id")]


def test_merge_sql_statement_parses_to_merge_into_plan(spark):
    """The W2 MERGE INTO text has never executed in-sandbox (no
    Iceberg/Delta jars, no network to fetch them — see sinks/merge.py
    docstring), so validate it one level deeper than string-shape: Spark's
    SQL parser must produce a MergeIntoTable logical plan with exactly the
    clause structure the reference's executed statement has
    (utils/merge_utils.py:70-82) — update-star on match, insert-star on
    no-match, equi-condition on the key, UPDATE+INSERT write privileges on
    the target. Full analysis/execution needs a row-level-ops catalog and
    stays env-gated."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.merge import merge_sql_statement

    sql = merge_sql_statement("minio_db.products", "product_id")
    plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    assert plan.getClass().getSimpleName() == "MergeIntoTable"
    s = plan.toString()
    assert "updatestaraction" in s
    assert "insertstaraction" in s
    assert "'t.product_id = 's.product_id" in s
    assert "[minio_db, products]" in s
    assert "__required_write_privileges__=UPDATE,INSERT" in s


def test_merge_sql_rejects_malformed_statement(spark):
    """Sanity check that the parser test above actually gates: a mangled
    MERGE must throw a parse error."""
    import pytest

    parser = spark._jsparkSession.sessionState().sqlParser()
    with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR|ParseException"):
        parser.parsePlan("MERGE INTO t USING s WHEN MATCHED UPDATE")


# ---------------------------------------------------------------------------
# W5 strategy matrix, one level deeper (r5 VERDICT item 8): every
# (key-present x target-exists) cell, idempotent re-merge, counts vs a
# Python model of the reference's observable behavior
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("has_key", [True, False])
def test_strategy_matrix_full_lifecycle_and_idempotent_remerge(
    spark, cat, has_key
):
    """Drive each matrix column through its full lifecycle — create from
    nothing, merge a delta, re-merge the same delta — checking after
    every step (a) the selector picked the strategy the reference's
    decision table (utils/merge_utils.py:22-68) dictates, (b) the stored
    rows equal a Python dict/list model of upsert/replace semantics,
    (c) re-merging the identical source is a fixpoint (counts AND
    contents)."""
    schema = "id int, name string, qty int" if has_key else "name string, qty int"
    tbl = f"{DB}.mx_{'k' if has_key else 'nk'}"
    m = TableMerger(spark)

    def rows_of(table):
        cols = ("id", "name", "qty") if has_key else ("name", "qty")
        return sorted(tuple(r[c] for c in cols) for r in spark.table(table).collect())

    def model_merge(state, source):
        if not has_key:
            return sorted(source)  # full replace
        d = {r[0]: r for r in state}
        d.update({r[0]: r for r in source})  # source wins on key
        return sorted(d.values())

    initial = (
        [(1, "a", 10), (2, "b", 20)] if has_key else [("a", 10), ("b", 20)]
    )
    delta = (
        [(2, "b2", 25), (3, "c", 30)] if has_key else [("z", 99)]
    )

    # cell 1: target missing -> CTAS regardless of key presence
    res = m.merge_table(spark.createDataFrame(initial, schema), tbl, target_exists=False)
    assert res["strategy"] == "CREATE_TABLE"
    state = model_merge([], initial) if has_key else sorted(initial)
    assert rows_of(tbl) == state

    # cell 2: target exists -> MERGE with key, INSERT OVERWRITE without
    res = m.merge_table(spark.createDataFrame(delta, schema), tbl, target_exists=True)
    assert res["strategy"] == ("MERGE" if has_key else "INSERT_OVERWRITE")
    state = model_merge(state, delta)
    assert rows_of(tbl) == state
    assert res["final_rows"] == len(state)

    # cell 3: idempotent re-merge — same source, same strategy, fixpoint
    res2 = m.merge_table(spark.createDataFrame(delta, schema), tbl, target_exists=True)
    assert res2["strategy"] == res["strategy"]
    assert rows_of(tbl) == state
    assert res2["final_rows"] == len(state)


def test_strategy_matrix_key_override_beats_autodetect(spark, cat):
    """The explicit ``key=`` override must both steer the selector (a
    frame with NO candidate column still merges) and change which rows
    collide — proving the key parameter reaches the anti-join."""
    schema = "sku_code string, qty int"  # no KEY_CANDIDATES member... except
    # find_key_column knows 'sku'? it does not — 'sku_code' != 'sku'
    assert find_key_column(spark.createDataFrame([], schema)) is None
    tbl = f"{DB}.mx_override"
    m = TableMerger(spark)
    m.merge_table(
        spark.createDataFrame([("A", 1), ("B", 2)], schema), tbl, False
    )
    res = m.merge_table(
        spark.createDataFrame([("B", 9), ("C", 3)], schema),
        tbl,
        True,
        key="sku_code",
    )
    assert res["strategy"] == "MERGE"
    got = sorted((r["sku_code"], r["qty"]) for r in spark.table(tbl).collect())
    assert got == [("A", 1), ("B", 9), ("C", 3)]


def test_versioned_catalog_registry_and_naming(spark, tmp_path):
    """VersionedCatalog (r15): name→path bindings are atomic-file
    metadata, names validate as db.table, rebinding needs replace=True,
    list_tables/list_databases enumerate the registry plane, and
    CatalogManager unions both planes (a versioned binding wins name
    resolution)."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versioned_write

    vc = VersionedCatalog(tmp_path / "wh")
    p1 = str(tmp_path / "wh" / "lake" / "orders")
    versioned_write(
        spark.createDataFrame([(1, "a")], "id int, v string"), p1
    )
    vc.register("lake.orders", p1)
    assert vc.resolve("lake.orders") == p1
    assert vc.exists("lake.orders") and not vc.exists("lake.nope")
    with pytest.raises(ValueError, match="already bound"):
        vc.register("lake.orders", str(tmp_path / "elsewhere"))
    vc.register("lake.orders", p1)  # same path: idempotent
    with pytest.raises(ValueError, match="db.table"):
        vc.register("justonename", p1)
    with pytest.raises(KeyError, match="registered"):
        vc.resolve("lake.nope")
    assert vc.list_tables("lake") == ["orders"]
    assert vc.list_databases() == ["lake"]
    # the name-addressed read is the path-addressed read
    assert vc.table(spark, "lake.orders").collect() == [
        r for r in spark.createDataFrame([(1, "a")], "id int, v string").collect()
    ]
    # CatalogManager unions the planes
    cm = CatalogManager(spark, versioned=vc)
    cm.drop_database("lake")
    cm.create_database("lake")
    try:
        spark.createDataFrame([(9,)], "x int").write.saveAsTable(
            "lake.warehouse_side"
        )
        assert cm.table_exists("lake.orders")
        assert cm.table_exists("lake.warehouse_side")
        assert cm.list_tables("lake") == ["orders", "warehouse_side"]
        assert cm.table("lake.orders").count() == 1
        vc.unregister("lake.orders")
        assert not cm.table_exists("lake.orders")
    finally:
        cm.drop_database("lake")


def test_versioned_catalog_case_insensitive(tmp_path):
    """Names normalize to lowercase (Spark identifier semantics): a
    binding registered as 'Lake.Orders' resolves as 'lake.orders' and
    vice versa, so the two naming planes can never disagree on case."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog

    vc = VersionedCatalog(tmp_path / "wh")
    p = str(tmp_path / "t")
    vc.register("Lake.Orders", p)
    assert vc.resolve("lake.orders") == p
    assert vc.resolve("LAKE.ORDERS") == p
    assert vc.exists("Lake.orders")
    assert vc.list_tables("LAKE") == ["orders"]
    assert vc.list_databases() == ["lake"]
    # case variants are the SAME binding: rebinding under another case
    # is still the already-bound error, and unregister removes it
    with pytest.raises(ValueError, match="already bound"):
        vc.register("LAKE.orders", str(tmp_path / "elsewhere"))
    vc.unregister("lake.ORDERS")
    assert not vc.exists("Lake.Orders")


def test_versioned_catalog_register_race_o_excl(tmp_path):
    """Two racing replace=False creates of one name: exactly one wins
    (os.link fail-if-exists — the table-commit primitive), every loser
    gets a clean error naming the winner's path."""
    from concurrent.futures import ThreadPoolExecutor

    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog

    vc = VersionedCatalog(tmp_path / "wh")

    def grab(i: int):
        try:
            vc.register("db.t", str(tmp_path / f"p{i}"))
            return ("win", i)
        except ValueError as e:
            return ("lose", str(e))

    with ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(grab, range(8)))
    wins = [r for r in results if r[0] == "win"]
    assert len(wins) == 1
    winner_path = str(tmp_path / f"p{wins[0][1]}")
    assert vc.resolve("db.t") == winner_path
    for _, msg in (r for r in results if r[0] == "lose"):
        assert winner_path in msg and "replace=True" in msg
    # racing IDENTICAL bindings both succeed (idempotent create)
    vc2 = VersionedCatalog(tmp_path / "wh2")
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(lambda _: vc2.register("db.t", str(tmp_path / "same")),
                    range(8)))
    assert vc2.resolve("db.t") == str(tmp_path / "same")


def test_versioned_catalog_history_ledger(tmp_path):
    """The registry's own change feed: register/unregister append to
    _changes.jsonl in commit order, history() reads it back (optionally
    per name), and no-op unregisters of unknown names log nothing."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog

    vc = VersionedCatalog(tmp_path / "wh")
    assert vc.history() == []
    vc.register("db.a", str(tmp_path / "a"))
    vc.register("db.b", str(tmp_path / "b"))
    vc.register("db.a", str(tmp_path / "a2"), replace=True)
    vc.unregister("db.b")
    vc.unregister("db.never")  # no-op: nothing to log
    evs = vc.history()
    assert [(e["op"], e["name"]) for e in evs] == [
        ("register", "db.a"),
        ("register", "db.b"),
        ("register", "db.a"),
        ("unregister", "db.b"),
    ]
    assert evs[2]["path"] == str(tmp_path / "a2")
    assert evs[3]["path"] is None
    assert all(isinstance(e["at"], float) for e in evs)
    a_evs = vc.history("DB.A")  # case-normalized lookup
    assert [e["path"] for e in a_evs] == [str(tmp_path / "a"), str(tmp_path / "a2")]
    # the ledger file never pollutes the binding enumeration
    assert vc.list_tables("db") == ["a"]


def test_versioned_catalog_is_name():
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog

    assert VersionedCatalog.is_name("db.table")
    assert VersionedCatalog.is_name("Backup.v2")  # valid (documented trap)
    assert not VersionedCatalog.is_name("my-dir.v2")
    assert not VersionedCatalog.is_name("a.b.c")
    assert not VersionedCatalog.is_name("justone")
    assert not VersionedCatalog.is_name("./backup.v2")
    assert not VersionedCatalog.is_name("/abs/path.json")


def test_w5_strategies_on_versioned_plane(spark, tmp_path):
    """The W5 selector against versioned-plane targets: a registered
    name MERGEs through versioned_upsert (one commit, history intact),
    a keyless source INSERT OVERWRITEs as a snapshot, and
    create_versioned=True lands a missing target as a new registered
    versioned table."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versions,
    )

    vc = VersionedCatalog(tmp_path / "wh")
    m = TableMerger(spark, versioned=vc, create_versioned=True)
    # CREATE on the versioned plane (missing target + create_versioned)
    res = m.merge_table(_df(spark, [(1, "a", 10), (2, "b", 20)]),
                        "lake.items", target_exists=False)
    assert res == {"strategy": "CREATE_TABLE", "source_rows": 2,
                   "final_rows": 2}
    path = vc.resolve("lake.items")
    assert versions(path) == [1]
    # MERGE: update id=2, insert id=3 — one upsert commit
    res = m.merge_table(_df(spark, [(2, "b2", 25), (3, "c", 30)]),
                        "lake.items", target_exists=True)
    assert res == {"strategy": "MERGE", "source_rows": 2, "final_rows": 3}
    assert versions(path) == [1, 2]
    got = {r.id: (r.name, r.qty) for r in read_version(spark, path).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 25), 3: ("c", 30)}
    # time travel over the merge run (what the saveAsTable plane can't do)
    assert read_version(spark, path, 1).count() == 2
    # INSERT OVERWRITE: keyless source replaces the snapshot, history kept
    nokey = spark.createDataFrame([("x", 1)], "name string, qty int")
    res = m.merge_table(nokey, "lake.items", target_exists=True)
    assert res["strategy"] == "INSERT_OVERWRITE" and res["final_rows"] == 1
    assert versions(path) == [1, 2, 3]
    assert read_version(spark, path, 2).count() == 3


def test_run_merge_into_versioned_plane(spark, tmp_path):
    """run_merge (§3.2) across planes: warehouse source tables merge BY
    NAME into versioned-plane targets — pre-registered names upsert,
    missing ones are created+registered under create_versioned=True,
    and per-table results keep the reference's report shape."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.pipeline import run_merge
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versioned_write,
        versions,
    )

    cm = CatalogManager(spark)
    cm.drop_database("src_db")
    cm.create_database("src_db")
    try:
        _df(spark, [(1, "a", 10), (2, "b", 20)]).write.saveAsTable(
            "src_db.alpha"
        )
        _df(spark, [(7, "g", 70)]).write.saveAsTable("src_db.beta")
        vc = VersionedCatalog(tmp_path / "wh")
        pre = str(tmp_path / "wh" / "tgt_db" / "alpha")
        versioned_write(
            _df(spark, [(2, "old", 2), (9, "keep", 90)]), pre
        )
        vc.register("tgt_db.alpha", pre)
        results = run_merge(
            spark, "src_db", "tgt_db", versioned=vc, create_versioned=True
        )
        assert results["alpha"]["strategy"] == "MERGE"
        assert results["beta"]["strategy"] == "CREATE_TABLE"
        got = {
            r.id: (r.name, r.qty)
            for r in read_version(spark, pre).collect()
        }
        assert got == {1: ("a", 10), 2: ("b", 20), 9: ("keep", 90)}
        assert versions(vc.resolve("tgt_db.beta")) == [1]
        # re-run is idempotent on rows (new commit, same snapshot)
        again = run_merge(
            spark, "src_db", "tgt_db", versioned=vc, create_versioned=True
        )
        assert again["alpha"]["strategy"] == "MERGE"
        assert again["alpha"]["final_rows"] == 3
    finally:
        cm.drop_database("src_db")
        cm.drop_database("tgt_db")


def test_versioned_write_tables_modes_and_stale_bindings(spark, tmp_path):
    """write_tables on the versioned plane keeps DataFrameWriter mode
    semantics (error raises on a registered table, ignore skips with 0
    rows) and recreate_database unregisters bindings the sweep no
    longer produces; list_databases unions the registry plane."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.registry import TableHandle
    from _spark_multi_format_data_lake_pipeline_spark.sinks.writer import write_tables

    vc = VersionedCatalog(tmp_path / "wh")
    mkh = lambda n, rows: TableHandle(
        df=_df(spark, rows),
        name=n,
        source_type="json",
        row_count=len(rows),
        col_count=3,
    )
    h1 = mkh("alpha", [(1, "a", 10)])
    write_tables(spark, [h1], database="vdb", versioned=vc)
    assert vc.exists("vdb.alpha")
    with pytest.raises(ValueError, match="already exists"):
        write_tables(
            spark, [h1], database="vdb", mode="error", versioned=vc,
            recreate_database=False,
        )
    res = write_tables(
        spark, [h1], database="vdb", mode="ignore", versioned=vc,
        recreate_database=False,
    )
    assert res == {"alpha": 0}, "ignore skips a registered table"
    # a sweep without alpha (recreate) drops its binding, keeps history
    h2 = mkh("beta", [(2, "b", 20)])
    write_tables(spark, [h2], database="vdb", versioned=vc)
    assert not vc.exists("vdb.alpha") and vc.exists("vdb.beta")
    # the table's history is untouched on disk, only the binding is gone
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import versions

    assert versions(str(tmp_path / "wh" / "vdb" / "alpha")) == [1]
    cm = CatalogManager(spark, versioned=vc)
    assert "vdb" in cm.list_databases(), "registry dbs join SHOW DATABASES"


def test_replicate_bound_past_head_completes(spark, tmp_path):
    """ending_version beyond the source head means 'drain everything
    available' — the loop returns cleanly instead of blaming the rate
    cap."""
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        enable_change_data_feed,
        read_version,
        versioned_write,
    )
    from _spark_multi_format_data_lake_pipeline_spark.sources.versioned_stream import (
        replicate_versioned_changes,
    )

    src, dst, ckpt = (
        str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "ckpt")
    )
    versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
        .coalesce(1),
        src,
    )
    enable_change_data_feed(src)
    runs = replicate_versioned_changes(
        spark, src, dst, ckpt, ["id"], ending_version=99
    )
    assert runs == 1
    assert read_version(spark, dst).count() == 2


def test_versioned_catalog_legacy_mixed_case_migration(tmp_path):
    """r16 self-review fix: a registry persisted by the pre-r16 code
    (binding filenames keep the caller's case) still resolves after
    the lowercase normalization — reads migrate the legacy file to its
    lowercase name lazily, enumeration lowercases, and unregister
    removes the migrated binding."""
    import json

    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog

    vc = VersionedCatalog(tmp_path / "wh")
    d = tmp_path / "wh" / "_versioned_catalog"
    d.mkdir(parents=True)
    # a pre-r16 binding file under mixed case
    (d / "Lake.Orders.json").write_text(json.dumps({"path": "/data/orders"}))
    assert vc.list_tables("lake") == ["orders"]
    assert vc.resolve("Lake.Orders") == "/data/orders"
    # the read migrated the file to its lowercase name
    assert (d / "lake.orders.json").exists()
    assert not (d / "Lake.Orders.json").exists()
    assert vc.resolve("lake.orders") == "/data/orders"
    # register-over + unregister act on the migrated binding
    (d / "Old.Style.json").write_text(json.dumps({"path": "/data/x"}))
    vc.unregister("old.style")
    assert not vc.exists("Old.Style")
    assert vc.list_tables("old") == []


def test_concurrent_overwrite_and_ctas_each_land_their_own_source(
    spark, cat, monkeypatch
):
    """W3 and W4 used to stage their source in one fixed session temp
    view, so two merges on different threads could read each other's
    rows.  Each target must hold exactly its own source, even when SQL
    statements are slow to start."""
    import threading
    import time

    m = TableMerger(spark)
    real_sql = spark.sql

    def slow_sql(*a, **k):
        time.sleep(0.2)
        return real_sql(*a, **k)

    monkeypatch.setattr(m.spark, "sql", slow_sql)
    rounds = 4
    nokey = lambda rows: spark.createDataFrame(rows, "name string, qty int")  # noqa: E731
    for r in range(rounds):
        nokey([("seed", 0)]).write.saveAsTable(f"{DB}.ow{r}")
    a = nokey([("a", i) for i in range(3)])
    b = nokey([("b", i) for i in range(5)])
    barrier = threading.Barrier(2, timeout=60)
    errors: list[BaseException] = []

    def run(df, target, exists):
        try:
            for r in range(rounds):
                barrier.wait()
                m.merge_table(df, target.format(r), exists)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)
            barrier.abort()

    threads = [
        threading.Thread(target=run, args=(a, f"{DB}.ow{{}}", True)),
        threading.Thread(target=run, args=(b, f"{DB}.ctas{{}}", False)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for r in range(rounds):
        assert sorted(spark.table(f"{DB}.ow{r}").collect()) == sorted(a.collect())
        assert sorted(spark.table(f"{DB}.ctas{r}").collect()) == sorted(b.collect())
