"""End-to-end pipeline flows (SURVEY.md §3.1/§3.2) + foreachBatch upsert
sink + winnowing fingerprints."""

from __future__ import annotations

import time
import uuid
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from _spark_multi_format_data_lake_pipeline_spark.catalog import CatalogManager
from _spark_multi_format_data_lake_pipeline_spark.llm.dedup import winnowing_fingerprints
from _spark_multi_format_data_lake_pipeline_spark.parallel import map_tables
from _spark_multi_format_data_lake_pipeline_spark.registry import TableHandle
from _spark_multi_format_data_lake_pipeline_spark.sinks import writer
from _spark_multi_format_data_lake_pipeline_spark.sources import readers
from _spark_multi_format_data_lake_pipeline_spark.pipeline import run_ingestion, run_merge
from _spark_multi_format_data_lake_pipeline_spark.streaming.events import read_event_stream
from _spark_multi_format_data_lake_pipeline_spark.streaming.sinks import stream_upsert_sink


@pytest.fixture()
def dbs(spark):
    names = [f"pl_src_{uuid.uuid4().hex[:6]}", f"pl_dst_{uuid.uuid4().hex[:6]}"]
    yield names
    cat = CatalogManager(spark)
    for n in names:
        cat.drop_database(n)


def test_ingestion_then_merge_flow(spark, tmp_path, dbs):
    src_db, dst_db = dbs
    base = tmp_path / "data"
    (base / "json").mkdir(parents=True)
    (base / "csv").mkdir()
    (base / "json" / "items.json").write_text(
        '[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]'
    )
    (base / "csv" / "notes.csv").write_text("id,note\n1,hello\n")

    rep = run_ingestion(spark, base, database=src_db)
    assert set(rep.written) == {"json_items", "csv_notes"}
    assert rep.total_rows == 3
    assert rep.rows_per_sec > 0
    assert rep.verification["json_items"]["rows"] == 2

    # first merge: CTAS everything; second: MERGE on the key column
    r1 = run_merge(spark, src_db, dst_db)
    assert {r["strategy"] for r in r1.values()} == {"CREATE_TABLE"}
    r2 = run_merge(spark, src_db, dst_db)
    assert r2["json_items"]["strategy"] == "MERGE"
    assert r2["json_items"]["final_rows"] == 2
    # csv ids are strings -> still a key column present ('id')
    assert r2["csv_notes"]["strategy"] == "MERGE"


def test_merge_isolates_per_table_errors(spark, dbs):
    src_db, dst_db = dbs
    cat = CatalogManager(spark)
    cat.create_database(src_db)
    spark.createDataFrame([(1, "x")], "id int, v string").write.saveAsTable(
        f"{src_db}.good"
    )
    spark.createDataFrame([("a",)], "v string").write.saveAsTable(f"{src_db}.nokey")
    # pre-create a target with an incompatible schema to force one failure
    cat.create_database(dst_db)
    spark.createDataFrame([(1, 2, 3)], "a int, b int, c int").write.saveAsTable(
        f"{dst_db}.nokey"
    )
    res = run_merge(spark, src_db, dst_db)
    assert res["good"]["strategy"] == "CREATE_TABLE"
    assert res["nokey"]["strategy"] == "ERROR"  # isolated, didn't kill the run


def test_stream_upsert_sink(spark, sf_dir, tmp_path, dbs):
    src_db, _ = dbs
    CatalogManager(spark).create_database(src_db)
    target = f"{src_db}.events_lake"

    from _spark_multi_format_data_lake_pipeline_spark.sources.lake import load_table

    events = load_table(spark, sf_dir, "events").limit(200)
    src = tmp_path / "stream_src"
    events.repartition(2).write.mode("overwrite").parquet(str(src))

    q = stream_upsert_sink(
        read_event_stream(spark, str(src)),
        target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        key="event_id",
    )
    q.awaitTermination()
    assert spark.table(target).count() == 200

    # re-run over the same files with a FRESH checkpoint: every batch
    # replays, and the keyed upsert keeps the table exactly-once
    q = stream_upsert_sink(
        read_event_stream(spark, str(src)),
        target,
        checkpoint_dir=str(tmp_path / "ckpt2"),
        key="event_id",
    )
    q.awaitTermination()
    assert spark.table(target).count() == 200


def test_winnowing_shared_substring(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (0, f"intro words here {shared} tail piece one"),
            (1, f"other beginning text {shared} different ending"),
            (2, "completely separate vocabulary nothing matches at all here now"),
        ],
        "doc_id bigint, text string",
    )
    fp = winnowing_fingerprints(df, "doc_id", "text", k=3, window=2)
    got = fp.groupBy("doc_id").agg(F.collect_set("fingerprint").alias("fps")).collect()
    by_id = {r.doc_id: set(r.fps) for r in got}
    assert by_id[0] & by_id[1], "docs sharing a long substring must share fingerprints"
    assert not (by_id[0] & by_id[2])


def test_ingestion_lands_on_versioned_plane(spark, tmp_path, dbs):
    """run_ingestion(versioned=...) writes each swept table as an
    atomic versioned-table snapshot registered by name — the lakehouse
    twin of the saveAsTable ingestion — and verify_tables enumerates
    and reads them through the registry.  A re-run is a new snapshot
    (time travel over ingestion runs), not a table swap."""
    from _spark_multi_format_data_lake_pipeline_spark.catalog import VersionedCatalog
    from _spark_multi_format_data_lake_pipeline_spark.sinks.versioned import (
        read_version,
        versions,
    )

    src_db, _ = dbs
    base = tmp_path / "data"
    (base / "json").mkdir(parents=True)
    (base / "json" / "items.json").write_text(
        '[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]'
    )
    vc = VersionedCatalog(tmp_path / "wh")
    rep = run_ingestion(spark, base, database=src_db, versioned=vc)
    assert rep.written == {"json_items": 2}
    assert rep.verification["json_items"]["rows"] == 2
    name = f"{src_db}.json_items"
    assert vc.exists(name)
    p = vc.resolve(name)
    assert versions(p) == [1]
    assert read_version(spark, p).count() == 2
    # re-ingestion = a new snapshot of the SAME table, history intact
    rep2 = run_ingestion(spark, base, database=src_db, versioned=vc)
    assert rep2.written == {"json_items": 2}
    assert versions(p) == [1, 2]
    assert read_version(spark, p, 1).count() == 2
    # the whole flow composes: versioned ingestion -> named merge
    r = run_merge(spark, src_db, src_db + "_t", versioned=vc,
                  create_versioned=True)
    assert r["json_items"]["strategy"] == "CREATE_TABLE"
    assert vc.exists(f"{src_db}_t.json_items")


def _mixed_lake(base):
    """Eight files over every swept folder, more than a 4-core host has
    cores; ``json/bad.json`` is one whole-file corrupt record."""
    for d in ("json", "csv", "parquet", "docx"):
        (base / d).mkdir(parents=True)
    (base / "json" / "a.json").write_text('[{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]')
    (base / "json" / "b.json").write_text(
        '[{"id": 10, "w": 1.5}, {"id": 11, "w": 2.5}, {"id": 12, "w": 3.5}]'
    )
    (base / "json" / "bad.json").write_text('{"id": 1, "v": ')
    (base / "csv" / "c.csv").write_text("id,note\n1,x\n2,y\n")
    (base / "csv" / "d.csv").write_text("name,qty\nfoo,1\nbar,2\nbaz,3\n")
    pq.write_table(
        pa.table({"sku": [1, 2, 3, 4], "price": [1.0, 2.0, 3.0, 4.0]}),
        base / "parquet" / "p.parquet",
    )
    body = "".join(f"<w:p><w:r><w:t>{t}</w:t></w:r></w:p>" for t in ("first", "second"))
    with zipfile.ZipFile(base / "docx" / "memo.docx", "w") as z:
        z.writestr("word/document.xml", f"<w:document><w:body>{body}</w:body></w:document>")
    (base / "docx" / "notes.txt").write_text("one\ntwo\nthree\n")
    return base


# sweep order (folders, then sorted files), the corrupt json.bad left out
MIXED_ROWS = {
    "json_a": 2, "json_b": 3, "csv_c": 2, "csv_d": 3,
    "parquet_p": 4, "text_memo": 2, "text_notes": 3,
}


def _serial_map(spark, fn, items):
    return [fn(x) for x in items]


def test_concurrent_ingestion_and_merge_match_serial(spark, tmp_path, dbs, monkeypatch):
    """The concurrent sweep, writes and verification report exactly what
    the one-at-a-time loops report, in the same order; the corrupt file
    stays isolated; run_merge returns list_tables order with the right
    strategy and row count per table."""
    src_db, dst_db = dbs
    base = _mixed_lake(tmp_path / "lake")
    rep = run_ingestion(spark, base, database=src_db)
    with monkeypatch.context() as m:
        for mod in (readers, writer):
            m.setattr(mod, "map_tables", _serial_map)
        ref = run_ingestion(spark, base, database=dst_db)

    assert [h.name for h in rep.tables] == [h.name for h in ref.tables] == list(MIXED_ROWS)
    assert list(rep.written.items()) == list(ref.written.items()) == list(MIXED_ROWS.items())
    assert list(rep.verification.items()) == list(ref.verification.items())
    assert {t: v["rows"] for t, v in rep.verification.items()} == MIXED_ROWS
    assert rep.total_rows == sum(MIXED_ROWS.values())

    CatalogManager(spark).drop_database(dst_db)
    order = CatalogManager(spark).list_tables(src_db)
    r1 = run_merge(spark, src_db, dst_db)
    assert list(r1) == order
    assert {t: (r["strategy"], r["final_rows"]) for t, r in r1.items()} == {
        t: ("CREATE_TABLE", n) for t, n in MIXED_ROWS.items()
    }
    r2 = run_merge(spark, src_db, dst_db)
    assert list(r2) == order
    no_key = {"csv_d", "text_memo", "text_notes"}
    assert {t: (r["strategy"], r["final_rows"]) for t, r in r2.items()} == {
        t: ("INSERT_OVERWRITE" if t in no_key else "MERGE", n) for t, n in MIXED_ROWS.items()
    }


def test_write_tables_failing_handle_raises_and_others_land(spark, dbs):
    db, _ = dbs
    good = [
        TableHandle(spark.range(n), f"t{n}", "PARQUET", n, 1) for n in (1, 2, 3)
    ]
    # last in input order: every other write has started before it runs
    bad = TableHandle(spark.range(1), "bad name", "PARQUET", 1, 1)
    with pytest.raises(Exception, match="bad name|PARSE"):
        writer.write_tables(spark, good + [bad], database=db)
    assert {h.name: spark.table(f"{db}.{h.name}").count() for h in good} == {
        "t1": 1, "t2": 2, "t3": 3
    }


def test_write_tables_same_name_last_handle_wins(spark, dbs):
    """memo.docx and memo.txt both land as text_memo: writes of one table
    stay in sweep order, so the later handle wins, as in a serial loop."""
    db, _ = dbs
    handles = [
        TableHandle(spark.range(n), name, "TEXT", n, 1)
        for n, name in ((1, "text_memo"), (2, "other"), (3, "text_memo"))
    ]
    assert writer.write_tables(spark, handles, database=db) == {"text_memo": 3, "other": 2}
    assert spark.table(f"{db}.text_memo").count() == 3


def test_map_tables_keeps_order_and_raises_first_failure_in_input_order(spark):
    n = 3 * spark.sparkContext.defaultParallelism

    def slow_square(i):
        time.sleep(0.01 * ((n - i) % 4))
        return i * i

    assert map_tables(spark, slow_square, range(n)) == [i * i for i in range(n)]

    def fail_two(i):
        if i == 1:
            time.sleep(0.05)  # fails after item 2 has failed
        if i in (1, 2):
            raise ValueError(str(i))
        return i

    with pytest.raises(ValueError, match="^1$"):
        map_tables(spark, fail_two, range(n))
    assert map_tables(spark, slow_square, []) == []
