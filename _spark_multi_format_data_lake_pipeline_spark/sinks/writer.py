"""Batch table writer + verification report (SURVEY.md §2 Part A.2 W1 and
A.7 F9).

The reference writes Iceberg v2 tables (``utils/spark_write_iceberg.py:10-84``).
This sandbox has no Iceberg runtime jars, so the default table format is
parquet via ``saveAsTable`` — the documented jar-free divergence (SURVEY.md
§7 M3). Pass ``table_format="iceberg"`` (with jars configured) to get the
reference behavior including ``format-version=2``.

Scale: ``partition_by`` maps to DataFrameWriter.partitionBy — at 100 TB the
write path is the same saveAsTable; the difference is you'd always pass a
partition spec (e.g. date) so downstream scans prune.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import SparkSession

from ..catalog import CatalogManager
from ..parallel import map_tables
from ..registry import TableHandle


def write_tables(
    spark: SparkSession,
    handles: Sequence[TableHandle],
    database: str = "local_db",
    mode: str = "overwrite",
    partition_by: Mapping[str, Sequence[str]] | None = None,
    bucket_by: Mapping[str, tuple[int, Sequence[str]]] | None = None,
    extra_options: Mapping[str, str] | None = None,
    table_format: str = "parquet",
    recreate_database: bool = True,
    max_records_per_file: int | None = None,
    versioned=None,
) -> dict[str, int]:
    """W1 (reference utils/spark_write_iceberg.py:10-84): drop+recreate the
    database, then write each registry table. Returns {table: rows}.

    The tables are written concurrently on both planes
    (``parallel.map_tables``, width ``defaultParallelism``).  The result
    keeps the handles' order; a failing table raises after the writes
    already running finish, as a one-at-a-time loop would raise.

    ``max_records_per_file`` caps file size at write time (the other half
    of the small-files problem that sinks/maintenance.py compaction fixes
    after the fact): a 100 TB table written by 8000 tasks must neither emit
    8000 multi-GB files nor millions of KB files — cap records per file and
    let AQE coalesce the task count.

    ``versioned`` (a ``catalog.VersionedCatalog``) lands the whole
    ingestion on the VERSIONED plane instead of ``saveAsTable``: each
    table becomes one atomic snapshot commit at the registry's default
    path, registered as ``database.name`` — the lakehouse-format
    ingestion the reference's Iceberg writer performs, jar-free, with
    time travel over every ingestion run.

    ``recreate_database=True`` maps to the registry plane as the
    warehouse drop+recreate: every table writes as a fresh OVERWRITE
    snapshot at its previously-bound path (history stays on disk for
    time travel — the one intentional divergence from the warehouse
    drop, which destroys it), save-mode guards never fire (a
    recreated database has, semantically, no tables), stale names the
    sweep does not produce unregister, and — unlike a literal
    drop-first — each SWEPT binding survives until its replacement
    write succeeds, so a mid-sweep failure leaves the unwritten rest
    of the database resolvable.  With ``recreate_database=False`` the
    save modes keep their DataFrameWriter semantics against registered
    bindings: ``error``/``errorifexists`` raise, ``ignore`` skips with
    0 rows reported, ``append`` adds a snapshot on top.

    ``partition_by`` maps to the versioned writer's Hive layout and
    ``max_records_per_file`` to its write-time file sizing;
    ``bucket_by`` and ``extra_options`` are saveAsTable-plane concepts
    with no versioned-plane equivalent and are IGNORED on this plane.
    """
    if versioned is not None:
        from .versioned import versioned_write

        prior: dict[str, str] = {}
        if recreate_database:
            # drop+recreate on the registry plane: STALE names (not in
            # this sweep) unregister now; SWEPT names keep their
            # binding until their replacement write succeeds — a
            # mid-sweep failure must never leave the rest of the
            # database unresolvable
            swept = {f"{database}.{h.name}".lower() for h in handles}
            for t in versioned.list_tables(database):
                name = f"{database}.{t}".lower()
                if name in swept:
                    prior[name] = versioned.resolve(name)
                else:
                    versioned.unregister(name)

        def write_one(h: TableHandle) -> int:
            name = f"{database}.{h.name}".lower()
            exists = versioned.exists(name)
            if exists and not recreate_database:
                # save-mode guards only apply without drop+recreate
                # (a recreated database has, semantically, no tables)
                if mode in ("error", "errorifexists"):
                    raise ValueError(
                        f"write_tables: versioned table {name} already "
                        "exists and mode is "
                        f"{mode!r}"
                    )
                if mode == "ignore":
                    return 0
            path = prior.get(name) or (
                versioned.resolve(name)
                if exists
                else versioned.default_path(name)
            )
            versioned_write(
                h.df,
                path,
                # drop+recreate semantics: the write never sees prior
                # rows, so a recreated database always snapshots fresh
                mode="append"
                if mode == "append" and not recreate_database
                else "overwrite",
                partition_by=list((partition_by or {}).get(h.name) or []) or None,
                max_records_per_file=max_records_per_file,
            )
            versioned.register(name, path, replace=True)
            return h.row_count

    else:
        cat = CatalogManager(spark)
        if recreate_database:
            cat.drop_database(database)
        cat.create_database(database)

        def write_one(h: TableHandle) -> int:
            writer = h.df.write.mode(mode).format(table_format)
            cols = (partition_by or {}).get(h.name)
            if cols:
                writer = writer.partitionBy(*cols)
            bucket_spec = (bucket_by or {}).get(h.name)
            if bucket_spec:
                # bucketed+sorted layout: equal-bucket joins/aggregations on
                # these keys skip the shuffle entirely — the 100 TB co-location
                # strategy for repeatedly-joined fact tables
                n_buckets, bcols = bucket_spec
                writer = writer.bucketBy(n_buckets, *bcols).sortBy(*bcols)
            if max_records_per_file:
                writer = writer.option("maxRecordsPerFile", max_records_per_file)
            if table_format == "iceberg":
                writer = writer.option("format-version", "2")  # reference :57
            for k, v in (extra_options or {}).items():
                writer = writer.option(k, v)
            writer.saveAsTable(f"{database}.{h.name}")
            return h.row_count

    # handles naming the same table (table names are case-insensitive)
    # write one after another, in sweep order, so the last one wins as in
    # a one-at-a-time loop; distinct tables write concurrently
    same_table: dict[str, list[TableHandle]] = {}
    for h in handles:
        same_table.setdefault(h.name.lower(), []).append(h)
    written = map_tables(
        spark, lambda hs: [(h.name, write_one(h)) for h in hs], same_table.values()
    )
    rows = dict(pair for pairs in written for pair in pairs)
    return {h.name: rows[h.name] for h in handles}


def verify_tables(
    spark: SparkSession,
    database: str,
    table_names: Sequence[str] | None = None,
    sample_rows: int = 3,
    versioned=None,
) -> dict[str, dict]:
    """F9 (reference utils/spark_write_iceberg.py:88-132): SHOW TABLES →
    per-table sample + count. Returns {table: {rows, columns, sample}}.
    With ``versioned`` set the enumeration and reads union the
    versioned-table registry (names there resolve through it).  The
    tables are checked concurrently (``parallel.map_tables``); the report
    keeps the listing order."""
    cat = CatalogManager(spark, versioned=versioned)
    names = list(table_names) if table_names else cat.list_tables(database)

    def verify_one(t: str) -> dict:
        df = cat.table(f"{database}.{t}")
        return {
            "rows": df.count(),
            "columns": df.columns,
            "sample": [r.asDict() for r in df.limit(sample_rows).collect()],
        }

    return dict(zip(names, map_tables(spark, verify_one, names)))
