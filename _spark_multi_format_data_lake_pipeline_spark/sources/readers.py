"""Multi-format file readers with the reference's exact option sets and
corrupt-record semantics (SURVEY.md §2 Part A.1, S1-S5).

Semantics reproduced from the reference (cited per reader):
- PERMISSIVE mode with a ``_corrupt_record`` capture column for JSON/CSV;
  corrupt rows are counted, then filtered out and the column dropped.
- The DataFrame is persisted before the corrupt-record filter: Spark
  disallows referencing only the corrupt column of an uncached PERMISSIVE
  read (see reference ``schema_manager.py:28,62``).
- Table naming ``{format}_{file-stem}`` (reference ``schema_manager.py:43,74,87,99``).
- Per-file error isolation: a reader returns None on failure or 0 rows and
  the sweep continues (reference ``schema_manager.py:117-137``).

Deliberate divergence (documented, SURVEY.md §2 S4): the reference reads
``.docx`` raw bytes as mojibake text lines; here DOCX gets real text
extraction (stdlib zipfile+XML — python-docx isn't needed for paragraphs).
"""

from __future__ import annotations

import re
import zipfile
from pathlib import Path

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from ..parallel import map_tables
from ..registry import TableHandle

CORRUPT_COL = "_corrupt_record"
KEY_CANDIDATES = ("id", "product_id", "sku", "code", "_id")  # reference merge_utils.py:13-20


def _finalize(df, name: str, source_type: str) -> TableHandle | None:
    """persist (iff needed) → count → strip corrupt rows → registry entry.

    Persist only when the corrupt column is actually in the schema: Spark
    requires the cache to reference the corrupt column alone, but for clean
    files (no ``_corrupt_record`` after inference / header-only CSV) the
    cache is pure overhead — building the columnar cache for a 4,450-column
    CSV costs ~6.5 s vs a 2.6 s uncached count, and at lake scale caching a
    full scan into executor memory is an anti-pattern.  With the corrupt
    column, one aggregation over the cache counts both all rows and the
    corrupt ones.
    """
    if CORRUPT_COL not in df.columns:
        total = df.count()
        return TableHandle(df, name, source_type, total, len(df.columns)) if total else None
    df = df.persist()
    total, n_corrupt = df.agg(F.count(F.lit(1)), F.count(CORRUPT_COL)).first()
    total -= n_corrupt
    if total == 0:
        df.unpersist()
        return None
    if n_corrupt:
        df = df.filter(df[CORRUPT_COL].isNull())
    df = df.drop(CORRUPT_COL)
    return TableHandle(df, name, source_type, total, len(df.columns))


def read_json(spark: SparkSession, filepath: str | Path) -> TableHandle | None:
    """S1 (reference schema_manager.py:20-46): multi-line JSON, PERMISSIVE,
    corrupt records captured + stripped."""
    filepath = Path(filepath)
    try:
        df = (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("multiLine", "true")
            .json(str(filepath))
        )
        return _finalize(df, f"json_{filepath.stem}", "JSON")
    except Exception:
        return None


def read_csv(
    spark: SparkSession, filepath: str | Path, max_cols: int = 50000
) -> TableHandle | None:
    """S2 (reference schema_manager.py:49-77): header row, up to 50k
    columns, PERMISSIVE + corrupt column, inferSchema=false (all strings),
    multiLine, escape='"', UTF-8."""
    filepath = Path(filepath)
    try:
        df = (
            spark.read.option("header", "true")
            .option("maxColumns", str(max_cols))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .option("inferSchema", "false")
            .option("multiLine", "true")
            .option("escape", '"')
            .option("encoding", "UTF-8")
            .csv(str(filepath))
        )
        return _finalize(df, f"csv_{filepath.stem}", "CSV")
    except Exception:
        return None


def read_parquet(spark: SparkSession, filepath: str | Path) -> TableHandle | None:
    """S3 (reference schema_manager.py:80-90): native types, no options."""
    filepath = Path(filepath)
    try:
        df = spark.read.parquet(str(filepath))
        return _finalize(df, f"parquet_{filepath.stem}", "PARQUET")
    except Exception:
        return None


def read_orc(spark: SparkSession, filepath: str | Path) -> TableHandle | None:
    """ORC scan — native Spark format, same finalize/registry semantics as
    S3. Not in the reference (its formats stop at S1-S4); added for
    multi-format-lake completeness since ORC ships in Spark itself."""
    filepath = Path(filepath)
    try:
        df = spark.read.orc(str(filepath))
        return _finalize(df, f"orc_{filepath.stem}", "ORC")
    except Exception:
        return None


def read_avro(spark: SparkSession, filepath: str | Path) -> TableHandle | None:
    """Avro scan — requires the external spark-avro module (not bundled in
    this sandbox). Returns None when the data source is missing, matching
    the per-file error-isolation contract, so sweeps degrade gracefully on
    clusters without the jar."""
    filepath = Path(filepath)
    try:
        df = spark.read.format("avro").load(str(filepath))
        return _finalize(df, f"avro_{filepath.stem}", "AVRO")
    except Exception:
        return None


def read_xml(
    spark: SparkSession, filepath: str | Path, row_tag: str = "row"
) -> TableHandle | None:
    """XML scan — native in Spark 4 (the spark-xml donation, no jar
    needed). Mirrors S1's semantics on the third semi-structured format:
    PERMISSIVE mode, ``_corrupt_record`` capture, schema inference over
    the repeated ``row_tag`` element. Naming follows the reference's
    ``{format}_{stem}`` convention (reference schema_manager.py:43)."""
    filepath = Path(filepath)
    try:
        df = (
            spark.read.format("xml")
            .option("rowTag", row_tag)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .load(str(filepath))
        )
        return _finalize(df, f"xml_{filepath.stem}", "XML")
    except Exception:
        return None


def read_binary(spark: SparkSession, filepath: str | Path) -> TableHandle | None:
    """binaryFile scan — ``(path, modificationTime, length, content)`` with
    the raw bytes as an opaque ``binary`` column. This is the ingestion
    front door for multimodal data (images/audio/video) feeding
    ``llm/multimodal.py``: bytes stay opaque at scan time, typed metadata
    and decode happen downstream in Arrow-batched mapInPandas. At scale,
    set ``spark.sql.files.maxPartitionBytes`` so a task holds a bounded
    number of media blobs."""
    filepath = Path(filepath)
    try:
        df = spark.read.format("binaryFile").load(str(filepath))
        return _finalize(df, f"binary_{filepath.stem}", "BINARY")
    except Exception:
        return None


def _docx_paragraphs(filepath: Path) -> list[str]:
    """Extract paragraph text from a DOCX (a zip of XML) with the stdlib.

    Replaces the reference's binary-as-text quirk (SURVEY.md §2 S4) with
    real extraction; driver-side by design — one small file per call, the
    parallelism unit is the file sweep, not bytes within a file.
    """
    with zipfile.ZipFile(filepath) as z:
        xml = z.read("word/document.xml").decode("utf-8", errors="replace")
    paras = []
    for m in re.finditer(r"<w:p[ >].*?</w:p>|<w:p/>", xml, flags=re.S):
        text = "".join(re.findall(r"<w:t[^>]*>(.*?)</w:t>", m.group(0), flags=re.S))
        text = (
            text.replace("&amp;", "&")
            .replace("&lt;", "<")
            .replace("&gt;", ">")
            .replace("&quot;", '"')
            .replace("&apos;", "'")
        )
        if text:
            paras.append(text)
    return paras


def read_text(spark: SparkSession, filepath: str | Path) -> TableHandle | None:
    """S4 (reference schema_manager.py:93-102): line-delimited text into a
    single ``value:string`` column. ``.docx`` gets real paragraph
    extraction instead of the reference's mojibake read."""
    filepath = Path(filepath)
    try:
        if filepath.suffix.lower() == ".docx":
            paras = _docx_paragraphs(filepath)
            df = spark.createDataFrame(
                [Row(value=p) for p in paras] or [], schema="value string"
            )
        else:
            df = spark.read.text(str(filepath))
        return _finalize(df, f"text_{filepath.stem}", "TEXT")
    except Exception:
        return None


def load_all_sources(spark: SparkSession, base_dir: str | Path) -> list[TableHandle]:
    """S5 (reference schema_manager.py:108-139): sweep base_dir/{json,csv,
    parquet,docx} for their formats, one table per file, skipping failures.

    The files are read concurrently (``parallel.map_tables``, width
    ``defaultParallelism``); the handles come back in folder order, then
    sorted file order, exactly as a one-at-a-time sweep returns them."""
    base = Path(base_dir)
    plan = [
        (base / "json", "*.json", read_json),
        (base / "csv", "*.csv", read_csv),
        (base / "parquet", "*.parquet", read_parquet),
        (base / "docx", "*.docx", read_text),
        (base / "docx", "*.txt", read_text),
        (base / "orc", "*.orc", read_orc),
        (base / "avro", "*.avro", read_avro),
        (base / "xml", "*.xml", read_xml),
        (base / "binary", "*", read_binary),
    ]
    sweep = [
        (reader, f)
        for folder, pattern, reader in plan
        if folder.exists()
        for f in sorted(folder.glob(pattern))
    ]
    handles = map_tables(spark, lambda rf: rf[0](spark, rf[1]), sweep)
    return [h for h in handles if h is not None]
