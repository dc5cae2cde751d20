"""Multi-format ingestion (reference engine.py:21-37 rebuilt Spark-first).

Dispatch contract mirrors the reference: a format string selects the reader
and *any* failure (unknown format, unreadable file) surfaces as a
RuntimeError — never an empty DataFrame (engine.py:34-37).

Scale design:
- csv/json/parquet go through distributed `spark.read` (splittable sources,
  schema inference optional, predicate pushdown for parquet). Without a
  ``schema`` they read through catalog.read_files, so an unchanged file's
  schema is inferred once, not on every ingest.
- excel has no distributed reader anywhere in the Spark ecosystem worth its
  deps; files are interactive-upload sized by construction (reference
  app.py:84), so driver-side pandas → createDataFrame is the honest choice.
- pdf reads through `binaryFile` (each file one row, distributed) and a
  mapInPandas page-exploder, so a 100 TB pile of PDFs scales with executors.
  The pypdf dependency is optional; without it a clearly-marked fallback
  treats the payload as form-feed-separated UTF-8 text pages (deterministic
  stand-in so the Spark plumbing — schema, batching, explode — stays real
  and tested in environments without pypdf).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType,
)

from ..catalog import read_files
from ..session import tune


class IngestError(RuntimeError):
    """Raised for unknown formats or reader failures (engine.py:34-37)."""


PDF_PAGE_SCHEMA = StructType([
    StructField("path", StringType(), False),
    StructField("content", StringType(), True),
    StructField("page", IntegerType(), False),
])


def _read_csv(spark: SparkSession, path: str, schema, options: dict) -> DataFrame:
    if schema is None:
        return read_files(spark, "csv", path,
                          {"header": "true", "inferSchema": "true", **options})
    return (spark.read.option("header", "true").schema(schema)
            .options(**options).csv(path))


def _read_json(spark: SparkSession, path: str, schema, options: dict) -> DataFrame:
    if schema is None:
        return read_files(spark, "json", path, options)
    return spark.read.schema(schema).options(**options).json(path)


def _read_excel(spark: SparkSession, path: str, schema, options: dict) -> DataFrame:
    """Excel → DataFrame, driver-side (no distributed xlsx reader exists and
    the files are interactive-upload sized, engine.py:25). pandas+openpyxl
    when installed; otherwise the built-in minimal codec (xlsx_minimal)."""
    try:
        import openpyxl  # noqa: F401

        pdf = pd.read_excel(path, **options)
    except ImportError:
        from .xlsx_minimal import read_xlsx

        pdf = read_xlsx(path)
    return (spark.createDataFrame(pdf, schema=schema) if schema is not None
            else spark.createDataFrame(pdf))


def _extract_pdf_pages(payload: bytes) -> list[str]:
    """Page texts from one PDF payload.

    Preference order: pypdf (full format support) → built-in minimal codec
    (uncompressed/deflated simple PDFs, sources/pdf_minimal.py) → for
    payloads that aren't PDF at all, UTF-8 text with form-feed page breaks
    (keeps the distributed plumbing testable on plain-text fixtures).
    """
    try:
        import io

        from pypdf import PdfReader  # optional dependency
        return [p.extract_text() or "" for p in PdfReader(io.BytesIO(payload)).pages]
    except ImportError:
        pass
    if payload.lstrip()[:5] == b"%PDF-":
        from .pdf_minimal import extract_pages

        return extract_pages(payload)
    return payload.decode("utf-8", errors="replace").split("\f")


def _read_pdf(spark: SparkSession, path: str, schema, options: dict) -> DataFrame:
    binaries = spark.read.format("binaryFile").load(path)

    def explode_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, payload in zip(pdf["path"], pdf["content"]):
                for i, text in enumerate(_extract_pdf_pages(bytes(payload))):
                    rows.append((fpath, text, i + 1))
            yield pd.DataFrame(rows, columns=["path", "content", "page"])

    # One row per (file, page) — the reference's {content, page} schema
    # (engine.py:29-33) plus the source path for multi-file loads.
    return binaries.select("path", "content").mapInPandas(
        explode_pages, schema=PDF_PAGE_SCHEMA
    )


_READERS = {
    "csv": _read_csv,
    "json": _read_json,
    "excel": _read_excel,
    "pdf": _read_pdf,
    "parquet": lambda spark, path, schema, options: (
        spark.read.schema(schema).parquet(path) if schema is not None
        else read_files(spark, "parquet", path)
    ),
    # Beyond-reference formats Spark reads natively (same dispatch contract).
    "orc": lambda spark, path, schema, options: (
        spark.read.schema(schema).orc(path) if schema is not None
        else read_files(spark, "orc", path)
    ),
    "text": lambda spark, path, schema, options: spark.read.text(path),
    # Spark 4 ships the (formerly spark-xml) XML datasource natively; rowTag
    # selects the repeating record element. Splittable + schema-able like
    # csv/json, so the same pushdown/pruning story applies.
    "xml": lambda spark, path, schema, options: (
        spark.read.options(**{"rowTag": "row", **options})
        .schema(schema).format("xml").load(path) if schema is not None
        else read_files(spark, "xml", path, {"rowTag": "row", **options})
    ),
}


def ingest(spark: SparkSession, path: str, file_type: str,
           schema: StructType | None = None,
           options: dict | None = None) -> DataFrame:
    """Read a file/directory into a DataFrame, dispatching on ``file_type``.

    Mirrors DataIngestor.read_file (engine.py:21-37): unsupported types and
    reader errors raise (IngestError is a RuntimeError), preserving the
    reference's raise-don't-return-empty contract.
    """
    tune(spark)
    reader = _READERS.get(file_type)
    if reader is None:
        raise IngestError(f"Unsupported file type: {file_type}")
    try:
        return reader(spark, path, schema, dict(options or {}))
    except IngestError:
        raise
    except Exception as e:
        raise IngestError(f"Error reading {file_type} file {path}: {e}") from e
