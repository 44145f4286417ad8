"""type_id → reader registry (the reference's `Aggregator::getHandlerByType`).

Reference dispatch (`src/Service/Aggregator/Aggregator.php:88-102`):
    1 Google Sheets | 2 CSV/HTTP | 3 Google Drive folder | 4 Excel/HTTP
    5 Morris XML/SFTP | 6 Excel/SFTP | 7 CSV/SFTP | 8 REST API

Each reader is (transport ⊗ parser): the transport stages bytes (driver-side
fetch for the API-shaped sources, distributed read for file paths), the
parser yields a DataFrame. ``local_registry`` wires every type_id to local
staged files so the full dispatch table is exercisable without network —
the transports plug in via ``build_registry`` for production.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_edi_data_scrapper_spark.plans.pipeline import Reader
from etl_edi_data_scrapper_spark.sources import files as fmod

_EXT_READERS: dict[str, Reader] = {
    ".parquet": fmod.read_parquet,
    ".csv": fmod.read_csv,
    ".json": fmod.read_json,
    ".jsonl": fmod.read_json,
    ".xml": fmod.read_morris_xml,
    ".xlsx": fmod.read_excel,
    ".xls": fmod.read_excel,
    # PhpSpreadsheet's auto-detecting loader accepts ODS through the Excel
    # handler (ExcelInputHandler.php:108-116) — local dispatch mirrors it
    ".ods": fmod.read_excel,
}


def read_local(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    """Dispatch a staged/local path by extension (the implicit local scan,
    `CsvInputHandler.php:48-54`)."""
    base = source.rstrip("*")
    ext = os.path.splitext(base)[1].lower()
    reader = _EXT_READERS.get(ext)
    if reader is None:
        # extensionless directory → parquet dataset (the engine's native format)
        return fmod.read_parquet(spark, source, range_)
    return reader(spark, source, range_)


def local_registry() -> dict[int, Reader]:
    """All 8 type_ids wired to local staged files (tests / offline runs)."""
    return {
        1: read_local,  # Sheets → staged CSV
        2: fmod.read_csv,  # CSV over HTTP → staged CSV
        3: read_local,  # Drive folder → staged first file
        4: fmod.read_excel,  # Excel over HTTP
        5: fmod.read_morris_xml,  # Morris XML over SFTP
        6: fmod.read_excel,  # Excel over SFTP
        7: fmod.read_csv,  # CSV over SFTP
        8: fmod.read_json,  # REST API → staged JSONL pages
    }


def build_registry(
    http_fetch: Callable[[str], str] | None = None,
    sftp_fetch: Callable[[str], list[str]] | None = None,
    rest_fetch: Callable[[str], str] | None = None,
    sheets_client=None,
    drive_client=None,
) -> dict[int, Reader]:
    """Production registry: transports stage bytes, then parsers read.

    Every transport is a callable ``source → staged local path(s)`` so the
    DataFrame plan itself stays pure and testable; pass fakes in tests.
    """
    from etl_edi_data_scrapper_spark.sources import transports as tmod
    from etl_edi_data_scrapper_spark.sources.rest import read_rest_api

    http_fetch = http_fetch or tmod.http_fetch
    sftp_fetch = sftp_fetch or tmod.sftp_fetch_latest

    def csv_http(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        return fmod.read_csv(spark, http_fetch(src), rng)

    def excel_http(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        return fmod.read_excel(spark, http_fetch(src), rng)

    def csv_sftp(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        staged = sftp_fetch(src)
        # CSV takes the FIRST file only (CsvInputHandler.php:43-46)
        return fmod.read_csv(spark, staged[0], rng)

    def excel_sftp(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        staged = sftp_fetch(src)
        # Excel unions ALL fetched files (ExcelInputHandler.php:44-49)
        out = fmod.read_excel(spark, staged[0], rng)
        for p in staged[1:]:
            out = out.unionByName(fmod.read_excel(spark, p, rng), allowMissingColumns=True)
        return out

    def morris_sftp(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        staged = sftp_fetch(src)
        out = fmod.read_morris_xml(spark, staged[0], rng)
        for p in staged[1:]:
            out = out.unionByName(fmod.read_morris_xml(spark, p, rng))
        return out

    def rest(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        return read_rest_api(spark, src, fetch=rest_fetch)

    def sheets(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        from etl_edi_data_scrapper_spark.sources.google import read_google_sheets

        if sheets_client is None:
            raise NotImplementedError("pass sheets_client (SheetsClient) to build_registry")
        return read_google_sheets(spark, src, rng, sheets_client)

    def drive(spark: SparkSession, src: str, rng: str | None) -> DataFrame:
        from etl_edi_data_scrapper_spark.sources.google import read_google_drive_folder

        if drive_client is None:
            raise NotImplementedError("pass drive_client (DriveClient) to build_registry")
        return read_google_drive_folder(spark, src, rng, drive_client)

    return {1: sheets, 2: csv_http, 3: drive, 4: excel_http,
            5: morris_sftp, 6: excel_sftp, 7: csv_sftp, 8: rest}
