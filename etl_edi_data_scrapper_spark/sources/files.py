"""File-format readers (the reference's parser half of transport ⊗ parser).

Reference parsers: CSV (`src/Service/InputHandler/CsvInputHandler.php:65-95`),
Excel (`ExcelInputHandler.php:27-242`), Morris XML
(`MorrisXmlSftpInputHandler.php:21-62`), REST JSON pages
(`RestApiInputHandler.php:46-119`). All produce header-named string columns
except Morris XML (typed: gtin string, qty long, price double) and REST
(native JSON types).

Spark-first: CSV/JSON/Parquet go through ``spark.read`` (distributed,
pushdown-capable). Excel and Morris XML are driver-side parses to a staging
DataFrame — correct at feed scale (supplier files are small dimension
inputs); the 100 TB path is the spark-xml / spark-excel DataSourceV2
packages, noted inline.

A CSV feed that is one local file has its header line read on the driver
and handed to ``spark.read`` as the schema Spark's inference would have
built. Inference is a Spark job of its own (``take(1)`` of the first line)
whose planning costs ~80 ms on a small feed, more than the whole scan;
globs, directories and remote URIs keep it.
"""

from __future__ import annotations

import codecs
import functools
import glob
import os
import re
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_edi_data_scrapper_spark.functions.hashing import sql_ident


class UnsupportedFormatError(ValueError):
    """A staged file is in a format the engine recognizes but cannot parse
    (e.g. legacy BIFF ``.xls``). Crisp by design: the alternative is an
    opaque ``zipfile.BadZipFile`` from three layers down."""


# OLE2 compound-document magic — the container of legacy BIFF .xls
# (PhpSpreadsheet reads both, `ExcelInputHandler.php:27-60`; this engine's
# stdlib parser is XLSX-only, so BIFF gets an explicit error instead)
_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-parsed staging rows → DataFrame as a JVM LocalTableScan.

    ``spark.createDataFrame(list_of_rows)`` plans a Python-RDD scan — one
    Python-runner stage PER FRAME at every execution (measured 6x the cost
    of the whole excel_scan query across its six format legs). Routing the
    same rows through a pandas frame (positional columns + explicit schema,
    object dtype so None stays SQL NULL and ints/floats keep their Python
    types) embeds them as a local relation: zero Python workers at run
    time, and downstream unions/joins see a plain LocalTableScan."""
    if not rows:
        return spark.createDataFrame([], schema)
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, dtype=object), schema)


def read_parquet(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    return spark.read.parquet(source)


# the reader options of every CSV scan; the driver-side header parse builds
# Spark's CSVOptions from the same map, so both see one dialect
_CSV_OPTIONS = {"header": "true", "mode": "DROPMALFORMED"}


def read_csv(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    """Header row = schema (all strings); malformed rows dropped.

    DROPMALFORMED reproduces the reference's "skip rows whose column count ≠
    header count" (`CsvInputHandler.php:80-83`); blank lines are skipped by
    the CSV parser already. No inferSchema: the reference yields strings and
    cleaning happens by target name in the mapper.

    When ``source`` is one local, uncompressed file, its header line is read
    here on the driver and parsed by Spark's own univocity settings and
    ``makeSafeHeader`` naming (blank → ``_c{i}``, duplicates → ``name{i}``),
    so the reader gets the schema inference would have produced without the
    inference job. Spark still drops the header line itself, and
    DROPMALFORMED sees the same schema. Anything else (a glob, a directory,
    a URI, a compressed or empty file) is left to Spark's inference.
    """
    reader = spark.read.options(**_CSV_OPTIONS)
    names = _local_csv_header(spark, source)
    if names is not None:
        reader = reader.schema(
            T.StructType([T.StructField(n, T.StringType()) for n in names])
        )
    return reader.csv(source)


# a path holding any of these is a glob pattern to Hadoop
_GLOB_CHARS = frozenset("*?[]{}\\")
# suffixes Hadoop's default codec factory decompresses on read
_CODEC_SUFFIXES = (".gz", ".bz2", ".deflate", ".lz4", ".snappy", ".zst")


def _local_csv_header(spark: SparkSession, source: str) -> list[str] | None:
    """Column names Spark would infer for one local CSV file, or None when
    inference has to decide (not a plain local file, or no header line)."""
    if (
        any(ch in _GLOB_CHARS for ch in source)
        or source.lower().endswith(_CODEC_SUFFIXES)
        or not os.path.isfile(source)
    ):
        return None
    raw = _csv_header_bytes(source)
    if raw is None:
        return None
    try:
        line = raw.decode("utf-8")
    except UnicodeDecodeError:
        # Java replaces malformed input differently from Python (an encoded
        # surrogate is one U+FFFD, not three): decode as Spark does
        line = spark._jvm.java.lang.String(raw, "UTF-8")
    opts, parser_cls, csv_utils, array_seq = _jvm_csv_header(spark._jvm)
    row = parser_cls(opts.asParserSettings()).parseLine(line)
    if row is None:
        return None
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    names = csv_utils.makeSafeHeader(row, case_sensitive, opts)
    # one round trip instead of one per column; a name parsed from a single
    # line never holds a line break, so the join is lossless
    return array_seq.unsafeWrapArray(names).mkString("\n").split("\n")


def _csv_header_bytes(path: str) -> bytes | None:
    """The line Spark's inference parses as the header, undecoded: Hadoop's
    line reader drops a leading UTF-8 BOM and splits on \\n, \\r or \\r\\n,
    and the first line that is not all spaces (SQL ``trim``, which leaves
    tabs) wins."""
    with open(path, "rb") as fh:
        data, eof = b"", False
        while not eof:
            chunk = fh.read(1 << 16)
            eof = not chunk
            data += chunk
            for raw in data.removeprefix(codecs.BOM_UTF8).splitlines(keepends=True):
                if not eof and not raw.endswith((b"\n", b"\r")):
                    break  # the line runs on past what has been read
                line = raw.rstrip(b"\r\n")
                if line.strip(b" "):
                    return line
    return None


@functools.lru_cache(maxsize=1)
def _jvm_csv_header(jvm):
    """Spark's CSVOptions for ``_CSV_OPTIONS`` plus the JVM classes that
    parse and name a header, looked up once for the live gateway (each
    package step of a lookup is a py4j round trip)."""
    opts = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.PythonUtils.toScalaMap(_CSV_OPTIONS), False, "UTC"
    )
    return (
        opts,
        jvm.com.univocity.parsers.csv.CsvParser,
        jvm.org.apache.spark.sql.execution.datasources.csv.CSVUtils,
        jvm.scala.collection.immutable.ArraySeq,
    )


def read_json(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    return spark.read.json(source)


MORRIS_SCHEMA = T.StructType(
    [
        T.StructField("gtin", T.StringType(), True),
        T.StructField("qty", T.LongType(), True),
        T.StructField("price", T.DoubleType(), True),
    ]
)


_MORRIS_XML_SCHEMA = (
    "gtin STRING, qty BIGINT, detail STRUCT<price: DOUBLE>"
)


def _is_missing_xml_source(e: Exception) -> bool:
    """True only for the missing-data-source signatures (the rule of
    ``sinks._is_missing_kafka_jar``)."""
    msg = str(e)
    return "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find data source: xml" in msg


def read_morris_xml(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    """Morris feed: one row per ``<available>`` element; unions all files.

    Per-field casts match `MorrisXmlSftpInputHandler.php:32-36`:
    gtin → string (explicit schema — inference would drop leading zeros),
    qty → long, detail/price → double. Multi-file union = `:54-59`.

    Primary path: Spark's native XML source (``rowTag="available"``) — a
    distributed scan that splits across files. ElementTree fallback only for
    builds without the XML source; any other reader error (missing path,
    bad file) is Spark's to raise.
    """
    try:
        df = (
            spark.read.format("xml")
            .option("rowTag", "available")
            .schema(_MORRIS_XML_SCHEMA)
            .load(source)
        )
        return df.selectExpr("gtin", "qty", "detail.price AS price")
    except Exception as e:
        if not _is_missing_xml_source(e):
            raise

    paths = sorted(glob.glob(source)) if any(ch in source for ch in "*?[") else [source]
    rows: list[tuple[str | None, int | None, float | None]] = []
    for path in paths:
        root = ET.parse(path).getroot()
        for el in root.iter("available"):
            gtin = el.findtext("gtin")
            qty = el.findtext("qty")
            price = el.findtext("detail/price")
            rows.append(
                (
                    str(gtin) if gtin is not None else None,
                    int(qty) if qty not in (None, "") else None,
                    float(price) if price not in (None, "") else None,
                )
            )
    return local_df(spark, rows, MORRIS_SCHEMA)


# --- Excel ------------------------------------------------------------------

_RANGE_RE = re.compile(r"^(?:(?P<sheet>[^!]+)!)?(?P<start>[A-Z]+[0-9]*)(?::(?P<end>[A-Z]+[0-9]*))?$")


def normalize_excel_range(range_: str, max_row: int) -> tuple[str | None, str]:
    """Reproduce `ExcelInputHandler.php:126-139, :203-240` range dialect.

    ``"Sheet!A1:D"`` → (Sheet, ``A1:D{max_row}``); ``"A:I"`` → ``A1:I{max_row}``;
    open-ended ends get the sheet's max row appended.
    """
    m = _RANGE_RE.match(range_.strip())
    if not m:
        raise ValueError(f"unparseable excel range: {range_!r}")
    sheet = m.group("sheet")
    start, end = m.group("start"), m.group("end")
    if not re.search(r"[0-9]", start):
        start = f"{start}1"
    if end is None:
        end = start
    if not re.search(r"[0-9]", end):
        end = f"{end}{max_row}"
    return sheet, f"{start}:{end}"


@functools.lru_cache(maxsize=4096)
def _col_letters_to_idx(letters: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 (cell ref column part, 0-based); memoised,
    since a sheet repeats the same few column letters on every row."""
    n = 0
    for ch in letters.upper():
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _parse_cell_ref(ref: str) -> tuple[int, int]:
    """'B3' → (row 2, col 1), 0-based; a letters-only ref is row 0. Runs
    once per cell: ``rstrip`` splits a ref in less than half the time of a
    regex match."""
    letters = ref.rstrip("0123456789")
    digits = ref[len(letters):]
    return (int(digits) - 1 if digits else 0, _col_letters_to_idx(letters))


_XLSX_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _read_xlsx_stdlib(path: str, range_: str | None) -> tuple[list[str], list[list]]:
    """Minimal XLSX parser on stdlib zipfile+ElementTree (no openpyxl):
    shared strings, inline strings, numeric cells as their literal text —
    matching the reference's all-strings contract. Returns (header, rows)
    after first-row-header + short-row padding (`ExcelInputHandler.php:168-172`)
    and A1-range filtering (:203-240 via normalize_excel_range)."""
    import zipfile

    try:
        zf = zipfile.ZipFile(path)
    except zipfile.BadZipFile as e:
        raise UnsupportedFormatError(
            f"{path!r} is not an XLSX (zip) file: {e}"
        ) from e
    with zf as z:
        # sheet selection: named sheet from the range, else the first sheet
        sheet_name, cells = (None, None)
        if range_:
            sheet_name, cells = normalize_excel_range(range_, max_row=2**20)
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
        rid_to_target = {
            r.get("Id"): r.get("Target").lstrip("/").replace("xl/", "", 1)
            for r in rels.iter(f"{rel_ns}Relationship")
        }
        rid_attr = (
            "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        )
        target = None
        for sh in wb.iter(f"{_XLSX_NS}sheet"):
            if sheet_name is None or sh.get("name") == sheet_name:
                target = rid_to_target[sh.get(rid_attr)]
                break
        if target is None:
            raise ValueError(f"sheet {sheet_name!r} not found in {path}")

        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sst.iter(f"{_XLSX_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_XLSX_NS}t")))

        sheet = ET.fromstring(z.read(f"xl/{target}" if not target.startswith("worksheets") else f"xl/{target}"))
        grid: dict[int, dict[int, str]] = {}
        for row in sheet.iter(f"{_XLSX_NS}row"):
            for c in row.iter(f"{_XLSX_NS}c"):
                r_i, c_i = _parse_cell_ref(c.get("r", "A1"))
                t = c.get("t", "n")
                if t == "s":
                    v = c.find(f"{_XLSX_NS}v")
                    val = shared[int(v.text)] if v is not None else None
                elif t == "inlineStr":
                    val = "".join(tt.text or "" for tt in c.iter(f"{_XLSX_NS}t"))
                else:  # n / str / b — literal text
                    v = c.find(f"{_XLSX_NS}v")
                    val = v.text if v is not None else None
                if val is not None:
                    grid.setdefault(r_i, {})[c_i] = str(val)

    return _grid_to_table(grid, cells)


def _grid_to_table(
    grid: dict[int, dict[int, str]], cells: str | None
) -> tuple[list[str], list[list]]:
    """Shared sheet post-processing (XLSX and BIFF8 paths): A1-range box
    filter, first-row-header, short-row null padding
    (`ExcelInputHandler.php:168-172, :203-240`)."""
    if cells:
        (r0, c0) = _parse_cell_ref(cells.split(":")[0])
        (r1, c1) = _parse_cell_ref(cells.split(":")[1])
        grid = {
            r - r0: {c - c0: v for c, v in cols.items() if c0 <= c <= c1}
            for r, cols in grid.items()
            if r0 <= r <= r1
        }
    if not grid:
        return [], []
    ordered = [grid[r] for r in sorted(grid) if grid[r]]
    width = max(max(cols) for cols in ordered) + 1
    dense = [[cols.get(i) for i in range(width)] for cols in ordered]
    header = [str(h).strip() if h is not None else "" for h in dense[0]]
    rows = [r + [None] * (width - len(r)) for r in dense[1:]]
    return header, rows


def _read_xls_biff8(path: str, range_: str | None) -> tuple[list[str], list[str]]:
    """Legacy ``.xls``: OLE2 unwrap + minimal BIFF8 record parse
    (``sources/biff.py``); same header/range/padding contract as the XLSX
    path. BIFF5 / encrypted / CONTINUE-spilled workbooks surface as
    ``UnsupportedFormatError`` (reference parity: PhpSpreadsheet reads all
    of these, `ExcelInputHandler.php:27-60` — the minimal reader covers the
    BIFF8 majority and stays crisp about the rest)."""
    from etl_edi_data_scrapper_spark.sources import biff

    sheet_name, cells = (None, None)
    if range_:
        sheet_name, cells = normalize_excel_range(range_, max_row=2**20)
    import struct

    try:
        grid = biff.read_xls_grid(path, sheet_name)
    except biff._Unsupported as e:
        raise UnsupportedFormatError(f"{path!r}: {e}") from e
    except (struct.error, IndexError) as e:
        raise UnsupportedFormatError(
            f"{path!r}: corrupt or truncated BIFF .xls / OLE2 container ({e})"
        ) from e
    return _grid_to_table(grid, cells)


def _csv_grid(path: str) -> dict[int, dict[int, str]]:
    """CSV file → sheet-style grid (driver-side), for ranged reads through
    the spreadsheet handler — the reference's Csv reader loads into a
    worksheet and the range slices it like any other sheet."""
    import csv as csvmod

    grid: dict[int, dict[int, str]] = {}
    with open(path, newline="", encoding="utf-8", errors="replace") as fh:
        for r, row in enumerate(csvmod.reader(fh)):
            for c, v in enumerate(row):
                if v != "":
                    grid.setdefault(r, {})[c] = v
    return grid


def _read_gnumeric(path: str, range_: str | None) -> tuple[list[str], list[list]]:
    """Gnumeric workbook (``sources/gnumeric.py``); same header/range/padding
    contract. Corrupt gzip or non-workbook XML surfaces as the module's
    crisp ``UnsupportedFormatError``, matching the other format paths."""
    import gzip

    from etl_edi_data_scrapper_spark.sources.gnumeric import read_gnumeric_grid

    sheet_name, cells = (None, None)
    if range_:
        sheet_name, cells = normalize_excel_range(range_, max_row=2**20)
    import zlib

    try:
        grid = read_gnumeric_grid(path, sheet_name)
    except (gzip.BadGzipFile, EOFError, zlib.error, ET.ParseError) as e:
        # format-level failures only — a genuine I/O error (permissions,
        # disk) propagates as what it is instead of "bad supplier file"
        raise UnsupportedFormatError(
            f"{path!r}: gzip container is not a Gnumeric workbook ({e})"
        ) from e
    return _grid_to_table(grid, cells)


def _read_ods(path: str, range_: str | None) -> tuple[list[str], list[list]]:
    """OpenDocument spreadsheet (``sources/ods.py``); same header/range/
    padding contract as the XLSX/BIFF8 paths. The reference accepts ODS via
    PhpSpreadsheet's auto-detecting loader (`ExcelInputHandler.php:108-116`)."""
    from etl_edi_data_scrapper_spark.sources import ods

    sheet_name, cells = (None, None)
    if range_:
        sheet_name, cells = normalize_excel_range(range_, max_row=2**20)
    grid = ods.read_ods_grid(path, sheet_name)
    return _grid_to_table(grid, cells)


def read_excel(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    """Excel scan; unions all matched files (`ExcelInputHandler.php:38-50`).

    First row = header, short rows padded with null (:168-172); optional
    ``Sheet!A1:D`` range (:126-139, :203-240). Stdlib XLSX parser + minimal
    BIFF8 ``.xls`` parser + ODS parser, dispatched on the file magic/zip
    layout the way PhpSpreadsheet's IOFactory auto-detects (driver-side —
    supplier feeds are small); the 100 TB path is the spark-excel
    DataSourceV2 package on a real cluster.
    """
    from etl_edi_data_scrapper_spark.sources.ods import is_ods_zip

    paths = sorted(glob.glob(source)) if any(ch in source for ch in "*?[") else [source]
    frames = []
    for path in paths:
        with open(path, "rb") as fh:
            # 64 KB sniff window: HTML exports bury the <table> behind
            # kilobytes of <head>/<style> boilerplate
            head = fh.read(65536)
        magic = head[:8]
        if not head.strip():
            raise UnsupportedFormatError(
                f"{path!r} is empty — failed download or truncated staging?"
            )
        if magic == _OLE2_MAGIC:
            header, rows = _read_xls_biff8(path, range_)
        elif magic[:2] == b"PK" and is_ods_zip(path):
            header, rows = _read_ods(path, range_)
        elif magic[:2] == b"\x1f\x8b":
            header, rows = _read_gnumeric(path, range_)
        elif magic[:2] != b"PK" and b"\x00" not in head:
            # plain text through the spreadsheet handler: PhpSpreadsheet's
            # IOFactory tries an Html reader (supplier-portal "download as
            # spreadsheet" exports) and falls back to Csv for .csv feeds —
            # delegate accordingly (same all-strings/header contract)
            from etl_edi_data_scrapper_spark.sources.html_table import (
                looks_like_html_table,
                read_html_grid,
            )

            from etl_edi_data_scrapper_spark.sources.sylk import (
                looks_like_sylk,
                read_sylk_grid,
            )

            cells = None
            if range_:
                _sheet, cells = normalize_excel_range(range_, max_row=2**20)
                if _sheet is not None:
                    # CSV/HTML/SYLK have no sheets — a sheet-qualified range
                    # here is a typo'd job config; silently applying only the
                    # box filter would return data where the XLSX/ODS/
                    # Gnumeric paths raise "sheet not found"
                    raise ValueError(
                        f"sheet {_sheet!r} in range {range_!r} but {path!r} "
                        "is a sheetless format (CSV/HTML/SYLK)"
                    )
            if looks_like_sylk(head):
                header, rows = _grid_to_table(read_sylk_grid(path), cells)
            elif looks_like_html_table(head):
                header, rows = _grid_to_table(read_html_grid(path), cells)
            else:
                # CSV through the spreadsheet handler ALWAYS takes the grid
                # path: the reference loads CSV into a worksheet (padding
                # short rows) whether or not a range then slices it —
                # read_csv's DROPMALFORMED would drop those rows instead,
                # making the row set depend on the presence of a range
                header, rows = _grid_to_table(_csv_grid(path), cells)
        else:
            header, rows = _read_xlsx_stdlib(path, range_)
        if not header:
            continue
        schema = ", ".join(f"{sql_ident(h)} string" for h in header)
        frames.append(local_df(spark, rows, schema))
    if not frames:
        raise ValueError(f"no data in excel source {source!r} (range {range_!r})")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out
