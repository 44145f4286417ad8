"""File-format readers (the reference's parser half of transport ⊗ parser).

Reference parsers: CSV (`src/Service/InputHandler/CsvInputHandler.php:65-95`),
Excel (`ExcelInputHandler.php:27-242`), Morris XML
(`MorrisXmlSftpInputHandler.php:21-62`), REST JSON pages
(`RestApiInputHandler.php:46-119`). All produce header-named string columns
except Morris XML (typed: gtin string, qty long, price double) and REST
(native JSON types).

Spark-first: CSV/JSON/Parquet and Morris XML go through ``spark.read``
(distributed, pushdown-capable; Morris XML is Spark's native XML scan).
Excel is a driver-side parse to a staging DataFrame — correct at feed scale
(supplier files are small dimension inputs); the 100 TB path is the
spark-excel DataSourceV2 package, noted inline.

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
from etl_edi_data_scrapper_spark.sources.biff import (
    OLE2_MAGIC,
    UnsupportedFormatError,
    read_xls_grid,
)
from etl_edi_data_scrapper_spark.sources.gnumeric import GZIP_MAGIC, read_gnumeric_grid
from etl_edi_data_scrapper_spark.sources.html_table import (
    looks_like_html_table,
    read_html_grid,
)
from etl_edi_data_scrapper_spark.sources.ods import is_ods_zip, read_ods_grid
from etl_edi_data_scrapper_spark.sources.sylk import looks_like_sylk, read_sylk_grid


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


_MORRIS_XML_SCHEMA = (
    "gtin STRING, qty BIGINT, detail STRUCT<price: DOUBLE>"
)


def read_morris_xml(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    """Morris feed: one row per ``<available>`` element; unions all files.

    Per-field casts match `MorrisXmlSftpInputHandler.php:32-36`:
    gtin → string (explicit schema — inference would drop leading zeros),
    qty → long, detail/price → double. Multi-file union = `:54-59`.

    Spark's native XML source (``rowTag="available"``): a distributed scan
    that splits across files. Reader errors (missing path, bad file) are
    Spark's to raise.
    """
    df = (
        spark.read.format("xml")
        .option("rowTag", "available")
        .schema(_MORRIS_XML_SCHEMA)
        .load(source)
    )
    return df.selectExpr("gtin", "qty", "detail.price AS price")


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


def _xlsx_grid(path: str, sheet_name: str | None) -> dict[int, dict[int, str]]:
    """Minimal XLSX reader on stdlib zipfile+ElementTree (no openpyxl): one
    sheet (named, else the first) → {row: {col: text}}. Shared strings,
    inline strings, numeric cells as their literal text — matching the
    reference's all-strings contract."""
    import zipfile

    try:
        zf = zipfile.ZipFile(path)
    except zipfile.BadZipFile as e:
        raise UnsupportedFormatError(
            f"{path!r} is not an XLSX (zip) file: {e}"
        ) from e
    with zf as z:
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

        sheet = ET.fromstring(z.read(f"xl/{target}"))
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
    return grid


def _grid_to_table(
    grid: dict[int, dict[int, str]], cells: str | None
) -> tuple[list[str], list[list]]:
    """Sheet post-processing shared by every decoder: A1-range box filter,
    first-row-header, short-row null padding
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


def _csv_grid(path: str) -> dict[int, dict[int, str]]:
    """CSV file → sheet-style grid (driver-side), for reads through the
    spreadsheet handler — the reference's Csv reader loads into a
    worksheet and the range slices it like any other sheet."""
    import csv as csvmod

    grid: dict[int, dict[int, str]] = {}
    with open(path, newline="", encoding="utf-8", errors="replace") as fh:
        for r, row in enumerate(csvmod.reader(fh)):
            for c, v in enumerate(row):
                if v != "":
                    grid.setdefault(r, {})[c] = v
    return grid


def _sheet_grid(path: str, sheet_name: str | None) -> dict[int, dict[int, str]]:
    """One spreadsheet file → {row: {col: text}} from the decoder its
    leading bytes name, the way PhpSpreadsheet's IOFactory auto-detects
    (`ExcelInputHandler.php:108-116`): OLE2 → BIFF8 ``.xls``, gzip →
    Gnumeric, a zip laid out as ODS → ODS, other binary → XLSX, and plain
    text → SYLK, an HTML table, or CSV. Each decoder raises its own
    ``UnsupportedFormatError`` for a file it cannot parse."""
    with open(path, "rb") as fh:
        # 64 KB sniff window: HTML exports bury the <table> behind
        # kilobytes of <head>/<style> boilerplate
        head = fh.read(65536)
    if not head.strip():
        raise UnsupportedFormatError(
            f"{path!r} is empty — failed download or truncated staging?"
        )
    if head.startswith(OLE2_MAGIC):
        return read_xls_grid(path, sheet_name)
    if head.startswith(GZIP_MAGIC):
        return read_gnumeric_grid(path, sheet_name)
    if head.startswith(b"PK") and is_ods_zip(path):
        return read_ods_grid(path, sheet_name)
    if head.startswith(b"PK") or b"\x00" in head:
        return _xlsx_grid(path, sheet_name)
    if sheet_name is not None:
        # CSV/HTML/SYLK have no sheets — a sheet-qualified range here is a
        # typo'd job config; applying only the box filter would return data
        # where the sheeted formats raise "sheet not found"
        raise ValueError(
            f"sheet {sheet_name!r} in range but {path!r} is a sheetless "
            "format (CSV/HTML/SYLK)"
        )
    if looks_like_sylk(head):
        return read_sylk_grid(path)
    if looks_like_html_table(head):
        return read_html_grid(path)
    # CSV through the spreadsheet handler always takes the grid path: the
    # reference loads CSV into a worksheet (padding short rows) whether or
    # not a range then slices it — read_csv's DROPMALFORMED would drop
    # those rows instead, making the row set depend on the range
    return _csv_grid(path)


def read_excel(spark: SparkSession, source: str, range_: str | None = None) -> DataFrame:
    """Excel scan; unions all matched files (`ExcelInputHandler.php:38-50`).

    One path for every format: the optional ``Sheet!A1:D`` range is parsed
    once (:126-139, :203-240), each file's decoder is picked by its leading
    bytes (``_sheet_grid``: XLSX, BIFF8 ``.xls``, ODS, Gnumeric, SYLK, HTML
    table, CSV), and one ``_grid_to_table`` applies the box filter, the
    first-row header and short-row null padding (:168-172). Driver-side by
    design — supplier feeds are small; the 100 TB path is the spark-excel
    DataSourceV2 package on a real cluster.
    """
    sheet_name, cells = (
        normalize_excel_range(range_, max_row=2**20) if range_ else (None, None)
    )
    paths = sorted(glob.glob(source)) if any(ch in source for ch in "*?[") else [source]
    frames = []
    for path in paths:
        header, rows = _grid_to_table(_sheet_grid(path, sheet_name), cells)
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
