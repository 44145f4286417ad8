"""Stdlib XLSX reader driven on hand-crafted workbook files (zip of XML —
no openpyxl needed to write OR read)."""

import zipfile

import pytest

from etl_edi_data_scrapper_spark.sources.files import (
    _grid_to_table,
    _parse_cell_ref,
    normalize_excel_range,
    read_excel,
)


def make_xlsx(path, sheets: dict[str, list[list]], shared_strings=True):
    """Write a minimal but spec-valid xlsx: workbook + rels + sheets;
    strings go through sharedStrings (t="s") or inline (t="inlineStr")."""
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
    rid = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

    strings: list[str] = []

    def col_letters(c):
        letters = ""
        while c >= 0:
            c, rem = divmod(c, 26)
            letters = chr(ord("A") + rem) + letters
            c -= 1
        return letters

    def cell_xml(r, c, v):
        ref = f"{col_letters(c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if shared_strings:
            if v not in strings:
                strings.append(v)
            return f'<c r="{ref}" t="s"><v>{strings.index(v)}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    sheet_xmls = {}
    for i, (name, rows) in enumerate(sheets.items(), start=1):
        body = "".join(
            f'<row r="{ri + 1}">' + "".join(cell_xml(ri, ci, v) for ci, v in enumerate(row)) + "</row>"
            for ri, row in enumerate(rows)
        )
        sheet_xmls[f"xl/worksheets/sheet{i}.xml"] = (
            f'<?xml version="1.0"?><worksheet {ns}><sheetData>{body}</sheetData></worksheet>'
        )

    wb_sheets = "".join(
        f'<sheet name="{name}" sheetId="{i}" xmlns:r="{rid}" r:id="rId{i}"/>'
        for i, name in enumerate(sheets, start=1)
    )
    rels = "".join(
        f'<Relationship Id="rId{i}" Type="{rid}/worksheet" Target="worksheets/sheet{i}.xml"/>'
        for i in range(1, len(sheets) + 1)
    )
    sst = (
        f'<?xml version="1.0"?><sst {ns}>'
        + "".join(f"<si><t>{s}</t></si>" for s in strings)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", f'<?xml version="1.0"?><workbook {ns} xmlns:r="{rid}"><sheets>{wb_sheets}</sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels", f'<?xml version="1.0"?><Relationships {rns}>{rels}</Relationships>')
        if strings:
            z.writestr("xl/sharedStrings.xml", sst)
        for p, xml in sheet_xmls.items():
            z.writestr(p, xml)


FEED = [
    ["UPC", "Quantity", "Wholesale"],
    ["0042", "15", "12,99"],
    ["0043", "7"],                # short row → padded
    ["0044", 3, 9.99],            # numeric cells → literal text
]


def test_xlsx_header_types_padding(spark, tmp_path):
    p = tmp_path / "feed.xlsx"
    make_xlsx(p, {"Sheet1": FEED})
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Quantity", "Wholesale"]
    rows = {r.UPC: r for r in df.collect()}
    assert rows["0042"].Wholesale == "12,99"
    assert rows["0043"].Wholesale is None          # padded
    assert rows["0044"].Quantity == "3"            # numeric → string


def test_xlsx_inline_strings(spark, tmp_path):
    p = tmp_path / "inline.xlsx"
    make_xlsx(p, {"S": [["a", "b"], ["x", "y"]]}, shared_strings=False)
    assert read_excel(spark, str(p)).collect()[0].a == "x"


def test_xlsx_sheet_and_range(spark, tmp_path):
    p = tmp_path / "multi.xlsx"
    make_xlsx(p, {
        "Ignore": [["z"], ["zz"]],
        "Data": [["junk", "junk2", "junk3"],
                 ["UPC", "Qty", "skipme"],
                 ["1", "2", "x"],
                 ["3", "4", "y"]],
    })
    # range selects sheet 'Data', columns A:B, from row 2 (open-ended bottom)
    df = read_excel(spark, str(p), range_="Data!A2:B")
    assert df.columns == ["UPC", "Qty"]
    assert {tuple(r) for r in df.collect()} == {("1", "2"), ("3", "4")}


@pytest.mark.parametrize(
    "ref,expect",
    [
        ("A1", (0, 0)),
        ("Z9", (8, 25)),
        ("AA10", (9, 26)),
        ("XFD1048576", (1048575, 16383)),  # the last cell of an XLSX sheet
        ("D", (0, 3)),  # letters-only: an open range end, row 0
        ("b3", (2, 1)),
    ],
)
def test_parse_cell_ref(ref, expect):
    assert _parse_cell_ref(ref) == expect


def test_sheet_range_filter_boxes_the_grid():
    grid = {r: {c: f"{r},{c}" for c in range(6)} for r in range(5)}
    _sheet, cells = normalize_excel_range("Sheet!B2:D", max_row=2**20)
    header, rows = _grid_to_table(grid, cells)
    assert header == ["1,1", "1,2", "1,3"]
    assert rows == [[f"{r},{c}" for c in (1, 2, 3)] for r in (2, 3, 4)]


def test_xlsx_columns_past_z(spark, tmp_path):
    p = tmp_path / "wide.xlsx"
    header = [f"c{i}" for i in range(30)]
    make_xlsx(p, {"S": [header, [f"v{i}" for i in range(30)]]})
    df = read_excel(spark, str(p))
    assert df.columns == header
    assert tuple(df.collect()[0]) == tuple(f"v{i}" for i in range(30))
    assert read_excel(spark, str(p), range_="Z1:AB").columns == ["c25", "c26", "c27"]


def test_xlsx_multi_file_union(spark, tmp_path):
    make_xlsx(tmp_path / "a.xlsx", {"S": [["k"], ["1"]]})
    make_xlsx(tmp_path / "b.xlsx", {"S": [["k"], ["2"]]})
    df = read_excel(spark, str(tmp_path / "*.xlsx"))
    assert sorted(r.k for r in df.collect()) == ["1", "2"]


def _write_one_sheet(fmt, path, rows):
    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8
    from etl_edi_data_scrapper_spark.sources.gnumeric import write_minimal_gnumeric
    from etl_edi_data_scrapper_spark.sources.ods import write_minimal_ods

    if fmt == "xlsx":
        make_xlsx(path, {"S": rows})
    else:
        writer = {"xls": write_minimal_biff8, "ods": write_minimal_ods,
                  "gnumeric": write_minimal_gnumeric}[fmt]
        writer(path, rows, sheet_name="S")


@pytest.mark.parametrize("fmt", ["xlsx", "xls", "ods", "gnumeric"])
def test_missing_sheet_raises(spark, tmp_path, fmt):
    p = tmp_path / f"one.{fmt}"
    _write_one_sheet(fmt, p, [["k"], ["1"]])
    assert read_excel(spark, str(p), range_="S!A1:A").collect()[0].k == "1"
    with pytest.raises(ValueError, match="sheet 'Nope' not found"):
        read_excel(spark, str(p), range_="Nope!A1:B")


def test_truncated_xls_crisp_error(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.files import UnsupportedFormatError

    p = tmp_path / "legacy.xls"
    # OLE2 compound-document magic + filler — truncated container
    p.write_bytes(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 64)
    with pytest.raises(UnsupportedFormatError, match="BIFF|OLE2"):
        read_excel(spark, str(p))


def test_biff8_xls_roundtrip(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8

    p = tmp_path / "feed.xls"
    write_minimal_biff8(
        p, [["UPC", "Quantity", "Wholesale"],
            ["0042", "15", "12,99"],
            ["0043", "7", None],       # short row → padded
            ["0044", 3.0, 9.99]]       # numeric cells → literal text
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Quantity", "Wholesale"]
    rows = {r.UPC: r for r in df.collect()}
    assert rows["0042"].Wholesale == "12,99"
    assert rows["0043"].Wholesale is None
    assert rows["0044"].Quantity == "3" and rows["0044"].Wholesale == "9.99"


def test_biff8_xls_sheet_and_range(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8

    p = tmp_path / "ranged.xls"
    write_minimal_biff8(
        p, [["junk", "junk2", "junk3"],
            ["UPC", "Qty", "skipme"],
            ["1", "2", "x"],
            ["3", "4", "y"]],
        sheet_name="Data",
    )
    df = read_excel(spark, str(p), range_="Data!A2:B")
    assert df.columns == ["UPC", "Qty"]
    assert {tuple(r) for r in df.collect()} == {("1", "2"), ("3", "4")}


def test_biff8_regular_fat_path(spark, tmp_path):
    # a workbook over the 4096-byte mini-stream cutoff exercises the
    # regular-FAT stream walk in the OLE2 reader
    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8

    p = tmp_path / "big.xls"
    rows = [["k", "v"]] + [[f"key-{i:04d}", f"value-{i:04d}-padding"] for i in range(300)]
    write_minimal_biff8(p, rows)
    assert p.stat().st_size > 4096
    df = read_excel(spark, str(p))
    assert df.count() == 300


def test_biff5_crisp_error(spark, tmp_path):
    import struct

    from etl_edi_data_scrapper_spark.sources import biff
    from etl_edi_data_scrapper_spark.sources.files import UnsupportedFormatError

    p = tmp_path / "biff5.xls"
    biff.write_minimal_biff8(p, [["a"], ["1"]])
    data = bytearray(p.read_bytes())
    # the workbook stream starts at the first mini sector; rewrite its BOF
    # version word (BIFF8 0x0600 → BIFF5 0x0500)
    off = data.index(struct.pack("<HH", 0x0809, 16))
    struct.pack_into("<H", data, off + 4, 0x0500)
    p.write_bytes(bytes(data))
    with pytest.raises(UnsupportedFormatError, match="BIFF"):
        read_excel(spark, str(p))


def test_encrypted_xls_crisp_error(spark, tmp_path):
    import struct

    from etl_edi_data_scrapper_spark.sources import biff
    from etl_edi_data_scrapper_spark.sources.files import UnsupportedFormatError

    p = tmp_path / "enc.xls"
    biff.write_minimal_biff8(p, [["a"], ["1"]])
    data = bytearray(p.read_bytes())
    # overwrite the BOUNDSHEET record opcode with FilePass (encryption marker)
    off = data.index(struct.pack("<H", 0x0085))
    struct.pack_into("<H", data, off, 0x002F)
    p.write_bytes(bytes(data))
    with pytest.raises(UnsupportedFormatError, match="encrypted"):
        read_excel(spark, str(p))


def test_cyclic_difat_crisp_error(tmp_path):
    import struct

    from etl_edi_data_scrapper_spark.sources import biff

    p = tmp_path / "difat.xls"
    biff.write_minimal_biff8(p, [["a"], ["1"]])
    data = bytearray(p.read_bytes())
    # point the header's first-DIFAT field at sector 0 and make that
    # sector's chain pointer (its last u32) point back to itself
    struct.pack_into("<I", data, 68, 0)
    struct.pack_into("<I", data, 512 + 512 - 4, 0)
    p.write_bytes(bytes(data))
    with pytest.raises(biff.UnsupportedFormatError, match="DIFAT"):
        biff.read_xls_grid(str(p))


def test_sheet_not_found_without_cell_records(tmp_path):
    # a workbook whose sheet has zero cell records must still validate the
    # requested sheet name (parity with the XLSX path's crisp error)
    from etl_edi_data_scrapper_spark.sources import biff

    p = tmp_path / "empty.xls"
    biff.write_minimal_biff8(p, [[None]])
    assert biff.read_xls_grid(str(p), sheet_name="Sheet1") == {}
    with pytest.raises(ValueError, match="not found"):
        biff.read_xls_grid(str(p), sheet_name="Nope")


def test_biff8_property_roundtrip(tmp_path):
    # grid-level roundtrip (no Spark needed): arbitrary latin-1-able strings
    # and doubles survive write -> OLE2 unwrap -> record parse bit-exactly
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_edi_data_scrapper_spark.sources import biff

    cell = st.one_of(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=255),
            min_size=1,
            max_size=20,
        ),
        st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
    )

    @settings(max_examples=25, deadline=None)
    @given(
        rows=st.lists(
            st.lists(cell, min_size=1, max_size=4), min_size=1, max_size=6
        )
    )
    def check(rows):
        width = max(len(r) for r in rows)
        rows = [r + [None] * (width - len(r)) for r in rows]
        p = str(tmp_path / "prop.xls")
        biff.write_minimal_biff8(p, rows)
        grid = biff.read_xls_grid(p)
        for ri, row in enumerate(rows):
            for ci, v in enumerate(row):
                got = grid.get(ri, {}).get(ci)
                if v is None:
                    # padding cells are never written (biff skips None), so
                    # the reader must report no cell at that coordinate
                    assert got is None
                elif isinstance(v, str):
                    assert got == v
                else:
                    assert got == biff._fmt_num(float(v))

    check()


def test_mixed_xlsx_xls_union(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8

    make_xlsx(tmp_path / "a.xlsx", {"S": [["k"], ["1"]]})
    write_minimal_biff8(tmp_path / "b.xls", [["k"], ["2"]])
    df = read_excel(spark, str(tmp_path / "*.xls*"))
    assert sorted(r.k for r in df.collect()) == ["1", "2"]


def test_binary_garbage_crisp_error(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.files import UnsupportedFormatError

    p = tmp_path / "garbage.xlsx"
    p.write_bytes(b"\x00\x01\x02 this is not any spreadsheet format \x00\xff")
    with pytest.raises(UnsupportedFormatError, match="not an XLSX"):
        read_excel(spark, str(p))


def test_csv_through_excel_handler(spark, tmp_path):
    # PhpSpreadsheet's IOFactory falls back to its Csv reader for text
    # files fed through the spreadsheet handler — read_excel must too
    p = tmp_path / "feed.csv"
    p.write_text("UPC,Quantity\n0042,15\n0043,7\n")
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Quantity"]
    assert sorted((r.UPC, r.Quantity) for r in df.collect()) == [
        ("0042", "15"),
        ("0043", "7"),
    ]


# --- ODS (OpenDocument) path -------------------------------------------------


def test_ods_roundtrip_and_dispatch(spark, tmp_path):
    # PhpSpreadsheet's IOFactory auto-detects ODS; read_excel must too
    from etl_edi_data_scrapper_spark.sources.ods import write_minimal_ods

    p = tmp_path / "feed.ods"
    write_minimal_ods(
        p,
        [
            ["sku", "qty", "price"],
            ["0042", 15.0, "12,99"],
            ["0043", 7.5, None],
        ],
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["sku", "qty", "price"]
    rows = {r.sku: r for r in df.collect()}
    assert rows["0042"].qty == "15"  # integral float loses the .0
    assert rows["0043"].qty == "7.5" and rows["0043"].price is None


def test_ods_range_and_sheet_selection(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.ods import write_minimal_ods

    p = tmp_path / "r.ods"
    write_minimal_ods(
        p,
        [["junk", "junk2"], ["h1", "h2"], ["a", "b"], ["c", "d"]],
        sheet_name="Data",
    )
    df = read_excel(spark, str(p), range_="Data!A2:B4")
    assert df.columns == ["h1", "h2"]
    assert sorted((r.h1, r.h2) for r in df.collect()) == [("a", "b"), ("c", "d")]
    with pytest.raises(ValueError, match="not found"):
        read_excel(spark, str(p), range_="Nope!A1:B2")


def test_ods_repeated_cells_expand(tmp_path):
    # hand-crafted content.xml: number-columns-repeated and
    # number-rows-repeated must expand (and huge trailing filler must not)
    import zipfile

    from etl_edi_data_scrapper_spark.sources.ods import ODS_MIMETYPE, read_ods_grid

    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:spreadsheet>"
        '<table:table table:name="S">'
        "<table:table-row>"
        '<table:table-cell office:value-type="string" table:number-columns-repeated="3">'
        "<text:p>x</text:p></table:table-cell>"
        '<table:table-cell table:number-columns-repeated="16384"/>'
        "</table:table-row>"
        '<table:table-row table:number-rows-repeated="2">'
        '<table:table-cell office:value-type="float" office:value="2.5">'
        "<text:p>2.5</text:p></table:table-cell>"
        "</table:table-row>"
        "</table:table>"
        "</office:spreadsheet></office:body></office:document-content>"
    )
    p = tmp_path / "rep.ods"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("mimetype", ODS_MIMETYPE)
        z.writestr("content.xml", content)
    grid = read_ods_grid(str(p))
    assert grid[0] == {0: "x", 1: "x", 2: "x"}  # repeat expanded
    assert grid[1] == {0: "2.5"} and grid[2] == {0: "2.5"}  # row repeat
    assert len(grid) == 3  # trailing 16384-wide filler not materialized


def test_mixed_xlsx_xls_ods_union(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.biff import write_minimal_biff8
    from etl_edi_data_scrapper_spark.sources.ods import write_minimal_ods

    make_xlsx(tmp_path / "a.xlsx", {"S": [["k"], ["1"]]})
    write_minimal_biff8(tmp_path / "b.xls", [["k"], ["2"]])
    write_minimal_ods(tmp_path / "c.ods", [["k"], ["3"]])
    df = read_excel(spark, str(tmp_path / "*.*"))
    assert sorted(r.k for r in df.collect()) == ["1", "2", "3"]


def test_ods_property_roundtrip(tmp_path):
    # grid-level roundtrip: arbitrary XML-safe strings and doubles survive
    # write -> zip unwrap -> content.xml parse bit-exactly
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_edi_data_scrapper_spark.sources import ods
    from etl_edi_data_scrapper_spark.sources.biff import _fmt_num

    cell = st.one_of(
        st.text(
            alphabet=st.characters(
                min_codepoint=32, max_codepoint=0x2FF, exclude_characters="\r"
            ),
            min_size=1,
            max_size=20,
        ),
        st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
    )

    @settings(max_examples=25, deadline=None)
    @given(
        rows=st.lists(
            st.lists(cell, min_size=1, max_size=4), min_size=1, max_size=6
        )
    )
    def check(rows):
        p = str(tmp_path / "prop.ods")
        ods.write_minimal_ods(p, rows)
        grid = ods.read_ods_grid(p)
        for ri, row in enumerate(rows):
            for ci, v in enumerate(row):
                got = grid.get(ri, {}).get(ci)
                if isinstance(v, str):
                    assert got == v
                else:
                    assert got == _fmt_num(float(v))

    check()


def test_html_table_through_excel_handler(spark, tmp_path):
    # PhpSpreadsheet's IOFactory also tries an Html reader — a portal's
    # "download as spreadsheet" HTML export must load through read_excel
    p = tmp_path / "export.html"
    p.write_text(
        "<!DOCTYPE html><html><body><h1>Feed</h1>"
        "<table><tr><th>UPC</th><th>Price</th></tr>"
        "<tr><td>0042</td><td>12,99</td>"   # unclosed tr — real-world HTML
        "<tr><td>0043</td><td>A &amp; B</td></tr>"
        "</table>"
        "<table><tr><td>second table ignored</td></tr></table>"
        "</body></html>"
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Price"]
    rows = {r.UPC: r.Price for r in df.collect()}
    assert rows == {"0042": "12,99", "0043": "A & B"}


def test_html_range_filter(spark, tmp_path):
    p = tmp_path / "r.html"
    p.write_text(
        "<table>"
        "<tr><td>junk</td><td>junk2</td></tr>"
        "<tr><td>h1</td><td>h2</td></tr>"
        "<tr><td>a</td><td>b</td></tr>"
        "</table>"
    )
    df = read_excel(spark, str(p), range_="A2:B3")
    assert df.columns == ["h1", "h2"]
    assert [tuple(r) for r in df.collect()] == [("a", "b")]


def test_ods_header_rows_wrapper_and_string_value_attr(tmp_path):
    # LibreOffice wraps repeating headers in table:table-header-rows, and
    # valid ODF may carry strings in office:string-value with no text:p —
    # both must surface
    import zipfile

    from etl_edi_data_scrapper_spark.sources.ods import ODS_MIMETYPE, read_ods_grid

    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        "<office:body><office:spreadsheet>"
        '<table:table table:name="S">'
        "<table:table-header-rows><table:table-row>"
        '<table:table-cell office:value-type="string"><text:p>hdr</text:p></table:table-cell>'
        "</table:table-row></table:table-header-rows>"
        "<table:table-row>"
        '<table:table-cell office:value-type="string" office:string-value="attr-only"/>'
        "</table:table-row>"
        "</table:table>"
        "</office:spreadsheet></office:body></office:document-content>"
    )
    p = tmp_path / "hdr.ods"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("mimetype", ODS_MIMETYPE)
        z.writestr("content.xml", content)
    grid = read_ods_grid(str(p))
    assert grid == {0: {0: "hdr"}, 1: {0: "attr-only"}}


def test_html_nested_table_kept_out_of_grid():
    from etl_edi_data_scrapper_spark.sources.html_table import _FirstTableParser

    parser = _FirstTableParser()
    parser.feed(
        "<table><tr><td>a<table><tr><td>x</td></tr></table>b</td>"
        "<td>c</td></tr></table>"
    )
    parser.close()
    # nested table skipped whole; outer cell keeps its surrounding text
    assert parser.rows == [["ab", "c"]]


def test_html_table_after_big_head(spark, tmp_path):
    # an export with >4 KB of <style> before the table must still be
    # detected as HTML, not misrouted to the CSV parser
    p = tmp_path / "styled.html"
    p.write_text(
        "<!DOCTYPE html><html><head><style>"
        + ("/* corporate styles */ " * 400)
        + "</style></head><body><table>"
        "<tr><th>k</th></tr><tr><td>v1</td></tr></table></body></html>"
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["k"] and [r.k for r in df.collect()] == ["v1"]


def test_empty_file_crisp_error(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.files import UnsupportedFormatError

    p = tmp_path / "empty.xlsx"
    p.write_bytes(b"")
    with pytest.raises(UnsupportedFormatError, match="empty"):
        read_excel(spark, str(p))


def test_csv_range_through_excel_handler(spark, tmp_path):
    # the reference loads CSV into a worksheet and THEN slices the range —
    # a ranged read must not silently return the whole file
    p = tmp_path / "r.csv"
    p.write_text("junk,junk2\nUPC,Qty\n0042,15\n0043,7\n")
    df = read_excel(spark, str(p), range_="A2:B4")
    assert df.columns == ["UPC", "Qty"]
    assert sorted(tuple(r) for r in df.collect()) == [("0042", "15"), ("0043", "7")]


def test_sylk_through_excel_handler(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.sylk import write_minimal_sylk

    p = tmp_path / "feed.slk"
    write_minimal_sylk(
        p,
        [
            ["UPC", "Qty", "Note"],
            ["0042", 15.0, "a;b"],   # semicolon escape roundtrip
            ["0043", 7.5, None],
        ],
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Qty", "Note"]
    rows = {r.UPC: r for r in df.collect()}
    assert rows["0042"].Qty == "15" and rows["0042"].Note == "a;b"
    assert rows["0043"].Qty == "7.5" and rows["0043"].Note is None


def test_gnumeric_through_excel_handler(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sources.gnumeric import write_minimal_gnumeric

    p = tmp_path / "feed.gnumeric"
    write_minimal_gnumeric(
        p,
        [["UPC", "Qty"], ["0042", 15.0], ["0043", "x & y"]],
        sheet_name="Data",
    )
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Qty"]
    rows = {r.UPC: r.Qty for r in df.collect()}
    assert rows == {"0042": "15", "0043": "x & y"}
    # sheet selection parity: named range on a missing sheet raises
    with pytest.raises(ValueError, match="not found"):
        read_excel(spark, str(p), range_="Nope!A1:B2")


def test_sylk_gnumeric_inf_literal_and_gzip_garbage(spark, tmp_path):
    import gzip as gzmod

    from etl_edi_data_scrapper_spark.sources.files import UnsupportedFormatError
    from etl_edi_data_scrapper_spark.sources.sylk import read_sylk_grid

    # 1e999 parses to inf — must fall back to literal text, not crash
    p = tmp_path / "inf.slk"
    p.write_text("ID;PTEST\r\nC;Y1;X1;K1e999\r\nE\r\n", newline="")
    assert read_sylk_grid(str(p)) == {0: {0: "1e999"}}

    # a gzipped CSV is NOT a Gnumeric workbook — crisp error, not ParseError
    g = tmp_path / "feed.csv.gz"
    with gzmod.open(g, "wb") as fh:
        fh.write(b"UPC,Qty\n0042,15\n")
    with pytest.raises(UnsupportedFormatError, match="Gnumeric"):
        read_excel(spark, str(g))


def test_csv_short_rows_padded_through_excel_handler(spark, tmp_path):
    # the reference loads CSV into a worksheet in the UNRANGED case too, so
    # short rows are padded with null — not dropped the way the plain CSV
    # scan's DROPMALFORMED contract drops them; the row set must not depend
    # on whether a range was passed
    p = tmp_path / "short.csv"
    p.write_text("UPC,Quantity,Wholesale\n0042,15,9.99\n0043,7\n")
    df = read_excel(spark, str(p))
    assert df.columns == ["UPC", "Quantity", "Wholesale"]
    rows = {r.UPC: r for r in df.collect()}
    assert rows["0043"].Quantity == "7" and rows["0043"].Wholesale is None
    # ranged read over the same file sees the same (padded) rows
    ranged = read_excel(spark, str(p), range_="A1:C3")
    assert sorted(map(tuple, ranged.collect())) == sorted(map(tuple, df.collect()))


def test_sheet_qualified_range_on_sheetless_format_raises(spark, tmp_path):
    # CSV/HTML/SYLK have no sheets: a sheet-qualified range is a typo'd job
    # config and must raise like the XLSX/ODS/Gnumeric paths do — not
    # silently apply only the box filter and return data
    import pytest

    from etl_edi_data_scrapper_spark.sources.sylk import write_minimal_sylk

    c = tmp_path / "feed.csv"
    c.write_text("UPC,Qty\n0042,15\n")
    with pytest.raises(ValueError, match="sheetless"):
        read_excel(spark, str(c), range_="Nope!A1:B2")

    s = tmp_path / "feed.slk"
    write_minimal_sylk(s, [["UPC"], ["0042"]])
    with pytest.raises(ValueError, match="sheetless"):
        read_excel(spark, str(s), range_="Nope!A1:B2")

    h = tmp_path / "feed.html"
    h.write_text("<html><body><table><tr><th>k</th></tr><tr><td>v</td></tr></table></body></html>")
    with pytest.raises(ValueError, match="sheetless"):
        read_excel(spark, str(h), range_="Nope!A1:B2")


def test_is_ods_zip_false_only_for_zip_and_io_errors(tmp_path, monkeypatch):
    from etl_edi_data_scrapper_spark.sources import ods

    p = tmp_path / "broken.ods"
    p.write_bytes(b"PK\x03\x04" + b"\x00" * 64)
    assert ods.is_ods_zip(str(p)) is False
    assert ods.is_ods_zip(str(tmp_path / "missing.ods")) is False

    def bug(*args, **kwargs):
        raise RuntimeError("reader bug")

    monkeypatch.setattr(ods.zipfile, "ZipFile", bug)
    with pytest.raises(RuntimeError, match="reader bug"):
        ods.is_ods_zip(str(p))
