"""Minimal legacy ``.xls`` (BIFF8 inside an OLE2 compound document) reader.

Parity target: the reference reads ``.xls`` via PhpSpreadsheet
(`src/Service/InputHandler/ExcelInputHandler.php:27-60`); this module covers
the real-world majority of legacy supplier feeds — BIFF8 cell records
BOF/BOUNDSHEET/SST/LABELSST/LABEL/NUMBER/RK/MULRK — and raises the engine's
crisp ``UnsupportedFormatError`` for everything older or stranger (BIFF5,
encrypted workbooks, SST spilling into CONTINUE records).

All cell values surface as strings (the reference's all-strings contract;
cleaning happens by target column name in the mapper). Driver-side parse by
design: supplier ``.xls`` feeds are small dimension inputs — the 100 TB path
is parquet/CSV through ``spark.read``.

The module also ships ``write_minimal_biff8`` — a fixture GENERATOR used by
the test suite and the oracle query so the reader is exercised end-to-end
without checking opaque binary fixtures into the repo.
"""

from __future__ import annotations

import struct

# sentinel FAT entries (MS-CFB §2.3)
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD

OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


class UnsupportedFormatError(ValueError):
    """A staged file is in a format the engine recognizes but cannot parse
    (e.g. BIFF5 ``.xls``). Crisp by design: the alternative is an opaque
    ``struct.error`` or ``zipfile.BadZipFile`` from three layers down."""


# --- OLE2 compound document -------------------------------------------------


def _sector(data: bytes, idx: int, size: int) -> bytes:
    off = 512 + idx * size
    return data[off : off + size]


def _chain(fat: list[int], start: int) -> list[int]:
    out, s = [], start
    while s not in (_ENDOFCHAIN, _FREESECT) and s < 0xFFFFFFFA:
        out.append(s)
        s = fat[s]
        if len(out) > len(fat) + 1:
            raise UnsupportedFormatError("cyclic FAT chain (corrupt OLE2 container)")
    return out


def ole2_stream(data: bytes, names: tuple[str, ...]) -> bytes:
    """Extract the first directory stream whose name is in ``names`` from an
    OLE2 compound document, handling both the regular FAT (streams ≥ the
    mini cutoff, normally 4096 B) and the miniFAT path small streams live in.
    """
    if data[:8] != OLE2_MAGIC:
        raise UnsupportedFormatError("not an OLE2 compound document")
    sect_shift = struct.unpack_from("<H", data, 30)[0]
    mini_shift = struct.unpack_from("<H", data, 32)[0]
    sect_size, mini_size = 1 << sect_shift, 1 << mini_shift
    n_fat = struct.unpack_from("<I", data, 44)[0]
    first_dir = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    first_minifat = struct.unpack_from("<I", data, 60)[0]
    n_minifat = struct.unpack_from("<I", data, 64)[0]
    first_difat = struct.unpack_from("<I", data, 68)[0]

    # sectors live after the 512-byte header; anything indexing past the
    # last WHOLE sector would hand struct.unpack a short slice
    n_sectors = max((len(data) - 512) // sect_size, 0)
    difat = list(struct.unpack_from("<109I", data, 76))
    s = first_difat
    seen_difat: set[int] = set()
    while s not in (_ENDOFCHAIN, _FREESECT):
        if s in seen_difat or s >= n_sectors:
            raise UnsupportedFormatError("cyclic or out-of-bounds DIFAT chain (corrupt OLE2 container)")
        seen_difat.add(s)
        sec = _sector(data, s, sect_size)
        entries = struct.unpack(f"<{sect_size // 4}I", sec)
        difat.extend(entries[:-1])
        s = entries[-1]
    fat: list[int] = []
    for fs in difat[:n_fat]:
        if fs >= n_sectors:
            raise UnsupportedFormatError("FAT sector pointer out of bounds (corrupt OLE2 container)")
        fat.extend(struct.unpack(f"<{sect_size // 4}I", _sector(data, fs, sect_size)))

    dir_raw = b"".join(_sector(data, s, sect_size) for s in _chain(fat, first_dir))
    entries = []
    for off in range(0, len(dir_raw), 128):
        e = dir_raw[off : off + 128]
        if len(e) < 128:
            break
        name_len = struct.unpack_from("<H", e, 64)[0]
        name = e[: max(name_len - 2, 0)].decode("utf-16-le", errors="replace")
        etype = e[66]
        start = struct.unpack_from("<I", e, 116)[0]
        size = struct.unpack_from("<Q", e, 120)[0]
        entries.append((name, etype, start, size))

    root = next((e for e in entries if e[1] == 5), None)
    target = next((e for e in entries if e[1] == 2 and e[0] in names), None)
    if root is None or target is None:
        raise UnsupportedFormatError(
            f"OLE2 container has no {'/'.join(names)} stream (not an Excel workbook?)"
        )
    _, _, start, size = target

    if size >= mini_cutoff:
        raw = b"".join(_sector(data, s, sect_size) for s in _chain(fat, start))
        return raw[:size]

    # small stream: bytes live in the root entry's mini stream container,
    # chained through the miniFAT in mini-sector units
    mini_container = b"".join(
        _sector(data, s, sect_size) for s in _chain(fat, root[2])
    )
    minifat: list[int] = []
    s = first_minifat
    for _ in range(n_minifat):
        if s in (_ENDOFCHAIN, _FREESECT):
            break
        minifat.extend(struct.unpack(f"<{sect_size // 4}I", _sector(data, s, sect_size)))
        s = fat[s]
    out, m = bytearray(), start
    while m not in (_ENDOFCHAIN, _FREESECT) and len(out) < size:
        out += mini_container[m * mini_size : (m + 1) * mini_size]
        m = minifat[m]
    return bytes(out[:size])


# --- BIFF8 records ----------------------------------------------------------

_BOF, _EOF = 0x0809, 0x000A
_BOUNDSHEET, _SST, _CONTINUE = 0x0085, 0x00FC, 0x003C
_LABELSST, _LABEL, _NUMBER, _RK, _MULRK = 0x00FD, 0x0204, 0x0203, 0x027E, 0x00BD
_FILEPASS = 0x002F


def _fmt_num(v: float) -> str:
    """Numeric cell → display text, matching the XLSX reader's literal-text
    contract: integral doubles lose the '.0' (15 → '15', 9.99 → '9.99')."""
    return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)


def _decode_rk(rk: int) -> float:
    div100 = rk & 0x01
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        out = float(v)
    else:  # top 30 bits of an IEEE double
        out = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return out / 100.0 if div100 else out


def _read_unicode_str(buf: bytes, off: int) -> tuple[str, int]:
    """XLUnicodeRichExtendedString (BIFF8): cch u16, grbit u8, optional rich
    run count / ext size, chars (compressed latin-1 or UTF-16LE), trailing
    rich/ext payloads skipped."""
    cch = struct.unpack_from("<H", buf, off)[0]
    grbit = buf[off + 2]
    pos = off + 3
    n_runs = ext_size = 0
    if grbit & 0x08:
        n_runs = struct.unpack_from("<H", buf, pos)[0]
        pos += 2
    if grbit & 0x04:
        ext_size = struct.unpack_from("<I", buf, pos)[0]
        pos += 4
    if grbit & 0x01:
        s = buf[pos : pos + 2 * cch].decode("utf-16-le")
        pos += 2 * cch
    else:
        s = buf[pos : pos + cch].decode("latin-1")
        pos += cch
    pos += 4 * n_runs + ext_size
    return s, pos


def read_biff8_grid(
    data: bytes, sheet_name: str | None = None
) -> dict[int, dict[int, str]]:
    """Parse the Workbook stream into {row: {col: text}} for one sheet
    (named, else the first worksheet substream)."""
    sst: list[str] = []
    sheet_names: list[str] = []
    grid: dict[int, dict[int, str]] = {}
    pos, n = 0, len(data)
    depth = 0  # BOF/EOF nesting
    sheet_idx = -1  # index of the worksheet substream we are inside
    want_idx: int | None = None  # resolved from sheet_name once BOUNDSHEETs seen
    biff8_seen = False

    while pos + 4 <= n:
        op, ln = struct.unpack_from("<HH", data, pos)
        payload = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if op == _BOF:
            ver, dt = struct.unpack_from("<HH", payload, 0)
            if depth == 0:
                if ver != 0x0600:
                    raise UnsupportedFormatError(
                        f"BIFF version 0x{ver:04x} (pre-BIFF8 .xls, e.g. Excel 5/95)"
                    )
                biff8_seen = True
            if dt == 0x0010:  # worksheet substream
                sheet_idx += 1
            depth += 1
            continue
        if op == _EOF:
            depth -= 1
            continue
        if op == _FILEPASS:
            raise UnsupportedFormatError("encrypted .xls workbook (FilePass record)")
        if op == _BOUNDSHEET:
            cch = payload[6]
            grbit = payload[7]
            raw = payload[8:]
            name = (
                raw[: 2 * cch].decode("utf-16-le")
                if grbit & 0x01
                else raw[:cch].decode("latin-1")
            )
            sheet_names.append(name)
            continue
        if op == _SST:
            # cstTotal u32, cstUnique u32, then the strings back to back
            unique = struct.unpack_from("<I", payload, 4)[0]
            off = 8
            for _ in range(unique):
                if off >= len(payload):
                    raise UnsupportedFormatError(
                        "SST spills into CONTINUE records (workbook too large "
                        "for the minimal reader) — convert to .xlsx"
                    )
                s, off = _read_unicode_str(payload, off)
                sst.append(s)
            continue
        if op == _CONTINUE:
            continue  # only SST continuation matters and is rejected above

        # cell records: only keep the selected sheet's
        if sheet_name is not None and want_idx is None and sheet_names:
            want_idx = (
                sheet_names.index(sheet_name) if sheet_name in sheet_names else -2
            )
        active = sheet_idx == (want_idx if want_idx is not None else 0)
        if not active or depth == 0:
            continue
        if op == _LABELSST:
            rw, col, _ixfe, isst = struct.unpack_from("<HHHI", payload, 0)
            if isst < len(sst):
                grid.setdefault(rw, {})[col] = sst[isst]
        elif op == _NUMBER:
            rw, col, _ixfe = struct.unpack_from("<HHH", payload, 0)
            (num,) = struct.unpack_from("<d", payload, 6)
            grid.setdefault(rw, {})[col] = _fmt_num(num)
        elif op == _RK:
            rw, col, _ixfe, rk = struct.unpack_from("<HHHI", payload, 0)
            grid.setdefault(rw, {})[col] = _fmt_num(_decode_rk(rk))
        elif op == _MULRK:
            rw, col_first = struct.unpack_from("<HH", payload, 0)
            n_cells = (ln - 6) // 6
            for i in range(n_cells):
                _ixfe, rk = struct.unpack_from("<HI", payload, 4 + 6 * i)
                grid.setdefault(rw, {})[col_first + i] = _fmt_num(_decode_rk(rk))
        elif op == _LABEL:
            rw, col, _ixfe = struct.unpack_from("<HHH", payload, 0)
            s, _ = _read_unicode_str(payload, 6)
            grid.setdefault(rw, {})[col] = s

    if not biff8_seen:
        raise UnsupportedFormatError("no BIFF8 BOF record found in Workbook stream")
    if sheet_name is not None and want_idx is None:
        # workbook had no cell records, so the lazy resolve never ran —
        # still validate the requested name (parity with the XLSX path)
        want_idx = sheet_names.index(sheet_name) if sheet_name in sheet_names else -2
    if sheet_name is not None and want_idx == -2:
        raise ValueError(f"sheet {sheet_name!r} not found in workbook")
    return grid


def read_xls_grid(path: str, sheet_name: str | None = None) -> dict[int, dict[int, str]]:
    """.xls file → {row: {col: text}} (OLE2 unwrap + BIFF8 parse). A file
    the minimal reader cannot parse (BIFF5, encrypted, CONTINUE-spilled,
    corrupt or truncated) raises ``UnsupportedFormatError`` naming it."""
    with open(path, "rb") as fh:
        data = fh.read()
    try:
        return read_biff8_grid(ole2_stream(data, ("Workbook", "Book")), sheet_name)
    except UnsupportedFormatError as e:
        raise UnsupportedFormatError(f"{path!r}: {e}") from e
    except (struct.error, IndexError) as e:
        raise UnsupportedFormatError(
            f"{path!r}: corrupt or truncated BIFF .xls / OLE2 container ({e})"
        ) from e


# --- minimal BIFF8 writer (test-fixture generator) --------------------------


def _biff_str(s: str) -> bytes:
    """Compressed (latin-1) XLUnicodeRichExtendedString when possible."""
    try:
        raw = s.encode("latin-1")
        return struct.pack("<HB", len(s), 0) + raw
    except UnicodeEncodeError:
        return struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")


def write_minimal_biff8(
    path: str, rows: list[list[str | float | None]], sheet_name: str = "Sheet1"
) -> None:
    """Emit a spec-valid minimal ``.xls``: OLE2 container (FAT + miniFAT —
    the workbook lands in the mini stream like every real small feed) with
    one BIFF8 workbook: globals substream (BOF, BOUNDSHEET, SST, EOF) + one
    worksheet substream (BOF, LABELSST for strings, NUMBER for floats,
    EOF). Fixture generator for tests and the oracle query ONLY."""
    strings: list[str] = []
    str_idx: dict[str, int] = {}
    cells: list[bytes] = []
    n_str_cells = 0
    for r, row in enumerate(rows):
        for c, v in enumerate(row):
            if v is None:
                continue
            if isinstance(v, str):
                if v not in str_idx:
                    str_idx[v] = len(strings)
                    strings.append(v)
                cells.append(
                    struct.pack("<HHHHHI", _LABELSST, 10, r, c, 0, str_idx[v])
                )
                n_str_cells += 1
            else:
                cells.append(
                    struct.pack("<HHHHH", _NUMBER, 14, r, c, 0)
                    + struct.pack("<d", float(v))
                )

    def rec(op: int, payload: bytes) -> bytes:
        return struct.pack("<HH", op, len(payload)) + payload

    bof_globals = rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0005, 0x0DBB, 0x07CC, 0, 0))
    bof_sheet = rec(_BOF, struct.pack("<HHHHII", 0x0600, 0x0010, 0x0DBB, 0x07CC, 0, 0))
    sst_payload = struct.pack("<II", n_str_cells, len(strings)) + b"".join(
        _biff_str(s) for s in strings
    )
    sheet_stream = bof_sheet + b"".join(cells) + rec(_EOF, b"")
    # BOUNDSHEET name is a ShortXLUnicodeString: cch u8, flags u8, chars
    name_raw = sheet_name.encode("latin-1")
    short_name = struct.pack("<BB", len(name_raw), 0) + name_raw

    def globals_stream_at(sheet_off: int) -> bytes:
        bs_payload = struct.pack("<IH", sheet_off, 0) + short_name
        return (
            bof_globals
            + rec(_BOUNDSHEET, bs_payload)
            + rec(_SST, sst_payload)
            + rec(_EOF, b"")
        )

    # BOUNDSHEET carries the sheet substream's absolute offset — the record
    # is fixed-size, so one placeholder pass pins the length
    sheet_off = len(globals_stream_at(0))
    workbook = globals_stream_at(sheet_off) + sheet_stream

    # --- OLE2 container: header + FAT + directory + miniFAT + payload.
    # sector layout: 0 = FAT, 1 = directory, 2 = miniFAT, 3.. = payload
    # (the mini stream container below the 4096-byte cutoff, else the
    # workbook's own regular-FAT chain — mirroring what Excel writes).
    sect, mini = 512, 64
    use_mini = len(workbook) < 4096
    if use_mini:
        n_mini = (len(workbook) + mini - 1) // mini
        payload = workbook + b"\x00" * (n_mini * mini - len(workbook))
        minifat = [
            (i + 1 if i < n_mini - 1 else _ENDOFCHAIN) for i in range(n_mini)
        ]
    else:
        payload = workbook
        minifat = []
    n_payload_sect = max((len(payload) + sect - 1) // sect, 1)
    payload += b"\x00" * (n_payload_sect * sect - len(payload))

    fat = [_FATSECT, _ENDOFCHAIN, _ENDOFCHAIN]
    for i in range(n_payload_sect):
        fat.append(4 + i if i < n_payload_sect - 1 else _ENDOFCHAIN)
    if len(fat) > sect // 4:
        raise ValueError("fixture too large for the single-FAT-sector writer")
    fat += [_FREESECT] * (sect // 4 - len(fat))
    minifat += [_FREESECT] * (sect // 4 - len(minifat))

    def dirent(
        name: str, etype: int, start: int, size: int, child: int = 0xFFFFFFFF
    ) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        e = raw + b"\x00" * (64 - len(raw))
        e += struct.pack("<HBB", len(raw), etype, 1)
        e += struct.pack("<iii", -1, -1, struct.unpack("<i", struct.pack("<I", child))[0])
        e += b"\x00" * 16  # CLSID
        e += b"\x00" * 4  # state
        e += b"\x00" * 16  # times
        e += struct.pack("<IQ", start, size)
        return e

    if use_mini:
        root = dirent("Root Entry", 5, 3, n_payload_sect * sect, child=1)
        wb = dirent("Workbook", 2, 0, len(workbook))
    else:
        root = dirent("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
        wb = dirent("Workbook", 2, 3, len(workbook))
    directory = root + wb + b"\x00" * 128 * 2

    header = bytearray(512)
    header[0:8] = OLE2_MAGIC
    struct.pack_into("<H", header, 24, 0x003E)  # minor version
    struct.pack_into("<H", header, 26, 0x0003)  # major version 3
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9)  # sector shift
    struct.pack_into("<H", header, 32, 6)  # mini sector shift
    struct.pack_into("<I", header, 44, 1)  # number of FAT sectors
    struct.pack_into("<I", header, 48, 1)  # first directory sector
    struct.pack_into("<I", header, 56, 4096)  # mini stream cutoff
    struct.pack_into("<I", header, 60, 2 if use_mini else _ENDOFCHAIN)
    struct.pack_into("<I", header, 64, 1 if use_mini else 0)  # miniFAT sectors
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no DIFAT chain
    struct.pack_into("<I", header, 72, 0)
    struct.pack_into("<109I", header, 76, *([0] + [_FREESECT] * 108))

    with open(path, "wb") as fh:
        fh.write(bytes(header))
        fh.write(struct.pack(f"<{sect // 4}I", *fat))
        fh.write(directory)
        fh.write(struct.pack(f"<{sect // 4}I", *minifat))
        fh.write(payload)
