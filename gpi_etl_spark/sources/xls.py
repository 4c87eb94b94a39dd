"""S2: native legacy ``.xls`` (BIFF8) cell-grid scan — stdlib ``struct``.

The reference's WASDE ingestion reads legacy binary workbooks with xlrd
(``HTGPIWASDE/__init__.py:203-245``, ``read_xls_with_sheetname``); this
container has no xlrd, and round 2 shipped only the ``.xlsx`` path, so
``.xls`` payloads raised at runtime. This module closes that gap with a
minimal reader for the two PUBLIC formats involved:

* **CFB / OLE2 compound file** ([MS-CFB]): sector FAT + DIFAT chains,
  directory entries, and the mini-stream/mini-FAT for streams smaller
  than the 4096-byte cutoff — enough to locate and read the
  ``Workbook`` (or legacy ``Book``) stream.
* **BIFF8 records** ([MS-XLS]): BOUNDSHEET sheet directory, SST shared
  strings (including CONTINUE splits, where a fresh grbit byte restates
  the char width at the boundary), MERGEDCELLS (anchor-value expansion
  behind ``fill_merged``, like the ``.xlsx`` scan),
  FORMAT/XF for date detection, and
  the cell records NUMBER / RK / MULRK / LABELSST / LABEL / FORMULA
  (cached numeric, boolean, and string results — the latter read from
  the trailing STRING record) / BOOLERR.

Parity notes vs the xlrd path it replaces:

* date-formatted serials are coerced to ISO strings (``XL_CELL_DATE``
  handling at ``HTGPIWASDE/__init__.py:224-232``), honoring DATEMODE
  (1900 vs 1904 systems, including the fake 1900 leap day convention);
* numbers render the way the ``.xlsx`` scan stores them ("300", not
  "300.0") so downstream sentinel cleaning sees identical text;
* like :mod:`gpi_etl_spark.sources.xlsx`, parsing is a pure
  bytes→rows function, driver-side for the reference's one-workbook
  loads; for a lake of payload rows use
  :func:`gpi_etl_spark.sources.excel_lake.excel_lake_cells`, which
  distributes this parser via ``mapInPandas``.
"""

from __future__ import annotations

import datetime as dt
import re
import struct

_CFB_SIG = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREE = 0xFFFFFFFF
_ENDCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_DIFSECT = 0xFFFFFFFC

# BIFF8 record opcodes
_BOF = 0x0809
_EOF = 0x000A
_BOUNDSHEET = 0x0085
_SST = 0x00FC
_CONTINUE = 0x003C
_FORMAT = 0x041E
_XF = 0x00E0
_DATEMODE = 0x0022
_NUMBER = 0x0203
_RK = 0x027E
_MULRK = 0x00BD
_LABELSST = 0x00FD
_LABEL = 0x0204
_FORMULA = 0x0006
_STRING = 0x0207
_BOOLERR = 0x0205
_MERGEDCELLS = 0x00E5

#: builtin number-format ids that render as dates/times ([MS-XLS] 2.4.126)
_BUILTIN_DATE_FMTS = (
    set(range(14, 23)) | set(range(27, 37)) | {45, 46, 47} | set(range(50, 59))
)
_DATE_CHARS = re.compile(r"[ymdhsYMDHS]")
_QUOTED = re.compile(r'"[^"]*"|\[[^\]]*\]|\\.')


def is_xls(payload: bytes) -> bool:
    """True when ``payload`` opens with the OLE2/CFB signature: a legacy
    ``.xls`` workbook rather than a zip ``.xlsx``."""
    return payload[:8] == _CFB_SIG


def _u16(b: bytes, off: int) -> int:
    return struct.unpack_from("<H", b, off)[0]


def _u32(b: bytes, off: int) -> int:
    return struct.unpack_from("<I", b, off)[0]


# ---------------------------------------------------------------------------
# CFB container
# ---------------------------------------------------------------------------

def _cfb_workbook_stream(payload: bytes) -> bytes:
    """Extract the ``Workbook``/``Book`` stream from an OLE2 container."""
    if not is_xls(payload):
        raise ValueError("not an OLE2/CFB file (bad signature)")
    ssz = 1 << _u16(payload, 30)
    msz = 1 << _u16(payload, 32)
    n_fat = _u32(payload, 44)
    dir_start = _u32(payload, 48)
    mini_cutoff = _u32(payload, 56)
    minifat_start = _u32(payload, 60)
    n_minifat = _u32(payload, 64)
    difat_start = _u32(payload, 68)
    n_difat = _u32(payload, 72)

    # Sector n lives at byte (n + 1) * ssz: the header occupies exactly one
    # sector, so this holds for both 512-byte (version 3) and 4096-byte
    # (version 4) compound files ([MS-CFB] 2.1).
    difat = list(struct.unpack_from("<109I", payload, 76))
    s = difat_start
    for _ in range(n_difat):
        ents = struct.unpack_from(f"<{ssz // 4}I", payload, (s + 1) * ssz)
        difat += list(ents[:-1])
        s = ents[-1]

    fat: list[int] = []
    for fs in difat:
        if fs in (_FREE, _ENDCHAIN):
            continue
        if len(fat) >= n_fat * (ssz // 4):
            break
        fat += list(struct.unpack_from(f"<{ssz // 4}I", payload, (fs + 1) * ssz))

    def chain(start: int) -> list[int]:
        out, s, seen = [], start, set()
        while s not in (_ENDCHAIN, _FREE) and s < len(fat) and s not in seen:
            seen.add(s)
            out.append(s)
            s = fat[s]
        return out

    def read_chain(start: int) -> bytes:
        return b"".join(
            payload[(s + 1) * ssz: (s + 2) * ssz] for s in chain(start)
        )

    dirdata = read_chain(dir_start)
    entries = []
    for off in range(0, len(dirdata) - 127, 128):
        e = dirdata[off: off + 128]
        nlen = _u16(e, 64)
        name = (
            e[: max(0, nlen - 2)].decode("utf-16-le", "ignore")
            if nlen >= 2 else ""
        )
        entries.append((name, e[66], _u32(e, 116), struct.unpack_from("<Q", e, 120)[0]))

    root = next((e for e in entries if e[1] == 5), None)
    if root is None:
        raise ValueError("CFB: no root directory entry")
    ministream = read_chain(root[2])

    minifat: list[int] = []
    if n_minifat:
        for s in chain(minifat_start):
            minifat += list(
                struct.unpack_from(f"<{ssz // 4}I", payload, (s + 1) * ssz)
            )

    def read_mini(start: int, size: int) -> bytes:
        out, s, seen = b"", start, set()
        while s not in (_ENDCHAIN, _FREE) and s < len(minifat) and s not in seen:
            seen.add(s)
            out += ministream[s * msz: (s + 1) * msz]
            s = minifat[s]
        return out[:size]

    for want in ("Workbook", "Book"):
        for name, etype, start, size in entries:
            if etype == 2 and name == want:
                if size < mini_cutoff:
                    return read_mini(start, size)
                return read_chain(start)[:size]
    raise ValueError("CFB: no Workbook/Book stream")


# ---------------------------------------------------------------------------
# BIFF8 record + string machinery
# ---------------------------------------------------------------------------

def _records(stream: bytes, start: int = 0):
    """Yield (opcode, offset, data) BIFF records from ``start``."""
    off = start
    n = len(stream)
    while off + 4 <= n:
        op = _u16(stream, off)
        ln = _u16(stream, off + 2)
        if op == 0 and ln == 0:  # zero padding after the last EOF
            return
        yield op, off, stream[off + 4: off + 4 + ln]
        off += 4 + ln


class _Chunks:
    """Cursor over an SST record's data + its CONTINUE continuations.

    ``read`` is a raw byte read across chunk boundaries; ``read_chars``
    honors the BIFF rule that a split inside a character array restates
    a fresh grbit (char-width) byte at the continuation start.
    """

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.i = 0
        self.off = 0

    def _avail(self) -> int:
        return len(self.chunks[self.i]) - self.off

    def _advance(self) -> None:
        while self.i < len(self.chunks) - 1 and self._avail() == 0:
            self.i += 1
            self.off = 0

    def read(self, n: int) -> bytes:
        out = b""
        while n > 0:
            self._advance()
            take = min(n, self._avail())
            if take == 0:
                raise ValueError("SST: truncated record")
            out += self.chunks[self.i][self.off: self.off + take]
            self.off += take
            n -= take
        return out

    def read_chars(self, cch: int, high: bool, grbit_chunk: int | None = None) -> str:
        # ``grbit_chunk`` is the chunk index where the current grbit byte was
        # read; any transition to a later chunk before/inside the char array
        # restates a fresh grbit at the continuation start — including a
        # split falling exactly between the string header and its first
        # character.
        if grbit_chunk is None:
            grbit_chunk = self.i
        out = []
        while cch > 0:
            self._advance()
            if self._avail() == 0:
                raise ValueError("SST: truncated string")
            if self.i != grbit_chunk:
                high = bool(self.read(1)[0] & 1)
                grbit_chunk = self.i
            width = 2 if high else 1
            take_chars = min(cch, self._avail() // width)
            if take_chars == 0:
                raise ValueError("SST: char split across half a wide char")
            raw = self.read(take_chars * width)
            out.append(raw.decode("utf-16-le" if high else "latin-1"))
            cch -= take_chars
        return "".join(out)

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.read(2))[0]
        flags = self.read(1)[0]
        high = bool(flags & 1)
        n_rich = struct.unpack("<H", self.read(2))[0] if flags & 8 else 0
        n_ext = struct.unpack("<i", self.read(4))[0] if flags & 4 else 0
        s = self.read_chars(cch, high, grbit_chunk=self.i)
        if n_rich:
            self.read(4 * n_rich)
        if n_ext:
            self.read(n_ext)
        return s

    def done(self) -> bool:
        self._advance()
        return self._avail() == 0


def _unicode_string(data: bytes, off: int, short_len: bool = False) -> str:
    """In-record XLUnicodeString (no CONTINUE possible)."""
    if short_len:
        cch = data[off]
        off += 1
    else:
        cch = _u16(data, off)
        off += 2
    flags = data[off]
    off += 1
    if flags & 8:
        off += 2
    if flags & 4:
        off += 4
    if flags & 1:
        return data[off: off + 2 * cch].decode("utf-16-le")
    return data[off: off + cch].decode("latin-1")


def _rk_value(rk: int) -> float:
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        v = float(v)
    else:  # top 30 bits of an IEEE double
        v = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return v / 100.0 if rk & 0x01 else v


def _fmt_is_date(fmt: str) -> bool:
    return bool(_DATE_CHARS.search(_QUOTED.sub("", fmt)))


def _serial_to_iso(v: float, datemode: int) -> str:
    """Excel serial → ISO string, xlrd's convention (1900 system: the
    fake 1900-02-29 means serials < 60 use the 1899-12-31 epoch)."""
    if datemode:
        epoch = dt.datetime(1904, 1, 1)
    else:
        epoch = dt.datetime(1899, 12, 31) if v < 60 else dt.datetime(1899, 12, 30)
    d = epoch + dt.timedelta(days=v)
    d = (d + dt.timedelta(microseconds=500_000)).replace(microsecond=0)
    if d.hour == d.minute == d.second == 0:
        return d.date().isoformat()
    return d.isoformat(sep=" ")


def _num_text(v: float) -> str:
    """Render a numeric cell the way the xlsx scan stores it."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


# ---------------------------------------------------------------------------
# Workbook parse
# ---------------------------------------------------------------------------

class _Workbook:
    def __init__(self, payload: bytes):
        self.stream = _cfb_workbook_stream(payload)
        self.sheets: list[tuple[str, int]] = []  # (name, BOF offset)
        self.sst: list[str] = []
        self.datemode = 0
        self._formats: dict[int, str] = {}
        self._xf_fmt: list[int] = []
        self._parse_globals()

    def _parse_globals(self) -> None:
        sst_chunks: list[bytes] | None = None
        collecting = False  # CONTINUEs directly after SST extend it
        for op, _off, data in _records(self.stream):
            if op == _CONTINUE:
                if collecting:
                    sst_chunks.append(data)
                continue
            collecting = False
            if op == _BOUNDSHEET:
                name = _unicode_string(data, 6, short_len=True)
                self.sheets.append((name, _u32(data, 0)))
            elif op == _SST:
                sst_chunks = [data[8:]]
                self._sst_total = _u32(data, 4)
                collecting = True
            elif op == _FORMAT:
                self._formats[_u16(data, 0)] = _unicode_string(data, 2)
            elif op == _XF:
                self._xf_fmt.append(_u16(data, 2))
            elif op == _DATEMODE:
                self.datemode = _u16(data, 0)
            elif op == _EOF:
                break
        if sst_chunks is not None:
            cur = _Chunks(sst_chunks)
            for _ in range(self._sst_total):
                if cur.done():
                    break
                self.sst.append(cur.read_string())

    def _xf_is_date(self, xf: int) -> bool:
        if not (0 <= xf < len(self._xf_fmt)):
            return False
        ifmt = self._xf_fmt[xf]
        if ifmt in self._formats:
            return _fmt_is_date(self._formats[ifmt])
        return ifmt in _BUILTIN_DATE_FMTS

    def _number(self, v: float, xf: int) -> str:
        if self._xf_is_date(xf):
            return _serial_to_iso(v, self.datemode)
        return _num_text(v)

    def cells(
        self, sheet_name: str | None = None, fill_merged: bool = True
    ) -> dict[tuple[int, int], str]:
        if not self.sheets:
            raise ValueError("workbook has no sheets")
        if sheet_name is None:
            name, start = self.sheets[0]
        else:
            match = [s for s in self.sheets if s[0] == sheet_name]
            if not match:
                raise ValueError(
                    f"sheet {sheet_name!r} not in {[s[0] for s in self.sheets]}"
                )
            name, start = match[0]
        out: dict[tuple[int, int], str] = {}
        merges: list[tuple[int, int, int, int]] = []
        depth = 0
        pending_str: tuple[int, int] | None = None  # FORMULA awaiting STRING
        str_chunks: list[bytes] | None = None  # STRING (+CONTINUE) payloads
        for op, _off, data in _records(self.stream, start):
            if op == _CONTINUE and str_chunks is not None:
                str_chunks.append(data)
                continue
            if str_chunks is not None:
                # a long cached formula string spans CONTINUE records —
                # finalize via the same chunk cursor the SST path uses
                # (grbit restated at chunk boundaries)
                out[pending_str] = _Chunks(str_chunks).read_string()
                str_chunks = None
                pending_str = None
            if op == _BOF:
                depth += 1
            elif op == _EOF:
                depth -= 1
                if depth <= 0:
                    break
            elif depth > 1:
                continue  # embedded chart substream
            elif op == _STRING and pending_str is not None:
                # cached text of the preceding string-result FORMULA
                str_chunks = [data]
            elif op == _NUMBER:
                r, c, xf = _u16(data, 0), _u16(data, 2), _u16(data, 4)
                out[(r, c)] = self._number(
                    struct.unpack_from("<d", data, 6)[0], xf
                )
            elif op == _RK:
                r, c, xf = _u16(data, 0), _u16(data, 2), _u16(data, 4)
                out[(r, c)] = self._number(_rk_value(_u32(data, 6)), xf)
            elif op == _MULRK:
                r, c0 = _u16(data, 0), _u16(data, 2)
                n = (len(data) - 6) // 6
                for j in range(n):
                    xf = _u16(data, 4 + 6 * j)
                    rk = _u32(data, 6 + 6 * j)
                    out[(r, c0 + j)] = self._number(_rk_value(rk), xf)
            elif op == _LABELSST:
                r, c = _u16(data, 0), _u16(data, 2)
                out[(r, c)] = self.sst[_u32(data, 6)]
            elif op == _LABEL:
                r, c = _u16(data, 0), _u16(data, 2)
                out[(r, c)] = _unicode_string(data, 6)
            elif op == _FORMULA:
                r, c, xf = _u16(data, 0), _u16(data, 2), _u16(data, 4)
                res = data[6:14]
                if res[6:8] != b"\xff\xff":  # cached numeric result
                    out[(r, c)] = self._number(
                        struct.unpack("<d", res)[0], xf
                    )
                elif res[0] == 0:  # string result: text in the next STRING
                    pending_str = (r, c)
                elif res[0] == 1:  # cached boolean
                    out[(r, c)] = "TRUE" if res[2] else "FALSE"
                elif res[0] == 3:  # cached empty string
                    out[(r, c)] = ""
                # res[0] == 2 (error cell) is skipped, like BOOLERR errors
            elif op == _BOOLERR:
                r, c = _u16(data, 0), _u16(data, 2)
                if data[7] == 0:  # boolean (1 = error cell, skipped)
                    out[(r, c)] = "TRUE" if data[6] else "FALSE"
            elif op == _MERGEDCELLS:
                # Ref8 list: (row_first, row_last, col_first, col_last).
                # MERGEDCELLS may repeat when a sheet has > 1026 ranges.
                n = _u16(data, 0)
                for j in range(n):
                    rf, rl, cf, cl = struct.unpack_from("<HHHH", data, 2 + 8 * j)
                    merges.append((rf, rl, cf, cl))
        if fill_merged:
            # Replicate each range's anchor value across the range — same
            # expansion as sources.xlsx. (The reference's own merged-range
            # replay is dead code: HTGPIWASDE/__init__.py:219-222 writes
            # merges into an openpyxl workbook it never reads back, so its
            # emitted values come from the raw xlrd sheet; both repo scans
            # offer the expansion behind the same flag instead.)
            for rf, rl, cf, cl in merges:
                anchor = out.get((rf, cf))
                if anchor is None:
                    continue
                for r in range(rf, rl + 1):
                    for c in range(cf, cl + 1):
                        out[(r, c)] = anchor
        return out


# ---------------------------------------------------------------------------
# Public API (mirrors sources.xlsx)
# ---------------------------------------------------------------------------

def sheet_names(payload: bytes) -> list[str]:
    """Workbook sheet names in BOUNDSHEET order."""
    return [name for name, _ in _Workbook(payload).sheets]


def parse_xls_cells(
    payload: bytes, sheet_name: str | None = None, fill_merged: bool = True
) -> list[list]:
    """One sheet → rectangular cell grid (row lists, ``None`` for
    absent cells), values as strings with date serials coerced to ISO.
    ``fill_merged`` replicates each MERGEDCELLS range's anchor value
    across the range, matching :func:`..xlsx.parse_xlsx_cells`."""
    cells = _Workbook(payload).cells(sheet_name, fill_merged=fill_merged)
    if not cells:
        return []
    nrows = max(r for r, _ in cells) + 1
    ncols = max(c for _, c in cells) + 1
    grid: list[list] = [[None] * ncols for _ in range(nrows)]
    for (r, c), v in cells.items():
        grid[r][c] = v
    return grid


def xls_cells_df(
    spark, payload: bytes, sheet_name: str | None = None,
    fill_merged: bool = True,
):
    """Sheet → the engine's ``wasde_cells`` shape
    ``(sheet, row_idx, col_idx, value)``."""
    wb = _Workbook(payload)
    name = sheet_name or wb.sheets[0][0]
    rows = [
        (name, r, c, v)
        for (r, c), v in sorted(wb.cells(sheet_name, fill_merged).items())
    ]
    return spark.createDataFrame(
        rows, "sheet string, row_idx int, col_idx int, value string"
    )
