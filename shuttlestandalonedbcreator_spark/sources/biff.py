"""Binary .xls (BIFF8) reader + minimal writer, stdlib-only.

Reference parity: S3 — the reference's `processXLSTraditional` loads the
whole HSSF workbook and walks rows/cells with `DataFormatter`
(SQLiteDirectImporter.java:384-426, 588-662, 948-952). Here the same scan
is re-expressed as a pure-Python parser over the workbook bytes so it can
run INSIDE executors (one .xls file is one unit of
`sources/excel.py:read_workbook_rows`'s work list) — parallel across
workbooks, no driver bottleneck, no native dependency.

Format subset implemented (public [MS-CFB] / [MS-XLS] specs):
- CFB compound file: v3/v4 sector sizes, DIFAT (header + chained), FAT
  chains, directory tree, mini-FAT + mini-stream for small streams.
- BIFF8 records: BOF/EOF, BOUNDSHEET, SST (+CONTINUE spanning, both
  compressed and UTF-16 strings, rich-text/ext-rst skipping), LABELSST,
  LABEL, NUMBER, RK, MULRK, BLANK, MULBLANK, BOOLERR, FORMULA cached
  results (+STRING).

Cell values surface as strings exactly like the xlsx path (numbers in
their shortest round-trip decimal form, e.g. '100' / '45123.5') so the
downstream tolerant-cast layer (P1) is source-agnostic.

The writer emits a minimal-but-spec-valid single-workbook-stream CFB with
LABELSST/RK/MULRK/NUMBER/BOOLERR cells (consecutive RK-encodable ints
coalesce into MULRK runs, the shape Excel/POI emit); it exists so tests
can fabricate .xls fixtures (the environment ships no Excel and the
reference ships no workbooks).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from shuttlestandalonedbcreator_spark.sources.numfmt import (
    BUILTIN_FORMATS as _BUILTIN_FORMATS,
)
from shuttlestandalonedbcreator_spark.sources.numfmt import (
    format_number as _format_number,
)

CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_NOSTREAM = 0xFFFFFFFF

# ---------------------------------------------------------------------------
# CFB (compound file) reader
# ---------------------------------------------------------------------------


def cfb_streams(data: bytes) -> dict[str, bytes]:
    """Top-level stream name → bytes for a compound file.

    Malformed containers (truncated sectors, out-of-range chains, garbage
    directory) raise ValueError — never struct.error/IndexError — so the
    caller's per-FILE tolerance (E2) can catch one exception type. Chain
    walks are cycle-guarded: a corrupted FAT that loops terminates the
    walk instead of hanging the scan."""
    if data[:8] != CFB_MAGIC:
        raise ValueError("not a CFB (compound) file — bad magic")
    try:
        return _cfb_streams_inner(data)
    except (struct.error, IndexError, UnicodeDecodeError, StopIteration) as e:
        raise ValueError(f"corrupt CFB container: {e!r}") from e


def _cfb_streams_inner(data: bytes) -> dict[str, bytes]:
    sector_shift = struct.unpack_from("<H", data, 30)[0]
    mini_shift = struct.unpack_from("<H", data, 32)[0]
    sector_size = 1 << sector_shift
    mini_size = 1 << mini_shift
    first_dir = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    first_minifat = struct.unpack_from("<I", data, 60)[0]
    first_difat = struct.unpack_from("<I", data, 68)[0]
    num_difat = struct.unpack_from("<I", data, 72)[0]

    def sector(n: int) -> bytes:
        off = (n + 1) * sector_size
        return data[off : off + sector_size]

    # DIFAT: 109 header entries, then chained DIFAT sectors. The walk is
    # cycle-guarded and bounded by the file's actual sector count — a
    # corrupt header (num_difat=0xFFFFFFFF, self-pointing chain) must not
    # spin/grow unbounded
    difat = list(struct.unpack_from("<109I", data, 76))
    s = first_difat
    per = sector_size // 4 - 1
    max_sectors = len(data) // sector_size + 1
    seen_difat: set[int] = set()
    for _ in range(min(num_difat, max_sectors)):
        if s in seen_difat:
            raise ValueError("corrupt CFB: DIFAT chain cycles")
        seen_difat.add(s)
        chunk = struct.unpack_from(f"<{per + 1}I", sector(s))
        difat.extend(chunk[:-1])
        s = chunk[-1]
        if s in (_ENDOFCHAIN, _FREESECT):
            break

    fat: list[int] = []
    for fs in difat:
        if fs == _FREESECT:
            continue
        fat.extend(struct.unpack_from(f"<{sector_size // 4}I", sector(fs)))

    def chain(start: int) -> bytes:
        out, s, seen = [], start, set()
        while s not in (_ENDOFCHAIN, _FREESECT) and s not in seen:
            seen.add(s)
            out.append(sector(s))
            s = fat[s] if s < len(fat) else _ENDOFCHAIN
        return b"".join(out)

    directory = chain(first_dir)
    entries = []
    for off in range(0, len(directory) - 127, 128):
        name_len = struct.unpack_from("<H", directory, off + 64)[0]
        etype = directory[off + 66]
        if etype == 0 or name_len < 2:
            continue
        name = directory[off : off + name_len - 2].decode("utf-16-le")
        start = struct.unpack_from("<I", directory, off + 116)[0]
        size = struct.unpack_from("<Q", directory, off + 120)[0]
        if struct.unpack_from("<H", data, 26)[0] == 3:  # v3: size is 32-bit
            size &= 0xFFFFFFFF
        entries.append((name, etype, start, size))

    root = next(e for e in entries if e[1] == 5)
    mini_container = chain(root[2]) if root[2] not in (_ENDOFCHAIN, _FREESECT) else b""
    minifat: list[int] = []
    if first_minifat not in (_ENDOFCHAIN, _FREESECT):
        mf = chain(first_minifat)
        minifat = list(struct.unpack_from(f"<{len(mf) // 4}I", mf))

    def mini_chain(start: int) -> bytes:
        out, s, seen = [], start, set()
        while s not in (_ENDOFCHAIN, _FREESECT) and s not in seen:
            seen.add(s)
            out.append(mini_container[s * mini_size : (s + 1) * mini_size])
            s = minifat[s] if s < len(minifat) else _ENDOFCHAIN
        return b"".join(out)

    streams: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != 2:
            continue
        raw = mini_chain(start) if size < mini_cutoff else chain(start)
        streams[name] = raw[:size]
    return streams


# ---------------------------------------------------------------------------
# BIFF8 record layer
# ---------------------------------------------------------------------------

R_BOF = 0x0809
R_EOF = 0x000A
R_BOUNDSHEET = 0x0085
R_SST = 0x00FC
R_CONTINUE = 0x003C
R_LABELSST = 0x00FD
R_LABEL = 0x0204
R_NUMBER = 0x0203
R_RK = 0x027E
R_MULRK = 0x00BD
R_BLANK = 0x0201
R_MULBLANK = 0x00BE
R_BOOLERR = 0x0205
R_FORMULA = 0x0006
R_STRING = 0x0207
R_CODEPAGE = 0x0042
R_DIMENSIONS = 0x0200
R_RSTRING = 0x00D6  # rich-text inline string (legacy writers); runs ignored
R_FORMAT = 0x041E  # number-format code (ifmt -> format string)
R_XF = 0x00E0  # cell format record (cells carry an ixfe into the XF list)


def _records(stream: bytes) -> Iterator[tuple[int, bytes, int]]:
    """(record_id, payload, offset_of_record_header)."""
    pos, n = 0, len(stream)
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", stream, pos)
        yield rid, stream[pos + 4 : pos + 4 + ln], pos
        pos += 4 + ln


class _ChunkReader:
    """Cursor over an SST payload split across CONTINUE records.

    BIFF8's one genuinely fiddly rule: when a string's *character data*
    crosses into a CONTINUE record, the continuation restarts with a fresh
    flags byte (the compression bit may differ per fragment). Raw byte
    fields (lengths, rich-text runs, ext-rst blobs) just span plainly.
    """

    def __init__(self, chunks: list[bytes]):
        self.chunks = chunks
        self.ci = 0
        self.pos = 0

    def eof(self) -> bool:
        while self.ci < len(self.chunks) and self.pos >= len(self.chunks[self.ci]):
            self.ci += 1
            self.pos = 0
        return self.ci >= len(self.chunks)

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0 and not self.eof():
            chunk = self.chunks[self.ci]
            take = min(n, len(chunk) - self.pos)
            out += chunk[self.pos : self.pos + take]
            self.pos += take
            n -= take
        return bytes(out)

    def read_chars(self, cch: int, high: bool) -> str:
        """Read cch characters, re-reading the flags byte at each CONTINUE
        boundary crossed mid-string."""
        parts: list[str] = []
        while cch > 0:
            if self.eof():
                break
            chunk = self.chunks[self.ci]
            avail = len(chunk) - self.pos
            if avail == 0:
                continue
            width = 2 if high else 1
            take = min(cch, avail // width)
            if take == 0:
                # a UTF-16 char split across the boundary cannot occur per
                # spec (writers align); defensively hop to the next chunk
                self.ci += 1
                self.pos = 0
                high = bool(self.read(1)[0] & 1)
                continue
            raw = chunk[self.pos : self.pos + take * width]
            self.pos += take * width
            parts.append(raw.decode("utf-16-le" if high else "latin-1"))
            cch -= take
            if cch > 0:
                # crossed into the next CONTINUE: fresh flags byte
                while not self.eof() and self.pos >= len(self.chunks[self.ci]):
                    self.ci += 1
                    self.pos = 0
                if self.eof():
                    break
                high = bool(self.read(1)[0] & 1)
        return "".join(parts)

    def read_xl_string(self) -> str:
        cch = struct.unpack("<H", self.read(2))[0]
        flags = self.read(1)[0]
        high = bool(flags & 0x01)
        rich = bool(flags & 0x08)
        ext = bool(flags & 0x04)
        c_run = struct.unpack("<H", self.read(2))[0] if rich else 0
        cb_ext = struct.unpack("<I", self.read(4))[0] if ext else 0
        text = self.read_chars(cch, high)
        if c_run:
            self.read(4 * c_run)
        if cb_ext:
            self.read(cb_ext)
        return text


def _parse_sst(chunks: list[bytes]) -> list[str]:
    rd = _ChunkReader(chunks)
    rd.read(4)  # cstTotal
    unique = struct.unpack("<I", rd.read(4))[0]
    return [rd.read_xl_string() for _ in range(unique)]


def _short_string(data: bytes, off: int) -> str:
    cch = data[off]
    high = bool(data[off + 1] & 1)
    if high:
        return data[off + 2 : off + 2 + 2 * cch].decode("utf-16-le")
    return data[off + 2 : off + 2 + cch].decode("latin-1")


def _unicode_string_at(data: bytes, off: int) -> str:
    rd = _ChunkReader([data[off:]])
    return rd.read_xl_string()


def _decode_rk(rk: int) -> float:
    div100 = rk & 0x01
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & 0x20000000:
            v -= 0x40000000
        val = float(v)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return val / 100.0 if div100 else val


def _fmt_num(d: float) -> str:
    """Shortest round-trip decimal, integers without '.0' — matches the
    raw stored form the xlsx path yields, keeping P1 source-agnostic."""
    if d != d or d in (float("inf"), float("-inf")):
        return str(d)
    if d == int(d) and abs(d) < 1e15:
        return str(int(d))
    return repr(d)


def parse_xls_rows(
    data: bytes,
    sheet_prefix: str | None = None,
    errors: list[tuple[str, int, str]] | None = None,
    formatted: bool = False,
) -> Iterator[tuple[str, int, list[str]]]:
    """Stream (sheet_name, row_index, cells) from .xls bytes — the S3 scan,
    same contract as excel.parse_xlsx_rows (row_index counts emitted rows
    per sheet; sparse cells padded with '').

    ``formatted=True`` renders numeric cells through their XF record's
    number format (FORMAT records + built-in ifmt ids, same
    `sources/numfmt.py` renderer as the XLSX scan) — POI DataFormatter
    parity for S3 (SQLiteDirectImporter.java:948-952 formats .xls cells
    identically to .xlsx ones).

    Error tolerance (E1, reference SQLiteDirectImporter.java:588-662
    tolerates per-row errors): a malformed CELL record skips that record —
    never the sheet or the file — and appends (sheet, record_id, error)
    to ``errors`` when the caller passes a list. Unsupported record types
    are silently ignored by design: only cell-content records (LABELSST,
    LABEL, RSTRING, NUMBER, RK, MULRK, BLANK, MULBLANK, BOOLERR, FORMULA
    + cached STRING) carry values; remaining formatting/layout records
    (FONT, ROW, COLINFO, MERGEDCELLS, window/pane state...) don't affect
    the extracted data."""
    streams = cfb_streams(data)
    wb = streams.get("Workbook") or streams.get("Book")
    if wb is None:
        raise ValueError("no Workbook/Book stream in .xls file")

    # -- workbook globals: SST + sheet directory ---------------------------
    # corruption here poisons the whole file (can't locate sheets/strings),
    # so it surfaces as ValueError for the per-FILE tolerance layer (E2) —
    # unlike per-CELL records below, which skip individually (E1)
    try:
        sst, sheets, recs, formats, xf_ifmts = _parse_globals(wb)
    except (struct.error, IndexError, UnicodeDecodeError) as e:
        raise ValueError(f"corrupt BIFF workbook globals: {e!r}") from e

    fmt_of = None
    if formatted:

        def fmt_of(ixfe: int) -> str | None:
            ifmt = xf_ifmts[ixfe] if 0 <= ixfe < len(xf_ifmts) else 0
            return formats.get(ifmt) or _BUILTIN_FORMATS.get(ifmt)

    offset_index = {off: k for k, (_, _, off) in enumerate(recs)}

    for name, bof_off in sheets:
        if sheet_prefix is not None and not name.startswith(sheet_prefix):
            continue
        k = offset_index.get(bof_off)
        if k is None:
            continue
        cells: dict[int, dict[int, str]] = {}
        box: list[tuple[int, int] | None] = [None]  # pending formula cell
        k += 1  # skip the sheet BOF itself
        while k < len(recs):
            rid, p, _ = recs[k]
            k += 1
            if rid == R_EOF:
                break
            try:
                _parse_cell_record(rid, p, cells, sst, box, fmt_of)
            except (struct.error, IndexError, UnicodeDecodeError) as e:
                if errors is not None:
                    errors.append((name, rid, repr(e)))
        row_idx = 0
        for r in sorted(cells):
            row = cells[r]
            width = max(row) + 1
            yield name, row_idx, [row.get(c, "") for c in range(width)]
            row_idx += 1


def _parse_globals(
    wb: bytes,
) -> tuple[
    list[str],
    list[tuple[str, int]],
    list[tuple[int, bytes, int]],
    dict[int, str],
    list[int],
]:
    """Workbook-globals substream: shared-string table + visible-sheet
    directory + number formats (FORMAT: ifmt → code; XF: per-record
    ifmt, indexed by the cells' ixfe), plus the full record list for
    the sheet scans."""
    sst: list[str] = []
    sheets: list[tuple[str, int]] = []  # (name, stream offset of sheet BOF)
    formats: dict[int, str] = {}
    xf_ifmts: list[int] = []
    recs = list(_records(wb))
    i = 0
    while i < len(recs):
        rid, payload, _ = recs[i]
        if rid == R_EOF:
            break  # end of globals substream
        if rid == R_FORMAT:
            ifmt = struct.unpack_from("<H", payload, 0)[0]
            formats[ifmt] = _unicode_string_at(payload, 2)
        elif rid == R_XF:
            xf_ifmts.append(struct.unpack_from("<H", payload, 2)[0])
        elif rid == R_BOUNDSHEET:
            lb_ply_pos = struct.unpack_from("<I", payload, 0)[0]
            hidden = payload[4] & 0x03
            sheet_type = payload[5]
            name = _short_string(payload, 6)
            if sheet_type == 0 and hidden == 0:  # visible worksheet
                sheets.append((name, lb_ply_pos))
        elif rid == R_SST:
            chunks = [payload]
            j = i + 1
            while j < len(recs) and recs[j][0] == R_CONTINUE:
                chunks.append(recs[j][1])
                j += 1
            sst = _parse_sst(chunks)
            i = j - 1
        i += 1
    return sst, sheets, recs, formats, xf_ifmts


def _parse_cell_record(
    rid: int,
    p: bytes,
    cells: dict[int, dict[int, str]],
    sst: list[str],
    box: list[tuple[int, int] | None],
    fmt_of=None,
) -> None:
    """Apply ONE cell record to the sheet accumulator. Split out so the
    caller's E1 try/except wraps exactly one record's worth of parsing;
    ``box`` carries the pending FORMULA→STRING cell across records.
    ``fmt_of`` (formatted=True): ixfe → number-format code; numeric
    values render through it (DataFormatter parity)."""

    def num(d: float, ixfe: int) -> str:
        raw = _fmt_num(d)
        if fmt_of is None:
            return raw
        return _format_number(raw, fmt_of(ixfe))

    if rid == R_LABELSST:
        r, c, _xf, isst = struct.unpack_from("<HHHI", p)
        cells.setdefault(r, {})[c] = sst[isst] if isst < len(sst) else ""
    elif rid == R_NUMBER:
        r, c, ixfe = struct.unpack_from("<HHH", p)
        cells.setdefault(r, {})[c] = num(struct.unpack_from("<d", p, 6)[0], ixfe)
    elif rid == R_RK:
        r, c, ixfe = struct.unpack_from("<HHH", p)
        cells.setdefault(r, {})[c] = num(
            _decode_rk(struct.unpack_from("<I", p, 6)[0]), ixfe
        )
    elif rid == R_MULRK:
        r, c0 = struct.unpack_from("<HH", p)
        n = (len(p) - 6) // 6
        for m in range(n):
            ixfe = struct.unpack_from("<H", p, 4 + 6 * m)[0]
            rk = struct.unpack_from("<I", p, 4 + 6 * m + 2)[0]
            cells.setdefault(r, {})[c0 + m] = num(_decode_rk(rk), ixfe)
    elif rid in (R_LABEL, R_RSTRING):
        # RSTRING = LABEL + trailing formatting runs; the string parse is
        # identical and the runs are irrelevant to extracted data
        r, c = struct.unpack_from("<HH", p)
        cells.setdefault(r, {})[c] = _unicode_string_at(p, 6)
    elif rid == R_BLANK:
        r, c = struct.unpack_from("<HH", p)
        cells.setdefault(r, {})[c] = ""
    elif rid == R_MULBLANK:
        r, c0 = struct.unpack_from("<HH", p)
        n = (len(p) - 6) // 2
        for m in range(n):
            cells.setdefault(r, {})[c0 + m] = ""
    elif rid == R_BOOLERR:
        r, c, _xf, v, is_err = struct.unpack_from("<HHHBB", p)
        if is_err:
            cells.setdefault(r, {})[c] = ""
        else:
            cells.setdefault(r, {})[c] = "TRUE" if v else "FALSE"
    elif rid == R_FORMULA:
        r, c, ixfe = struct.unpack_from("<HHH", p)
        cached = p[6:14]
        if cached[6:8] == b"\xff\xff":
            kind = cached[0]
            if kind == 0:  # string result in a following STRING rec
                box[0] = (r, c)
                cells.setdefault(r, {})[c] = ""
            elif kind == 1:
                cells.setdefault(r, {})[c] = "TRUE" if cached[2] else "FALSE"
            else:  # error / empty string
                cells.setdefault(r, {})[c] = ""
        else:
            cells.setdefault(r, {})[c] = num(struct.unpack("<d", cached)[0], ixfe)
    elif rid == R_STRING and box[0] is not None:
        r, c = box[0]
        cells.setdefault(r, {})[c] = _unicode_string_at(p, 0)
        box[0] = None


# ---------------------------------------------------------------------------
# minimal BIFF8 writer (test fixtures; single Workbook stream CFB)
# ---------------------------------------------------------------------------


def _rec(rid: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rid, len(payload)) + payload


def _xl_string(s: str) -> bytes:
    try:
        raw = s.encode("latin-1")
        return struct.pack("<HB", len(s), 0) + raw
    except UnicodeEncodeError:
        return struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")


def _short_xl_string(s: str) -> bytes:
    try:
        raw = s.encode("latin-1")
        return struct.pack("<BB", len(s), 0) + raw
    except UnicodeEncodeError:
        return struct.pack("<BB", len(s), 1) + s.encode("utf-16-le")


def _bof(substream: int) -> bytes:
    return _rec(
        R_BOF, struct.pack("<HHHHII", 0x0600, substream, 0x0DBB, 0x07CC, 0, 0)
    )


def _rk_encodable(v) -> bool:
    return isinstance(v, int) and -(2**29) <= v < 2**29


def build_workbook_stream(
    sheets: dict[str, list[list[object]]],
    cell_formats: dict[tuple[str, int, int], str] | None = None,
) -> bytes:
    """BIFF8 workbook stream: globals (BOF, CODEPAGE, FORMAT*/XF*,
    BOUNDSHEET*, SST, EOF) then one substream per sheet. Strings go
    through a real SST so the reader's LABELSST path is exercised; int
    runs coalesce into MULRK (single ints RK), floats NUMBER.
    ``cell_formats`` maps (sheet, row, col) → a
    number-format code string; each distinct code gets a FORMAT record
    (ifmt from 164 up) + an XF entry, and the cell carries that ixfe —
    the fixture surface for the formatted=True scan."""
    strings: list[str] = []
    sst_index: dict[str, int] = {}

    def intern(s: str) -> int:
        if s not in sst_index:
            sst_index[s] = len(strings)
            strings.append(s)
        return sst_index[s]

    cell_formats = cell_formats or {}
    codes = list(dict.fromkeys(cell_formats.values()))
    code_ixfe = {code: i + 1 for i, code in enumerate(codes)}  # XF[0]=default
    fmt_recs = bytearray()
    for i, code in enumerate(codes):
        fmt_recs += _rec(R_FORMAT, struct.pack("<H", 164 + i) + _xl_string(code))
    xf_recs = bytearray()
    for ifmt in [0] + [164 + i for i in range(len(codes))]:
        xf = bytearray(20)
        struct.pack_into("<H", xf, 2, ifmt)
        xf_recs += _rec(R_XF, bytes(xf))

    sheet_payloads: list[bytes] = []
    for sheet_name, rows in sheets.items():
        body = bytearray()
        body += _bof(0x0010)
        n_rows = max(1, len(rows))
        n_cols = max([len(r) for r in rows] or [1])
        body += _rec(
            R_DIMENSIONS, struct.pack("<IIHHH", 0, n_rows, 0, n_cols, 0)
        )
        for r, row in enumerate(rows):
            # consecutive RK-encodable ints coalesce into ONE MULRK
            # record per run (what Excel/POI emit for numeric runs —
            # [MS-XLS] MulRk): rw, colFirst, (ixfe, rk)*, colLast
            rk_run: list[tuple[int, int]] = []  # (ixfe, rk) from col c0
            rk_c0 = 0

            def flush_rk_run() -> None:
                nonlocal body
                if not rk_run:
                    return
                if len(rk_run) == 1:
                    ixfe0, rk0 = rk_run[0]
                    body += _rec(
                        R_RK, struct.pack("<HHHI", r, rk_c0, ixfe0, rk0)
                    )
                else:
                    payload = struct.pack("<HH", r, rk_c0)
                    for ixfe0, rk0 in rk_run:
                        payload += struct.pack("<HI", ixfe0, rk0)
                    payload += struct.pack("<H", rk_c0 + len(rk_run) - 1)
                    body += _rec(R_MULRK, payload)
                rk_run.clear()

            for c, v in enumerate(row):
                if v is None:
                    flush_rk_run()
                    continue
                ixfe = code_ixfe.get(cell_formats.get((sheet_name, r, c), ""), 0)
                if not isinstance(v, bool) and _rk_encodable(v):
                    if not rk_run:
                        rk_c0 = c
                    rk_run.append((ixfe, ((v & 0x3FFFFFFF) << 2) | 0x02))
                    # BIFF records cap at 8224 payload bytes: 6 + 6k
                    # <= 8224 -> k <= 1369 (theoretical here — sheets
                    # are <=256 columns — but never emit an oversized
                    # record even for out-of-spec fixture widths)
                    if len(rk_run) == 1369:
                        flush_rk_run()  # next rk cell restarts the run
                    continue
                flush_rk_run()
                if isinstance(v, bool):
                    body += _rec(
                        R_BOOLERR, struct.pack("<HHHBB", r, c, ixfe, int(v), 0)
                    )
                elif isinstance(v, (int, float)):
                    body += _rec(
                        R_NUMBER, struct.pack("<HHH", r, c, ixfe) + struct.pack("<d", float(v))
                    )
                else:
                    body += _rec(
                        R_LABELSST, struct.pack("<HHHI", r, c, ixfe, intern(str(v)))
                    )
            flush_rk_run()
        body += _rec(R_EOF, b"")
        sheet_payloads.append(bytes(body))

    sst_payload = struct.pack("<II", len(strings), len(strings)) + b"".join(
        _xl_string(s) for s in strings
    )
    globals_tail = (
        bytes(fmt_recs) + bytes(xf_recs) + _rec(R_SST, sst_payload) + _rec(R_EOF, b"")
    )

    # BOUNDSHEET records need absolute sheet offsets → assemble twice
    names = list(sheets)
    bs_recs = [
        _rec(R_BOUNDSHEET, struct.pack("<IBB", 0, 0, 0) + _short_xl_string(n))
        for n in names
    ]
    head_len = (
        len(_bof(0x0005))
        + len(_rec(R_CODEPAGE, struct.pack("<H", 0x04B0)))
        + sum(len(b) for b in bs_recs)
        + len(globals_tail)
    )
    offsets, pos = [], head_len
    for p in sheet_payloads:
        offsets.append(pos)
        pos += len(p)
    bs_recs = [
        _rec(
            R_BOUNDSHEET,
            struct.pack("<IBB", off, 0, 0) + _short_xl_string(n),
        )
        for n, off in zip(names, offsets)
    ]
    return (
        _bof(0x0005)
        + _rec(R_CODEPAGE, struct.pack("<H", 0x04B0))
        + b"".join(bs_recs)
        + globals_tail
        + b"".join(sheet_payloads)
    )


def wrap_cfb(stream: bytes) -> bytes:
    """Wrap one stream, named ``Workbook``, in a v3 CFB container. The
    stream is zero-padded to the 4096-byte mini cutoff so it lives in
    regular FAT sectors (no mini-stream machinery needed); BIFF readers
    stop at EOF records."""
    content = stream + b"\x00" * max(0, 4096 - len(stream))
    n_stream = -(-len(content) // 512)
    n_fat = 1
    while n_fat * 128 < n_stream + 1 + n_fat:
        n_fat += 1
    dir_sector = n_fat
    stream_start = n_fat + 1

    fat = [_FATSECT] * n_fat + [_ENDOFCHAIN]  # FAT sectors + directory
    for s in range(n_stream - 1):
        fat.append(stream_start + s + 1)
    if n_stream:
        fat.append(_ENDOFCHAIN)
    fat += [_FREESECT] * (n_fat * 128 - len(fat))

    def dirent(name: str, etype: int, child: int, start: int, size: int) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        ent = bytearray(128)
        ent[0 : len(raw)] = raw
        struct.pack_into("<H", ent, 64, len(raw))
        ent[66] = etype
        ent[67] = 1  # black
        struct.pack_into("<III", ent, 68, _NOSTREAM, _NOSTREAM, child)
        struct.pack_into("<I", ent, 116, start)
        struct.pack_into("<Q", ent, 120, size)
        return bytes(ent)

    directory = (
        dirent("Root Entry", 5, 1, _ENDOFCHAIN, 0)
        + dirent("Workbook", 2, _NOSTREAM, stream_start, len(content))
        + bytes(128) * 2
    )

    header = bytearray(512)
    header[:8] = CFB_MAGIC
    struct.pack_into("<HHHHH", header, 24, 0x003E, 0x0003, 0xFFFE, 9, 6)
    struct.pack_into("<I", header, 44, n_fat)
    struct.pack_into("<I", header, 48, dir_sector)
    struct.pack_into("<I", header, 56, 4096)
    struct.pack_into("<I", header, 60, _ENDOFCHAIN)  # no mini FAT
    struct.pack_into("<I", header, 64, 0)
    struct.pack_into("<I", header, 68, _ENDOFCHAIN)  # no extra DIFAT
    struct.pack_into("<I", header, 72, 0)
    difat = [_FREESECT] * 109
    for i in range(n_fat):
        difat[i] = i
    struct.pack_into("<109I", header, 76, *difat)

    body = b"".join(struct.pack("<128I", *fat[i * 128 : (i + 1) * 128]) for i in range(n_fat))
    body += directory + b"\x00" * (512 - len(directory) % 512 if len(directory) % 512 else 0)
    body += content + b"\x00" * (-len(content) % 512)
    return bytes(header) + body


def write_xls(
    sheets: dict[str, list[list[object]]],
    path: str,
    cell_formats: dict[tuple[str, int, int], str] | None = None,
) -> None:
    """Write a .xls workbook (driver-side fixture/tool util)."""
    with open(path, "wb") as fh:
        fh.write(wrap_cfb(build_workbook_stream(sheets, cell_formats)))
