"""Byte-level PDF layout parsing: xref-driven object walk, content-stream
text-operator interpretation, and page/block/line segmentation with
font-size heading heuristics — the `pdfplumber` role (SURVEY §2.1 S2,
reference `pdf_extract.py:217-250` consumes pdfplumber's output) played
from RAW BYTES for the subset of PDF a deterministic engine can own:

- cross-reference table honored (objects located by the xref offsets the
  trailer points at, NOT by scanning for ``N 0 obj`` — compressed stream
  bytes legally contain any byte sequence, so offset-driven parsing is
  the correctness path, not a nicety);
- content streams either plain or ``/FlateDecode`` (zlib — the filter
  that covers essentially every text-bearing stream in the wild; other
  filters surface as a fail-soft empty page, the scanned-doc doctrine);
- text operators ``BT``/``ET``, ``Tf`` (font size), ``Td``/``TD``
  (RELATIVE line-origin translation — positions accumulate within a
  text object and reset at ``BT``, per PDF 32000-1 §9.4.2; TD also sets
  the leading to -ty), ``TL`` (leading), ``T*`` (next line by leading),
  ``Tm`` (text matrix: the translation components e,f set the ABSOLUTE
  line origin, and the d component scales the effective font size — the
  dominant real-world uses; full a/b/c shear/rotation composition is
  out of scope), ``Tj`` and ``'`` with the ``\\( \\) \\\\`` string
  escapes, and ``TJ`` kerning arrays (string parts concatenate into ONE
  run; a kern adjustment <= -TJ_SPACE_MILLIEMS thousandths of an em
  renders as a single space, the deterministic form of the gap
  heuristic every text extractor applies to TJ positioning);
- stated out of scope: xref streams, object streams, indirect /Length,
  CID fonts, full text-matrix composition (each would widen coverage,
  none changes the layout algorithm below).

Layout algorithm (the reference's font-size/position heuristics,
re-expressed):
1. glyph runs -> LINES: runs grouped by y within LINE_TOL, x-sorted;
2. lines -> BLOCKS: descending-y walk; a vertical gap > BLOCK_GAP_FACTOR
   x the page's modal leading, or any font-size change, starts a new
   block (the text-density segmentation step);
3. HEADING blocks: font size >= HEAD_RATIO x the document's median run
   size (the font-size heuristic — medians, not means, because one big
   cover page must not drag the body baseline).

Pure Python on bytes (no Spark imports) so the Arrow extraction stage
calls it per document and pytest drives it directly.
"""

from __future__ import annotations

import re
import zlib

LINE_TOL = 0.5          # y distance within which runs share a line
BLOCK_GAP_FACTOR = 1.5  # gap > factor x modal leading starts a new block
HEAD_RATIO = 1.3        # block font >= ratio x median run size = heading

TJ_SPACE_MILLIEMS = 180  # TJ kern <= -this (thousandths of em) -> a space

_TEXT_OP = re.compile(
    rb"BT|ET|T\*"
    rb"|/\w+\s+(?P<tf>[0-9.]+)\s+Tf"
    rb"|(?P<tl>-?[0-9.]+)\s+TL"
    rb"|(?P<tdx>-?[0-9.]+)\s+(?P<tdy>-?[0-9.]+)\s+(?P<tdop>TD|Td)"
    rb"|(?P<tm>(?:-?[0-9.]+\s+){6})Tm"
    rb"|\((?P<tj>(?:[^()\\]|\\.)*)\)\s*(?P<tjop>Tj|')"
    rb"|\[(?P<tja>(?:[^\[\]()\\]|\((?:[^()\\]|\\.)*\))*)\]\s*TJ"
)
_UNESCAPE = re.compile(rb"\\([()\\])")
_TJ_PART = re.compile(rb"\((?P<s>(?:[^()\\]|\\.)*)\)|(?P<n>-?[0-9.]+)")


def _xref_map(data: bytes) -> dict[int, int]:
    """object number -> byte offset, honoring INCREMENTAL UPDATES (PDF
    32000-1 §7.5.6): start at the LAST startxref, parse that section's
    subsection-structured entries ('start count' headers — an update's
    table lists only the objects it changed), then follow the trailer's
    /Prev chain to older sections.  Traversal is newest-first and an
    object number already seen is never overridden, so an updated
    object's NEW offset wins and a newer free ('f') entry tombstones the
    object against resurrection by an older section.  A /Prev cycle or
    garbage offset terminates the walk (fail-soft)."""
    sx = data.rfind(b"startxref")
    if sx < 0:
        return {}
    m = re.search(rb"startxref\s+(\d+)", data[sx:])
    if not m:
        return {}
    start: int | None = int(m.group(1))
    seen_sections: set[int] = set()
    result: dict[int, int | None] = {}
    head_re = re.compile(rb"(\d+)[ \t]+(\d+)[ \t]*\r?\n")
    entry_re = re.compile(rb"(\d{10}) (\d{5}) ([nf])[ \r]*\n")
    while (start is not None and start not in seen_sections
           and 0 <= start < len(data)):
        seen_sections.add(start)
        sm = re.compile(rb"xref[ \t]*\r?\n").match(data, start)
        if sm is None:
            break
        pos = sm.end()
        while True:
            hm = head_re.match(data, pos)
            if hm is None:
                break
            first, cnt = int(hm.group(1)), int(hm.group(2))
            pos = hm.end()
            for i in range(cnt):
                em = entry_re.match(data, pos)
                if em is None:
                    break
                result.setdefault(
                    first + i,
                    int(em.group(1)) if em.group(3) == b"n" else None,
                )
                pos = em.end()
        tm = re.compile(rb"\s*trailer").match(data, pos)
        start = None
        if tm is not None:
            pm = re.search(rb"/Prev[ \t]+(\d+)",
                           data[tm.end():tm.end() + 512])
            if pm is not None:
                start = int(pm.group(1))
    return {k: v for k, v in result.items() if v is not None}


def _object_at(data: bytes, off: int) -> tuple[bytes, bytes | None]:
    """(dict bytes, stream bytes or None) for the object at `off`.
    Stream length comes from /Length in the dict (direct ints only —
    offset-driven, so stream CONTENT can never confuse the walk)."""
    m = re.compile(rb"stream\r?\n|endobj").search(data, off)
    if m is None:
        return data[off:], None
    head = data[off:m.start()]
    if not m.group(0).startswith(b"stream"):
        return head, None
    lm = re.search(rb"/Length\s+(\d+)", head)
    if lm is None:
        return head, None
    body = data[m.end(): m.end() + int(lm.group(1))]
    return head, body


def _ref(head: bytes, key: bytes) -> int | None:
    m = re.search(key + rb"\s+(\d+)\s+0\s+R", head)
    return int(m.group(1)) if m else None


def _load_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """object number -> (dict bytes, stream bytes) via the xref map; an
    offset that does not land on its declared object number is skipped
    (the xref is the authority, not the bytes)."""
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    for num, off in _xref_map(data).items():
        m = re.compile(rb"(\d+)\s+0\s+obj").match(data, off)
        if not m or int(m.group(1)) != num:
            continue
        objs[num] = _object_at(data, m.end())
    return objs


def _catalog(data: bytes) -> tuple[dict, bytes | None, list[int]]:
    """(objects, catalog dict bytes or None, page object numbers in /Kids
    order): the one trailer /Root -> catalog /Pages -> /Kids walk.  A kid
    number may be dangling (no such object); callers decide whether it
    still takes a page number.  Missing pieces fail soft to no catalog
    and no kids."""
    objs = _load_objects(data)
    tm = re.search(rb"/Root\s+(\d+)\s+0\s+R", data[data.rfind(b"trailer"):])
    root = objs.get(int(tm.group(1))) if tm else None
    if root is None:
        return objs, None, []
    pages = objs.get(_ref(root[0], rb"/Pages"))
    km = re.search(rb"/Kids\s*\[([^\]]*)\]", pages[0]) if pages else None
    if km is None:
        return objs, root[0], []
    kids = [int(k.group(1))
            for k in re.finditer(rb"(\d+)\s+0\s+R", km.group(1))]
    return objs, root[0], kids


def _page_streams(data: bytes) -> list[bytes]:
    """Content-stream bytes in PAGE ORDER: each existing /Kids page's
    /Contents (dangling kids are skipped), inflating /FlateDecode.
    Unknown filters / missing pieces fail soft to []."""
    objs, _, kids = _catalog(data)
    out = []
    for num in kids:
        page = objs.get(num)
        if page is None:
            continue
        content = objs.get(_ref(page[0], rb"/Contents"))
        if content is None or content[1] is None:
            out.append(b"")
            continue
        head, body = content
        if b"/FlateDecode" in head:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                body = b""
        elif b"/Filter" in head:
            body = b""  # unsupported filter: fail-soft empty page
        out.append(body)
    return out


def _decode_str(raw: bytes) -> str:
    return _UNESCAPE.sub(rb"\1", raw).decode("latin-1", "replace")


def _tj_text(raw: bytes) -> str:
    """TJ array body -> one text string: string parts concatenate; a kern
    adjustment <= -TJ_SPACE_MILLIEMS renders as a single space (the
    word-gap form of TJ positioning), smaller adjustments are pure
    kerning and join the parts directly."""
    parts: list[str] = []
    for m in _TJ_PART.finditer(raw):
        if m.group("s") is not None:
            parts.append(_decode_str(m.group("s")))
        else:
            try:
                adj = float(m.group("n"))
            except ValueError:
                continue
            if adj <= -TJ_SPACE_MILLIEMS and parts and \
                    not parts[-1].endswith(" "):
                parts.append(" ")
    return "".join(parts)


def _runs(stream: bytes) -> list[tuple[float, float, float, str]]:
    """(x, y, size, text) glyph runs from one content stream.  Td/TD are
    relative to the current line origin; BT resets it; Tm sets it
    absolutely from the matrix translation (and scales the effective
    size by |d|); TL/TD set the leading T* and ' consume
    (PDF 32000-1 §9.4.2-9.4.3)."""
    runs = []
    x = y = 0.0
    size = 0.0
    scale = 1.0   # |d| of the last Tm: vertical text-space scale
    lead = 0.0
    for m in _TEXT_OP.finditer(stream):
        tok = m.group(0)
        if tok == b"BT":
            x = y = 0.0
            scale = 1.0
        elif tok == b"ET":
            pass
        elif tok == b"T*":
            y -= lead
        elif m.group("tf") is not None:
            size = float(m.group("tf"))
        elif m.group("tl") is not None:
            lead = float(m.group("tl"))
        elif m.group("tdx") is not None:
            x += float(m.group("tdx"))
            y += float(m.group("tdy"))
            if m.group("tdop") == b"TD":
                lead = -float(m.group("tdy"))
        elif m.group("tm") is not None:
            nums = [float(v) for v in m.group("tm").split()]
            x, y = nums[4], nums[5]
            scale = abs(nums[3])
        elif m.group("tj") is not None:
            if m.group("tjop") == b"'":
                y -= lead
            runs.append((x, y, size * scale, _decode_str(m.group("tj"))))
        elif m.group("tja") is not None:
            text = _tj_text(m.group("tja"))
            if text:
                runs.append((x, y, size * scale, text))
    return runs


def _line_runs(
    runs: list[tuple[float, float, float, str]],
) -> list[list[tuple[float, float, float, str]]]:
    """Runs -> lines of runs in reading order — the one place the
    run->line rule lives: runs sorted top-down then left-right, and a
    run joins the current line when its y is within LINE_TOL of the
    line's first run (parse_layout, page_char_counts and both table
    strategies see the same lines)."""
    lines: list[list[tuple[float, float, float, str]]] = []
    for r in sorted(runs, key=lambda r: (-r[1], r[0])):
        if lines and abs(lines[-1][0][1] - r[1]) <= LINE_TOL:
            lines[-1].append(r)
        else:
            lines.append([r])
    return lines


def _group_lines(
    runs: list[tuple[float, float, float, str]],
) -> list[tuple[float, float, str]]:
    """Runs -> (y, size, text) lines over _line_runs: the first run's y,
    the largest run size, run texts joined with single spaces."""
    return [
        (line[0][1], max(r[2] for r in line), " ".join(r[3] for r in line))
        for line in _line_runs(runs)
    ]


def page_char_counts(data: bytes) -> list[int]:
    """Per-page extracted-text character counts IN PAGE ORDER, including
    pages whose content stream yields zero text runs (they count as 0 —
    parse_layout emits no rows for them, which is exactly why the
    scanned audit must not derive page presence from layout rows: an
    image-only page with no text operators would otherwise vanish from
    the page count instead of counting as sparse).  Characters are the
    line texts _group_lines builds (runs joined by single spaces), the
    same text every other consumer sees."""
    return [
        sum(len(t) for _, _, t in _group_lines(_runs(stream)))
        for stream in _page_streams(data)
    ]


def parse_layout(data: bytes) -> list[dict]:
    """bytes -> flat line records:
    ``{page_no, block_id, line_id, font_tenths, y_tenths, is_heading,
    text}`` — the page/block/line segmentation with the font-size
    heading heuristic, deterministic and codec-free."""
    streams = _page_streams(data)
    all_sizes: list[float] = []
    pages: list[list[tuple[float, float, str]]] = []  # (y, size, text) lines
    for stream in streams:
        runs = _runs(stream)
        all_sizes.extend(r[2] for r in runs)
        pages.append(_group_lines(runs))
    if not all_sizes:
        return []
    med = sorted(all_sizes)[len(all_sizes) // 2]
    out = []
    for page_no, lines in enumerate(pages):
        # modal leading: most common gap between consecutive lines
        gaps = [
            round(lines[i][0] - lines[i + 1][0], 3)
            for i in range(len(lines) - 1)
        ]
        pos_gaps = [g for g in gaps if g > 0]
        lead = (
            max(set(pos_gaps), key=lambda g: (pos_gaps.count(g), -g))
            if pos_gaps else 0.0
        )
        block_id = -1
        line_id = 0
        prev_y = prev_size = None
        for ly, lsize, ltext in lines:
            new_block = (
                prev_y is None
                or lsize != prev_size
                or (lead > 0 and prev_y - ly > BLOCK_GAP_FACTOR * lead)
            )
            if new_block:
                block_id += 1
                line_id = 0
            out.append({
                "page_no": page_no,
                "block_id": block_id,
                "line_id": line_id,
                "font_tenths": int(round(lsize * 10)),
                "y_tenths": int(round(ly * 10)),
                "is_heading": lsize >= HEAD_RATIO * med,
                "text": ltext,
            })
            line_id += 1
            prev_y, prev_size = ly, lsize
    return out


# ---------------------------------------------------------------------------
# Table extraction from layout runs — the pdfplumber `extract_tables` role
# (reference pdf_extract.py:217-250 consumes it) re-expressed over the
# parsed glyph runs: a table is a maximal band of consecutive lines that
# each carry >= 2 x-aligned runs; columns are the rank of a run's x start
# within the band's distinct x starts.  Ragged rows are allowed (a row may
# skip a column) — the downstream collapse operators (core/tables.py T1+)
# exist precisely because real extractions are ragged.
# ---------------------------------------------------------------------------

TABLE_MIN_COLS = 2   # a line needs >= 2 runs to smell tabular
X_TOL = 0.5          # x starts within this collapse to one column
RULE_TOL = 1.0       # ruling coordinates within this merge to one grid line
RULED_SPLIT_GAP = 40.0  # h-ruling y gap above this splits into two tables

# The reference's financial-page hint (`pdf_extract.py:20-28`
# _FINANCIAL_HINT): the gate on its text-strategy table retry
# (`pdf_extract.py:240-247`) — when the line strategy finds nothing on a
# page whose text smells like financial statements, retry with alignment
FINANCIAL_HINT_RE = re.compile(
    r"(?:total\s+(?:assets|liabilities|revenue|equity)|"
    r"net\s+(?:income|loss|cash)|"
    r"operating\s+(?:income|expenses|activities)|"
    r"cash\s+and\s+cash\s+equivalents|"
    r"balance\s+sheets?|"
    r"statements?\s+of\s+(?:income|operations|cash\s+flows?))",
    re.IGNORECASE,
)

# path operators for ruling detection; string literals consumed first so
# a bare s/f/B inside shown text can never read as a paint operator
_RULE_OP = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"
    rb"|(?P<mx>-?[0-9.]+)\s+(?P<my>-?[0-9.]+)\s+m(?![\w*])"
    rb"|(?P<lx>-?[0-9.]+)\s+(?P<ly>-?[0-9.]+)\s+l(?![\w*])"
    rb"|(?P<rx>-?[0-9.]+)\s+(?P<ry>-?[0-9.]+)\s+(?P<rw>-?[0-9.]+)\s+"
    rb"(?P<rh>-?[0-9.]+)\s+re(?![\w*])"
    rb"|(?<![\w*)])(?P<paint>[SsBbFfn]\*?)(?![\w*])"
)


def _rulings(stream: bytes) -> tuple[list, list]:
    """(horizontal, vertical) painted ruling segments from the content
    stream's path operators: m/l subpaths and re rectangle edges,
    committed by a painting operator (S s B b f F; n discards — it is
    the no-paint clip op).  Horizontal = (y, x0, x1); vertical =
    (x, y0, y1).  Diagonals are decoration, not rules: dropped."""
    h: list[tuple[float, float, float]] = []
    v: list[tuple[float, float, float]] = []
    pend: list[tuple[float, float, float, float]] = []
    cx = cy = None
    for m in _RULE_OP.finditer(stream):
        if m.group("mx") is not None:
            cx, cy = float(m.group("mx")), float(m.group("my"))
        elif m.group("lx") is not None:
            nx, ny = float(m.group("lx")), float(m.group("ly"))
            if cx is not None:
                pend.append((cx, cy, nx, ny))
            cx, cy = nx, ny
        elif m.group("rx") is not None:
            x0, y0 = float(m.group("rx")), float(m.group("ry"))
            w, hh = float(m.group("rw")), float(m.group("rh"))
            pend += [(x0, y0, x0 + w, y0), (x0, y0 + hh, x0 + w, y0 + hh),
                     (x0, y0, x0, y0 + hh), (x0 + w, y0, x0 + w, y0 + hh)]
        elif m.group("paint") is not None:
            if not m.group("paint").startswith(b"n"):
                for x0, y0, x1, y1 in pend:
                    if abs(y1 - y0) <= RULE_TOL and abs(x1 - x0) > RULE_TOL:
                        h.append((y0, min(x0, x1), max(x0, x1)))
                    elif (abs(x1 - x0) <= RULE_TOL
                          and abs(y1 - y0) > RULE_TOL):
                        v.append((x0, min(y0, y1), max(y0, y1)))
            pend = []
            cx = cy = None
    return h, v


def _cluster(vals: list[float]) -> list[float]:
    out: list[float] = []
    for val in sorted(vals):
        if not out or val - out[-1] > RULE_TOL:
            out.append(val)
    return out


def _ruled_cells(
    runs: list, h: list, v: list, page_no: int
) -> list[dict]:
    """pdfplumber's default "lines" strategy, byte-level: horizontal
    rulings clustered by y and split into table grids at vertical gaps >
    RULED_SPLIT_GAP; each grid with >= 2 h-rulings and >= 2 v-rulings
    (those whose span overlaps the grid's y-range) defines row bands
    (between consecutive h-lines, top-down) and column bands (between
    consecutive v-lines, left-right); text runs inside a band pair
    become the cell, multiple runs joined in reading order.  Emits the
    same record shape as the text-strategy band path so downstream
    T-operators cannot tell the strategies apart."""
    ys = _cluster([s[0] for s in h])
    if len(ys) < 2 or not v:
        return []
    ys = ys[::-1]  # top-down
    # split into grids at large vertical gaps
    grids: list[list[float]] = [[ys[0]]]
    for y in ys[1:]:
        if grids[-1][-1] - y > RULED_SPLIT_GAP:
            grids.append([y])
        else:
            grids[-1].append(y)
    out: list[dict] = []
    table_id = -1
    for gys in grids:
        if len(gys) < 2:
            continue
        top, bot = gys[0], gys[-1]
        xs = _cluster([
            s[0] for s in v
            if s[1] <= top + RULE_TOL and s[2] >= bot - RULE_TOL
        ])
        if len(xs) < 2:
            continue
        cells: dict[tuple[int, int], list] = {}
        for r in runs:
            rx, ry = r[0], r[1]
            if not (bot <= ry <= top and xs[0] <= rx <= xs[-1]):
                continue
            # a run ON the bottom h-ruling or the rightmost v-ruling
            # belongs to the band it borders, not to no band at all
            row = next((i for i in range(len(gys) - 2)
                        if ry > gys[i + 1]), len(gys) - 2)
            col = next((j for j in range(len(xs) - 2)
                        if rx < xs[j + 1]), len(xs) - 2)
            cells.setdefault((row, col), []).append(r)
        if not cells:
            continue
        table_id += 1
        for (row, col), rs in sorted(cells.items()):
            rs.sort(key=lambda r: (-r[1], r[0]))
            out.append({
                "page_no": page_no, "table_id": table_id,
                "row": row, "col": col,
                "x_tenths": int(round(rs[0][0] * 10)),
                "y_tenths": int(round(rs[0][1] * 10)),
                "text": " ".join(r[3] for r in rs),
            })
    return out


def parse_tables(data: bytes) -> list[dict]:
    """bytes -> flat cell records ``{page_no, table_id, row, col,
    x_tenths, y_tenths, text}`` — the reference's two-strategy page
    policy (`pdf_extract.py:236-247`), byte-level: the ruled "lines"
    strategy runs FIRST (painted path rulings define the grid, the
    pdfplumber default); when it finds nothing on a page whose text
    matches FINANCIAL_HINT_RE, the text-alignment band strategy runs as
    the retry — a financially-hinted page never silently loses its
    unruled table, and an unhinted unruled page yields none (exactly the
    reference's behavior).  In the band strategy, single-run lines
    (headings, prose) break the band and are not cells; table_id counts
    tables per page in reading order under either strategy."""
    out = []
    for page_no, stream in enumerate(_page_streams(data)):
        _, cells = _page_tables(stream, page_no)
        out.extend(cells)
    return out


def table_strategy(data: bytes) -> str:
    """'ruled' | 'text_retry' | 'none' — which path of the two-strategy
    policy produced this document's tables, doc-level with precedence
    ruled > text_retry > none over its pages: the observability face of
    parse_tables (strategy drift in a corpus shows up as a verdict-mix
    diff, not a silent cell-count change)."""
    strategies = set()
    for page_no, stream in enumerate(_page_streams(data)):
        strategy, cells = _page_tables(stream, page_no)
        if cells:
            strategies.add(strategy)
    if "ruled" in strategies:
        return "ruled"
    if "text_retry" in strategies:
        return "text_retry"
    return "none"


def _page_tables(stream: bytes, page_no: int) -> tuple[str, list[dict]]:
    """One page through the two-strategy policy: ('ruled'|'text_retry'|
    'none', cell records)."""
    runs = _runs(stream)
    ruled = _ruled_cells(runs, *_rulings(stream), page_no)
    if ruled:
        return "ruled", ruled
    lines = _line_runs(runs)
    # the hint reads the page in reading order, not content-stream order
    if not FINANCIAL_HINT_RE.search(
            " ".join(r[3] for line in lines for r in line)):
        return "none", []
    out: list[dict] = []
    table_id = -1
    band: list[list[tuple[float, float, float, str]]] = []

    def flush():
        nonlocal table_id
        if not band:
            return
        table_id += 1
        # columns: rank of x start within the band's distinct xs
        xs: list[float] = []
        for line in band:
            for run in line:
                if not any(abs(run[0] - x) <= X_TOL for x in xs):
                    xs.append(run[0])
        xs.sort()
        for row, line in enumerate(band):
            for run in sorted(line, key=lambda r: r[0]):
                col = next(i for i, x in enumerate(xs)
                           if abs(run[0] - x) <= X_TOL)
                out.append({
                    "page_no": page_no, "table_id": table_id,
                    "row": row, "col": col,
                    "x_tenths": int(round(run[0] * 10)),
                    "y_tenths": int(round(run[1] * 10)),
                    "text": run[3],
                })
        band.clear()

    for line in lines:
        if len(line) >= TABLE_MIN_COLS:
            band.append(line)
        else:
            flush()
    flush()
    return ("text_retry" if out else "none"), out


# ---------------------------------------------------------------------------
# Document outline (bookmarks) — PDF 32000-1 §12.3.3: the author-declared
# TOC as linked item objects (/First child, /Next sibling, /Title).  The
# native complement to the reference's TOC-page HEURISTICS (F3/F4 detect a
# rendered TOC in page text); when a real outline exists, it is the
# authoritative section structure and the heuristics are the fallback.
# ---------------------------------------------------------------------------

OUTLINE_MAX_ITEMS = 1000   # cycle/garbage guard on the link walk


def parse_outline(data: bytes) -> list[dict]:
    """bytes -> pre-order outline records ``{ord, level, title}`` — a
    depth-first walk over /First (child) before /Next (sibling), titles
    unescaped; cycles and dangling refs terminate fail-soft."""
    objs, root, _ = _catalog(data)
    ol = objs.get(_ref(root, rb"/Outlines")) if root is not None else None
    if ol is None:
        return []
    out: list[dict] = []
    seen: set[int] = set()
    stack: list[tuple[int | None, int]] = [(_ref(ol[0], rb"/First"), 0)]
    while stack and len(out) < OUTLINE_MAX_ITEMS:
        ref, level = stack.pop()
        if ref is None or ref in seen:
            continue
        seen.add(ref)
        item = objs.get(ref)
        if item is None:
            continue
        m = re.search(rb"/Title\s*\(((?:[^()\\]|\\.)*)\)", item[0])
        title = _decode_str(m.group(1)) if m else ""
        out.append({"ord": len(out), "level": level, "title": title})
        # push sibling FIRST so the child (pushed last) pops next:
        # pre-order, /First before /Next
        stack.append((_ref(item[0], rb"/Next"), level))
        stack.append((_ref(item[0], rb"/First"), level + 1))
    return out


def parse_links(data: bytes) -> list[dict]:
    """bytes -> link-annotation records ``{page_no, ord, uri}`` — PDF
    32000-1 §12.5.6.5 /Link annotations with §12.6.4.7 /URI actions, in
    page order then /Annots array order: the OUTLINK channel of the PDF
    ingress (a crawler that only parses <a href> never sees the links
    inside the web's PDFs).  Non-link annots and non-URI actions are
    skipped; dangling refs fail soft."""
    objs, _, kids = _catalog(data)
    out = []
    for page_no, num in enumerate(kids):  # a dangling kid keeps its number
        page = objs.get(num)
        if page is None:
            continue
        am = re.search(rb"/Annots\s*\[([^\]]*)\]", page[0])
        if not am:
            continue
        ord_ = 0
        for aref in re.finditer(rb"(\d+)\s+0\s+R", am.group(1)):
            annot = objs.get(int(aref.group(1)))
            if annot is None or b"/Subtype /Link" not in annot[0]:
                continue
            um = re.search(rb"/URI\s*\(((?:[^()\\]|\\.)*)\)", annot[0])
            if um is None:
                continue
            out.append({"page_no": page_no, "ord": ord_,
                        "uri": _decode_str(um.group(1))})
            ord_ += 1
    return out
