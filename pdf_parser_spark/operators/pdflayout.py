"""PDF layout extraction over a corpus: deterministic PDF synthesis +
the Arrow stage that runs the `core.pdflayout` parsers per document.

This is the byte-level half of the north rule's "PDF layout parsing
(page/block/line segmentation, font-size and position heuristics)": the
reference delegates bytes->runs to pdfplumber (SURVEY §2.1 S2,
`pdf_extract.py:217-250`) and owns everything after; here the engine
owns the bytes too — xref-driven object walk, FlateDecode inflation,
text-operator interpretation — inside ONE Arrow stage, so at
10^12 documents the whole parse rides the scan with no shuffle and no
per-row Python (one Arrow batch = many documents, the same shape as the
extraction pipeline's stage).

The module has one of each piece: one PDF writer (`_write_pdf` over
numbered object bodies, `_stream` for content streams) behind every
`make_*` synthesizer; the synthesis stage (`bytestage.synthesize`) behind
every `synthetic_*` face and the per-document parse stage
(`bytestage.parse_stage`) behind every `pdf_*` face are the Arrow stage
pair `operators/multimodal.py` uses too — each face differs only in the
payload function or the `core.pdflayout` parser it plugs in, and orders
its own output.  A null payload parses as b"" (zero pages: zero rows, or
the zero-page verdict of the per-document audits).  No face fuses
several parsers over one frame: every caller runs one face per media
frame, so a fused kernel would only add work.

Synthesis doctrine: every structural knob (page count, paragraph line
counts, Flate vs plain, parenthesis escapes) is doc_id arithmetic the
SQL oracle re-derives, so the face hash-checks the parser's geometry —
a Td accumulation bug, an escape slip, a block-gap threshold change, or
an xref off-by-one all mismatch.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.core.classify import SCAN_MIN_CHARS, SCAN_THRESHOLD_BP
from pdf_parser_spark.core.pdflayout import (
    page_char_counts, parse_layout, parse_links, parse_outline, parse_tables,
    table_strategy,
)
from pdf_parser_spark.operators.bytestage import parse_stage, synthesize

PDF_CORRUPT_MOD = 13   # doc_id % 13 == 0 -> no parseable xref: zero rows
_NO_XREF = b"%PDF-1.4\nno xref"  # the corrupt payload of every face but one

# layout geometry shared by synthesis and the SQL oracle (tenths = x10)
HEAD_Y, HEAD_SIZE = 720, 18
P1_Y, P2_Y, BODY_SIZE, LEADING = 680, 560, 10, 14


def _esc(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


TJ_FLAVOR_MOD = 7  # doc_id % 7 == 5 pages use TJ/Tm/TL/T* operators


def _content_stream(doc_id: int, p: int) -> bytes:
    """Two operator FLAVORS over the SAME line grid (so every layout/text/
    scanned oracle is flavor-blind): the default writes Td/Tj chains; doc_id
    % TJ_FLAVOR_MOD == 5 writes the r5 operator set — the heading via an
    absolute `Tm`, paragraph "one" via `TL` + `T*` leading advances with its
    first line as a TJ KERNING ARRAY (an intra-word -40 kern that must join
    silently and a -250 word-gap kern that must render as the space) —
    producing byte-identical extracted lines, which puts the TJ/Tm/TL/T*
    interpreter under the cross-engine hash of p_pdf_layout / p_pdf_text /
    p_pdf_scanned, not just pytest."""
    alt = doc_id % TJ_FLAVOR_MOD == 5
    k1 = 2 + (doc_id + p) % 3
    k2 = 1 + (doc_id + p) % 2
    head_txt = _esc(f"Heading {p} of doc {doc_id}")
    if alt:
        parts = [
            b"BT /F1 %d Tf 1 0 0 1 72 %d Tm (" % (HEAD_SIZE, HEAD_Y)
            + head_txt + b") Tj ET"
        ]
    else:
        parts = [
            b"BT /F1 %d Tf 72 %d Td (" % (HEAD_SIZE, HEAD_Y)
            + head_txt + b") Tj ET"
        ]
    for start_y, k, tag in ((P1_Y, k1, "one"), (P2_Y, k2, "two")):
        ops = [b"BT /F1 %d Tf 72 %d Td" % (BODY_SIZE, start_y)]
        if alt and tag == "one":
            ops.append(b"%d TL" % LEADING)
        for i in range(k):
            if i:
                ops.append(b"T*" if alt and tag == "one"
                           else b"0 -%d Td" % LEADING)
            text = f"Body (para {tag}) line {i} of {doc_id}"
            if alt and tag == "one" and i == 0:
                # TJ array: "Bo|dy| |rest" — -40 joins, -250 spaces
                rest = text[5:]  # after "Body "
                ops.append(
                    b"[(Bo) -40 (dy) -250 (" + _esc(rest) + b")] TJ")
            else:
                ops.append(b"(" + _esc(text) + b") Tj")
        ops.append(b"ET")
        parts.append(b" ".join(ops))
    return b"\n".join(parts)


def _write_pdf(bodies: list[bytes]) -> bytes:
    """The one PDF writer: `bodies[i]` is object i + 1, written in number
    order after the header, then a correct xref table, a trailer whose
    /Root is object 1, and startxref."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(bodies, start=1):
        offsets.append(len(out))
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")
    xref_at = len(out)
    out.extend(b"xref\n0 %d\n" % (len(bodies) + 1))
    out.extend(b"0000000000 65535 f \n")
    for off in offsets:
        out.extend(b"%010d 00000 n \n" % off)
    out.extend(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(bodies) + 1, xref_at)
    )
    return bytes(out)


def _stream(content: bytes, flate: bool) -> bytes:
    """A content-stream object body, FlateDecode-compressed when `flate`."""
    filt = b""
    if flate:
        content, filt = zlib.compress(content), b" /Filter /FlateDecode"
    return (b"<< /Length %d%s >>\nstream\n" % (len(content), filt)
            + content + b"\nendstream")


def _page_tree(pages: list[bytes], flate: bool = False) -> list[bytes]:
    """Object bodies of catalog (1) -> pages (2) -> one page/contents
    pair per content stream (3 + 2p, 4 + 2p)."""
    kids = b" ".join(b"%d 0 R" % (3 + 2 * p) for p in range(len(pages)))
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % len(pages),
    ]
    for p, content in enumerate(pages):
        bodies.append(b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>"
                      % (4 + 2 * p))
        bodies.append(_stream(content, flate))
    return bodies


def make_pdf(doc_id: int) -> bytes:
    """A real (minimal) PDF 1.4: catalog, pages tree, one page object +
    content stream per page (FlateDecode for even doc_ids, plain
    otherwise), a correct xref table, trailer, startxref."""
    n_pages = 1 if doc_id % 4 == 3 else 2
    return _write_pdf(_page_tree(
        [_content_stream(doc_id, p) for p in range(n_pages)],
        flate=doc_id % 2 == 0))


def synthetic_pdf_payload(doc_id: int) -> bytes:
    if doc_id % PDF_CORRUPT_MOD == 0:
        return b"%PDF-1.4\ntruncated, no xref"
    return make_pdf(doc_id)


def _no_xref_or(make):
    """payload_fn: the corrupt _NO_XREF bytes for doc_id % PDF_CORRUPT_MOD
    == 0, make(doc_id) otherwise."""
    return lambda d: _NO_XREF if d % PDF_CORRUPT_MOD == 0 else make(d)


def synthetic_pdfs(df: DataFrame) -> DataFrame:
    return synthesize(df, synthetic_pdf_payload)


LAYOUT_SCHEMA = (
    "doc_id long, page_no int, block_id int, line_id int,"
    " font_tenths int, y_tenths int, is_heading boolean, text string"
)


def pdf_layout(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, page_no, block_id, line_id, font_tenths, y_tenths,
    is_heading, text) — one row per segmented LINE across the corpus.
    One Arrow stage over (doc_id, payload): bytes -> xref walk ->
    inflate -> text runs -> line/block segmentation -> heading flags,
    all inside `core.pdflayout.parse_layout`; corrupt documents yield
    zero rows (fail-soft, the scanned-doc doctrine)."""
    return parse_stage(media, payload_col, parse_layout, LAYOUT_SCHEMA
                       ).orderBy("doc_id", "page_no", "block_id", "line_id")


def pdf_text(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, n_pages, n_blocks, n_headings, text) — reading-order text
    assembly on top of the layout parse, the per-document 'extracted
    text' contract (byte-identical text per document, the north rule's
    invariant): lines join with \\n inside a block, blocks with a blank
    line, pages with \\f (the pdftotext page separator the extraction
    pipeline's PAGE_SEP already speaks — this face's output drops
    straight into the pages shape).

    The assembly is three JVM aggregations OVER the layout rows — line ->
    block -> page -> document — not a second Python pass, with in-group
    order made explicit everywhere (array_sort on (line/block/page) key
    structs, never a shuffle-order accident)."""

    def _joined(key_col, text_col, sep):
        return F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct(key_col, text_col))),
                lambda s: s[text_col],
            ),
        )

    lay = pdf_layout(media, payload_col)
    blocks = (
        lay.groupBy("doc_id", "page_no", "block_id")
        .agg(
            _joined("line_id", "text", "\n").alias("block_text"),
            F.max(F.col("is_heading").cast("int")).alias("is_heading"),
        )
    )
    pages = (
        blocks.groupBy("doc_id", "page_no")
        .agg(
            _joined("block_id", "block_text", "\n\n").alias("page_text"),
            F.count("*").cast("long").alias("n_blocks"),
            F.sum("is_heading").cast("long").alias("n_headings"),
        )
    )
    return (
        pages.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum("n_blocks").cast("long").alias("n_blocks"),
            F.sum("n_headings").cast("long").alias("n_headings"),
            _joined("page_no", "page_text", "\f").alias("text"),
        )
        .orderBy("doc_id")
    )


# --- table-bearing PDFs: synthesis + the table-extraction Arrow stage ----

T0_Y, T1_Y, COL_X0, COL_W, ROW_LEAD = 600, 350, 72, 90, 20


RULED_MOD = 5  # doc_id % 5 == 2 tables are RULED (line-strategy flavor)


def make_table_pdf(doc_id: int) -> bytes:
    """One page: a heading line, table 0 (R = 2 + d%3 rows x C = 2 + d%2
    cols, one BT per row with HORIZONTAL Td hops between cells — x
    accumulation is part of what the parser must get right), a single-run
    prose line that must BREAK the band, then table 1 (1 + d%2 rows x 2
    cols).

    Two detection flavors over the SAME cell grid (so the oracle's cell
    arithmetic is flavor-blind): doc_id % RULED_MOD == 2 docs draw
    painted ruling segments around every row/column band — the ruled
    "lines" strategy extracts them with NO financial hint present —
    while all other docs carry no rulings plus a financial-hint prose
    line, so their tables are reachable ONLY through the reference's
    hint-gated text-strategy retry."""
    r0 = 2 + doc_id % 3
    c0 = 2 + doc_id % 2
    r1 = 1 + doc_id % 2
    ruled = doc_id % RULED_MOD == 2
    parts = [
        b"BT /F1 18 Tf 72 700 Td ("
        + _esc(f"Tables of doc {doc_id}") + b") Tj ET"
    ]

    def row_ops(y, row, ncols, tag):
        ops = [b"BT /F1 10 Tf %d %d Td" % (COL_X0, y)]
        for c in range(ncols):
            if c:
                ops.append(b"%d 0 Td" % COL_W)
            ops.append(b"(" + _esc(f"{tag}{row}_{c}_{doc_id}") + b") Tj")
        ops.append(b"ET")
        return b" ".join(ops)

    def grid_ops(top_y, nrows, ncols):
        # h-rulings 4pt above each baseline and one below the last;
        # v-rulings 4pt left of each column and one right of the last
        ys = [top_y + 4 - ROW_LEAD * r for r in range(nrows + 1)]
        xs = [COL_X0 - 4 + COL_W * c for c in range(ncols + 1)]
        ops = []
        for y in ys:
            ops.append(b"%d %d m %d %d l S" % (xs[0], y, xs[-1], y))
        for x in xs:
            ops.append(b"%d %d m %d %d l S" % (x, ys[-1], x, ys[0]))
        return b" ".join(ops)

    if ruled:
        parts.append(grid_ops(T0_Y, r0, c0))
        parts.append(grid_ops(T1_Y, r1, 2))
    for r in range(r0):
        parts.append(row_ops(T0_Y - ROW_LEAD * r, r, c0, "a"))
    parts.append(b"BT /F1 10 Tf 72 450 Td ("
                 + _esc(f"prose between tables {doc_id}") + b") Tj ET")
    for r in range(r1):
        parts.append(row_ops(T1_Y - ROW_LEAD * r, r, 2, "b"))
    if not ruled:
        parts.append(b"BT /F1 10 Tf 72 60 Td ("
                     + _esc(f"Statements of operations {doc_id}")
                     + b") Tj ET")
    return _write_pdf(_page_tree([b"\n".join(parts)],
                                 flate=doc_id % 2 == 0))


def synthetic_table_pdfs(df: DataFrame) -> DataFrame:
    return synthesize(df, _no_xref_or(make_table_pdf))


TABLES_SCHEMA = (
    "doc_id long, page_no int, table_id int, row int, col int,"
    " x_tenths int, y_tenths int, text string"
)


def pdf_tables(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, page_no, table_id, row, col, x_tenths, y_tenths, text) —
    one row per table CELL across the corpus, the pdfplumber
    `extract_tables` role from raw bytes: bands of consecutive >= 2-run
    lines are tables, columns are x-start ranks within the band, and
    single-run lines (headings, prose) break bands.  The output's ragged
    3-level nesting is exactly what the reference's table-collapse
    operators (core/tables.py T1+) consume.  Same one-Arrow-stage shape
    as pdf_layout; corrupt documents yield zero rows."""
    return parse_stage(media, payload_col, parse_tables, TABLES_SCHEMA
                       ).orderBy("doc_id", "page_no", "table_id", "row", "col")


# --- scanned-document rejection from raw bytes (reference S3) ------------

# SCAN_MIN_CHARS / SCAN_THRESHOLD_BP are imported from core.classify, the
# rule's one home (the flagship's is_scanned reads the same two numbers),
# and stay importable from here for the p_pdf_scanned oracle


def make_scan_pdf(doc_id: int) -> bytes:
    """Scanned-fleet synthesis on top of make_pdf's machinery: %6==1
    docs are FULLY scanned (every page carries only an OCR'd page-number
    run), %6==3 docs are half-scanned (page 0 real, page 1 number-only —
    50% sparse, below the 80% rule), everything else is make_pdf's real
    text."""
    k = doc_id % 6
    if k not in (1, 3):
        return make_pdf(doc_id)
    n_pages = 1 if doc_id % 4 == 3 else 2
    pages = []
    for p in range(n_pages):
        if k == 1 or p > 0:
            pages.append(b"BT /F1 8 Tf 300 30 Td (%d) Tj ET" % (p + 1))
        else:
            pages.append(_content_stream(doc_id, p))
    return assemble_pdf(pages)


def assemble_pdf(pages: list[bytes]) -> bytes:
    """Assemble a minimal well-formed PDF from raw per-page content
    streams (catalog -> pages -> page/contents pairs -> xref -> trailer)
    — the synthesis backbone behind make_scan_pdf, exposed so tests can
    build arbitrary page mixes (boundary sparse ratios, zero-run
    pages)."""
    return _write_pdf(_page_tree(pages))


def synthetic_scan_pdfs(df: DataFrame) -> DataFrame:
    return synthesize(df, _no_xref_or(make_scan_pdf))


def _scan_verdict(data: bytes) -> list[dict]:
    """One record per document: its page and sparse-page counts, the
    exact integer sparse basis points (10000 for zero pages) and the
    strict > SCAN_THRESHOLD_BP verdict."""
    chars = page_char_counts(data)
    n_sparse = sum(1 for c in chars if c < SCAN_MIN_CHARS)
    bp = 10000 * n_sparse // len(chars) if chars else 10000
    return [{"n_pages": len(chars), "n_sparse_pages": n_sparse,
             "sparse_bp": bp, "scanned": bp > SCAN_THRESHOLD_BP}]


def pdf_scanned_audit(media: DataFrame,
                      payload_col: str = "payload") -> DataFrame:
    """(doc_id, n_pages, n_sparse_pages, sparse_bp, scanned) — the
    reference's scanned-PDF rejection (S3, `detect_scanned`
    `pdf_extract.py:253-266`: reject when STRICTLY more than 80% of
    pages have < 50 chars — at exactly 80% sparse the reference
    accepts, and so does this audit) re-expressed fail-soft from RAW
    BYTES: per page, total extracted chars via page_char_counts, which
    counts pages INDEPENDENTLY of whether they yield text runs — a
    parsed page whose content stream has zero text operators (image-only
    with no OCR layer) counts as a 0-char sparse page instead of
    vanishing from the denominator, matching the reference's
    len(text) < 50 rule on an empty string.  A page under SCAN_MIN_CHARS
    is sparse; a document STRICTLY above SCAN_THRESHOLD_BP sparse pages
    flags `scanned` and routes to the errors/lineage sink instead of
    raising (the per-row status doctrine that replaced the reference's
    try/except).  Exact integer bp; documents whose bytes parse to zero
    pages (corrupt xref) count as scanned with n_pages 0 — unparseable
    and image-only land in the same reject lane.

    ONE Arrow stage emitting the per-doc verdict record directly — the
    per-doc fold is bounded by page count and happens inside the kernel,
    so there is no groupBy, no join, no shuffle at all before the
    presentation sort."""
    return parse_stage(
        media, payload_col, _scan_verdict,
        "doc_id long, n_pages long, n_sparse_pages long, sparse_bp long,"
        " scanned boolean").orderBy("doc_id")


# --- outline-bearing PDFs: synthesis + the outline Arrow stage -----------


def make_outline_pdf(doc_id: int) -> bytes:
    """One-page PDF whose catalog carries a document outline: nc = 1 +
    d%3 chapters, chapter i followed by one child section iff (d+i)%2 —
    items as real /First//Next linked objects in pre-order ids."""
    nc = 1 + doc_id % 3
    kids = [(doc_id + i) % 2 for i in range(nc)]
    # pre-order item ids starting at 6
    chap_ids = []
    nxt = 6
    for i in range(nc):
        chap_ids.append(nxt)
        nxt += 1 + kids[i]
    items = []  # bodies of objects 6.., in pre-order = number order
    for i in range(nc):
        cid = chap_ids[i]
        nxt_ref = (b" /Next %d 0 R" % chap_ids[i + 1]
                   if i + 1 < nc else b"")
        first_ref = b" /First %d 0 R /Count 1" % (cid + 1) if kids[i] else b""
        items.append(b"<< /Title (" + _esc(
            f"Chapter {i} of {doc_id}") + b") /Parent 5 0 R"
            + first_ref + nxt_ref + b" >>")
        if kids[i]:
            items.append(b"<< /Title (" + _esc(
                f"Section {i}.0 of {doc_id}")
                + b") /Parent %d 0 R >>" % cid)
    bodies = _page_tree([_content_stream(doc_id, 0)])
    bodies[0] = b"<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>"
    bodies.append(b"<< /Type /Outlines /First %d 0 R /Last %d 0 R"
                  b" /Count %d >>" % (chap_ids[0], chap_ids[-1], nc))
    return _write_pdf(bodies + items)


def synthetic_outline_pdfs(df: DataFrame) -> DataFrame:
    """%13 corrupt; %5==2 docs have NO outline (plain make_pdf — the
    heuristics-fallback population); everything else carries one."""
    return synthesize(df, _no_xref_or(
        lambda d: make_pdf(d) if d % 5 == 2 else make_outline_pdf(d)))


def pdf_outline(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, ord, level, title) — the author-declared outline
    (PDF §12.3.3 bookmarks) in pre-order: the AUTHORITATIVE section
    structure when present, with the reference's TOC-page heuristics
    (F3/F4) as the fallback for the (many) documents without one — both
    routes now exist in this engine, which is precisely how a production
    extractor chooses.  Same one-Arrow-stage shape; outline-less and
    corrupt documents yield zero rows."""
    return parse_stage(media, payload_col, parse_outline,
                       "doc_id long, ord int, level int, title string"
                       ).orderBy("doc_id", "ord")


# --- link-annotation PDFs: synthesis + the outlink Arrow stage -----------


def make_link_pdf(doc_id: int) -> bytes:
    """One-page PDF whose page carries /Annots: k = 1 + d%3 /Link
    annotations with /URI actions (targets doc_id-derived), plus one
    non-link annot (a /Square) and one link with a non-URI action
    (/GoTo) that the parser must SKIP."""
    k = 1 + doc_id % 3
    annots = b" ".join(b"%d 0 R" % n for n in range(5, 5 + k + 2))
    bodies = _page_tree([_content_stream(doc_id, 0)])
    bodies[2] = (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Annots ["
                 + annots + b"] >>")
    for i in range(k):
        uri = (f"https://site{(doc_id + i) % 10}.example.com/docs/"
               f"{doc_id * 10 + i}")
        bodies.append(b"<< /Type /Annot /Subtype /Link /Rect [0 0 10 10]"
                      b" /A << /S /URI /URI (" + _esc(uri) + b") >> >>")
    # decoys: a square annot, and a link whose action is a GoTo
    bodies.append(b"<< /Type /Annot /Subtype /Square /Rect [0 0 5 5] >>")
    bodies.append(b"<< /Type /Annot /Subtype /Link /Rect [0 0 5 5]"
                  b" /A << /S /GoTo /D (page2) >> >>")
    return _write_pdf(bodies)


def synthetic_link_pdfs(df: DataFrame) -> DataFrame:
    """%13 corrupt; %7==2 docs carry NO annotations (plain make_pdf);
    else the annotated page."""
    return synthesize(df, _no_xref_or(
        lambda d: make_pdf(d) if d % 7 == 2 else make_link_pdf(d)))


def pdf_links(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, page_no, ord, uri) — /Link-annotation URI outlinks in
    page-then-/Annots order: the PDF half of the outlink story (html has
    extract_outlinks; a frontier fed by the ingest dispatcher needs BOTH
    channels or every link inside the web's PDFs is invisible).  Same
    one-Arrow-stage shape; non-link annots, non-URI actions, and corrupt
    or annotation-free documents contribute nothing."""
    return parse_stage(media, payload_col, parse_links,
                       "doc_id long, page_no int, ord int, uri string"
                       ).orderBy("doc_id", "page_no", "ord")


def pdf_table_strategy_audit(media: DataFrame,
                             payload_col: str = "payload") -> DataFrame:
    """(doc_id, strategy) — which path of the reference's two-strategy
    table policy (`pdf_extract.py:236-247`) produced each document's
    tables: 'ruled' (painted-ruling grids, the pdfplumber default),
    'text_retry' (the financial-hint-gated alignment fallback), or
    'none' (unhinted unruled pages, and unparseable bytes).  The
    corpus-level observability face of parse_tables: a strategy-mix
    drift is a table-extraction regression you can SEE before any cell
    diff.  One Arrow stage, one record per document — no shuffle before
    the presentation sort."""
    return parse_stage(
        media, payload_col, lambda data: [{"strategy": table_strategy(data)}],
        "doc_id long, strategy string").orderBy("doc_id")
