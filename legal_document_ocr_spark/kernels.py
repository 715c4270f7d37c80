"""Pure-Python per-row kernels — the single source of truth for extraction.

These functions are the rebuild's analogue of the reference's per-page service
kernels (SURVEY.md §2.3, K1-K16). They are plain Python/pandas-callable, with
NO Spark imports, so that:

1. the Spark pipeline wraps them in vectorized Arrow/pandas UDF stages
   (``stages.py``) — batch-at-a-time, never per-row Python UDFs; and
2. the pytest oracle calls them directly on fixture rows, guaranteeing the
   north-rule invariant "byte-identical extracted text per url" by
   construction (same bytes in, same code, same bytes out).

Reference kernel mapping (file:line into /root/reference/):
- decode_html          <- K1 preprocess (image_preprocessing_service.py:124-168):
                          charset-normalize raw page bytes instead of CLAHE/
                          threshold on pixels.
- parse_blocks         <- K2 region segmentation (region_segmentation_service.py:9-32)
                          + K5-K7 table detection (table_detector_service.py:15-110):
                          DOM block segmentation with text/link-density features
                          replaces contour detection; <table> cell grid replaces
                          ruled-line intersection clustering. The tokenizer
                          is a single forward pass written here (no stdlib
                          html.parser): linear in page bytes up to
                          MAX_HTML_BYTES, with html.parser's token boundaries
                          (see _BlockCollector).
- keep_block           <- P3 region filter (region_segmentation_service.py:19-27,
                          config.json:19-21): min-chars + link-density band
                          replaces min-area + aspect-ratio band.
- extract_page         <- per-page pipeline (ocr_service.py:107-148): reading-order
                          join of kept blocks (A2, ocr_service.py:127).
- clean_text           <- K8 (information_extraction_service.py:15-22), EXACT copy
                          of semantics: \\n -> \\r\\n, per-line strip, outer strip.
- extract_fields       <- K9-K13 (information_extraction_service.py:24-59,90-98),
                          same patterns (config.json:60-106), same first-match-wins.
- normalize_match_text <- K16 (document_merger_service.py:81-87).
- is_same_document     <- J3/U1/U2 (document_merger_service.py:26-63).
- is_empty_page        <- P4 (document_merger_service.py:65-79).
- merge_pages          <- A7 fold (document_merger_service.py:175-221) +
                          K15 doc-level re-extraction (:101-173).
"""

from __future__ import annotations

import re
from html import unescape
from typing import Any

from .config import (
    BLOCK_TAGS,
    BOILERPLATE_TAGS,
    DROP_TAGS,
    EXTRACTION_PATTERNS,
    FIELD_NAMES,
    HEADING_TAGS,
    MATCHING_FIELDS,
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
    MIN_FIELD_MATCHES,
    MIN_HEADING_CHARS,
    MIN_MATCHING_WORDS,
    PATTERN_GATES,
)

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.IGNORECASE)

# intra-block hard line break sentinel: emitted for <br> and for newlines
# inside <pre>; collapsible markup whitespace never produces it.
_BR = "\x00"

# ---------------------------------------------------------------------------
# K1 — byte decode / normalize
# ---------------------------------------------------------------------------


def decode_html(raw: bytes | None) -> str:
    """Decode raw page bytes to text: UTF-8, declared charset, lossy UTF-8.

    Deterministic fallback chain (analogue of the reference's PDF-vs-image
    dispatch + text-to-PDF fallback, image_preprocessing_service.py:26-122).
    """
    if raw is None:
        return ""
    if isinstance(raw, str):  # already decoded (pages synthesized in-plan)
        return raw
    raw = bytes(raw)
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        pass
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        try:
            return raw.decode(m.group(1).decode("ascii").lower())
        except (UnicodeDecodeError, LookupError):
            pass
    return raw.decode("utf-8", errors="replace")


# ---------------------------------------------------------------------------
# K2/K5-K7 — DOM block segmentation + table cell grid
# ---------------------------------------------------------------------------


class _Block:
    __slots__ = ("tag", "parts", "link_chars", "boiler", "index", "text")

    def __init__(self, tag: str, boiler: bool, index: int) -> None:
        self.tag = tag
        self.parts: list[str] = []
        self.link_chars = 0
        self.boiler = boiler
        self.index = index
        self.text = ""

    def finish(self) -> str:
        # whitespace canonicalization (K1 normalize analogue): collapse runs
        # of markup whitespace to single spaces per line; hard breaks (<br>,
        # <pre> newlines) become \r\n — already in clean_text's normal form,
        # so clean_text (K8) is idempotent on block output. Computed once,
        # when the block closes.
        segments = "".join(self.parts).split(_BR)
        lines = [" ".join(seg.split()) for seg in segments]
        self.text = "\r\n".join(line for line in lines if line)
        return self.text

    @property
    def link_density(self) -> float:
        n = len(self.text)
        return (self.link_chars / n) if n else 1.0


# -- tokenizer patterns. Every token boundary below reproduces the HTML5-
# tolerant rules of CPython's ``html.parser`` (3.11) for a fully fed input,
# so segmentation is unchanged; only the scan strategy differs.
_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# one token at the cursor: a text run, a common start tag (plain name,
# space-separated name[=value] attributes with a quoted or unquoted value,
# optional "/" before ">") or an end tag. Possessive quantifiers keep the
# match linear; a "<" it does not match takes the general path in ``feed``.
_TOKEN = re.compile(
    r"([^<]++)"
    r"|<([a-zA-Z][-a-zA-Z0-9]*+)"
    r"(?:[ \t\n\r\f]++[a-zA-Z_:][-a-zA-Z0-9_:.]*+"
    r"(?:=(?:\"[^\"]*+\"|'[^']*+'|[^\s\"'<>=`]++))?)*+"
    r"[ \t\n\r\f]*+(/?)>"
    r"|</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
)
_TAG_NAME_RUN = re.compile(r"[^\t\n\r\f />\x00]*")
_SPACE_SLASH_RUN = re.compile(r"[\s/]*")
_SEPARATOR_RUN = re.compile(r"(?:\s|/(?!>))*")
_SPACE_RUN = re.compile(r"\s*")
_ATTR_NAME_TAIL = re.compile(r"[^\s/=>]*")
_EQUALS_RUN = re.compile(r"=+")
_BARE_VALUE = re.compile(r"[^>\s]*")
_END_TAG_NAME = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
_COMMENT_CLOSE = re.compile(r"--\s*>")
_DECL_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTIONS = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MS_SECTIONS = frozenset({"if", "else", "endif"})
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE = re.compile(r"]\s*>")
_RAW_TEXT_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE) for t in ("script", "style")
}
_GT = re.compile(">")
_LT_RUN = re.compile("<+")


class _Search:
    """Leftmost-match search over one page that remembers its last answer.

    A search from ``pos`` that found its first match at ``m`` (or none at
    all) answers every later query from ``pos' in [pos, m]`` too, so a
    caller whose query positions only grow scans each byte at most once.
    """

    __slots__ = ("search", "start", "found")

    def __init__(self, pattern: re.Pattern[str]) -> None:
        self.search = pattern.search
        self.start = -1  # no answer yet
        self.found: re.Match[str] | None = None

    def __call__(self, text: str, pos: int) -> re.Match[str] | None:
        found = self.found
        if not (
            0 <= self.start <= pos and (found is None or pos <= found.start())
        ):
            found = self.found = self.search(text, pos)
            self.start = pos
        return found


class _BlockCollector:
    """Streaming DOM segmenter: one forward pass, no tree materialized.

    Emits text blocks in document order (the reading-order guarantee — the
    analogue of the reference's y-sort at region_segmentation_service.py:30
    and np.lexsort grid ordering at table_detector_service.py:82: DOM order
    IS reading order for HTML).

    ``feed`` is the tokenizer. It cuts the page into text runs (passed
    through ``html.unescape``), start/end/self-closing tags (lowercased
    names; attributes are skipped, quoted values may hold ``>``),
    comments, declarations, processing instructions and raw-text
    ``script``/``style`` bodies, at the same boundaries and with the same
    ``handle_data`` chunking as CPython's ``html.parser`` on a fully fed
    page. One documented difference: an unterminated ``<!--`` ends the
    page instead of leaking its body as text.

    Time is linear in the page size. A text run or a common tag is one
    ``_TOKEN`` match; an irregular start tag is located
    by a left-to-right attribute walk whose every step is memoised by
    position (``_attr_walk``), and every forward search that can fail
    (next ``>``, marked-section close) remembers its answer (``_Search``),
    so no byte is rescanned by later tags — a page of ``"<a" * n`` or of
    unclosed quotes costs O(n), not the stdlib parser's O(n^2).
    """

    def __init__(self) -> None:
        self.blocks: list[_Block] = []
        self.tables: list[list[list[str]]] = []  # table -> rows -> cell texts
        self._stack: list[str] = []
        # nearest enclosing BLOCK_TAGS tag per stack level, and open-tag
        # counts: O(1) answers for _ensure_block and handle_endtag at any depth
        self._block_stack: list[str] = []
        self._open: dict[str, int] = {}
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._cur: _Block | None = None
        self._pre_depth = 0
        self._table_stack: list[dict[str, Any]] = []
        # tokenizer memos, valid for the one page ``feed`` is given
        self._walk: dict[int, int] = {}
        self._last_quote: dict[str, int] = {}
        self._name_run = (1, 0)  # (from, end) of the last tag-name run
        self._start_memo = (-1, 0, False)  # (name end, attrs end, "/>" seen)
        self._next_gt = _Search(_GT)
        self._marked_close = _Search(_MARKED_CLOSE)
        self._ms_marked_close = _Search(_MS_MARKED_CLOSE)

    # -- block lifecycle --
    def _flush(self) -> None:
        if self._cur is not None and self._cur.finish():
            self.blocks.append(self._cur)
        self._cur = None

    def _ensure_block(self) -> _Block:
        if self._cur is None:
            tag = self._block_stack[-1] if self._block_stack else "body"
            self._cur = _Block(tag, self._boiler_depth > 0, len(self.blocks))
        return self._cur

    # -- token handlers (tag names arrive lowercased) --
    def handle_starttag(self, tag: str) -> None:
        if tag == "br":
            if self._cur is not None:
                self._cur.parts.append(_BR)
            return
        self._stack.append(tag)
        self._open[tag] = self._open.get(tag, 0) + 1
        if tag in BLOCK_TAGS:
            self._block_stack.append(tag)
        else:
            self._block_stack.append(
                self._block_stack[-1] if self._block_stack else "body"
            )
        if tag == "pre":
            self._pre_depth += 1
        if tag in DROP_TAGS:
            self._drop_depth += 1
        if tag in BOILERPLATE_TAGS:
            self._boiler_depth += 1
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS or tag in BOILERPLATE_TAGS:
            self._flush()
        if tag == "table":
            self._table_stack.append({"rows": [], "cur_row": None, "cur_cell": None})
        elif self._table_stack:
            t = self._table_stack[-1]
            if tag == "tr":
                t["cur_row"] = []
                t["rows"].append(t["cur_row"])
            elif tag in ("td", "th"):
                t["cur_cell"] = []
                if t["cur_row"] is None:
                    t["cur_row"] = []
                    t["rows"].append(t["cur_row"])
                t["cur_row"].append(t["cur_cell"])

    def handle_endtag(self, tag: str) -> None:
        # pop to matching open tag (lenient on malformed nesting)
        if self._open.get(tag):
            while self._stack:
                popped = self._stack.pop()
                self._block_stack.pop()
                self._open[popped] -= 1
                if popped in DROP_TAGS:
                    self._drop_depth = max(0, self._drop_depth - 1)
                if popped in BOILERPLATE_TAGS:
                    self._boiler_depth = max(0, self._boiler_depth - 1)
                if popped == "a":
                    self._link_depth = max(0, self._link_depth - 1)
                if popped == "pre":
                    self._pre_depth = max(0, self._pre_depth - 1)
                if popped in BLOCK_TAGS or popped in BOILERPLATE_TAGS:
                    self._flush()
                if popped == "table" and self._table_stack:
                    t = self._table_stack.pop()
                    self.tables.append(
                        [["".join(c) for c in row] for row in t["rows"]]
                    )
                elif popped in ("td", "th") and self._table_stack:
                    self._table_stack[-1]["cur_cell"] = None
                if popped == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self._drop_depth > 0 or not data:
            return
        data = data.replace(_BR, "")
        if self._pre_depth > 0:
            data = data.replace("\n", _BR)
        if self._cur is None and not data.replace(_BR, "").strip():
            return  # inter-tag whitespace must not open a block
        blk = self._ensure_block()
        blk.parts.append(data)
        if self._boiler_depth > 0:
            blk.boiler = True  # sticky: any boilerplate-scoped text taints the block
        if self._link_depth > 0:
            blk.link_chars += len(" ".join(data.split()))
        if self._table_stack and self._table_stack[-1]["cur_cell"] is not None:
            self._table_stack[-1]["cur_cell"].append(data)

    # -- tokenizer --
    def feed(self, s: str) -> None:
        """Tokenize the whole page ``s`` and close the last block."""
        n = len(s)
        token = _TOKEN.match
        data = self.handle_data
        start_tag = self.handle_starttag
        end_tag = self.handle_endtag
        i = 0
        while i < n:
            m = token(s, i)
            if m is None:
                if s[i + 1 : i + 2] not in _LETTERS:  # "" is not in the set
                    i = self._markup(s, i)
                    if i < 0:
                        break
                    continue
                tag, endpos, closed = self._irregular_start(s, i)
                if endpos < 0:
                    i = self._as_text(s, i)
                    continue
                if tag is None:  # no usable tag end: literal text, raw
                    data(s[i:endpos])
                    i = endpos
                    continue
            else:
                kind = m.lastindex
                if kind == 1:
                    text = m.group(1)
                    data(unescape(text) if "&" in text else text)
                    i = m.end()
                    continue
                if kind == 4:
                    end_tag(m.group(4).lower())
                    i = m.end()
                    continue
                tag = m.group(2).lower()
                endpos = m.end()
                closed = bool(m.group(3))
            start_tag(tag)
            if closed:
                end_tag(tag)
            elif tag in _RAW_TEXT_CLOSE:
                # raw-text body: inside DROP_TAGS, so its text is dropped
                m = _RAW_TEXT_CLOSE[tag].search(s, endpos)
                if m is None:
                    break  # unterminated: the rest of the page is body
                end_tag(tag)
                endpos = m.end()
            i = endpos
        self._flush()

    def _markup(self, s: str, i: int) -> int:
        """Consume the ``<`` construct at ``i`` that is not a start tag.

        Returns the position after it, or -1 when it ends the page.
        """
        c = s[i + 1 : i + 2]
        if c == "/":
            g = self._next_gt(s, i + 1)
            if g is None:
                return self._as_text(s, i)
            # an end tag _TOKEN did not match: "</x y>", "</x<y>", or
            # "</>" and "</ !x>", which report nothing
            m = _END_TAG_NAME.match(s, i + 2)
            if m is not None:
                self.handle_endtag(m.group().lower())
            return g.end()
        if c == "!" or c == "?":
            if s.startswith("<!--", i):
                m = _COMMENT_CLOSE.search(s, i + 4)
                return -1 if m is None else m.end()  # unterminated: swallow
            if c == "?" or not s.startswith("<![", i):
                skip = 9 if s[i : i + 9].lower() == "<!doctype" else 2
                g = self._next_gt(s, i + skip)
            else:
                # marked section: <![CDATA[...]]>, <![if ...]>
                m = _DECL_NAME.match(s, i + 3)
                if m is None and i + 3 < len(s):
                    return -1  # malformed declaration ends the page
                if m is None or m.end() == len(s):
                    g = None
                else:
                    name = m.group().strip().lower()
                    if name in _MARKED_SECTIONS:
                        close = self._marked_close
                    elif name in _MS_SECTIONS:
                        close = self._ms_marked_close
                    else:
                        return -1  # unknown section keyword ends the page
                    g = close(s, i + 3)
            return self._as_text(s, i) if g is None else g.end()
        # "<" that opens nothing is text. In a run of them each one but the
        # last is followed by "<", so they form one chunk; the last one is
        # dispatched again unless it ends the page.
        k = _LT_RUN.match(s, i).end()
        if k < len(s) and k - i > 1:
            k -= 1
        self.handle_data(s[i:k])
        return k

    def _as_text(self, s: str, i: int) -> int:
        """An unfinished construct at ``i`` becomes text up to and including
        the next ``>`` (or up to the next ``<``, or just the ``<``)."""
        g = self._next_gt(s, i + 1)
        if g is not None:
            k = g.end()
        else:
            k = s.find("<", i + 1)
            if k < 0:
                k = i + 1
        self.handle_data(unescape(s[i:k]))
        return k

    def _irregular_start(self, s: str, i: int) -> tuple[str | None, int, bool]:
        """Locate the end of a start tag the fast pattern did not match.

        Returns ``(tag, endpos, self_closing)``; ``endpos < 0`` means the tag
        never ends (the caller turns it into text) and ``tag is None`` means
        it ends without ``>`` and is emitted as literal text. The tag-name
        run and the attribute walk are memoised, so tags that share them
        (``<a<a<a...``, ``<a b='>'<a b='>'...``) are scanned once.
        """
        lo, e = self._name_run
        if not lo <= i + 1 <= e:
            e = _TAG_NAME_RUN.match(s, i + 1).end()
            self._name_run = (i + 1, e)
        name_end, j, slash = self._start_memo
        if name_end != e:
            p0 = _SPACE_SLASH_RUN.match(s, e).end()
            slash = _SEPARATOR_RUN.match(s, e).end() < p0  # "/>" after name
            j = self._attr_walk(s, p0)
            self._start_memo = (e, j, slash)
        nxt = s[j : j + 1]
        if nxt == ">":
            return s[i + 1 : e].lower(), j + 1, slash
        if nxt == "/":
            if s.startswith("/>", j):
                return s[i + 1 : e].lower(), j + 2, True
            return None, -1, False
        if not nxt or nxt in _LETTERS or nxt == "=":
            return None, -1, False
        return None, j, False

    def _attr_walk(self, s: str, p: int) -> int:
        """End of the attribute list that starts at ``p``.

        Each step consumes one attribute — a name, an optional ``=value``
        (quoted, or bare up to whitespace or ``>``) and separators — until
        no attribute can start. Every visited step start is memoised with
        the final end, so a walk that joins an earlier one stops there.
        """
        walk = self._walk
        path = []
        while True:
            end = walk.get(p)
            if end is not None:
                break
            c = s[p : p + 1]
            prev = s[p - 1]
            if (
                not c
                or c.isspace()
                or c in "/>"
                or not (prev in "'\"/" or prev.isspace())
            ):
                end = p
                break
            path.append(p)
            q = _ATTR_NAME_TAIL.match(s, p + 1).end()
            p = _SPACE_RUN.match(s, q).end()
            if s.startswith("=", p):
                eq = _EQUALS_RUN.match(s, p).end()
                v = _SPACE_RUN.match(s, eq).end()
                quote = s[v : v + 1]
                if quote in ("'", '"'):
                    last = self._last_quote.get(quote)
                    if last is None:
                        last = self._last_quote[quote] = s.rfind(quote)
                    close = s.find(quote, v + 1) if last > v else -1
                    if close >= 0:
                        p = _SPACE_RUN.match(s, close + 1).end()
                    elif v > eq:
                        p = v  # empty bare value before the stray quote
                    elif eq - p >= 2:
                        # one "=" handed back becomes the start of a bare value
                        p = _SPACE_RUN.match(
                            s, _BARE_VALUE.match(s, eq - 1).end()
                        ).end()
                    else:
                        p = q  # no value: the "=" stays unconsumed
                else:
                    p = _SPACE_RUN.match(s, _BARE_VALUE.match(s, v).end()).end()
            else:
                p = q
            p = _SEPARATOR_RUN.match(s, p).end()
        for x in path:
            walk[x] = end
        return end


def parse_blocks(html: str) -> tuple[list[_Block], list[list[list[str]]]]:
    """Segment an HTML document into reading-ordered text blocks + tables."""
    c = _BlockCollector()
    c.feed(html)
    return c.blocks, c.tables


# P3 analogue — block keep/drop decision (density heuristics)
def keep_block(tag: str, text: str, link_density: float, boiler: bool) -> bool:
    if boiler:
        return False
    if link_density > MAX_LINK_DENSITY:
        return False
    min_chars = MIN_HEADING_CHARS if tag in HEADING_TAGS else MIN_BLOCK_CHARS
    return len(text) >= min_chars


# ---------------------------------------------------------------------------
# K8 — text cleaning (EXACT reference semantics — the golden normalization)
# ---------------------------------------------------------------------------


def clean_text(text: str | None) -> str:
    """information_extraction_service.py:15-22, byte-for-byte."""
    if not text:
        return ""
    text = text.replace("\n", "\r\n")
    text = "\r\n".join(line.strip() for line in text.split("\r\n"))
    return text.strip()


# ---------------------------------------------------------------------------
# page-level extraction: blocks -> (extracted_text, spans, tables)
# ---------------------------------------------------------------------------


def extract_page(raw: bytes | str | None) -> dict[str, Any]:
    """Full per-page kernel: decode -> segment -> filter -> reading-order join.

    Returns ``{"extracted_text", "spans", "tables", "n_blocks", "n_kept"}``.
    spans: one per kept block — (x=start char offset in extracted_text,
    y=block reading-order index, w=char length, h=1, kind=source tag,
    score=extraction confidence); the structural analogue of region bboxes
    (region_segmentation_service.py:20-31). score is the P8 analogue of the
    reference's per-OCR-result confidence (ocr_process_service.py:89-95):
    the keep/drop decision's own inputs surfaced as a 0..1 quality signal,
    round(min(chars/500, 1) * (1 - link_density), 6) — so downstream filters
    can threshold extraction confidence exactly like the reference drops
    conf == -1 entries.
    tables: flat cell list (row, col, bbox=[table_idx,row,col,0], text) — the
    analogue of the cell grid at table_detector_service.py:97-105.
    """
    html = decode_html(raw)
    blocks, raw_tables = parse_blocks(html)
    kept = [
        b
        for b in blocks
        if keep_block(b.tag, b.text, b.link_density, b.boiler)
    ]
    texts = [b.text for b in kept]
    extracted = "\r\n".join(texts)
    # clean_text is idempotent here (blocks are whitespace-collapsed), but we
    # still apply it so the invariant is the function, not an argument about it.
    extracted = clean_text(extracted)
    spans = []
    offset = 0
    for b, t in zip(kept, texts):
        score = round(min(len(t) / 500.0, 1.0) * (1.0 - b.link_density), 6)
        spans.append(
            {
                "x": offset,
                "y": b.index,
                "w": len(t),
                "h": 1,
                "kind": b.tag,
                "score": score,
            }
        )
        offset += len(t) + 2  # + len("\r\n")
    cells = []
    for ti, rows in enumerate(raw_tables):
        for ri, row in enumerate(rows):
            for ci, cell in enumerate(row):
                txt = " ".join(cell.split())
                if txt:
                    cells.append(
                        {
                            "row": ri,
                            "col": ci,
                            "bbox": [ti, ri, ci, 0],
                            "text": txt,
                        }
                    )
    return {
        "extracted_text": extracted,
        "spans": spans,
        "tables": cells,
        "n_blocks": len(blocks),
        "n_kept": len(kept),
    }


# ---------------------------------------------------------------------------
# K9-K13 — field extraction battery (reference patterns, first-match-wins)
# ---------------------------------------------------------------------------

_LOCATION_DATE_RE = re.compile(
    # information_extraction_service.py:28
    r"(?i)(?:tại|,)?\s*([^,\r\n]+?)\s*,\s*ngày\s+(\d{1,2})\s+tháng\s+(\d{1,2})\s+năm\s+(\d{4})"
)
_SUBJECT_RE = re.compile(
    # information_extraction_service.py:43
    r"(?i)(?:v/v|về việc)\s+(.*?)(?=\r\n\r\n|\Z)",
    re.DOTALL,
)
_AGENCY_HEAD_RE = re.compile(
    # information_extraction_service.py:51
    r"^(.*?)(?=\r\n.*?ngày|\Z)",
    re.DOTALL,
)
_AGENCY_LINE_DROP_RE = re.compile(r"(?i)(số|ngày)")  # :57 (P10)

_COMPILED_PATTERNS: dict[str, list[tuple[re.Pattern[str], list[str]]]] = {
    field: [
        (
            re.compile(p, re.MULTILINE | re.IGNORECASE | re.DOTALL),
            PATTERN_GATES.get(field, [[]] * len(patterns))[i],
        )
        for i, p in enumerate(patterns)
    ]
    for field, patterns in EXTRACTION_PATTERNS.items()
}


def _gate_open(lower_text: str, gate: list[str]) -> bool:
    """True iff the pattern could match: no gate, or a required literal
    (any-of, lowercase) is present. Skipping a gated-out pattern never
    changes the result — see config.PATTERN_GATES."""
    return not gate or any(lit in lower_text for lit in gate)


def extract_fields(text: str | None) -> dict[str, str | None]:
    """information_extraction_service.py:61-116 (minus metadata/timestamps)."""
    text = clean_text(text)
    lower = text.lower()
    info: dict[str, str | None] = {f: None for f in FIELD_NAMES}
    for field, patterns in _COMPILED_PATTERNS.items():
        for pat, gate in patterns:
            if not _gate_open(lower, gate):
                continue
            m = pat.search(text)
            if m:
                value = m.group(1) if m.groups() else m.group(0)
                info[field] = value.strip()
                break
    if "ngày" in lower:
        m = _LOCATION_DATE_RE.search(text)
        if m:
            info["issue_location"] = m.group(1).strip()
            info["issue_date"] = f"{m.group(2)}/{m.group(3)}/{m.group(4)}"
    if "v/v" in lower or "về việc" in lower:
        m = _SUBJECT_RE.search(text)
        if m:
            info["subject"] = m.group(1).strip()
    if not info["issuing_agency"]:
        m = _AGENCY_HEAD_RE.search(text)
        if m:
            agency_lines = [
                line.strip()
                for line in m.group(1).strip().split("\r\n")
                if line.strip() and not _AGENCY_LINE_DROP_RE.match(line)
            ]
            if agency_lines:
                info["issuing_agency"] = "\r\n".join(agency_lines)
    return info


# ---------------------------------------------------------------------------
# K16 + J3/U1/U2 + P4 — merge predicates
# ---------------------------------------------------------------------------


def normalize_match_text(text: str | None) -> str:
    """document_merger_service.py:81-87."""
    if not text:
        return ""
    return re.sub(r"[^\w\s-]", "", text).lower().strip()


def is_empty_page(page: dict[str, Any]) -> bool:
    """document_merger_service.py:65-79."""
    if not (page.get("ocr_text") or "").strip():
        return True
    extracted = page.get("extracted_info") or {}
    if not any(extracted.values()):
        return True
    if not page.get("regions"):
        return True
    return False


def is_same_document(page1: dict[str, Any], page2: dict[str, Any]) -> bool:
    """document_merger_service.py:26-63, same decision order."""
    try:
        num1 = normalize_match_text(
            (page1.get("extracted_info") or {}).get("document_number") or ""
        )
        num2 = normalize_match_text(
            (page2.get("extracted_info") or {}).get("document_number") or ""
        )
        if num1 and num2 and num1 == num2:
            return True

        text1 = (page1.get("ocr_text") or "").strip()
        text2 = (page2.get("ocr_text") or "").strip()
        last_sentence = text1.split(".")[-1].strip()
        first_sentence = text2.split(".")[0].strip()
        if last_sentence and first_sentence:
            words1 = set(last_sentence.lower().split())
            words2 = set(first_sentence.lower().split())
            if len(words1 & words2) >= MIN_MATCHING_WORDS:
                return True

        matches = 0
        for field in MATCHING_FIELDS:
            v1 = normalize_match_text(
                (page1.get("extracted_info") or {}).get(field) or ""
            )
            v2 = normalize_match_text(
                (page2.get("extracted_info") or {}).get(field) or ""
            )
            if v1 and v2 and v1 == v2:
                matches += 1
        return matches >= MIN_FIELD_MATCHES
    except Exception:
        return False


# ---------------------------------------------------------------------------
# K15 — doc-level re-extraction over merged text
# ---------------------------------------------------------------------------

_FULL_NUMBER_RE = re.compile(r"[Ss]ố\s*:?\s*([\w-]+/[\w-]+)")  # merger :129
_LOCATION_HN_RE = re.compile(r"(?i),?\s*(Hà\s*Nội)\s*,\s*ngày")  # :136
_AGENCY_2LINE_RE = re.compile(r"^([^\n]+\n[^\n]+)")  # :144
_RECIPIENT_RE = re.compile(r"Kính\s+gửi\s*:?\s*([^\n]+(?:\n[^\n]+)?)")  # :149
_ADDRESS_RE = re.compile(r"Nơi\s+nhận\s*:([^\n]+(?:\n-[^\n]+)*)")  # :154
_SIGNER_RE = re.compile(
    r"\n([A-ZĐÀÁẢÃẠĂẰẮẲẴẶÂẦẤẨẪẬÈÉẺẼẸÊỀẾỂỄỆÌÍỈĨỊÒÓỎÕỌÔỒỐỔỖỘƠỜỚỞỠỢÙÚỦŨỤƯỪỨỬỮỰÝỶỸỴ\s]+)$"
)  # :159
_POSITION_RE = re.compile(r"K/T.*?\n([A-Z\s]+)")  # :164
_SUBJECT_VV_RE = re.compile(r"V/v\s+([^\n]+(?:\n[^\n]+)?)")  # :169


def extract_document_info(pages: list[dict[str, Any]]) -> dict[str, Any]:
    """document_merger_service.py:101-173, same regex battery + carry-over."""
    full_text = "\n\n".join(p["ocr_text"] for p in pages)
    info: dict[str, Any] = {f: None for f in FIELD_NAMES}
    info["content"] = full_text
    info["page_numbers"] = [p["page_number"] for p in pages]

    first = pages[0].get("extracted_info") or {}
    info["document_type"] = first.get("document_type")
    doc_number = first.get("document_number")
    if doc_number:
        m = _FULL_NUMBER_RE.search(full_text)
        info["document_number"] = m.group(1) if m else doc_number
    m = _LOCATION_HN_RE.search(full_text)
    if m:
        info["issue_location"] = m.group(1)
    info["issue_date"] = first.get("issue_date")
    m = _AGENCY_2LINE_RE.search(full_text)
    if m:
        info["issuing_agency"] = m.group(1).strip()
    m = _RECIPIENT_RE.search(full_text)
    if m:
        info["recipients"] = m.group(1).strip()
    m = _ADDRESS_RE.search(full_text)
    if m:
        info["recipient_address"] = m.group(1).strip()
    m = _SIGNER_RE.search(full_text)
    if m:
        info["signer"] = m.group(1).strip()
    m = _POSITION_RE.search(full_text)
    if m:
        info["position"] = m.group(1).strip()
    m = _SUBJECT_VV_RE.search(full_text)
    if m:
        info["subject"] = m.group(1).strip()
    return info


def merge_pages(pages: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """The sequential merge fold — document_merger_service.py:175-221.

    Compares each page against the LAST page of the current group (not simply
    the previous row — SURVEY.md §7 risk 3), exactly like the reference.
    Returns one dict per merged logical document.
    """
    valid = [p for p in pages if not is_empty_page(p)]
    for i, p in enumerate(valid):
        p["page_number"] = i + 1  # W1 renumber (merger :187)
    groups: list[list[dict[str, Any]]] = []
    current: list[dict[str, Any]] | None = None
    for page in valid:
        if current is not None and is_same_document(current[-1], page):
            current.append(page)
        else:
            if current is not None:
                groups.append(current)
            current = [page]
    if current is not None:
        groups.append(current)
    return [
        {"document_id": str(i), "document_info": extract_document_info(g)}
        for i, g in enumerate(groups, 1)
    ]
