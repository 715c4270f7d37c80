"""The linear tokenizer in ``kernels._BlockCollector`` against its oracle.

The oracle is the block collector the package used before, built on the
stdlib ``html.parser.HTMLParser``. It lives only here: the package has one
tokenizer. ``extract_page`` must give byte-identical output to the oracle
on every corpus the repo generates and on a tag/entity/text soup, except
for the divergences listed in ``DIVERGENCES`` (each pinned by a test).

The adversarial cases are the inputs on which the stdlib parser is
quadratic or leaks markup; each must finish fast and scale linearly.
"""

from __future__ import annotations

import gc
import time
from html.parser import HTMLParser
from typing import Any
from unittest import mock

import pytest
from hypothesis import given, settings, strategies as st

from legal_document_ocr_spark import kernels
from legal_document_ocr_spark.config import BLOCK_TAGS, BOILERPLATE_TAGS, DROP_TAGS
from legal_document_ocr_spark.kernels import extract_page
from legal_document_ocr_spark.sources.pages import (
    fixture_rows,
    synthesize_pages_df,
    synthesize_vn_pages_df,
)

_BR = kernels._BR

# inputs on which extract_page deliberately differs from the oracle
DIVERGENCES = {
    "unterminated_comment": (
        "An unterminated <!-- ends the page. The stdlib parser instead "
        "emits '<!--' up to the next '>' as text and parses the rest of "
        "the comment body as markup, leaking it into extracted_text."
    ),
}


# ---------------------------------------------------------------------------
# oracle: the HTMLParser-based collector, verbatim apart from names
# ---------------------------------------------------------------------------


class _OracleBlock:
    __slots__ = ("tag", "parts", "link_chars", "boiler", "index")

    def __init__(self, tag: str, boiler: bool, index: int) -> None:
        self.tag = tag
        self.parts: list[str] = []
        self.link_chars = 0
        self.boiler = boiler
        self.index = index

    @property
    def text(self) -> str:
        segments = "".join(self.parts).split(_BR)
        lines = [" ".join(seg.split()) for seg in segments]
        return "\r\n".join(line for line in lines if line)

    @property
    def link_density(self) -> float:
        n = len(self.text)
        return (self.link_chars / n) if n else 1.0


class _UnterminatedComment(Exception):
    pass


class _OracleCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_OracleBlock] = []
        self.tables: list[list[list[str]]] = []
        self._stack: list[str] = []
        self._drop_depth = 0
        self._boiler_depth = 0
        self._link_depth = 0
        self._cur: _OracleBlock | None = None
        self._pre_depth = 0
        self._table_stack: list[dict[str, Any]] = []
        self._closing = False

    def _flush(self) -> None:
        if self._cur is not None and self._cur.text:
            self.blocks.append(self._cur)
        self._cur = None

    def _ensure_block(self) -> _OracleBlock:
        if self._cur is None:
            tag = "body"
            for t in reversed(self._stack):
                if t in BLOCK_TAGS:
                    tag = t
                    break
            self._cur = _OracleBlock(tag, self._boiler_depth > 0, len(self.blocks))
        return self._cur

    def handle_starttag(self, tag: str, attrs: Any) -> None:
        tag = tag.lower()
        if tag == "br":
            if self._cur is not None:
                self._cur.parts.append(_BR)
            return
        self._stack.append(tag)
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
        tag = tag.lower()
        if tag in self._stack:
            while self._stack:
                popped = self._stack.pop()
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
            return
        blk = self._ensure_block()
        blk.parts.append(data)
        if self._boiler_depth > 0:
            blk.boiler = True
        if self._link_depth > 0:
            blk.link_chars += len(" ".join(data.split()))
        if self._table_stack and self._table_stack[-1]["cur_cell"] is not None:
            self._table_stack[-1]["cur_cell"].append(data)

    def parse_comment(self, i: int, report: int = 1) -> int:
        end = super().parse_comment(i, report)
        if end < 0 and self._closing and DIVERGENCE_FIXED["unterminated_comment"]:
            raise _UnterminatedComment  # the documented fix: stop here
        return end

    def close(self) -> None:
        self._closing = True
        super().close()
        self._flush()


# the oracle applies the documented fixes unless a test turns one off
DIVERGENCE_FIXED = {name: True for name in DIVERGENCES}


def _oracle_parse_blocks(html: str):
    c = _OracleCollector()
    try:
        c.feed(html)
        c.close()
    except Exception:
        c._flush()
    return c.blocks, c.tables


def oracle_extract_page(raw):
    with mock.patch.object(kernels, "parse_blocks", _oracle_parse_blocks):
        return extract_page(raw)


def _assert_parity(htmls) -> int:
    n = 0
    for h in htmls:
        assert extract_page(h) == oracle_extract_page(h), h[:200]
        n += 1
    return n


# ---------------------------------------------------------------------------
# differential parity over the repo's corpora
# ---------------------------------------------------------------------------


def test_parity_on_golden_fixture_pages():
    rows = fixture_rows()
    assert _assert_parity(r["html"] for r in rows) == len(rows) > 0


@pytest.mark.parametrize(
    "make, sf",
    [
        (synthesize_pages_df, "sf0.001"),
        (synthesize_pages_df, "sf0.01"),
        (synthesize_vn_pages_df, "sf0.001"),
        (synthesize_vn_pages_df, "sf0.01"),
    ],
)
def test_parity_on_synthesized_pages(spark, make, sf):
    htmls = [r["html"] for r in make(spark, f"/root/testdata/{sf}").collect()]
    assert _assert_parity(bytes(h) for h in htmls) == len(htmls) > 0


def test_parity_on_benchmark_style_pages():
    from perfbench.corpus import crawl_pages, legal_pages

    pages, _ = legal_pages(5, 40)
    pages += crawl_pages(5, 30, 8000)
    assert _assert_parity(p.html for p in pages) == len(pages)


FRAGMENTS = [
    # tags, upper- and lowercase, self-closing, with odd attribute syntax
    "<p>", "</p>", "<P>", "</P>", "<DIV class=x>", "</div>", "<br>", "<br/>",
    "<BR />", "<a href='/x'>", "<A HREF=\"/y\">", "</a>", "<a href=/z/>",
    "<td>", "<TD>", "</td>", "<tr>", "</tr>", "<table>", "</table>", "<th>",
    "<pre>", "</pre>", "<nav>", "</nav>", "<h2>", "</h2>", "<li>",
    "<a title='1 > 0'>", '<a title="x>y" id=z>', "<img src=a.png alt=b>",
    "<input disabled>", "<x-y data-v=1>", "<a b = 'c'>", "<a b=>", "<a b==c>",
    "<a b='c'd=e>", "<a\x00b>", "<a\x0bb>", "<p\t\n>", "<a / b>", "<a b/c>",
    # comments, declarations, processing instructions, marked sections
    "<!-- c -->", "<!---->", "<!-- a -- b -->", "<!DOCTYPE html>", "<!doctype>",
    "<![CDATA[x<y]]>", "<![if IE]>", "<![endif]>", "<?xml version='1.0' ?>",
    "<?php echo 1; ?>", "<!bogus>", "</>", "</ x>", "</p x>", "</a<b>",
    # raw text and entities
    "<script>if (a<b) x='</p>';</script>", "<style>p>a{}</style>",
    "<SCRIPT>x</SCRIPT >", "&amp", "&amp;", "&lt;", "&#65;", "&#x41;",
    "&nbsp;", "&bogus;", "&", "a < b", "<", ">", "<<", "=", "'", '"', "/",
    # text
    " ", "\n", "\t", "\xa0", "words of text ", "Việt Nam ", "x" * 30,
]
SOUP = st.lists(
    st.one_of(
        st.sampled_from(FRAGMENTS),
        st.text(alphabet="<>/='\"!?-&;ab \n", max_size=6),
    ),
    max_size=40,
).map("".join)


@given(SOUP)
@settings(derandomize=True, max_examples=400, deadline=None)
def test_parity_on_tag_entity_text_soup(html):
    assert extract_page(html) == oracle_extract_page(html)


# ---------------------------------------------------------------------------
# documented divergences
# ---------------------------------------------------------------------------


def test_unterminated_comment_swallows_the_rest():
    body = "secret words that must not leak " * 4
    html = "<p>kept paragraph with enough characters</p><!-- " + body + "<p>x</p>"
    out = extract_page(html)
    assert out["extracted_text"] == "kept paragraph with enough characters"
    DIVERGENCE_FIXED["unterminated_comment"] = False
    try:
        old = oracle_extract_page(html)
    finally:
        DIVERGENCE_FIXED["unterminated_comment"] = True
    assert "secret words" in old["extracted_text"]  # what the fix removes


def test_terminated_comment_is_unchanged():
    html = "<p>before the comment, enough text</p><!-- hidden --><p>after the comment, enough text</p>"
    assert extract_page(html) == oracle_extract_page(html)
    assert "hidden" not in extract_page(html)["extracted_text"]


# ---------------------------------------------------------------------------
# adversarial inputs: linear time
# ---------------------------------------------------------------------------


def _timed(html: str) -> tuple[float, dict]:
    """CPU seconds of one ``extract_page`` call, and its result.

    The clock is this process's CPU time, so other processes on the host
    do not count. The objects already alive in the test process (a whole
    test session's worth) are frozen out of the garbage collector for the
    call, so its collections scan what the tokenizer allocates, not what
    earlier tests left behind.
    """
    gc.collect()
    gc.freeze()
    try:
        t0 = time.process_time()
        out = extract_page(html)
        return time.process_time() - t0, out
    finally:
        gc.unfreeze()


def _assert_linear(make, n: int, reps: int = 5) -> dict:
    """4x the input costs at most about 6x the time.

    Small and big runs alternate and each keeps its best of ``reps``, so a
    burst of host load lands on both sides instead of on one.
    """
    small_html, big_html = make(n), make(4 * n)
    small = big = float("inf")
    for _ in range(reps):
        small = min(small, _timed(small_html)[0])
        big = min(big, _timed(big_html)[0])
    assert big <= 6 * small + 0.05, (small, big)
    return extract_page(small_html)


def test_a_flood_250kb_under_two_seconds():
    html = "<a" * 125_000
    elapsed, out = _timed(html)
    assert elapsed < 2.0
    assert out["extracted_text"] == html  # every "<a" is text
    _assert_linear(lambda n: "<a" * n, 30_000)


def test_a_flood_matches_oracle_on_small_input():
    for n in (1, 2, 3, 50, 500):
        assert extract_page("<a" * n) == oracle_extract_page("<a" * n)


def test_lt_flood_1mb():
    elapsed, out = _timed("<" * 1_000_000)
    assert elapsed < 2.0
    assert out["extracted_text"] == "<" * 1_000_000
    _assert_linear(lambda n: "<" * n, 250_000)
    assert extract_page("<" * 500) == oracle_extract_page("<" * 500)


def test_unterminated_comment_2mb_body_absent():
    def make(n):
        return "<p>the only paragraph that stays here</p><!--" + "leak " * (n // 5)

    elapsed, out = _timed(make(2_000_000))
    assert elapsed < 2.0
    assert out["extracted_text"] == "the only paragraph that stays here"
    assert "leak" not in out["extracted_text"]
    _assert_linear(make, 500_000)


def test_nested_divs_50k():
    def make(n):
        return "<div>" * n + "deep text inside every div here" + "</div>" * n

    elapsed, out = _timed(make(50_000))
    assert elapsed < 2.0
    assert out["extracted_text"] == "deep text inside every div here"
    _assert_linear(make, 12_500)
    assert extract_page(make(300)) == oracle_extract_page(make(300))


def test_table_300_by_300():
    def make(rows, cols=300):
        row = "<tr>" + "".join(f"<td>c{c}</td>" for c in range(cols)) + "</tr>"
        return "<table>" + row * rows + "</table>"

    elapsed, out = _timed(make(300))
    assert elapsed < 3.0
    assert len(out["tables"]) == 300 * 300
    _assert_linear(make, 75)
    assert extract_page(make(3, 5)) == oracle_extract_page(make(3, 5))


@pytest.mark.parametrize(
    "make",
    [
        lambda n: "<a b='>'" * (n // 8) + " c=",  # quoted '>' then no tag end
        lambda n: "<a b='" * (n // 6),  # unclosed quotes
        lambda n: "<![CDATA[" * (n // 9),  # unclosed marked sections
        lambda n: "<?" * (n // 2),  # unclosed processing instructions
        lambda n: "</" * (n // 2),  # unclosed end tags
        lambda n: "<b>" * (n // 7) + "</i>" * (n // 7),  # end tags never open
        lambda n: "<b>" * (n // 14) + "<p></p>x" * (n // 14),  # deep inline
    ],
    ids=["quoted_gt", "open_quotes", "cdata", "pi", "end_tags", "unmatched", "deep"],
)
def test_other_floods_are_linear(make):
    _assert_linear(make, 100_000)
    assert extract_page(make(400)) == oracle_extract_page(make(400))
