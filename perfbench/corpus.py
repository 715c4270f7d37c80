"""Seeded page corpora with closed-form expected outputs.

Every generator returns ``Page`` records: the five input-contract columns
(url, warc_ts, html, text, lang) plus what the extraction must produce for
that page, stated by construction rather than computed by the program:

- ``crawl_pages``: Common-Crawl-like pages. Log-normal sizes, script/style
  blobs, a 30-60 link nav, a link-only "related" block, a link footer,
  5-40 paragraphs carrying character entities and inline links, a table on
  about one page in four, English or Vietnamese text. The kept blocks are
  the ``<h1>`` title, the paragraphs and the long table cells, in document
  order. The text avoids every literal the field battery gates on, so the
  battery's output is fixed: ``issuing_agency`` is the whole text (the
  head-of-document fallback), ``position`` is the title's leading word run,
  every other field is null.
- ``legal_pages``: Vietnamese legal pages in the ``synthesize_vn_pages_df``
  line layout, 3-5 pages per document, each page mirrored byte for byte
  under a second host. Fields and merged documents follow the closed forms
  of ``registry/extraction.py`` (``_SQL_EXTRACT_FIELDS_VN``,
  ``_SQL_MERGE_VN``), generalised to n pages.

The ``text`` column carries the expected extracted text; the pipeline drops
it before any stage runs.
"""

from __future__ import annotations

import hashlib
import math
import random
import statistics
from dataclasses import dataclass, field
from datetime import datetime, timedelta

FIELD_NAMES = (
    "document_type",
    "document_number",
    "issue_location",
    "issue_date",
    "issuing_agency",
    "recipients",
    "recipient_address",
    "signer",
    "position",
    "subject",
)

_T0 = datetime(2024, 1, 1)

# Vocabularies avoid every field-battery gate literal (công, tờ, quyết,
# thông, số, ngày, cộng, kính, nơi, ký, chức, v/v, về việc) and "/".
_EN_WORDS = (
    "spark shuffle partition column vector batch stream window merge join "
    "filter aggregate broadcast salt skew lineage checkpoint resume arrow "
    "pandas codegen catalyst parquet crawl extract boilerplate density "
    "river mountain harbor market village engine signal report weather "
    "garden history science energy transport museum festival library"
).split()
_VI_WORDS = (
    "phát triển kinh tế xã hội người dân thành phố giáo dục đào tạo chính "
    "sách nhà nước khoa học văn hóa du lịch mới năm tháng địa phương quốc "
    "gia bảo vệ môi trường sức khỏe đồng thị điện đường sắt hàng không học "
    "sinh viên lao động nông nghiệp biển đảo rừng kế hoạch dự án vốn đầu tư "
    "thu nhập giá cả doanh nghiệp lợi ích an toàn giao mạng dữ liệu"
).split()
_TITLE_FIRST = {
    "en": ("Report", "Notes", "Guide", "Update", "Overview", "Analysis"),
    "vi": ("Tin", "Bài", "Báo", "Hướng", "Tổng", "Phân"),
}
# (html source, decoded text) tokens mixed into paragraphs after the first
# word; each decodes to characters outside the title/position letter class.
_ENTITIES = (
    ("&amp;", "&"),
    ("&lt;tag&gt;", "<tag>"),
    ("&quot;quoted&quot;", '"quoted"'),
    ("&#8212;", "—"),
    ("&copy; 2024", "© 2024"),
    ("caf&eacute;", "café"),
    ("&#x27;s", "'s"),
)


@dataclass
class Page:
    url: str
    warc_ts: datetime
    html: bytes
    text: str
    lang: str
    fields: dict = field(default_factory=dict)


@dataclass
class MergedDoc:
    source_doc: str
    fields: dict
    content: str
    page_numbers: list


# ---------------------------------------------------------------------------
# crawl-like pages (stream_resume, calibration)
# ---------------------------------------------------------------------------


def _byte_table(choices) -> tuple:
    """Spread ``choices`` (at most 256) over the 256 byte values."""
    return tuple(choices[i % len(choices)] for i in range(256))


def _draw(rng: random.Random, table: tuple, k: int) -> list:
    """``k`` seeded draws from a byte table: one ``randbytes`` call instead
    of ``k`` Python-level choices."""
    return list(map(table.__getitem__, rng.randbytes(k)))


_LENS = _byte_table(range(6, 19))
_DRAWS = _byte_table([i / 256 for i in range(256)])
_VOCAB_TABLES = {"en": _byte_table(_EN_WORDS), "vi": _byte_table(_VI_WORDS)}


def _paragraph(rng: random.Random, vocab, n_chars: int) -> tuple[str, str]:
    """One paragraph of about ``n_chars`` as (html, text): sentences of 6-18
    words, some with an entity token and a comma, each closed by a period.
    Sentences are separated by a newline in the html (collapsible markup
    whitespace) and by one space in the text."""
    # short Vietnamese words: enough for n_chars even at 3 chars a word
    words = _draw(rng, vocab, n_chars // 3 + 40)
    lens = _draw(rng, _LENS, len(words) // 6 + 1)
    draws = _draw(rng, _DRAWS, len(lens))
    html_s, text_s, pos, size = [], [], 0, 0
    for n, r in zip(lens, draws):
        if size >= n_chars or pos + n > len(words):
            break
        toks = words[pos : pos + n]
        pos += n
        toks[0] = toks[0].capitalize()
        toks[n // 2] += ","
        text_toks = list(toks)
        if r < 0.5:
            src, txt = _ENTITIES[int(r * 14)]
            toks.insert(n - 2, src)
            text_toks.insert(n - 2, txt)
        h, t = " ".join(toks) + ".", " ".join(text_toks) + "."
        html_s.append(h)
        text_s.append(t)
        size += len(t) + 1
    html, text = "\n".join(html_s), " ".join(text_s)
    if draws[-1] < 0.35:
        # an inline link of two words: link density stays far below the
        # 0.35 drop threshold, and its text is part of the block
        link = f"{words[-1]} {words[-2]}"
        html += f' See <a href="/read/{rng.randrange(10**6)}">{link}</a> now.'
        text += f" See {link} now."
    return html, text


def _blob(rng: random.Random, n_bytes: int, kind: str) -> str:
    out, size, i = [], 0, 0
    while size < n_bytes:
        if kind == "script":
            s = (
                f"var v{i}={rng.randrange(10**6)};function f{i}(x){{"
                f"return x*{rng.randrange(97)}+v{i};}}\n"
            )
        else:
            s = f".c{i}{{margin:{rng.randrange(40)}px;color:#{rng.randrange(16**6):06x}}}\n"
        out.append(s)
        size += len(s)
        i += 1
    return "".join(out)


def _links(rng: random.Random, lang: str, n: int, prefix: str) -> str:
    return "".join(
        f'<li><a href="/{prefix}{i}">{w.capitalize()}</a>'
        for i, w in enumerate(_draw(rng, _VOCAB_TABLES[lang], n))
    )


def crawl_page(
    rng: random.Random, url: str, ts: datetime, lang: str, target: int
) -> Page:
    """One page of about ``target`` bytes and its expected extraction."""
    vocab = _VI_WORDS if lang == "vi" else _EN_WORDS
    title_words = [rng.choice(_TITLE_FIRST[lang])] + rng.choices(vocab, k=rng.randint(2, 5))
    title = " ".join(title_words) + f" {rng.randrange(10**6)}"
    nav = f"<nav><ul>{_links(rng, lang, rng.randint(30, 60), 's')}</ul></nav>"
    related = f'<div class="related"><ul>{_links(rng, lang, rng.randint(5, 12), "r")}</ul></div>'
    footer = (
        f"<footer><ul>{_links(rng, lang, rng.randint(8, 16), 'f')}</ul>"
        "<p>&copy; 2024 Example Media. All rights reserved.</p></footer>"
    )
    script = f"<script>{_blob(rng, int(target * rng.uniform(0.05, 0.2)), 'script')}</script>"
    style = f"<style>{_blob(rng, int(target * rng.uniform(0.02, 0.08)), 'style')}</style>"
    head = (
        f'<html lang="{lang}"><head><meta charset="utf-8"><title>{title}</title>'
        f"{style}{script}</head><body>"
    )
    fixed = len(head) + len(nav) + len(related) + len(footer) + 60
    # 5-40 paragraphs of at least 90 chars; small pages get fewer of them
    n_par = min(rng.randint(5, 40), max(5, (target - fixed) // 90))
    par_chars = max(90, (target - fixed) // n_par)
    body_html, texts = [f"<h1>{title}</h1>"], [title]
    table_at = rng.randrange(n_par) if rng.random() < 0.25 else -1
    for i in range(n_par):
        h, t = _paragraph(rng, _VOCAB_TABLES[lang], par_chars)
        body_html.append(f"<p>{h}</p>\n")
        texts.append(t)
        if i == table_at:
            tbl, kept = _table(rng, vocab)
            body_html.append(tbl)
            texts.extend(kept)
    html = (
        f"{head}{nav}<main><article>{''.join(body_html)}</article>{related}</main>"
        f"{footer}<script>track({rng.randrange(10**6)});</script></body></html>"
    )
    text = "\r\n".join(texts)
    fields = dict.fromkeys(FIELD_NAMES)
    fields["issuing_agency"] = text
    fields["position"] = " ".join(title_words)
    return Page(url, ts, html.encode("utf-8"), text, lang, fields)


def _table(rng: random.Random, vocab) -> tuple[str, list[str]]:
    """A table whose header cells are short (dropped) and whose data cells
    hold two words and two numbers (at least 25 chars: kept)."""
    n_cols, n_rows = rng.randint(2, 4), rng.randint(2, 6)
    head = "".join(f"<th>Col {c}</th>" for c in range(n_cols))
    rows, kept = [f"<tr>{head}</tr>"], []
    for _ in range(n_rows):
        cells = []
        for _ in range(n_cols):
            a, b = rng.choices(vocab, k=2)
            t = f"{a} {b} value {rng.randrange(10**5)} of {rng.randrange(10**7)}"
            t = t if len(t) >= 25 else t + " units 0"
            cells.append(f"<td>{t}</td>")
            kept.append(t)
        rows.append(f"<tr>{''.join(cells)}</tr>")
    return f"<table>{''.join(rows)}</table>", kept


def crawl_pages(seed: int, n: int, median_bytes: int, host_tag: str = "cc") -> list[Page]:
    """``n`` distinct pages, log-normal sizes clipped to [2 KB, 60 KB].

    The target sizes are the distribution's ``n`` quantiles in seeded order,
    so every seed gets the same multiset of sizes and differs in content."""
    rng = random.Random(f"crawl:{seed}:{n}:{median_bytes}")
    lo, hi = 1_500, 50_000  # targets; markup brings pages to ~2-60 KB
    normal = statistics.NormalDist(0.0, 0.75)
    targets = [
        int(min(hi, max(lo, math.exp(normal.inv_cdf((i + 0.5) / n)) * median_bytes)))
        for i in range(n)
    ]
    rng.shuffle(targets)
    out = []
    for i, target in enumerate(targets):
        lang = "vi" if rng.random() < 0.3 else "en"
        host = f"{host_tag}{rng.randrange(400)}.example.{'vn' if lang == 'vi' else 'com'}"
        url = f"https://{host}/{lang}/{seed}/{i}"
        out.append(crawl_page(rng, url, _T0 + timedelta(seconds=i), lang, target))
    return out


# ---------------------------------------------------------------------------
# legal_dup_merge pages
# ---------------------------------------------------------------------------

VN_DOC_TYPES = ("CÔNG VĂN", "TỜ TRÌNH", "QUYẾT ĐỊNH", "THÔNG BÁO")
_HEAD = (
    '<html><head><meta charset="utf-8"><title>Synthetic page</title>'
    "<script>var t=1;</script></head><body>"
    '<nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav>'
    '<div><a href="/promo">Big promo sale click here now</a></div>'
    "<main><p>"
)
_TAIL = (
    "</p></main>"
    '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>'
    "</body></html>"
)
_CRLF = "\r\n"


def legal_pages(seed: int, n_docs: int) -> tuple[list[Page], list[MergedDoc]]:
    """``n_docs`` documents of 3-5 pages, each page also served byte for byte
    by a mirror host. Returns (pages, expected merged documents)."""
    rng = random.Random(f"legal:{seed}:{n_docs}")
    pages, docs = [], []
    for j in range(n_docs):
        doc_id = seed * 10_000_000 + j
        n_pages = rng.randint(3, 5)
        source = f"s{rng.randrange(50)}"
        dtype = VN_DOC_TYPES[doc_id % 4]
        d, m, k = doc_id % 28 + 1, doc_id % 12 + 1, doc_id % 7
        body = " ".join(rng.choices(_VI_WORDS, k=rng.randint(70, 110)))
        texts = []
        for p in range(1, n_pages + 1):
            lines = [
                dtype,
                f"Số: {doc_id}/QD-BTC",
                f"Hà Nội, ngày {d} tháng {m} năm 2024",
                f"Kính gửi: Đơn vị {k}",
                "NGUYỄN VĂN AN",
                "Điện thoại: 0243",
                f"{body} trang {p}",
                f"V/v kế hoạch {doc_id}",
            ]
            html = (_HEAD + "<br>".join(lines) + _TAIL).encode("utf-8")
            text = _CRLF.join(lines)
            texts.append(text)
            fields = {
                "document_type": dtype,
                "document_number": str(doc_id),
                "issue_location": "Hà Nội",
                "issue_date": f"{d}/{m}/2024",
                "issuing_agency": dtype,
                "recipients": f"Đơn vị {k}",
                "recipient_address": None,
                "signer": "NGUYỄN VĂN AN",
                "position": f"{dtype}{_CRLF}Số",
                "subject": f"kế hoạch {doc_id}",
            }
            ts = _T0 + timedelta(seconds=j * 10 + p)
            for host in (f"legal-{source}", f"mirror-{source}"):
                url = f"https://{host}.example.vn/doc{doc_id}/p{p}"
                pages.append(Page(url, ts, html, text, "vi", fields))
        merged_fields = {
            "document_type": dtype,
            "document_number": f"{doc_id}/QD-BTC",
            "issue_location": "Hà Nội",
            "issue_date": f"{d}/{m}/2024",
            "issuing_agency": f"{dtype}{_CRLF}Số: {doc_id}/QD-BTC",
            "recipients": f"Đơn vị {k}{_CRLF}NGUYỄN VĂN AN",
            "recipient_address": None,
            "signer": None,
            "position": None,
            "subject": f"kế hoạch {doc_id}",
        }
        content = "\n\n".join(texts)
        for host in (f"legal-{source}", f"mirror-{source}"):
            docs.append(
                MergedDoc(
                    f"https://{host}.example.vn/doc{doc_id}",
                    merged_fields,
                    content,
                    list(range(1, n_pages + 1)),
                )
            )
    return pages, docs


# ---------------------------------------------------------------------------
# digest + table writing
# ---------------------------------------------------------------------------


def corpus_digest(pages: list[Page]) -> str:
    """sha256 over every input column of every page, in order."""
    h = hashlib.sha256()
    for p in pages:
        for part in (p.url, p.warc_ts.isoformat(), p.text, p.lang):
            h.update(part.encode("utf-8"))
            h.update(b"\x00")
        h.update(p.html)
        h.update(b"\x01")
    return h.hexdigest()


def size_quantiles(pages: list[Page], n: int = 4) -> list[float]:
    return statistics.quantiles([len(p.html) for p in pages], n=n)


def _with_copy_mark(html: bytes, copy: int) -> bytes:
    if not copy:
        return html
    return html.replace(b"<body>", b"<body><!-- copy %d -->" % copy, 1)


def write_pages_table(
    pages: list[Page], path: str, n_files: int, copy: int = 0
) -> list[str]:
    """Write ``pages`` as a parquet table of ``n_files`` files with the input
    contract schema. Returns the file paths, in page order.

    ``copy`` > 0 inserts an HTML comment naming the copy after ``<body>``:
    the extraction is unchanged, the payload hashes (and so the pages'
    shuffle partitions) are not."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    per = -(-len(pages) // n_files)
    files = []
    for f in range(n_files):
        chunk = pages[f * per : (f + 1) * per]
        table = pa.table(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [p.warc_ts for p in chunk],
                "html": [_with_copy_mark(p.html, copy) for p in chunk],
                "text": [p.text for p in chunk],
                "lang": [p.lang for p in chunk],
            },
            schema=schema,
        )
        fp = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(table, fp)
        files.append(fp)
    return files
