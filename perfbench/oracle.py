"""Row checks against the generators' closed-form expectations.

Two independent references:

- ``check_pages`` / ``check_merged``: every output row against what the
  generator stated for its page or document (``corpus.Page`` /
  ``corpus.MergedDoc``). A missing, duplicated or unexpected key counts as
  an inaccurate row.
- ``recheck_kernels``: a seeded sample of the expectations against direct
  calls of the package's single-page kernels, so a generator whose closed
  form drifted from the kernels fails the run instead of agreeing with a
  wrong pipeline.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Verdict:
    """Rows checked, rows wrong, and a few examples of what was wrong."""

    attempted: int = 0
    failed: int = 0
    examples: list = field(default_factory=list)

    def add(self, other: "Verdict") -> "Verdict":
        return Verdict(
            self.attempted + other.attempted,
            self.failed + other.failed,
            (self.examples + other.examples)[:5],
        )

    @property
    def accuracy(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0

    def _miss(self, key, what: str) -> None:
        self.failed += 1
        if len(self.examples) < 5:
            self.examples.append(f"{key}: {what}")


def _fields_dict(value) -> dict | None:
    if value is None:
        return None
    return dict(value.asDict() if hasattr(value, "asDict") else value)


def _check_keyed(expected: dict, rows, key_of, compare) -> Verdict:
    """One verdict entry per expected key; extra and duplicated keys fail."""
    v = Verdict(attempted=len(expected))
    seen = Counter()
    for row in rows:
        key = key_of(row)
        seen[key] += 1
        if key not in expected:
            v.attempted += 1
            v._miss(key, "unexpected row")
        elif seen[key] == 2:
            v._miss(key, "duplicated")
        elif seen[key] == 1:
            problem = compare(row, expected[key])
            if problem:
                v._miss(key, problem)
    for key in expected.keys() - seen.keys():
        v._miss(key, "missing")
    return v


def check_pages(rows, pages) -> Verdict:
    """``rows``: mappings with url, extracted_text, fields (one per page)."""
    expected = {p.url: p for p in pages}

    def compare(row, page) -> str | None:
        if row["extracted_text"] != page.text:
            return "extracted_text differs"
        if _fields_dict(row["fields"]) != page.fields:
            return "fields differ"
        return None

    return _check_keyed(expected, rows, lambda r: r["url"], compare)


def check_merged(rows, docs) -> Verdict:
    """``rows``: merge_documents output rows (one per source document)."""
    expected = {d.source_doc: d for d in docs}
    names = list(docs[0].fields) if docs else []

    def compare(row, doc) -> str | None:
        if row["document_id"] != "1":
            return f"document_id {row['document_id']!r}"
        if row["content"] != doc.content:
            return "content differs"
        if list(row["page_numbers"]) != doc.page_numbers:
            return "page_numbers differ"
        if {n: row[n] for n in names} != doc.fields:
            return "fields differ"
        return None

    return _check_keyed(expected, rows, lambda r: r["source_doc"], compare)


def recheck_kernels(pages, seed: int, n: int, docs=None) -> Verdict:
    """Compare a seeded sample of expectations with direct kernel calls."""
    from legal_document_ocr_spark.kernels import (
        extract_fields,
        extract_page,
        merge_pages,
    )

    rng = random.Random(f"recheck:{seed}")
    sample = rng.sample(pages, min(n, len(pages)))
    v = Verdict(attempted=len(sample))
    for p in sample:
        out = extract_page(p.html)
        if out["extracted_text"] != p.text:
            v._miss(p.url, "kernel text differs from closed form")
        elif extract_fields(out["extracted_text"]) != p.fields:
            v._miss(p.url, "kernel fields differ from closed form")
    if docs:
        by_doc: dict[str, list] = {}
        for p in pages:
            by_doc.setdefault(p.url.rsplit("/", 1)[0], []).append(p)
        for d in rng.sample(docs, min(n // 4 + 1, len(docs))):
            v.attempted += 1
            group = sorted(by_doc.get(d.source_doc, []), key=lambda p: p.url)
            merged = merge_pages(
                [
                    {
                        "ocr_text": p.text,
                        "extracted_info": dict(p.fields),
                        "regions": extract_page(p.html)["spans"],
                    }
                    for p in group
                ]
            )
            if len(merged) != 1:
                v._miss(d.source_doc, f"kernel merged into {len(merged)} documents")
                continue
            info = merged[0]["document_info"]
            got = {k: info.get(k) for k in d.fields}
            if (got, info["content"], info["page_numbers"]) != (
                d.fields,
                d.content,
                d.page_numbers,
            ):
                v._miss(d.source_doc, "kernel merge differs from closed form")
    return v
