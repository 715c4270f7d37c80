"""The row oracle catches mutated, missing, duplicated and extra rows."""

import copy

from legal_document_ocr_spark.kernels import extract_fields, extract_page, merge_pages

from perfbench import corpus, oracle


def _kernel_rows(pages):
    rows = []
    for p in pages:
        text = extract_page(p.html)["extracted_text"]
        rows.append({"url": p.url, "extracted_text": text, "fields": extract_fields(text)})
    return rows


def test_kernel_output_passes():
    pages = corpus.crawl_pages(5, 40, 6_000)
    v = oracle.check_pages(_kernel_rows(pages), pages)
    assert (v.attempted, v.failed) == (40, 0)
    assert v.accuracy == 1.0


def test_mutated_text_is_caught():
    pages = corpus.crawl_pages(5, 40, 6_000)
    rows = _kernel_rows(pages)
    rows[7]["extracted_text"] = rows[7]["extracted_text"].replace(".", ",", 1)
    v = oracle.check_pages(rows, pages)
    assert v.failed == 1 and "extracted_text" in v.examples[0]
    assert v.accuracy < 1.0


def test_mutated_field_is_caught():
    pages, _ = corpus.legal_pages(5, 5)
    rows = _kernel_rows(pages)
    rows[3]["fields"] = dict(rows[3]["fields"], issue_date="1/1/2024")
    v = oracle.check_pages(rows, pages)
    assert v.failed == 1 and "fields" in v.examples[0]


def test_missing_duplicated_and_extra_rows_are_caught():
    pages = corpus.crawl_pages(5, 10, 6_000)
    rows = _kernel_rows(pages)
    extra = dict(rows[0], url="https://elsewhere.example.com/x")
    v = oracle.check_pages(rows[1:] + [rows[2], extra], pages)
    assert v.failed == 3  # rows[0] missing, rows[2] twice, one unexpected
    assert v.attempted == 11


def test_merged_documents_checked_and_mutation_caught():
    pages, docs = corpus.legal_pages(5, 6)
    by_doc = {}
    for p in sorted(pages, key=lambda p: p.url):
        by_doc.setdefault(p.url.rsplit("/", 1)[0], []).append(p)
    rows = []
    for source_doc, group in by_doc.items():
        (merged,) = merge_pages(
            [
                {
                    "ocr_text": p.text,
                    "extracted_info": dict(p.fields),
                    "regions": extract_page(p.html)["spans"],
                }
                for p in group
            ]
        )
        info = merged["document_info"]
        rows.append(
            {"source_doc": source_doc, "document_id": merged["document_id"], **info}
        )
    assert oracle.check_merged(rows, docs).failed == 0
    bad = copy.deepcopy(rows)
    bad[2]["content"] += " "
    assert oracle.check_merged(bad, docs).failed == 1
