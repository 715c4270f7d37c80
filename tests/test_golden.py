"""Committed golden-file comparison (north rule: byte-identical extracted
text per url, golden-file verified).

``tests/golden/fixture_extracted.jsonl`` is the pipeline's full output
(extracted_text + all ten fields) over the deterministic fixture corpus,
committed to the repo. Any change to the kernels, the UDF stage, the dedup
path or the fixture generator that alters a single byte of any document's
extraction fails here — regression protection across rounds, not just
self-consistency within one run.

Regenerate deliberately (after verifying the change is intended) with the
snippet in the golden file's git history / BASELINE.md.
"""

from __future__ import annotations

import json
import os

from legal_document_ocr_spark.sources.pages import fixture_pages_df
from legal_document_ocr_spark.stages import run_extraction

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "fixture_extracted.jsonl")


def test_fixture_extraction_matches_golden(spark):
    with open(GOLDEN, encoding="utf-8") as f:
        golden = {rec["url"]: rec for rec in map(json.loads, f)}

    out = run_extraction(fixture_pages_df(spark), dedup=True, with_fields=True)
    rows = out.select("url", "extracted_text", "fields").collect()
    assert len(rows) == len(golden)
    for r in rows:
        g = golden[r["url"]]
        assert r["extracted_text"] == g["extracted_text"], r["url"]
        assert dict(r["fields"].asDict()) == g["fields"], r["url"]
