"""Pure-Python kernel tests — reference-semantics parity (SURVEY.md §2.3)."""

import pytest

from legal_document_ocr_spark.kernels import (
    clean_text,
    decode_html,
    extract_fields,
    extract_page,
    is_empty_page,
    is_same_document,
    merge_pages,
    normalize_match_text,
)


class TestCleanText:
    """K8 — information_extraction_service.py:15-22, byte-for-byte."""

    def test_newline_normalization(self):
        assert clean_text("a\nb") == "a\r\nb"

    def test_line_strip(self):
        assert clean_text("  a  \n  b  ") == "a\r\nb"

    def test_empty(self):
        assert clean_text("") == ""
        assert clean_text(None) == ""

    def test_idempotent(self):
        s = clean_text("  x \n y\r\n z ")
        assert clean_text(s) == s

    def test_mixed_crlf(self):
        # \r\n already present: \n -> \r\n then strip removes the orphan \r
        assert clean_text("a\r\nb\nc") == "a\r\nb\r\nc"

    def test_reference_exact(self):
        # literal transcription of the reference algorithm, run side by side
        def ref(text):
            if not text:
                return ""
            text = text.replace("\n", "\r\n")
            return "\r\n".join(
                line.strip() for line in text.split("\r\n")
            ).strip()

        for s in ["", "a", " a \n b ", "x\r\n\r\ny", "Việt\nNam  ", "\n\n\n"]:
            assert clean_text(s) == ref(s)


class TestDecode:
    def test_utf8(self):
        assert decode_html("Việt Nam".encode("utf-8")) == "Việt Nam"

    def test_declared_charset(self):
        raw = '<meta charset="iso-8859-1">café'.encode("iso-8859-1")
        assert "café" in decode_html(raw)

    def test_invalid_bytes_lossy(self):
        out = decode_html(b"\xff\xfe broken")
        assert "broken" in out
        # a declared codec that raises plain UnicodeError on decode
        out = decode_html(b"<meta charset=undefined>\xff\xfe broken")
        assert out == "<meta charset=undefined>\ufffd\ufffd broken"

    def test_none(self):
        assert decode_html(None) == ""


class TestExtractPage:
    def test_boilerplate_dropped(self):
        html = (
            b"<body><nav><a href='/'>Home</a> <a href='/x'>About page</a></nav>"
            b"<main><p>Real content paragraph with enough words to keep it.</p></main>"
            b"<footer><a href='/p'>Privacy policy and terms</a></footer></body>"
        )
        r = extract_page(html)
        assert r["extracted_text"] == (
            "Real content paragraph with enough words to keep it."
        )
        assert len(r["spans"]) == 1
        assert r["spans"][0]["kind"] == "p"

    def test_link_density_filter(self):
        html = (
            b"<body><div><a href='/1'>one link</a> <a href='/2'>two link</a>"
            b" <a href='/3'>three link</a> and tiny text</div>"
            b"<p>This is a genuinely contentful paragraph kept by density.</p></body>"
        )
        r = extract_page(html)
        assert "genuinely contentful" in r["extracted_text"]
        assert "one link" not in r["extracted_text"]

    def test_span_offsets_slice_text(self):
        html = (
            b"<main><h1>Title Line</h1><p>First paragraph with several words"
            b" inside.</p><p>Second paragraph with several more words.</p></main>"
        )
        r = extract_page(html)
        t = r["extracted_text"]
        for s in r["spans"]:
            assert t[s["x"] : s["x"] + s["w"]] == t[s["x"] : s["x"] + s["w"]].strip()
        joined = "\r\n".join(t[s["x"] : s["x"] + s["w"]] for s in r["spans"])
        assert joined == t

    def test_table_cells(self):
        html = b"<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
        r = extract_page(html)
        cells = {(c["row"], c["col"]): c["text"] for c in r["tables"]}
        assert cells == {(0, 0): "a", (0, 1): "b", (1, 0): "c", (1, 1): "d"}

    def test_degenerate_table(self):
        r = extract_page(b"<table><tr><td></td></tr></table>")
        assert r["tables"] == []

    def test_clean_idempotence_invariant(self):
        html = b"<main><p>alpha<br>beta</p><pre>g1\ng2</pre></main>"
        r = extract_page(html)
        assert clean_text(r["extracted_text"]) == r["extracted_text"]

    def test_malformed_html(self):
        r = extract_page(b"<p>unclosed paragraph with plenty of words to keep")
        assert "unclosed paragraph" in r["extracted_text"]

    def test_empty(self):
        r = extract_page(b"")
        assert r["extracted_text"] == ""
        assert r["spans"] == []


class TestFields:
    VN = (
        "BỘ TÀI CHÍNH\r\nCỘNG HÒA XÃ HỘI CHỦ NGHĨA VIỆT NAM\r\n"
        "Số: 123/QĐ-BTC\r\nHà Nội, ngày 5 tháng 3 năm 2024\r\n"
        "Kính gửi: Ông Nguyễn Văn A\r\nV/v tăng cường công tác\r\n"
    )

    def test_first_match_wins(self):
        f = extract_fields(self.VN)
        # pattern 2 of document_number: group(1) of "Số\s*:\s*([\w-]+)"
        assert f["document_number"] == "123"

    def test_location_date(self):
        f = extract_fields(self.VN)
        assert f["issue_location"] == "Hà Nội"
        assert f["issue_date"] == "5/3/2024"

    def test_subject(self):
        f = extract_fields(self.VN)
        assert f["subject"] == "tăng cường công tác"

    def test_recipients(self):
        f = extract_fields(self.VN)
        assert f["recipients"] == "Ông Nguyễn Văn A"

    def test_document_type_keyword(self):
        f = extract_fields("QUYẾT ĐỊNH\r\nSố: 9/QĐ\r\n")
        assert f["document_type"] == "QUYẾT ĐỊNH"

    def test_no_match_none(self):
        f = extract_fields("plain english text with no fields at all\r\n")
        assert f["document_number"] is None
        assert f["issue_date"] is None

    def test_config_shape_validation(self):
        """P2: the driver-side config assert (validation.py:58-91 analogue)
        passes on the shipped config and catches shape breakage."""
        from unittest import mock

        from legal_document_ocr_spark import config

        config.validate_config()  # shipped config is valid
        with mock.patch.object(
            config, "PATTERN_GATES", {**config.PATTERN_GATES, "signer": [["ký"]]}
        ):
            try:
                config.validate_config()
                raise AssertionError("expected gate/pattern arity mismatch")
            except ValueError as e:
                assert "signer" in str(e)

    def test_document_type_across_line_break(self):
        # the \s+ in the type regex matches \r\n (merged-block boundary);
        # the literal gate must not reject it (gates are single words)
        f = extract_fields("CÔNG\r\nVĂN\r\nSố: 7/CV\r\n")
        assert f["document_type"] == "CÔNG\r\nVĂN"


class TestMergePredicates:
    def test_normalize(self):
        # document_merger_service.py:81-87
        assert normalize_match_text("Số: 123/QĐ-BTC") == "số 123qđ-btc"
        assert normalize_match_text(None) == ""

    def test_empty_page(self):
        assert is_empty_page({"ocr_text": "  ", "extracted_info": {}, "regions": []})
        assert is_empty_page(
            {"ocr_text": "x", "extracted_info": {"a": None}, "regions": [1]}
        )
        assert not is_empty_page(
            {"ocr_text": "x", "extracted_info": {"a": "v"}, "regions": [1]}
        )

    def test_same_number_merges(self):
        p = lambda n: {
            "ocr_text": "text body here.",
            "extracted_info": {"document_number": n},
            "regions": [1],
        }
        assert is_same_document(p("12/QD"), p("12/QD"))
        assert not is_same_document(p("12/QD"), p("13/QD"))

    def test_word_overlap_merges(self):
        p1 = {
            "ocr_text": "Start. continuing clause with shared tokens",
            "extracted_info": {"x": "y"},
            "regions": [1],
        }
        p2 = {
            "ocr_text": "shared tokens resume here. More",
            "extracted_info": {"x": "z"},
            "regions": [1],
        }
        assert is_same_document(p1, p2)

    def test_fold_groups_against_last_page(self):
        # A matches B, B matches C, but A does not match C: the fold keeps
        # them in ONE group because comparison is against the group's LAST
        # page (document_merger_service.py:190) — lag-vs-prev would too, but
        # the reverse case (matching group head only) must NOT group.
        mk = lambda text, num: {
            "ocr_text": text,
            "extracted_info": {"document_number": num, "f": "v"},
            "regions": [1],
        }
        a, b, c = mk("aa.", "1"), mk("bb.", "1"), mk("cc.", "2")
        docs = merge_pages([a, b, c])
        assert [d["document_info"]["page_numbers"] for d in docs] == [[1, 2], [3]]


class TestMergeFold:
    def test_empty_pages_dropped_and_renumbered(self):
        mk = lambda t: {
            "ocr_text": t,
            "extracted_info": {"document_number": "7"},
            "regions": [1],
        }
        empty = {"ocr_text": "", "extracted_info": {}, "regions": []}
        docs = merge_pages([empty, mk("a."), empty, mk("b.")])
        assert len(docs) == 1
        assert docs[0]["document_info"]["page_numbers"] == [1, 2]

    def test_full_number_reextraction(self):
        # merger :129 — doc-level regex upgrades "391" to "391-TTr/VTCCB-TH"
        pages = [
            {
                "ocr_text": "Số: 391-TTr/VTCCB-TH nội dung.",
                "extracted_info": {"document_number": "391-TTr"},
                "regions": [1],
            }
        ]
        docs = merge_pages(pages)
        assert docs[0]["document_info"]["document_number"] == "391-TTr/VTCCB-TH"
