"""legal_document_ocr_spark — a PySpark-native web-text extraction engine.

A brand-new, Spark-first rebuild of the capabilities of the reference repo
``namdo21917/legal-document-ocr`` (a FastAPI + OpenCV/Tesseract legal-document
OCR pipeline), re-expressed as a distributed main-content extraction engine
over Common-Crawl-style web-page tables:

- input contract:  ``pages(url string, warc_ts timestamp, html binary,
  text string, lang string)``
- output contract: ``(url, warc_ts, lang, extracted_text string,
  spans array<struct>, tables array<struct>, n_blocks int, n_kept int,
  fields struct, lineage struct)``
- per-url invariant: extracted_text is byte-identical to the pure-pandas
  oracle (shared kernels — see ``kernels.py``).

Architecture (idiomatic Spark, not a port):
- all heavy per-row kernels run as vectorized Arrow/pandas UDF stages
  (``stages.py``) — no per-row Python UDFs anywhere;
- everything SQL-expressible is Catalyst expressions (``operators/``);
- scale combinators (``scale/``): sha2 dedup-before-compute, salted
  repartitioning on domain/size buckets, checkpoint/resume with
  per-partition lineage + counters;
- training-data-pipeline operators (``operators/``): exact + MinHash-LSH +
  SimHash + n-gram-Jaccard + embedding-cosine dedup, ANN similarity search,
  language-ID / quality scoring / token counting / fingerprinting.
"""

__version__ = "0.1.0"
