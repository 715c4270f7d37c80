"""Seeded corpora: same seed, same bytes; another seed, other bytes of the
same size distribution; expectations that agree with the kernels."""

import pytest

from perfbench import corpus, oracle


def test_same_seed_same_digest():
    a = corpus.crawl_pages(7, 300, 12_500)
    b = corpus.crawl_pages(7, 300, 12_500)
    assert corpus.corpus_digest(a) == corpus.corpus_digest(b)
    la, _ = corpus.legal_pages(7, 100)
    lb, _ = corpus.legal_pages(7, 100)
    assert corpus.corpus_digest(la) == corpus.corpus_digest(lb)


def test_other_seed_other_bytes_same_size_quantiles():
    a = corpus.crawl_pages(7, 1500, 12_500)
    b = corpus.crawl_pages(8, 1500, 12_500)
    assert corpus.corpus_digest(a) != corpus.corpus_digest(b)
    assert not {p.html for p in a} & {p.html for p in b}
    for qa, qb in zip(corpus.size_quantiles(a), corpus.size_quantiles(b)):
        assert abs(qa - qb) / qa < 0.1, (qa, qb)
    la, _ = corpus.legal_pages(7, 300)
    lb, _ = corpus.legal_pages(8, 300)
    assert corpus.corpus_digest(la) != corpus.corpus_digest(lb)
    for qa, qb in zip(corpus.size_quantiles(la), corpus.size_quantiles(lb)):
        assert abs(qa - qb) / qa < 0.05, (qa, qb)


def test_crawl_sizes_match_the_workload_description():
    pages = corpus.crawl_pages(3, 2000, 12_500)
    sizes = [len(p.html) for p in pages]
    assert min(sizes) >= 2_000 and max(sizes) <= 70_000
    assert 13_000 <= corpus.size_quantiles(pages)[1] <= 17_000
    assert len({p.html for p in pages}) == len(pages)  # every payload distinct


def test_legal_pages_are_half_mirrors():
    pages, docs = corpus.legal_pages(3, 200)
    assert len({p.html for p in pages}) * 2 == len(pages)
    assert len(docs) == 400  # one merged document per host and document


@pytest.mark.parametrize("seed", [1, 2])
def test_closed_form_agrees_with_kernels(seed):
    crawl = corpus.crawl_pages(seed, 120, 12_500)
    assert oracle.recheck_kernels(crawl, seed, 120).failed == 0
    pages, docs = corpus.legal_pages(seed, 30)
    assert oracle.recheck_kernels(pages, seed, 60, docs).failed == 0
