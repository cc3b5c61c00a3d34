"""End-to-end: the naive engine — every posting list scored in full, no
block-max pruning (the `exhaustive` fixture) — is rank- and bit-identical
to the pure-Python oracle on the full 20-query reference set
(FIXTURES.md §3)."""

import pytest

from honeywell_search_engine_spark.sources.pages import reference_queries

QUERIES = reference_queries()


def test_corpus_stats_match(seg_index, exhaustive, oracle):
    for stats in (seg_index.stats, exhaustive):
        assert stats.n_docs == oracle.n_docs
        assert stats.avgdl == pytest.approx(oracle.avgdl, rel=1e-12)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_rank_identity(exhaustive, oracle, name):
    q = QUERIES[name]
    exp = oracle.search(q, k=10)
    got = exhaustive.search(q, k=10)
    assert [d for d, _ in got] == [d for d, _ in exp], f"{name}: docid ranks differ"
    for (ed, es), (gd, gs) in zip(exp, got):
        assert gs == pytest.approx(es, rel=1e-9), f"{name}: score for doc {ed}"


def test_bit_exact_scores(exhaustive, oracle):
    """Determinism contract: identical float64 bits (lexicographic term-sum
    order both sides)."""
    for name in ("q01", "q06", "q10", "q12", "q17"):
        q = QUERIES[name]
        assert exhaustive.search(q, k=10) == oracle.search(q, k=10), name


def test_marker_query_exact_docset(exhaustive, oracle, pages_pdf):
    """Planted marker terms hit exactly the docs they were planted in."""
    from honeywell_search_engine_spark.index.corpus import docid_py
    from honeywell_search_engine_spark.sources.pages import marker_term

    en = pages_pdf[pages_pdf.lang == "en"]
    expected = {
        docid_py(row.url)
        for i, row in en.iterrows()
        if marker_term(0) in row.text.lower()
    }
    got = {d for d, _ in exhaustive.search(marker_term(0), k=10**6)}
    assert got == expected and got
