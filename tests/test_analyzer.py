"""Analysis-chain semantics (StandardAnalyzer, SURVEY.md §1.3)."""

from lucene_solr_spark.analysis import (
    ENGLISH_STOP_WORDS,
    analyze,
    analyze_detailed,
)


def test_stop_set_is_the_33_words():
    assert len(ENGLISH_STOP_WORDS) == 33
    assert "the" in ENGLISH_STOP_WORDS and "with" in ENGLISH_STOP_WORDS


def test_lowercase_and_stop():
    assert analyze("The Quick BROWN fox AND the dog") == [
        "quick", "brown", "fox", "dog",
    ]


def test_position_gaps_from_stopwords():
    # "the cat and the hat": positions advance over removed stopwords
    # (FilteringTokenFilter.java:49-63)
    terms, pos = analyze_detailed("the cat and the hat")
    assert terms == ["cat", "hat"]
    assert pos == [1, 4]


def test_too_long_token_dropped_but_position_counted():
    long_tok = "x" * 300
    terms, pos = analyze_detailed(f"alpha {long_tok} beta")
    assert terms == ["alpha", "beta"]
    assert pos == [0, 2]  # dropped token consumed position 1
    # and it does not count toward field length
    assert len(analyze(f"alpha {long_tok} beta")) == 2


def test_255_boundary():
    tok255 = "y" * 255
    tok256 = "y" * 256
    assert analyze(tok255) == [tok255]
    assert analyze(tok256) == []


def test_alphanum_subset_tokens():
    # underscore joins (ExtendNumLet), '.'/':'/' connectors (MidNumLet)
    assert analyze("foo_bar 3.14 v1:2 can't x-y") == [
        "foo_bar", "3.14", "v1:2", "can't", "x", "y",
    ]


def test_empty_and_punct_only():
    assert analyze("") == []
    assert analyze("!!! --- ...") == []
