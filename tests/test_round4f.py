"""Round-4f additions: Lucene index_phrases-style shingle phrase index
(make_word_shingle_tokenizer + phrase_match_shingles) — exact phrase
matching against a side index of word n-grams, row-identical to the
unigram positional evaluator."""

import random

import pytest

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.tokenizers import (
    make_word_shingle_tokenizer,
)
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.phrase import (
    phrase_match,
    phrase_match_shingles,
    shingle_phrase_slots,
)

BASE = ComboConfig(["whitespace"])
SH2 = make_word_shingle_tokenizer("whitespace", size=2)
SH3 = make_word_shingle_tokenizer("whitespace", size=3)


# ---------------------------------------------------------------- tokenizer

def test_shingle_tokens_basic():
    toks = SH2("the quick brown fox")
    assert [(t.term, t.pos) for t in toks] == [
        ("the quick", 1), ("quick brown", 2), ("brown fox", 3)
    ]
    # offsets span first word start .. last word end
    assert (toks[0].start, toks[0].end) == (0, 9)
    assert all(t.type == "shingle" for t in toks)


def test_shingle_size3_and_short_input():
    assert [t.term for t in SH3("a b c d")] == ["a b c", "b c d"]
    assert SH3("a b") == []
    assert SH2("solo") == []
    assert SH2("") == []


def test_shingle_does_not_bridge_position_gaps():
    # standard analyzer drops stopwords but keeps position gaps: "x the y"
    # -> x@1, y@3; a size-2 shingle must NOT weld x and y together
    sh = make_word_shingle_tokenizer("standard", size=2)
    assert sh("x the y") == []
    assert [t.term for t in sh("x y the z")] == ["x y"]


def test_shingle_size_validation_and_stamp():
    with pytest.raises(ValueError):
        make_word_shingle_tokenizer("whitespace", size=1)
    named = make_word_shingle_tokenizer("whitespace", size=2, name="sh2_ws")
    assert named.analyzer_name == "sh2_ws"
    assert len(named.analyzer_fingerprint) == 16


# ---------------------------------------------------------------- query path

DOCS = [
    (0, "to be or not to be that is the question"),
    (1, "be or to be or not now"),
    (2, "a a a a"),
    (3, "to be continued"),
    (4, "not to be or"),
    (5, "question to be or not"),
    (6, "entirely unrelated words here"),
]


def _index(spark, rows, cfg):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, cfg)
    return posting_frame(stats, avgdl=10.0, block_size=16,
                         with_positions=True)


@pytest.fixture(scope="module")
def indexes(spark):
    uni = _index(spark, DOCS, BASE)
    sh = _index(spark, DOCS, ComboConfig([SH2]))
    uni.frame.cache().count()
    sh.frame.cache().count()
    return uni, sh


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["n_matches"]) for r in df.collect()
    )


PHRASES = [
    (0, "to be"),                # stop-grade bigram, multiple docs
    (1, "to be or not"),         # length 4
    (2, "a a"),                  # overlapping self-shingle: freq 3 in doc 2
    (3, "be or not to be"),      # length 5, only doc 0
    (4, "question to zzz"),      # absent
    (5, "or not"),
]


def test_shingle_phrase_identical_to_unigram(spark, indexes):
    uni, sh = indexes
    expect = _rows(phrase_match(spark, uni, PHRASES, BASE))
    got = _rows(phrase_match_shingles(spark, sh, PHRASES, BASE))
    assert got == expect and expect  # non-vacuous
    # overlapping repeated-term phrase counts every start
    assert (2, 2, 3) in got


def test_shingle_phrase_partitioned_identical(spark, indexes):
    uni, sh = indexes
    expect = _rows(phrase_match(spark, uni, PHRASES, BASE))
    got = _rows(
        phrase_match_shingles(
            spark, sh, PHRASES, BASE, partitioned=True, range_bits=2
        )
    )
    assert got == expect


def test_size3_shingle_index(spark):
    sh3 = _index(spark, DOCS, ComboConfig([SH3]))
    qs = [(0, "to be or not"), (1, "be that is the question"), (2, "a a a")]
    uni = _index(spark, DOCS, BASE)
    expect = _rows(phrase_match(spark, uni, qs, BASE))
    got = _rows(phrase_match_shingles(spark, sh3, qs, BASE, size=3))
    assert got == expect and expect


def test_short_phrase_rejected():
    with pytest.raises(ValueError, match="fall back"):
        shingle_phrase_slots([(0, "single")], BASE, size=2)
    # empty-analysis phrases simply produce no slots (not an error)
    assert shingle_phrase_slots([], BASE) == {}


def test_randomized_equivalence(spark):
    rng = random.Random(42)
    words = ["w%d" % i for i in range(6)]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))))
        for i in range(40)
    ]
    uni = _index(spark, rows, BASE)
    sh = _index(spark, rows, ComboConfig([SH2]))
    qs = [
        (q, " ".join(rng.choice(words) for _ in range(rng.randint(2, 5))))
        for q in range(12)
    ]
    expect = _rows(phrase_match(spark, uni, qs, BASE))
    got = _rows(phrase_match_shingles(spark, sh, qs, BASE))
    part = _rows(
        phrase_match_shingles(spark, sh, qs, BASE, partitioned=True,
                              range_bits=2)
    )
    assert got == expect and part == expect and len(expect) > 10
