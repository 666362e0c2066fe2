"""Analyzer golden tests (mirrors reference tests/analysis/
text_analyzer_tests.cpp): token + position sequences pinned, Arrow and
Catalyst paths identical, registry round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iresearch_spark.analysis import (
    DelimiterAnalyzer,
    NgramAnalyzer,
    NormAnalyzer,
    PipelineAnalyzer,
    StringAnalyzer,
    TextAnalyzer,
    get_analyzer,
    tokenize,
)
from tests import oracle

CASES = [
    "The Quick,  brown fox; the END_1 foo",
    "def foo(x): return x + 1  # the comment",
    "UPPER lower MiXeD_case 123abc",
    "",
    "a an and of to in is it for the",  # all stopwords
    "semi;colons,and.dots!everywhere",
]


def _df(spark, text):
    return spark.createDataFrame([(1, text)], "doc_id long, content string")


@pytest.mark.parametrize("text", CASES)
def test_text_analyzer_matches_oracle(spark, text):
    exp = oracle.tokenize(text, frozenset(TextAnalyzer().stopwords))
    got = [
        (r["pos"], r["term"])
        for r in tokenize(_df(spark, text), "content", "doc_id").collect()
    ]
    assert got == exp, (text, got, exp)


@pytest.mark.parametrize("text", CASES)
def test_arrow_equals_catalyst(spark, text):
    df = _df(spark, text)
    a = df.select(TextAnalyzer(arrow=True).tokens(F.col("content")).alias("t")).collect()[0]["t"]
    c = df.select(TextAnalyzer(arrow=False).tokens(F.col("content")).alias("t")).collect()[0]["t"]
    assert a == c, (text, a, c)


def test_stopword_position_gaps(spark):
    rows = tokenize(_df(spark, "x the y"), "content", "doc_id").collect()
    assert [(r["pos"], r["term"]) for r in rows] == [(0, "x"), (2, "y")]


def test_delimiter_analyzer(spark):
    an = DelimiterAnalyzer(delimiters=(";",))
    got = _df(spark, "a;b;;c").select(an.tokens(F.col("content")).alias("t")).collect()[0]["t"]
    assert got == ["a", "b", "c"]


def test_ngram_analyzer(spark):
    an = NgramAnalyzer(min_n=2, max_n=3)
    got = _df(spark, "abcd").select(an.tokens(F.col("content")).alias("t")).collect()[0]["t"]
    assert got == ["ab", "bc", "cd", "abc", "bcd"]


def test_norm_and_identity(spark):
    assert _df(spark, "AbC").select(NormAnalyzer().tokens(F.col("content")).alias("t")).collect()[0]["t"] == ["abc"]
    assert _df(spark, "AbC").select(StringAnalyzer().tokens(F.col("content")).alias("t")).collect()[0]["t"] == ["AbC"]


def test_pipeline_analyzer(spark):
    pipe = PipelineAnalyzer(stages=(DelimiterAnalyzer(delimiters=(",",)), NgramAnalyzer(min_n=2, max_n=2)))
    got = _df(spark, "ab,cd").select(pipe.tokens(F.col("content")).alias("t")).collect()[0]["t"]
    assert got == ["ab", "cd"]


def test_registry():
    assert get_analyzer("text").name == "text"
    assert get_analyzer("segmentation").name == "segmentation"
    with pytest.raises(KeyError):
        get_analyzer("nope")


def test_segmentation_unicode_word_break(spark):
    """regex-module UAX#29 approximation (r2 VERDICT missing-2): MidLetter
    apostrophes/periods stay inside tokens, non-Latin letters tokenize
    (the ASCII delimiter class dropped them entirely), CJK runs stay whole
    (documented divergence — no ICU dictionary)."""
    from iresearch_spark.analysis.analyzers import SegmentationAnalyzer

    an = SegmentationAnalyzer()
    cases = [
        ("Hello, World! Can't stop.", ["hello", "world", "can't", "stop"]),
        ("état Zürich naïve", ["état", "zürich", "naïve"]),
        ("pi=3.14 v2.0 foo_bar", ["pi", "3.14", "v2.0", "foo_bar"]),
        ("node.js end. a.b.c", ["node.js", "end", "a.b.c"]),
        ("日本語テキスト test", ["日本語テキスト", "test"]),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "content string")
    got = [r["t"] for r in df.select(an.tokens(F.col("content")).alias("t")).collect()]
    assert got == [exp for _, exp in cases]
    # case option + stopword gaps flow through the standard surface
    an2 = SegmentationAnalyzer(case="none", stopwords=("stop",))
    got2 = (
        spark.createDataFrame([("Can't STOP stop go",)], "content string")
        .select(an2.tokens(F.col("content")).alias("t"))
        .collect()[0]["t"]
    )
    assert got2 == ["Can't", "STOP", "go"]


# ---------------------------------------------------------------------------
# Porter stemmer (analysis/stemmer.py): full-pipeline golden outputs — the
# worked examples from the published algorithm (incl. the two multi-step
# derivations GENERALIZATIONS -> GENER and OSCILLATORS -> OSCIL), mirroring
# the reference's stemming stage (text_token_stemming_stream.cpp).
# ---------------------------------------------------------------------------


def test_porter_stem_goldens():
    from iresearch_spark.analysis.stemmer import porter_stem

    golden = {
        "generalizations": "gener", "oscillators": "oscil",
        "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
        "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
        "bled": "bled", "motoring": "motor", "sing": "sing", "conflated": "conflat",
        "troubled": "troubl", "sized": "size", "hopping": "hop", "tanned": "tan",
        "falling": "fall", "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
        "filing": "file", "happy": "happi", "sky": "sky", "relational": "relat",
        "conditional": "condit", "rational": "ration", "operator": "oper",
        "feudalism": "feudal", "formaliti": "formal", "triplicate": "triplic",
        "formative": "form", "electrical": "electr", "hopefulness": "hope",
        "goodness": "good", "revival": "reviv", "allowance": "allow",
        "inference": "infer", "adjustable": "adjust", "defensible": "defens",
        "replacement": "replac", "adoption": "adopt", "communism": "commun",
        "effective": "effect", "probate": "probat", "rate": "rate",
        "cease": "ceas", "controll": "control", "roll": "roll",
        "running": "run", "argument": "argument",
    }
    bad = {w: (porter_stem(w), e) for w, e in golden.items() if porter_stem(w) != e}
    assert not bad, bad


def test_text_analyzer_stem_and_accents(spark):
    from iresearch_spark.analysis.analyzers import TextAnalyzer

    df = spark.createDataFrame(
        [(1, "Running searches; café naïve RELATIONAL queries")],
        "doc_id long, text string",
    )
    an = TextAnalyzer(stem=True, accent_fold=True)
    toks = df.select(an.tokens(F.col("text")).alias("t")).collect()[0]["t"]
    assert toks == ["run", "search", "cafe", "naiv", "relat", "queri"]


def test_invert_with_stemming_preserves_positions(spark):
    from iresearch_spark.analysis.analyzers import TextAnalyzer
    from iresearch_spark.index.build import doclen_from_partials, pack_docs_combined
    from iresearch_spark.index.merge import unpack_postings

    df = spark.createDataFrame(
        [(1, "the running runner runs")], "doc_id long, content string"
    )
    packed, partials = pack_docs_combined(df, TextAnalyzer(stem=True))
    flat = unpack_postings(packed.withColumn("segment", F.lit("s0")), with_positions=True)
    rows = {r["term"]: (r["tf"], list(r["positions"])) for r in flat.collect()}
    # 'the' is a stopword (position gap at 0); running/runs stem to 'run'
    assert rows == {"run": (2, [1, 3]), "runner": (1, [2])}
    assert {r["doc_id"]: r["len"] for r in doclen_from_partials(partials).collect()} == {1: 3}
