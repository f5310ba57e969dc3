import pandas as pd
import pytest

from batch_geocode_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "the cat sat on the mat and the dog is in a house",
                "el perro y el gato en la casa de los vecinos que ladran",
                "xyz",
                "symbols !!! ### $$$ %%% everywhere !!! ### not words at all",
            ],
        }
    )
    return spark.createDataFrame(pdf).cache()


def test_token_counts(docs):
    got = T.token_counts(docs).toPandas().set_index("doc_id")
    assert got.loc[0, "n_tokens"] == 13
    assert got.loc[2, "n_tokens"] == 1
    assert got.loc[0, "n_distinct_tokens"] < got.loc[0, "n_tokens"]  # 'the' repeats
    assert got.loc[3, "n_pieces"] > got.loc[3, "n_tokens"]  # symbols split into pieces


def test_quality_scores(docs):
    got = T.quality_scores(docs).toPandas().set_index("doc_id")
    assert got.loc[2, "quality_score"] == 0.0  # too short
    assert got.loc[0, "quality_score"] > got.loc[3, "quality_score"]  # symbol soup
    assert 0 < got.loc[0, "stopword_ratio"] < 1


def test_language_id(docs):
    got = T.language_id(docs).toPandas().set_index("doc_id")
    assert got.loc[0, "lang_final"] == "en"
    assert got.loc[1, "lang_final"] == "es"
    assert got.loc[2, "lang_final"] == "und"


def test_fingerprints_order_sensitivity(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["alpha beta gamma", "gamma beta alpha", "ALPHA   beta GAMMA"],
        }
    )
    d = spark.createDataFrame(pdf)
    got = T.fingerprints(d).toPandas().set_index("doc_id")
    # rolling hash is order-sensitive; norm hash is case/space-insensitive
    assert got.loc[0, "rolling_hash"] != got.loc[1, "rolling_hash"]
    assert got.loc[0, "norm_hash"] == got.loc[2, "norm_hash"]
    assert got.loc[0, "norm_hash"] != got.loc[1, "norm_hash"]


def test_repetition_scores(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                # 4 non-empty lines, 'dup line' 3x (len 8 incl. space)
                "dup line\ndup line\nunique one\n\ndup line",
                "a b a b a b a b",  # 'a b' bigram dominates
                "all distinct lines\nno repeats here",
                "one",  # single token: no bigrams, one line
            ],
        }
    )
    got = (
        T.repetition_scores(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
    )
    # doc 0: 4 lines, 'dup line' x3 -> dup_line_frac = (4-2)/4
    assert got.loc[0, "n_lines"] == 4
    assert got.loc[0, "dup_line_frac"] == pytest.approx(0.5)
    # dup chars = all 3 occurrences of 'dup line' over total line chars
    total = 3 * len("dup line") + len("unique one")
    assert got.loc[0, "dup_line_char_frac"] == pytest.approx(
        round(3 * len("dup line") / total, 6)
    )
    # doc 1: bigrams of 'a b a b a b a b' (7 bigrams, 'a b' x4)
    assert got.loc[1, "top_bigram_frac"] == pytest.approx(round(4 / 7, 6))
    # doc 2: nothing repeats
    assert got.loc[2, "dup_line_frac"] == 0.0
    assert got.loc[2, "dup_line_char_frac"] == 0.0
    # doc 3: degenerate -- no bigrams, no dup lines
    assert got.loc[3, "n_lines"] == 1
    assert got.loc[3, "top_bigram_frac"] == 0.0


def test_unigram_logprob_matches_bruteforce(spark):
    """unigram_logprob_scores == the naive per-instance mean of
    ln(corpus_tf / corpus_total) computed in pandas."""
    import math

    import pandas as pd

    from batch_geocode_spark.operators.text import unigram_logprob_scores

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["the the cat", "the dog", "zebra zebra zebra unique"],
        }
    )
    got = (
        unigram_logprob_scores(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id").sort_index()
    )
    toks = {i: t.split() for i, t in zip(pdf["doc_id"], pdf["text"])}
    from collections import Counter

    tf = Counter(t for ts in toks.values() for t in ts)
    total = sum(tf.values())
    for i, ts in toks.items():
        want = sum(math.log(tf[t] / total) for t in ts) / len(ts)
        assert got.loc[i, "n_tokens"] == len(ts)
        assert abs(got.loc[i, "avg_logprob"] - round(want, 6)) < 1e-9


def test_unigram_logprob_empty_corpus(spark):
    """An empty corpus scores no docs: its token total is a null sum,
    which must not reach the float literal."""
    from batch_geocode_spark.operators.text import unigram_logprob_scores

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert unigram_logprob_scores(docs).collect() == []
