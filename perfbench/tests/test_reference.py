"""The reference answers on small corpora computed by hand.

Run with: python3 -m pytest perfbench/tests -q
"""

import gzip
import math

import numpy as np
import pytest

import gen
import reference as ref

# d0: dl 3, d1: dl 2, d2: dl 4 -> N 3, avgdl 3
DOCS = ["Apple banana, the apple.", "Banana and cherry", "cherry cherry cherry date"]


@pytest.fixture
def index():
    return ref.Index([10, 11, 12], [ref.tokenize(t) for t in DOCS])


def test_tokenize_letter_runs_minus_stop_words():
    assert ref.tokenize("The Quick, brown fox. And THE dog") == [
        "quick", "brown", "fox", "dog"]
    assert len(gen.STOP_WORDS) == 33


def test_index_counts(index):
    assert index.n_docs == 3
    assert index.avgdl == 3.0
    assert index.n_tokens == 9
    # (apple,d0) (banana,d0) (banana,d1) (cherry,d1) (cherry,d2) (date,d2)
    assert index.n_postings == 6
    assert index.doc_freq("cherry") == 2
    assert index.doc_freq("the") == 0


def test_bm25_term(index):
    score, matched = index.bm25(["apple"])
    # idf = ln(1 + (3 - 1 + 0.5) / (1 + 0.5)) = ln(8/3); tf 2, dl 3 = avgdl:
    # tf part = 2 * 2.2 / (2 + 1.2) = 1.375
    assert matched.tolist() == [True, False, False]
    assert score[0] == pytest.approx(math.log(8 / 3) * 1.375)


def test_bm25_and_or(index):
    idf2 = math.log(1 + 1.5 / 2.5)  # df 2
    # d1: dl 2 -> tf part = 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 3)) = 2.2/1.9
    s_or, m_or = index.bm25(["banana", "cherry"], "OR")
    assert m_or.tolist() == [True, True, True]
    assert s_or[1] == pytest.approx(2 * idf2 * 2.2 / 1.9)
    s_and, m_and = index.bm25(["banana", "cherry"], "AND")
    assert m_and.tolist() == [False, True, False]
    assert s_and[1] == pytest.approx(s_or[1])


def test_phrase_frequency_and_summed_idf(index):
    score, matched = index.phrase(["cherry", "cherry"])
    # "cherry cherry cherry": the phrase starts at 0 and 1 -> pfreq 2, dl 4
    tf_part = 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 4 / 3))
    assert matched.tolist() == [False, False, True]
    assert score[2] == pytest.approx(2 * math.log(1.6) * tf_part)
    # terms of one doc that are not adjacent do not match
    assert not index.phrase(["apple", "apple"])[1].any()
    assert not index.phrase(["banana", "date"])[1].any()


def test_prefix_and_fuzzy(index):
    assert sorted(index.prefix_terms("ch")) == ["cherry"]
    assert sorted(index.prefix_terms("b")) == ["banana"]
    # lev(chery, cherry) = 1 -> sim 1 - 1/min(5, 6) = 0.8, kept only when
    # strictly above the minimum
    assert index.fuzzy_terms("chery", 0.7) == ["cherry"]
    assert index.fuzzy_terms("chery", 0.8) == []
    # lev(dote, date) = 1 -> sim 1 - 1/4 = 0.75
    assert index.fuzzy_terms("dote", 0.7) == ["date"]
    assert index.fuzzy_terms("dote", 0.75) == []


def test_levenshtein():
    assert ref.levenshtein("kitten", "sitting") == 3
    assert ref.levenshtein("", "abc") == 3
    words = ["kitten", "sitting", "a", "mitten", "kit", "knitting", "xyz"]
    m = ref.TermMatrix(words)
    assert m.levenshtein("kitten").tolist() == [
        ref.levenshtein("kitten", w) for w in words]
    rng = np.random.default_rng(0)
    words = ["".join(rng.choice(list("abc"), rng.integers(1, 8)))
             for _ in range(200)]
    m = ref.TermMatrix(words)
    for q in ("abc", "cabba", "a"):
        assert m.levenshtein(q).tolist() == [
            ref.levenshtein(q, w) for w in words]


def test_shingles_and_jaccard():
    a, b = ref.shingles("a b c d"), ref.shingles("a b c e")
    assert a == {"a b c", "b c d"}
    assert ref.jaccard(a, b) == pytest.approx(1 / 3)
    assert ref.shingles("a b") == {"a b"}


def test_check_hits_allows_ties_within_tolerance():
    exp = {"n_match": 4, "ranked": [(1, 3.0), (2, 2.0), (3, 1.00004),
                                    (4, 1.0)]}
    assert ref.check_hits([(1, 3.0), (2, 2.0), (3, 1.0)], exp, k=3) is None
    # a near-tie at the cut may return either doc
    assert ref.check_hits([(1, 3.0), (2, 2.0), (4, 1.0)], exp, k=3) is None
    assert "hits" in ref.check_hits([(1, 3.0)], exp, k=3)
    assert "increase" in ref.check_hits([(2, 2.0), (1, 3.0), (3, 1.0)],
                                        exp, k=3)
    assert "score" in ref.check_hits([(1, 3.0), (2, 2.5), (3, 1.0)], exp, k=3)
    assert ref.check_hits([(5, 1.0)], {"n_match": 1, "docs": [5]},
                          exact=False) is None
    assert "no matching" in ref.check_hits([(6, 1.0)],
                                           {"n_match": 1, "docs": [5]},
                                           exact=False)


def test_generators_are_seeded():
    def texts(seed):
        rng = np.random.default_rng(seed)
        return gen.Corpus(gen.Vocab(rng, 200), rng, 50, 30).texts
    assert texts(1) == texts(1)
    assert texts(1) != texts(2)
    t = texts(3)
    # the rendered text tokenizes to the generated non-stop words
    rng = np.random.default_rng(3)
    c = gen.Corpus(gen.Vocab(rng, 200), rng, 50, 30)
    assert ref.tokenize(c.texts[0]) == gen.filtered_doc_tokens(c, 0)
    assert t == c.texts


def test_warc_records(tmp_path):
    rng = np.random.default_rng(0)
    c = gen.Corpus(gen.Vocab(rng, 100), rng, 20, 30)
    paths = gen.write_warc_files(c, rng, str(tmp_path), 2)
    responses = 0
    for p in paths:
        with gzip.open(p, "rb") as fh:
            raw = fh.read()
        i = 0
        while i < len(raw):
            head_end = raw.index(b"\r\n\r\n", i)
            head = raw[i:head_end].decode()
            n = int(head.split("Content-Length: ")[1].split("\r\n")[0])
            body = raw[head_end + 4:head_end + 4 + n]
            if "WARC-Type: response" in head:
                responses += 1
                assert body.startswith(b"HTTP/1.1 200 OK")
            i = head_end + 4 + n + 4
    assert responses == 20
