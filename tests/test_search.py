"""Rank-identity tests: Spark engine vs the single-node Python oracle.

Analogue of the reference's TestSearch + CheckHits suites
(src/test/search/TestSearch.cpp:18-200, CheckHits.cpp): fixed query set,
top-10 (doc_id, score) must be rank-identical per similarity, scores within
1e-5 (CheckHits tolerance), tiebreak (score DESC, doc_id ASC).
"""

import math

import pytest

from clucene_spark.search.engine import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    FuzzyQuery,
    MatchAllQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    Searcher,
    TermQuery,
    WildcardQuery,
)

from .oracle import PyIndex, PySearcher, topk


@pytest.fixture(scope="module")
def py_index(docs_rows):
    return PyIndex(docs_rows)


def _assert_rank_identical(spark_df, oracle_list, tol=1e-5, oracle_all=None):
    """Rank-identity modulo floating-point ties.

    Scores may differ in the last ULP between Java Math and Python libm, so
    docs whose oracle scores are within tol are one tie group; within a
    group order is by doc_id only when scores are exactly equal, otherwise
    unconstrained. We assert: per-rank scores match within tol, and every
    returned doc is score-eligible for its rank (CheckHits ±1e-5 pattern).
    """
    got = [(r["doc_id"], r["score"]) for r in spark_df.collect()]
    assert len(got) == len(oracle_list), f"{len(got)} vs {len(oracle_list)}"
    pool = dict(oracle_all if oracle_all is not None else oracle_list)
    for (gd, gs), (od, os_) in zip(got, oracle_list):
        assert math.isclose(gs, os_, rel_tol=tol, abs_tol=tol), (gd, gs, od, os_)
        assert gd in pool, f"doc {gd} not in oracle results"
        assert math.isclose(gs, pool[gd], rel_tol=tol, abs_tol=tol), (gd, gs, pool[gd])
    # outside tie regions the doc order must be identical
    for i, ((gd, gs), (od, os_)) in enumerate(zip(got, oracle_list)):
        tied = any(
            math.isclose(os_, o2, rel_tol=1e-9, abs_tol=1e-9)
            for j, (_, o2) in enumerate(oracle_list)
            if j != i
        )
        if not tied:
            assert gd == od, f"rank {i}: got doc {gd}, want {od} ({got} vs {oracle_list})"


@pytest.mark.parametrize("similarity", ["bm25", "classic"])
@pytest.mark.parametrize("term", ["spark", "vector", "the", "nosuchterm"])
def test_term_query(index, py_index, similarity, term):
    s = Searcher(index, similarity=similarity)
    ps = PySearcher(py_index, similarity=similarity)
    qn = s.query_norm_for(TermQuery(term=term))
    all_scores = ps.term_scores(term, query_norm=qn)
    _assert_rank_identical(
        s.topk(TermQuery(term=term), 10), topk(all_scores, 10),
        oracle_all=list(all_scores.items()),
    )


@pytest.mark.parametrize("similarity", ["bm25", "classic"])
def test_boolean_and(index, py_index, similarity):
    s = Searcher(index, similarity=similarity)
    ps = PySearcher(py_index, similarity=similarity)
    q = (
        BooleanQuery()
        .add(TermQuery(term="spark"), MUST)
        .add(TermQuery(term="join"), MUST)
    )
    qn = s.query_norm_for(q)
    all_scores = ps.boolean_scores(must=["spark", "join"], query_norm=qn)
    _assert_rank_identical(s.topk(q, 10), topk(all_scores, 10),
                           oracle_all=list(all_scores.items()))


@pytest.mark.parametrize("similarity", ["bm25", "classic"])
def test_boolean_or_not(index, py_index, similarity):
    s = Searcher(index, similarity=similarity)
    ps = PySearcher(py_index, similarity=similarity)
    q = (
        BooleanQuery()
        .add(TermQuery(term="spark"), SHOULD)
        .add(TermQuery(term="window"), SHOULD)
        .add(TermQuery(term="vector"), MUST_NOT)
    )
    qn = s.query_norm_for(q)
    all_scores = ps.boolean_scores(
        should=["spark", "window"], must_not=["vector"], query_norm=qn)
    _assert_rank_identical(s.topk(q, 10), topk(all_scores, 10),
                           oracle_all=list(all_scores.items()))


@pytest.mark.parametrize("similarity", ["bm25", "classic"])
def test_min_should_match(index, py_index, similarity):
    s = Searcher(index, similarity=similarity)
    ps = PySearcher(py_index, similarity=similarity)
    q = BooleanQuery(min_should_match=2)
    for t in ["spark", "join", "vector"]:
        q.add(TermQuery(term=t), SHOULD)
    qn = s.query_norm_for(q)
    all_scores = ps.boolean_scores(
        should=["spark", "join", "vector"], min_should_match=2, query_norm=qn)
    _assert_rank_identical(s.topk(q, 10), topk(all_scores, 10),
                           oracle_all=list(all_scores.items()))


@pytest.mark.parametrize("similarity", ["bm25", "classic"])
@pytest.mark.parametrize("terms", [["batch", "batch"], ["the", "fast"], ["data", "stream"]])
def test_phrase_exact(index, py_index, similarity, terms):
    s = Searcher(index, similarity=similarity)
    ps = PySearcher(py_index, similarity=similarity)
    q = PhraseQuery(terms=terms)
    qn = s.query_norm_for(q)
    all_scores = ps.phrase_scores(terms, query_norm=qn)
    _assert_rank_identical(s.topk(q, 10), topk(all_scores, 10),
                           oracle_all=list(all_scores.items()))


def test_match_all(index, py_index):
    s = Searcher(index)
    got = s.score(MatchAllQuery()).count()
    assert got == py_index.n_docs


def test_multiterm_expansion_counts(index, py_index):
    """Prefix/wildcard/fuzzy/range docs match the oracle's expanded term sets."""
    s = Searcher(index)
    # prefix 's'
    expanded = {t for t in py_index.postings if t.startswith("s")}
    want_docs = set()
    for t in expanded:
        want_docs |= set(py_index.postings[t])
    got = {r["doc_id"] for r in s.score(PrefixQuery(prefix="s")).collect()}
    assert got == want_docs
    # range
    expanded = {t for t in py_index.postings if "sm" <= t <= "st"}
    want_docs = set()
    for t in expanded:
        want_docs |= set(py_index.postings[t])
    got = {
        r["doc_id"]
        for r in s.score(RangeQuery(lower="sm", upper="st")).collect()
    }
    assert got == want_docs


def test_wildcard_reference_fixture(spark):
    """TestWildcard.cpp testAsterisk (35-73) / testQuestionmark (75-112)
    hit counts over the reference's own fixture corpus — SimpleAnalyzer
    lowercases, so mXtals indexes as mxtals exactly as there."""
    from clucene_spark.index.build import InvertedIndex

    # testAsterisk corpus: {metal, metals}
    docs = spark.createDataFrame([(0, "metal"), (1, "metals")],
                                 "doc_id long, text string")
    s = Searcher(InvertedIndex(docs))

    def n(q):
        return s.score(q).count()

    assert n(WildcardQuery(pattern="metal*")) == 2
    assert n(WildcardQuery(pattern="m*tal")) == 1
    assert n(WildcardQuery(pattern="m*tal*")) == 2
    assert n(TermQuery(term="metal")) == 1

    # testQuestionmark corpus: {metal, metals, mXtals, mXtXls}
    docs = spark.createDataFrame(
        [(0, "metal"), (1, "metals"), (2, "mxtals"), (3, "mxtxls")],
        "doc_id long, text string")
    s = Searcher(InvertedIndex(docs))
    assert n(WildcardQuery(pattern="m?tal")) == 1
    assert n(WildcardQuery(pattern="metal?")) == 1
    assert n(WildcardQuery(pattern="metal??")) == 0
    assert n(WildcardQuery(pattern="meta??")) == 1
    assert n(WildcardQuery(pattern="metals?")) == 0
    assert n(WildcardQuery(pattern="m?t?ls")) == 3


def test_prefix_reference_fixture(spark):
    """TestQueries.cpp testPrefixQuery (12-43): category-path prefixes."""
    from clucene_spark.index.build import InvertedIndex

    rows = [(0, "/computers"), (1, "/computers/mac"), (2, "/computers/windows")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s = Searcher(InvertedIndex(docs))
    assert s.score(PrefixQuery(prefix="/computers")).count() == 3
    assert s.score(PrefixQuery(prefix="/computers/mac")).count() == 1


def test_constant_score_range_semantics(index):
    """ConstantScoreRangeQuery: same match set as the scored RangeQuery,
    every doc at exactly the constant boost (TestConstantScoreRangeQuery
    csrq semantics)."""
    from clucene_spark.search.engine import ConstantScoreRangeQuery

    s = Searcher(index)
    scored = {r["doc_id"] for r in
              s.score(RangeQuery(lower="sm", upper="st")).collect()}
    rows = s.score(
        ConstantScoreRangeQuery(lower="sm", upper="st", boost=2.5)
    ).collect()
    assert {r["doc_id"] for r in rows} == scored
    assert all(r["score"] == 2.5 for r in rows)


def test_batch_topk_matches_per_query(index):
    """Batch query execution (one shared postings scan + per-query rank
    window) must reproduce the per-query SHOULD-boolean top-k exactly —
    same docs, same 4-dp scores — and the tiny query table must broadcast
    (the scan amortization is the whole point)."""
    s = Searcher(index)
    qs = {"a": ["spark"], "b": ["spark", "join"], "c": ["data", "stream"]}
    batch = s.batch_topk(qs, k=5)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in qs.items():
        bq = BooleanQuery()
        for t in terms:
            bq.add(TermQuery(term=t), SHOULD)
        want = [(r["doc_id"], r["score"])
                for r in s.topk(bq, 5, round_to=4).collect()]
        assert by_q.get(qid, []) == want, qid


def test_extract_terms_reference_shapes(index):
    """TestExtractTerms.cpp: extraction from Term/Phrase/Boolean/Wildcard/
    Fuzzy/Span queries — boost products as weights, prohibited clauses
    skipped unless asked, multi-term nodes rewritten against the live
    term dictionary."""
    s = Searcher(index)
    assert s.extract_terms(TermQuery(term="spark")) == [("spark", 1.0)]
    got = dict(s.extract_terms(PhraseQuery(terms=["data", "stream"], boost=2.0)))
    assert got == {"data": 2.0, "stream": 2.0}
    bq = (
        BooleanQuery()
        .add(TermQuery(term="spark"), MUST)
        .add(TermQuery(term="join", boost=3.0), SHOULD)
        .add(TermQuery(term="window"), MUST_NOT)
    )
    assert dict(s.extract_terms(bq)) == {"spark": 1.0, "join": 3.0}
    assert "window" in dict(s.extract_terms(bq, include_prohibited=True))
    # prefix rewrite == the dictionary's matching terms
    exp = [t for t, _ in s.extract_terms(PrefixQuery(prefix="s"))]
    want = sorted(r["term"] for r in
                  index.term_dict.filter("term LIKE 's%'").collect())
    assert exp == want
    # fuzzy expansion carries rewrite boosts in (0, 1] and the exact term
    pairs = dict(s.extract_terms(FuzzyQuery(term="spark")))
    assert "spark" in pairs
    assert all(0.0 < w <= 1.0 for w in pairs.values())
    # span tree recursion
    from clucene_spark.search.spans import SpanNear, SpanNot, SpanTerm

    got = dict(s.extract_terms(
        SpanNear(clauses=[SpanTerm(term="data"), SpanTerm(term="stream")])
    ))
    assert got == {"data": 1.0, "stream": 1.0}
    got = dict(s.extract_terms(
        SpanNot(include=SpanTerm(term="data"), exclude=SpanTerm(term="junk"))
    ))
    assert got == {"data": 1.0}  # exclude side never highlights


def test_highlight_query_end_to_end(index, spark):
    """QueryScorer(query) path: highlight a page straight from a Query
    tree — extracted terms drive the fragmenter."""
    from clucene_spark.search.highlight import highlight_query

    s = Searcher(index)
    q = (
        BooleanQuery()
        .add(TermQuery(term="spark"), MUST)
        .add(TermQuery(term="join"), SHOULD)
    )
    page = s.topk(q, 3).select("doc_id").join(index.docs, "doc_id")
    frags = highlight_query(page, q, s).collect()
    assert len(frags) == 3
    assert all("<b>" in r["fragment"] for r in frags)


def test_typed_sort_reference_semantics(spark):
    """TestSort testTypedSort/testReverseSort essence: an int-typed field
    sorts numerically (10 > 9) where a string field would sort
    lexicographically ("10" < "9") — column types carry the SortField
    type; reverse=false/true are both exact."""
    from clucene_spark.index.build import InvertedIndex

    rows = [(0, "common", 9, "9"), (1, "common", 10, "10"), (2, "common", 2, "2")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, i long, s string")
    s = Searcher(InvertedIndex(docs))
    q = TermQuery(term="common")
    by_int = [r["doc_id"] for r in s.topk_sorted(q, "i", ascending=False).collect()]
    assert by_int == [1, 0, 2]          # numeric: 10, 9, 2
    by_str = [r["doc_id"] for r in s.topk_sorted(q, "s", ascending=False).collect()]
    assert by_str == [0, 2, 1]          # lexicographic: "9", "2", "10"
    rev = [r["doc_id"] for r in s.topk_sorted(q, "i", ascending=True).collect()]
    assert rev == list(reversed(by_int))


def test_range_filter_inclusivity_grid(spark):
    """TestRangeFilter.cpp testRangeFilterId: the includeLower x
    includeUpper grid over padded sortable ids — bounded both ends,
    half-bounded, and unbounded, with exact hit counts."""
    from clucene_spark.index.build import InvertedIndex

    N = 200

    def pad(n):
        return f"{n:05d}"

    docs = spark.createDataFrame([(i, pad(i)) for i in range(N + 1)],
                                 "doc_id long, text string")
    s = Searcher(InvertedIndex(docs))

    def n(lo, hi, il, iu):
        q = RangeQuery(lower=lo, upper=hi, include_lower=il, include_upper=iu)
        return s.score(q).count()

    lo, hi, med = pad(0), pad(N), pad(N // 2)
    num = N + 1
    assert n(lo, hi, True, True) == num            # find all
    assert n(lo, hi, True, False) == num - 1       # all but last
    assert n(lo, hi, False, True) == num - 1       # all but first
    assert n(lo, hi, False, False) == num - 2      # all but ends
    assert n(med, hi, True, True) == 1 + N - N // 2   # med and up
    assert n(lo, med, True, True) == 1 + N // 2       # up to med
    assert n(lo, None, True, False) == num         # min and up
    assert n(None, hi, False, True) == num         # max and down
    assert n(lo, None, False, False) == num - 1    # not min, but up
    assert n(None, hi, False, False) == num - 1    # not max, but down
    assert n(med, hi, True, False) == N - N // 2
    assert n(med, hi, False, True) == N - N // 2
    assert n(med, hi, False, False) == N - N // 2 - 1
    # mixed inclusivity prints mixed brackets, like ConstantScoreRange
    assert str(RangeQuery(lower="a", upper="b", include_upper=False)) == "[a TO b}"


def test_explain_boolean_invariant(index):
    """TestExplanations contract for BooleanWeight::explain: the component
    identity (must_sum + should_sum) * coord * boost == score(query) holds
    for every matched doc, across both similarities and boolean shapes
    (AND / OR / NOT / minShouldMatch / boosted / nested / phrase clause)."""
    shapes = [
        BooleanQuery()
        .add(TermQuery(term="spark"), MUST)
        .add(TermQuery(term="join"), MUST),
        BooleanQuery()
        .add(TermQuery(term="spark"), SHOULD)
        .add(TermQuery(term="vector"), SHOULD),
        BooleanQuery()
        .add(TermQuery(term="spark"), MUST)
        .add(TermQuery(term="vector"), SHOULD)
        .add(TermQuery(term="window"), MUST_NOT),
        BooleanQuery(min_should_match=2)
        .add(TermQuery(term="spark"), SHOULD)
        .add(TermQuery(term="vector"), SHOULD)
        .add(TermQuery(term="join"), SHOULD),
        BooleanQuery(boost=2.5)
        .add(TermQuery(term="spark"), MUST)
        .add(TermQuery(term="join"), SHOULD),
        BooleanQuery()
        .add(
            BooleanQuery()
            .add(TermQuery(term="spark"), SHOULD)
            .add(TermQuery(term="join"), SHOULD),
            MUST,
        )
        .add(TermQuery(term="vector"), SHOULD),
        BooleanQuery()
        .add(PhraseQuery(terms=["data", "stream"]), SHOULD)
        .add(TermQuery(term="spark"), SHOULD),
    ]
    for sim in ("bm25", "classic"):
        s = Searcher(index, similarity=sim)
        for q in shapes:
            exp = {r["doc_id"]: r for r in s.explain_boolean(q).collect()}
            want = {r["doc_id"]: r["score"]
                    for r in s.score(q, s.query_norm_for(q)).collect()}
            assert set(exp) == set(want), (sim, str(q))
            for d, r in exp.items():
                rebuilt = (r["must_sum"] + r["should_sum"]) * r["coord"] * q.boost
                assert math.isclose(rebuilt, r["score"], rel_tol=1e-9), (sim, str(q))
                assert math.isclose(r["score"], want[d],
                                    rel_tol=1e-6, abs_tol=1e-9), (sim, str(q))
                assert r["overlap"] <= r["max_overlap"]


def test_fuzzy_reference_fixture(spark):
    """TestQueries.cpp testFuzziness (83-200): hit counts AND ranked order
    over the reference's aaaaa..ddddd corpus, across prefixLength 0-6 —
    the prefix gate, the two-edit default budget, and the length-scaled
    similarity floor all behave exactly as FuzzyTermEnum does."""
    from clucene_spark.index.build import InvertedIndex

    words = ["aaaaa", "aaaab", "aaabb", "aabbb", "abbbb", "bbbbb", "ddddd"]
    docs = spark.createDataFrame(list(enumerate(words)),
                                 "doc_id long, text string")
    s = Searcher(InvertedIndex(docs))

    def hits(term, prefix=0):
        q = FuzzyQuery(term=term, prefix_length=prefix)
        return [words[r["doc_id"]] for r in s.topk(q, 10).collect()]

    assert hits("aaaaa") == ["aaaaa", "aaaab", "aaabb"]
    for p in (1, 2, 3):
        assert len(hits("aaaaa", p)) == 3
    assert len(hits("aaaaa", 4)) == 2
    assert len(hits("aaaaa", 5)) == 1
    assert len(hits("aaaaa", 6)) == 1
    assert hits("xxxxx") == []
    assert hits("aaccc") == []          # edit distance 3 to aaaaa
    assert hits("aaaac") == ["aaaaa", "aaaab", "aaabb"]
    for p in (1, 2, 3):
        assert hits("aaaac", p) == ["aaaaa", "aaaab", "aaabb"]
    assert hits("aaaac", 4) == ["aaaaa", "aaaab"]
    assert hits("aaaac", 5) == []
    assert hits("ddddx") == ["ddddd"]
    for p in (1, 2, 3, 4):
        assert hits("ddddx", p) == ["ddddd"]
    assert hits("ddddx", 5) == []


def test_topk_collapse_one_per_group(index, sf_dir):
    """Field collapsing: at most one hit per source, each group
    represented by its best (score DESC, doc_id ASC) member, verified
    against a python group-best over the full scored hit list."""
    import duckdb

    s = Searcher(index)
    q = TermQuery(term="spark")
    qn = s.query_norm_for(q)
    hits = {r["doc_id"]: round(r["score"], 4)
            for r in s.score(q, qn).collect()}
    src = dict(duckdb.sql(
        f"SELECT doc_id, source FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall())
    best = {}
    for d, sc in hits.items():
        g = src[d]
        if g not in best or (-sc, d) < (-best[g][1], best[g][0]):
            best[g] = (d, sc)
    want = sorted(best.values(), key=lambda t: (-t[1], t[0]))[:10]
    got = s.topk_collapse(q, "source", k=10, round_to=4).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert len({r["source"] for r in got}) == len(got)


def test_suggest_similarity_then_df_ranking(index):
    """Did-you-mean: 'spakr' (transposed 'spark') must surface 'spark'
    with the hand-computed FuzzyTermEnum sim 0.6; ranking is sim DESC
    with df DESC breaking similarity ties; the input term and
    sub-cutoff candidates never appear."""
    s = Searcher(index)
    got = s.suggest("spakr", k=5, prefix_length=1, min_similarity=0.5).collect()
    assert got and all(
        r["term"].startswith("s") and r["term"] != "spakr" for r in got
    )
    terms = [r["term"] for r in got]
    assert "spark" in terms
    row = next(r for r in got if r["term"] == "spark")
    # lev('park','pakr') = 2 -> sim = 1 - 2/(1 + min(4,4)) = 0.6
    assert abs(row["sim"] - 0.6) < 1e-9
    sims = [r["sim"] for r in got]
    assert sims == sorted(sims, reverse=True)
    for a, b in zip(got, got[1:]):
        if a["sim"] == b["sim"]:
            assert a["df"] > b["df"] or (
                a["df"] == b["df"] and a["term"] < b["term"]
            )


def test_topk_after_paginates_the_total_order(index):
    """search-after cursor paging: pages 1..3 stitched together must
    equal one top-30, disjoint and in order; a cursor past the last
    match returns empty."""
    s = Searcher(index)
    q = TermQuery(term="spark")
    full = s.topk(q, 30, round_to=4).collect()
    pages, cursor = [], None
    for _ in range(3):
        page = (s.topk(q, 10, round_to=4) if cursor is None else
                s.topk_after(q, 10, after=cursor, round_to=4)).collect()
        if not page:
            break
        pages.extend(page)
        cursor = (page[-1]["score"], page[-1]["doc_id"])
    assert [(r["doc_id"], r["score"]) for r in pages] == [
        (r["doc_id"], r["score"]) for r in full
    ]
    n_match = s.score(q).count()
    if n_match <= 30:
        last = full[-1]
        tail = s.topk_after(q, 10, after=(last["score"], last["doc_id"]),
                            round_to=4).collect()
        assert tail == []


def test_topk_sorted_multi_key(index, sf_dir):
    """Multi-key Sort (TestSort testSortCombos/testMultiSort): stored
    field ASC then n_chars DESC, verified against a python sort of the
    same match set; a pure-score sort must equal relevance top-k."""
    import duckdb

    s = Searcher(index)
    q = TermQuery(term="spark")
    matched = {r["doc_id"] for r in s.score(q).select("doc_id").collect()}
    meta = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    want = sorted(
        (r for r in meta if r[0] in matched),
        key=lambda r: (r[1], -r[2], r[0]),
    )[:10]
    got = s.topk_sorted(q, k=10,
                        sort_fields=[("lang", True), ("n_chars", False)])
    assert [r["doc_id"] for r in got.collect()] == [r[0] for r in want]
    assert got.columns == ["doc_id", "lang", "n_chars"]

    # FIELD_SCORE as the only key == relevance ranking
    got = s.topk_sorted(q, k=10, sort_fields=[("score", False)])
    rel = s.topk(q, 10, round_to=4)
    assert [r["doc_id"] for r in got.collect()] == [
        r["doc_id"] for r in rel.collect()
    ]


def test_term_dict_matches_oracle(index, py_index):
    got = [
        (r["term"], r["df"], r["cf"])
        for r in index.term_dict.orderBy("term").collect()
    ]
    assert got == py_index.term_dict()


def test_fuzzy_expansion(index, py_index):
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    q = "spark"
    expanded = {
        t
        for t in py_index.postings
        if 1.0 - lev(t, q) / min(len(t), len(q)) >= 0.7
    }
    want = set()
    for t in expanded:
        want |= set(py_index.postings[t])
    s = Searcher(index)
    got = {
        r["doc_id"]
        for r in s.score(FuzzyQuery(term=q, min_similarity=0.7)).collect()
    }
    assert got == want


def test_query_tostring():
    q = (
        BooleanQuery()
        .add(TermQuery(term="spark"), MUST)
        .add(PhraseQuery(terms=["data", "stream"], slop=2), SHOULD)
        .add(TermQuery(term="vector", boost=2.0), MUST_NOT)
    )
    assert str(q) == '+spark "data stream"~2 -vector^2'
    assert str(WildcardQuery(pattern="s?a*")) == "s?a*"
    assert str(RangeQuery(lower="a", upper="b", inclusive=False)) == "{a TO b}"


# ---------------------------------------------------------------------------
# MultiPhraseQuery + Explanation invariants
# ---------------------------------------------------------------------------

def test_multi_phrase_degenerates_to_exact_phrase(spark, index):
    from clucene_spark.search.engine import MultiPhraseQuery, PhraseQuery, Searcher

    s = Searcher(index)
    mp = [(r["doc_id"], r["score"]) for r in
          s.topk(MultiPhraseQuery(slots=[["key"], ["value"]]), 10, round_to=4).collect()]
    ph = [(r["doc_id"], r["score"]) for r in
          s.topk(PhraseQuery(terms=["key", "value"]), 10, round_to=4).collect()]
    assert mp == ph


def test_multi_phrase_union_superset(spark, index):
    from clucene_spark.search.engine import MultiPhraseQuery, Searcher

    s = Searcher(index)
    narrow = {r["doc_id"] for r in
              s.score(MultiPhraseQuery(slots=[["key"], ["value"]])).collect()}
    wide = {r["doc_id"] for r in
            s.score(MultiPhraseQuery(slots=[["key", "hash"], ["value"]])).collect()}
    assert narrow <= wide


def test_multi_phrase_slop_degenerates_to_sloppy_phrase(spark, index):
    """Single-alternative slots with slop must equal PhraseQuery slop
    (MultiPhraseQuery.cpp:99-105 delegates to the same SloppyPhraseScorer)."""
    from clucene_spark.search.engine import MultiPhraseQuery, PhraseQuery, Searcher

    s = Searcher(index)
    mp = [(r["doc_id"], r["score"]) for r in
          s.topk(MultiPhraseQuery(slots=[["key"], ["value"]], slop=2), 10,
                 round_to=4).collect()]
    ph = [(r["doc_id"], r["score"]) for r in
          s.topk(PhraseQuery(terms=["key", "value"], slop=2), 10,
                 round_to=4).collect()]
    assert mp == ph


def test_multi_phrase_slop_superset_of_exact(spark, index):
    from clucene_spark.search.engine import MultiPhraseQuery, Searcher

    s = Searcher(index)
    slots = [["key", "hash"], ["value"]]
    exact = {r["doc_id"] for r in
             s.score(MultiPhraseQuery(slots=slots)).collect()}
    sloppy = {r["doc_id"] for r in
              s.score(MultiPhraseQuery(slots=slots, slop=3)).collect()}
    assert exact <= sloppy


def _mp_overlap_scores(spark, rows, slots, slop):
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import MultiPhraseQuery, Searcher

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s = Searcher(InvertedIndex(docs))
    return {
        r["doc_id"]: r["score"]
        for r in s.score(MultiPhraseQuery(slots=slots, slop=slop)).collect()
    }


def test_multi_phrase_slop_overlapping_slots_first_doc_clean(spark):
    """Partially-overlapping slots, FIRST matching doc has distinct initial
    tp positions -> the reference never marks repeats (checkedRepeats fires
    once, SloppyPhraseScorer.cpp:95-118), so a later doc where both slots
    sit on the same 'b' token still scores. Hand trace for doc 1 'b y z':
    slot0 {a,b} and slot1 {b,c} both only match b@0; unmarked walk scores
    the pending window: end=0, start=-1, matchLength=1 <= slop -> 1/2."""
    rows = [(0, "a b c"), (1, "b y z")]
    scores = _mp_overlap_scores(spark, rows, [["a", "b"], ["b", "c"]], 1)
    assert set(scores) == {0, 1}


def test_multi_phrase_slop_overlapping_slots_first_doc_collides(spark):
    """Same query, but the first matching doc 'b o c' has BOTH slot unions
    starting on b@0 -> repeats marked from that doc and persist: in doc 1
    'b y z' the init advance (highest offset first) runs slot1 out of
    positions -> phraseFreq 0, doc excluded (the opposite outcome of the
    clean-first-doc corpus above, proving the doc-dependent flags)."""
    rows = [(0, "b o c"), (1, "b y z")]
    scores = _mp_overlap_scores(spark, rows, [["a", "b"], ["b", "c"]], 1)
    assert set(scores) == {0}


def test_multi_phrase_overlap_identical_first_doc_semantics(spark):
    """The doc-dependent path must agree with the static term-identity path
    on queries where both apply: duplicate identical slots always collide
    in the first doc, so the two detections coincide."""
    rows = [(0, "k v k w k"), (1, "k k"), (2, "x k v")]
    dup = _mp_overlap_scores(spark, rows, [["k"], ["k"]], 2)
    # force the doc-dependent branch with a phantom alternative that never
    # appears in the corpus: keys differ but positions are identical. The
    # absent term contributes idf(df=0) to MultiPhraseWeight's idf sum
    # (reference MultiPhraseQuery.cpp:49-55 sums idf over EVERY slot
    # term), so scores scale by a constant factor — the repeat DETECTION
    # (match set, pfreq, ranking) must coincide exactly.
    forced = _mp_overlap_scores(spark, rows, [["k"], ["k", "zz_absent"]], 2)
    assert set(dup) == set(forced)
    ratios = {d: forced[d] / dup[d] for d in dup}
    r0 = next(iter(ratios.values()))
    assert all(abs(r - r0) < 1e-9 for r in ratios.values()), ratios
    assert r0 > 1.0  # the extra idf(0) term scales scores UP uniformly
    assert (sorted(dup, key=lambda d: (-dup[d], d))
            == sorted(forced, key=lambda d: (-forced[d], d)))


def test_explanation_value_equals_score(spark, index):
    """TestExplanations invariant: component product == score, both sims."""
    from clucene_spark.search.engine import Searcher, TermQuery

    for simname in ("bm25", "classic"):
        s = Searcher(index, similarity=simname)
        q = TermQuery(term="spark")
        exp = {r["doc_id"]: r for r in s.explain(q).collect()}
        scores = {r["doc_id"]: r["score"] for r in s.score(q, s.query_norm_for(q)).collect()}
        assert set(exp) == set(scores)
        for doc, e in exp.items():
            assert abs(e["score"] - scores[doc]) < 1e-9
            if simname == "bm25":
                prod = e["idf"] * e["tf_norm"] * e["boost"]
            else:
                prod = e["weight"] * e["tf_sqrt"] * e["length_norm"] * e["boost"]
            assert abs(prod - e["score"]) < 1e-9


def test_explanations_reference_corpus_matrix(spark):
    """TestExplanations.cpp qtest contract over the reference's own 4-doc
    corpus (src/test/search/TestExplanations.cpp:19-25 docFields, whitespace
    analyzer): for every query shape with a Weight::explain analogue, the
    matching doc SET is exactly the expected one and the explanation
    component product equals the score for every matching doc, in both
    similarities (CheckHits::checkExplanations)."""
    from clucene_spark.index.build import InvertedIndex

    rows = [
        (0, "w1 w2 w3 w4 w5"),
        (1, "w1 w3 w2 w3 zz"),
        (2, "w1 xx w2 yy w3"),
        (3, "w1 w3 xx w2 yy w3 zz"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = InvertedIndex(docs).cache()

    def prod(e, simname):
        if simname == "bm25":
            return e["idf"] * e["tf_norm"] * e["boost"]
        return e["weight"] * e["tf_sqrt"] * e["length_norm"] * e["boost"]

    # (query, expected doc set) — term rows from the corpus anatomy;
    # phrase rows match ExactPhraseScorer / SloppyPhraseScorer semantics
    term_cases = [
        (TermQuery(term="w1"), {0, 1, 2, 3}),
        (TermQuery(term="zz"), {1, 3}),
        (TermQuery(term="zz", boost=2.5), {1, 3}),
    ]
    phrase_cases = [
        PhraseQuery(terms=["w1", "w2"]),
        PhraseQuery(terms=["w2", "w3"]),
        PhraseQuery(terms=["w1", "w2"], slop=1),
        PhraseQuery(terms=["w1", "w3"], slop=2),
        PhraseQuery(terms=["w3", "w3"], slop=2),
        PhraseQuery(terms=["w1", "w2"], boost=1.5, slop=1),
    ]
    for simname in ("bm25", "classic"):
        s = Searcher(idx, similarity=simname)
        for q, expected in term_cases:
            exp = {r["doc_id"]: r for r in s.explain(q).collect()}
            assert set(exp) == expected, (str(q), simname)
            scores = {
                r["doc_id"]: r["score"]
                for r in s.score(q, s.query_norm_for(q)).collect()
            }
            for d, e in exp.items():
                assert abs(prod(e, simname) - e["score"]) < 1e-9
                assert abs(scores[d] - e["score"]) < 1e-9
        for q in phrase_cases:
            scores = {
                r["doc_id"]: r["score"]
                for r in s.score(q, s.query_norm_for(q)).collect()
            }
            exp = {r["doc_id"]: r for r in s.explain_phrase(q).collect()}
            assert set(exp) == set(scores), (str(q), simname)
            for d, e in exp.items():
                assert abs(prod(e, simname) - e["score"]) < 1e-9
                assert abs(scores[d] - e["score"]) < 1e-9
        # pinned expected sets where adjacency is hand-checkable
        s0 = Searcher(idx, similarity=simname)
        assert set(
            r["doc_id"]
            for r in s0.score(PhraseQuery(terms=["w1", "w2"])).collect()
        ) == {0}
        assert set(
            r["doc_id"]
            for r in s0.score(PhraseQuery(terms=["w2", "w3"])).collect()
        ) == {0, 1}


# ---------------------------------------------------------------------------
# Highlighter (contrib Highlighter/SimpleFragmenter/QueryScorer analogue)
# ---------------------------------------------------------------------------

def test_best_fragment_golden():
    from clucene_spark.search.highlight import best_fragment

    text = ("alpha beta gamma " * 10) + "needle in the haystack here " + ("x " * 50)
    frag, score = best_fragment(text, ["needle", "haystack"], fragment_size=40)
    assert "<b>needle</b>" in frag
    assert "<b>haystack</b>" in frag
    assert score == 2.0
    # no matches -> some fragment, zero score
    frag0, s0 = best_fragment("plain words only", ["zzz"])
    assert s0 == 0.0


def test_best_fragment_weights_pick_rarer_term():
    from clucene_spark.search.highlight import best_fragment

    text = "common common common . rare thing"
    # weight the rare term higher: its fragment must win
    frag, score = best_fragment(
        text, ["common", "rare"], fragment_size=14,
        term_weights={"common": 0.1, "rare": 5.0},
    )
    assert "<b>rare</b>" in frag


def test_best_fragment_whitespace_analyzer():
    """Whitespace path (the oracle-replayable form behind the
    highlight_fragments gate): case/punctuation preserved, offsets from
    raw space splits."""
    from clucene_spark.search.highlight import best_fragment

    text = "Alpha spark, beta spark gamma"
    frag, score = best_fragment(
        text, ["spark"], fragment_size=100, analyzer="whitespace"
    )
    # whitespace tokens keep punctuation: 'spark,' != 'spark' (1 match)
    assert score == 1.0
    assert frag == "Alpha spark, beta <b>spark</b> gamma"
    # the standard analyzer strips the comma and lowercases: 2 matches
    frag_std, score_std = best_fragment(text, ["spark"], fragment_size=100)
    assert score_std == 2.0


def test_highlight_dataframe_stage(spark, index):
    from clucene_spark.search.highlight import highlight

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    out = highlight(docs, ["spark", "table"], fragment_size=80).collect()
    assert len(out) == 20
    for r in out:
        if r["n_matches"] > 0:
            assert "<b>" in r["fragment"]


def test_multifield_index_per_field_scoring(spark):
    """Term=(field,text): same token scores differently per field (per-field
    df/dl/avgdl; global n_docs like maxDoc) and fields are isolated."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import (
        SHOULD,
        BooleanQuery,
        Searcher,
        TermQuery,
    )

    rows = [
        (0, "spark guide", "spark spark is a fast engine"),
        (1, "sql tuning", "joins in spark need care"),
        (2, "spark internals", "catalyst optimizer details"),
        (3, "other title", "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, text string")
    idx = InvertedIndex(
        docs, fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")]
    )
    s = Searcher(idx, similarity="bm25")
    title_hits = {r["doc_id"] for r in s.topk(TermQuery(term="spark", field="title"), 10).collect()}
    assert title_hits == {0, 2}
    text_hits = {r["doc_id"] for r in s.topk(TermQuery(term="spark", field="text"), 10).collect()}
    assert text_hits == {0, 1}
    # default field resolves to the first declared field (text)
    assert {r["doc_id"] for r in s.topk(TermQuery(term="spark"), 10).collect()} == {0, 1}
    # per-field df: spark has df=2 in both fields but different avgdl/dl ->
    # different scores for doc 0 in title vs text
    st = s.topk(TermQuery(term="spark", field="title"), 10).collect()
    sx = s.topk(TermQuery(term="spark", field="text"), 10).collect()
    t0 = [r["score"] for r in st if r["doc_id"] == 0][0]
    x0 = [r["score"] for r in sx if r["doc_id"] == 0][0]
    assert t0 != x0
    # cross-field boolean combines per-field scores
    q = (
        BooleanQuery()
        .add(TermQuery(term="spark", field="title"), SHOULD)
        .add(TermQuery(term="joins", field="text"), SHOULD)
    )
    got = {r["doc_id"] for r in s.topk(q, 10).collect()}
    assert got == {0, 1, 2}


def test_multifield_phrase_prefix_and_range(spark):
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import (
        PhraseQuery,
        PrefixQuery,
        Searcher,
        TermQuery,
    )

    rows = [
        (0, "alpha beta", "gamma delta alpha"),
        (1, "beta alpha", "alpha beta gamma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, text string")
    idx = InvertedIndex(
        docs, fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")]
    )
    s = Searcher(idx, similarity="bm25")
    ph = PhraseQuery(terms=["alpha", "beta"], field="title")
    assert {r["doc_id"] for r in s.topk(ph, 10).collect()} == {0}
    ph2 = PhraseQuery(terms=["alpha", "beta"], field="text")
    assert {r["doc_id"] for r in s.topk(ph2, 10).collect()} == {1}
    pre = PrefixQuery(prefix="gam", field="title")
    assert s.topk(pre, 10).count() == 0
    pre2 = PrefixQuery(prefix="gam", field="text")
    assert s.topk(pre2, 10).count() == 2


def test_fuzzy_reference_semantics(spark):
    """FuzzyTermEnum parity: prefixLength filter, suffix-only levenshtein
    with prefixLength+min(n,m) denominator, strict > minSim, and the
    (sim-minSim)/(1-minSim) rewrite boost scaling scores."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import FuzzyQuery, Searcher

    rows = [
        (0, "spark spark spark"),   # exact: sim 1.0 -> rw 1.0
        (1, "spork spork"),         # lev 1, sim 1-1/5=0.8
        (2, "sprocket engines"),    # lev(sprocket,spark)=5 -> sim<=0
        (3, "shark tank"),          # lev 1 but prefix 'sh' fails plen=2
        (4, "spark lite"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = InvertedIndex(docs)
    s = Searcher(idx, similarity="bm25")

    # plen=0: shark qualifies (sim 0.8), sprocket does not
    hits0 = {r["doc_id"] for r in
             s.topk(FuzzyQuery(term="spark", min_similarity=0.5), 10).collect()}
    assert hits0 == {0, 1, 3, 4}
    # plen=2: shark drops (prefix mismatch), spork stays
    hits2 = {r["doc_id"] for r in
             s.topk(FuzzyQuery(term="spark", min_similarity=0.5,
                               prefix_length=2), 10).collect()}
    assert hits2 == {0, 1, 4}
    # rewrite boost: exact match rw=1.0; spork rw=(0.8-0.5)/0.5=0.6 — the
    # expansion frame carries exactly these
    m = {r["term"]: r["rw_boost"] for r in
         s._fuzzy_matches(FuzzyQuery(term="spark", min_similarity=0.5)).collect()}
    assert abs(m["spark"] - 1.0) < 1e-9
    assert abs(m["spork"] - 0.6) < 1e-9
    assert "sprocket" not in m
    # strict >: a term at exactly minSim is excluded (sim(shark)=0.8)
    m2 = {r["term"] for r in
          s._fuzzy_matches(FuzzyQuery(term="spark", min_similarity=0.8)).collect()}
    assert m2 == {"spark"}
    # cap plumbing: the expansion plan is LIMITed to MAX_CLAUSE_COUNT
    assert s.MAX_CLAUSE_COUNT == 1024
    plan = s._fuzzy_matches(
        FuzzyQuery(term="spark", min_similarity=0.5)
    )._jdf.queryExecution().analyzed().toString()
    assert "1024" in plan


def test_chained_filter_set_algebra(spark, index):
    """ChainedFilter folds its sub-filter bitsets with AND/OR/ANDNOT/XOR
    (reference search/ChainedFilter.h:50-57, ChainedFilter.cpp:219); in
    Spark the bitset algebra is doc-id set algebra. Verify each op against
    Python set arithmetic on the member sets."""
    import pyspark.sql.functions as F

    from clucene_spark.search.engine import (
        ChainedFilter,
        FilteredQuery,
        QueryFilter,
        Searcher,
        TermQuery,
    )

    s = Searcher(index, similarity="bm25")
    a_ids = {r["doc_id"] for r in s.score(TermQuery(term="spark")).collect()}
    b_ids = {
        r["doc_id"]
        for r in index.docs.filter(F.col("n_chars") >= 300)
        .select("doc_id")
        .collect()
    }
    assert a_ids and b_ids and a_ids - b_ids and b_ids - a_ids

    expect = {
        "AND": a_ids & b_ids,
        "OR": a_ids | b_ids,
        "ANDNOT": a_ids - b_ids,
        "XOR": a_ids ^ b_ids,
    }
    for op, want in expect.items():
        flt = ChainedFilter(
            filters=[QueryFilter(TermQuery(term="spark")), F.col("n_chars") >= 300],
            ops=[op],
        )
        got = {r["doc_id"] for r in s._filter_docids(flt).collect()}
        assert got == want, op

    # nested chain: (A XOR B) AND A == A - B
    nested = ChainedFilter(
        filters=[
            ChainedFilter(
                filters=[QueryFilter(TermQuery(term="spark")), F.col("n_chars") >= 300],
                ops=["XOR"],
            ),
            QueryFilter(TermQuery(term="spark")),
        ],
        ops=["AND"],
    )
    got = {r["doc_id"] for r in s._filter_docids(nested).collect()}
    assert got == expect["ANDNOT"]

    # FilteredQuery with a chained predicate: membership-only — the scores
    # it returns equal the unfiltered query's scores on the surviving docs
    base = {r["doc_id"]: r["score"] for r in s.score(TermQuery(term="spark")).collect()}
    fq = FilteredQuery(
        query=TermQuery(term="spark"),
        predicate=ChainedFilter(
            filters=[QueryFilter(TermQuery(term="join")), F.col("n_chars") >= 300],
            ops=["OR"],
        ),
    )
    for r in s.score(fq).collect():
        assert r["doc_id"] in base
        assert abs(r["score"] - base[r["doc_id"]]) < 1e-9

    bad = ChainedFilter(filters=[F.col("n_chars") >= 0, F.col("n_chars") >= 1], ops=["NAND"])
    with pytest.raises(ValueError):
        s._filter_docids(bad).collect()


def test_span_query_filter(spark, index):
    """SpanQueryFilter's doc set == the span query's matching docs
    (reference search/SpanQueryFilter.cpp:30-55)."""
    from clucene_spark.search.engine import Searcher, SpanQueryFilter
    from clucene_spark.search.spans import SpanNear, SpanSearcher, SpanTerm

    sq = SpanNear(clauses=[SpanTerm(term="spark"), SpanTerm(term="join")],
                  slop=5, in_order=False)
    s = Searcher(index, similarity="bm25")
    got = {r["doc_id"] for r in s._filter_docids(SpanQueryFilter(span=sq)).collect()}
    want = {
        r["doc_id"]
        for r in SpanSearcher(index, s.similarity).spans(sq).select("doc_id").collect()
    }
    assert got == want and got


def test_caching_wrapper_filter(spark, index):
    """CachingWrapperFilter resolves its wrapped filter once, caches the
    doc-id relation, and returns the same DataFrame thereafter (reference
    CachingWrapperFilter.cpp per-reader bitset cache)."""
    import pyspark.sql.functions as F

    from clucene_spark.search.engine import (
        CachingWrapperFilter,
        FilteredQuery,
        QueryFilter,
        Searcher,
        TermQuery,
    )

    s = Searcher(index, similarity="bm25")
    cw = CachingWrapperFilter(flt=QueryFilter(TermQuery(term="join")))
    d1 = s._filter_docids(cw)
    d2 = s._filter_docids(cw)
    assert d1 is d2
    assert d1.storageLevel.useMemory
    want = {r["doc_id"] for r in s.score(TermQuery(term="join")).collect()}
    assert {r["doc_id"] for r in d1.collect()} == want
    # behaves as a FilteredQuery predicate like the raw filter would
    got = {r["doc_id"] for r in
           s.score(FilteredQuery(query=TermQuery(term="spark"), predicate=cw)).collect()}
    raw = {r["doc_id"] for r in
           s.score(FilteredQuery(query=TermQuery(term="spark"),
                                 predicate=QueryFilter(TermQuery(term="join")))).collect()}
    assert got == raw
    d1.unpersist()


def test_date_filter_predicate(spark):
    """date_filter brackets DateTools-encoded values at the chosen
    resolution, endpoints inclusive (reference search/DateFilter.cpp)."""
    import datetime as dt

    from clucene_spark.document.tools import date_to_string
    from clucene_spark.search.engine import date_filter

    days = [dt.datetime(2001, 3, i, 12, 30, 0) for i in range(1, 9)]
    rows = [(i, date_to_string(d, "second")) for i, d in enumerate(days)]
    df = spark.createDataFrame(rows, "doc_id long, date string")
    pred = date_filter(days[2], days[5], resolution="second")
    got = {r["doc_id"] for r in df.filter(pred).collect()}
    assert got == {2, 3, 4, 5}


def test_chained_filter_arity_validation(spark, index):
    import pyspark.sql.functions as F

    from clucene_spark.search.engine import ChainedFilter, Searcher

    s = Searcher(index, similarity="bm25")
    with pytest.raises(ValueError, match="at least one"):
        s._filter_docids(ChainedFilter(filters=[], ops=[]))
    with pytest.raises(ValueError, match="ops"):
        s._filter_docids(
            ChainedFilter(filters=[F.col("n_chars") > 0, F.col("n_chars") > 1], ops=[])
        )
    # single filter, no ops: degenerates to the filter itself
    got = {r["doc_id"] for r in
           s._filter_docids(ChainedFilter(filters=[F.col("n_chars") >= 300], ops=[])).collect()}
    want = {r["doc_id"] for r in
            index.docs.filter(F.col("n_chars") >= 300).select("doc_id").collect()}
    assert got == want


# ---------------------------------------------------------------------------
# BM25F (Zaragoza/Robertson weighted-field ranking)
# ---------------------------------------------------------------------------

def test_bm25f_matches_hand_formula(spark):
    """bm25f_topk == a pure-Python evaluation of the published formula
    (field-normalized tf -> weighted combine -> single saturation,
    doc-level df idf) on a small two-field corpus."""
    import math

    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.bm25f import bm25f_topk

    rows = [
        (0, "spark join", "spark join window agg spark"),
        (1, "window agg", "join join join window spark"),
        (2, "spark spark", "window window window window window agg"),
        (3, "agg table", "table scan value part"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, text string")
    idx = InvertedIndex(
        docs,
        fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")],
    )
    weights, bmap, k1 = {"title": 2.0, "text": 1.0}, {"title": 0.75, "text": 0.75}, 1.2
    got = {r["doc_id"]: r["score"]
           for r in bm25f_topk(idx, ["spark", "join"], weights=weights, k=10).collect()}

    toks = {d: {"title": t.split(), "text": x.split()} for d, t, x in rows}
    avgdl = {f: sum(len(v[f]) for v in toks.values()) / len(toks)
             for f in ("title", "text")}
    n = len(rows)
    exp = {}
    for d, per in toks.items():
        s = 0.0
        for t in ("spark", "join"):
            df = sum(1 for v in toks.values()
                     if t in v["title"] or t in v["text"])
            wtf = 0.0
            for f in ("title", "text"):
                tf = per[f].count(t)
                if tf:
                    wtf += weights[f] * tf / (
                        1 + bmap[f] * (len(per[f]) / avgdl[f] - 1)
                    )
            if wtf:
                s += math.log(1 + (n - df + 0.5) / (df + 0.5)) * wtf / (k1 + wtf)
        if s:
            exp[d] = round(s, 4)
    assert got == exp
    # saturation is applied ONCE over the combined tf: doc 0 (term in both
    # fields) must score less than two independent per-field BM25 sums would
    assert set(got) == {0, 1, 2}


def test_bm25f_title_boost_reorders(spark):
    """Raising the title weight must be able to promote a title-heavy doc
    over a body-heavy one — the point of field weighting."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.bm25f import bm25f_topk

    rows = [
        (0, "spark spark spark", "scan value table part agg window"),
        (1, "window agg", "spark spark spark spark scan value"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, text string")
    idx = InvertedIndex(
        docs,
        fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")],
    )
    flat = bm25f_topk(idx, ["spark"], weights={"title": 1.0, "text": 1.0}).collect()
    boosted = bm25f_topk(idx, ["spark"], weights={"title": 8.0, "text": 1.0}).collect()
    assert flat[0]["doc_id"] == 1      # body-heavy wins unweighted
    assert boosted[0]["doc_id"] == 0   # title boost flips it


# ---------------------------------------------------------------------------
# MoreLikeThis (find-similar-documents)
# ---------------------------------------------------------------------------

def test_mlt_near_duplicate_ranks_first(spark):
    """A near-copy of the seed doc must be the top MoreLikeThis hit, the
    seed itself must be excluded, and term selection must be the doc's
    top tf-idf terms."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import Searcher
    from clucene_spark.search.mlt import interesting_terms, more_like_this

    rows = [
        (0, "quantum flux capacitor drive quantum flux"),
        (1, "quantum flux capacitor drive quantum plasma"),   # near-copy
        (2, "table scan join window agg value"),
        (3, "flux of a the and or capacitor"),
        (4, "a an the of to in and or as at"),                # stopword-ish
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s = Searcher(InvertedIndex(docs), similarity="bm25")

    top = more_like_this(s, 0, max_terms=4, k=3).collect()
    assert top and top[0]["doc_id"] == 1
    assert all(r["doc_id"] != 0 for r in top)  # seed excluded

    terms = [t for _, t in interesting_terms(s, 0, max_terms=4)]
    # rare terms from the seed doc beat corpus-wide common ones
    assert "quantum" in terms and "flux" in terms
    again = more_like_this(s, 0, max_terms=4, k=3).collect()
    assert [(r["doc_id"], r["score"]) for r in top] == [
        (r["doc_id"], r["score"]) for r in again
    ]


def test_bm25f_absent_term_returns_empty(spark):
    """A query term that occurs in no scored field yields an empty result
    (regression: the empty idf literal map used to fail analysis)."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.bm25f import bm25f_topk

    docs = spark.createDataFrame(
        [(0, "a b", "a b c"), (1, "c d", "d e f")],
        "doc_id long, title string, text string",
    )
    idx = InvertedIndex(
        docs,
        fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")],
    )
    out = bm25f_topk(idx, ["zzzz"]).collect()
    assert out == []
    assert [f.name for f in bm25f_topk(idx, ["zzzz"]).schema] == ["doc_id", "score"]
