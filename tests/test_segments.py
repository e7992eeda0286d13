"""Segment store build/read/resume + block-max WAND rank-identity tests.

Oracle pattern follows the reference's TestReuters logical-index-equality
(src/test/testall.cpp:227-345): the compressed on-disk segments must decode
back to exactly the relational postings the in-memory build produces, and
the WAND path must return rank-identical top-k to the naive full-scoring
Searcher (the TestSearch analogue).
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from clucene_spark.index.build import InvertedIndex
from clucene_spark.index.codec import decode_positions, decode_postings
from clucene_spark.index.segments import (
    SegmentStore,
    build_segments,
    gc_segments,
    read_checkpoints,
    read_manifest,
)
from clucene_spark.search.engine import (
    MUST,
    SHOULD,
    BooleanQuery,
    Searcher,
    TermQuery,
)
from clucene_spark.search.wand import wand_query

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return InvertedIndex(docs).cache()


@pytest.fixture(scope="module")
def store(spark, index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_segments(index.tokens, index.doc_lens, d, docs_per_segment=16)
    return SegmentStore(spark, d)


def test_manifest_and_checkpoints(store):
    m = read_manifest(store.index_dir)
    assert m["generation"] == 0
    assert len(m["segments"]) >= 2  # doc ranges split into multiple segments
    cks = read_checkpoints(store.index_dir)
    assert len(cks) == len(m["segments"])
    for c in cks:
        assert c["n_tokens"] > 0 and c["n_postings"] > 0 and c["n_terms"] > 0


def test_segments_decode_to_relational_postings(spark, index, store):
    """Logical index equality: decode every blob, compare against the
    DataFrame postings (the TestAssertIndexReaderEquals pattern)."""
    want = {
        (r["term"], r["doc_id"]): (r["tf"], list(r["positions"]))
        for r in index.postings.collect()
    }
    got = {}
    for row in store.postings().collect():
        docs, tfs = decode_postings(bytes(row["doc_blob"]), bytes(row["tf_blob"]))
        poss = decode_positions(bytes(row["pos_blob"]), tfs)
        for d, t, p in zip(docs, tfs, poss):
            got[(row["term"], int(d))] = (int(t), p.tolist())
    assert got == want


def test_global_term_dict_matches(index, store):
    want = {r["term"]: (r["df"], r["cf"]) for r in index.term_dict.collect()}
    got = {r["term"]: (r["df"], r["cf"]) for r in store.term_dict().collect()}
    assert got == want


def test_resume_skips_completed_segments(spark, index, tmp_path):
    d = str(tmp_path / "idx2")
    first = build_segments(index.tokens, index.doc_lens, d, docs_per_segment=16)
    n_first = first.count()
    assert n_first >= 2
    # re-run: full ranges are skipped; only the PARTIAL tail range (the
    # corpus ends mid-range) is conservatively rebuilt — an appended run
    # with more docs in that range must not lose them
    second = build_segments(index.tokens, index.doc_lens, d, docs_per_segment=16)
    rebuilt = second.collect()
    assert len(rebuilt) <= 1
    if rebuilt:
        assert rebuilt[0]["segment_id"] == max(
            c["segment_id"] for c in read_checkpoints(d)
        )
    assert read_manifest(d)["generation"] == 1
    assert len(read_manifest(d)["segments"]) == n_first
    # drop one checkpoint + segment -> exactly that range is rebuilt
    import os, shutil

    cks = sorted(os.listdir(os.path.join(d, "checkpoints")))
    victim = cks[0]
    seg_name = read_checkpoints(d)[0]["segment"]
    os.remove(os.path.join(d, "checkpoints", victim))
    shutil.rmtree(os.path.join(d, "segments", seg_name))
    third = build_segments(index.tokens, index.doc_lens, d, docs_per_segment=16)
    rebuilt_ids = {r["segment_id"] for r in third.collect()}
    assert 0 in rebuilt_ids  # the dropped range was rebuilt
    assert len(rebuilt_ids) <= 2  # plus (at most) the always-open partial tail
    assert len(read_manifest(d)["segments"]) == n_first
    # full logical equality after resume
    store = SegmentStore(spark, d)
    assert store.term_dict().count() == index.term_dict.count()


def test_gc_removes_unreferenced_segments(spark, index, tmp_path):
    import os

    d = str(tmp_path / "idx3")
    build_segments(index.tokens, index.doc_lens, d, docs_per_segment=32)
    # orphan dir
    os.makedirs(os.path.join(d, "segments", "seg_zzzzorphan"))
    removed = gc_segments(d)
    assert removed == ["seg_zzzzorphan"]


# ---------------------------------------------------------------------------
# WAND rank-identity vs the naive Searcher (BM25)
# ---------------------------------------------------------------------------

def _naive_topk(searcher, q, k):
    """The serving paths' order: top-k on exact scores, then rounded."""
    top = searcher.topk(q, k).select(
        "doc_id", F.round("score", 4).alias("score"))
    return [(r["doc_id"], r["score"]) for r in top.collect()]


def _naive_or(searcher, terms, k=10):
    q = BooleanQuery()
    for t in terms:
        q.add(TermQuery(term=t), SHOULD)
    return _naive_topk(searcher, q, k)


def _naive_and(searcher, terms, k=10):
    q = BooleanQuery()
    for t in terms:
        q.add(TermQuery(term=t), MUST)
    return _naive_topk(searcher, q, k)


@pytest.fixture(scope="module")
def searcher(index):
    return Searcher(index, similarity="bm25")


QUERY_SETS = [
    ["spark"],
    ["spark", "join"],
    ["spark", "vector", "window"],
    ["the", "table"],          # head terms (stopword-grade df)
    ["key", "value", "hash", "merge"],
    ["nosuchterm"],
    ["spark", "nosuchterm"],
]


@pytest.mark.parametrize("terms", QUERY_SETS, ids=["-".join(t) for t in QUERY_SETS])
def test_wand_or_rank_identical(store, searcher, terms):
    got = [
        (r["doc_id"], r["score"])
        for r in wand_query(store, terms, k=10, mode="OR").collect()
    ]
    assert got == _naive_or(searcher, terms)


@pytest.mark.parametrize("terms", QUERY_SETS[:5], ids=["-".join(t) for t in QUERY_SETS[:5]])
def test_wand_and_rank_identical(store, searcher, terms):
    got = [
        (r["doc_id"], r["score"])
        for r in wand_query(store, terms, k=10, mode="AND").collect()
    ]
    assert got == _naive_and(searcher, terms)


def test_wand_and_missing_term_empty(store):
    assert wand_query(store, ["spark", "nosuchterm"], k=10, mode="AND").count() == 0


def test_wand_k_larger_than_corpus(store, searcher):
    got = [
        (r["doc_id"], r["score"])
        for r in wand_query(store, ["spark"], k=10_000).collect()
    ]
    assert got == _naive_or(searcher, ["spark"], k=10_000)


# ---------------------------------------------------------------------------
# fused (single-python-stage) builder == relational builder
# ---------------------------------------------------------------------------

def test_fused_build_equals_relational(spark, tmp_path):
    from clucene_spark.index.segments import build_segments_fused

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = InvertedIndex(docs, analyzer="standard")
    d_rel = str(tmp_path / "rel")
    d_fus = str(tmp_path / "fus")
    build_segments(idx.tokens, None, d_rel, docs_per_segment=32)
    build_segments_fused(docs, d_fus, docs_per_segment=32, analyzer="standard")

    s_rel = SegmentStore(spark, d_rel)
    s_fus = SegmentStore(spark, d_fus)
    td_rel = {r["term"]: (r["df"], r["cf"]) for r in s_rel.term_dict().collect()}
    td_fus = {r["term"]: (r["df"], r["cf"]) for r in s_fus.term_dict().collect()}
    assert td_fus == td_rel
    assert s_fus.stats() == s_rel.stats()

    # full blob-level equality per (segment, term)
    rel = {(r["segment"], r["term"]): (bytes(r["doc_blob"]), bytes(r["tf_blob"]),
                                       bytes(r["dl_blob"]), bytes(r["pos_blob"]))
           for r in s_rel.postings().collect()}
    fus = {(r["segment"], r["term"]): (bytes(r["doc_blob"]), bytes(r["tf_blob"]),
                                       bytes(r["dl_blob"]), bytes(r["pos_blob"]))
           for r in s_fus.postings().collect()}
    assert fus == rel

    got = [(r["doc_id"], r["score"])
           for r in wand_query(s_fus, ["spark", "table"], k=10).collect()]
    want = [(r["doc_id"], r["score"])
            for r in wand_query(s_rel, ["spark", "table"], k=10).collect()]
    assert got == want


def test_term_index_blocks_roundtrip(spark, store):
    """Each segment's prefix-compressed .tis/.tii analogue decodes back to
    exactly the sorted term column of its postings file."""
    from clucene_spark.index.segments import read_term_index

    segs = {r["segment"] for r in store.postings().select("segment").distinct().collect()}
    assert segs
    for seg in segs:
        want = [
            r["term"]
            for r in store.postings()
            .filter(F.col("segment") == seg)
            .orderBy("term")
            .select("term")
            .collect()
        ]
        assert read_term_index(store.index_dir, seg) == want


@pytest.mark.parametrize("terms", QUERY_SETS[:5], ids=["-".join(t) for t in QUERY_SETS[:5]])
def test_wand_direct_rank_identical(store, searcher, terms):
    from clucene_spark.search.wand import wand_query_direct

    got = [(r["doc_id"], r["score"])
           for r in wand_query_direct(store, terms, k=10).collect()]
    assert got == _naive_or(searcher, terms)


def test_wand_direct_and_mode(store, searcher):
    from clucene_spark.search.wand import wand_query_direct

    terms = ["spark", "join"]
    got = [(r["doc_id"], r["score"])
           for r in wand_query_direct(store, terms, k=10, mode="AND").collect()]
    assert got == _naive_and(searcher, terms)


@pytest.mark.parametrize("terms", QUERY_SETS[:5], ids=["-".join(t) for t in QUERY_SETS[:5]])
def test_taat_rank_identical(store, searcher, terms):
    """vectorized TAAT == python BMW == naive Spark scorer."""
    got = [(r["doc_id"], r["score"])
           for r in wand_query(store, terms, k=10, algo="taat").collect()]
    bmw = [(r["doc_id"], r["score"])
           for r in wand_query(store, terms, k=10, algo="wand").collect()]
    assert got == bmw == _naive_or(searcher, terms)


@pytest.mark.parametrize("terms", QUERY_SETS[:4], ids=["-".join(t) for t in QUERY_SETS[:4]])
def test_wand_local_rank_identical(store, searcher, terms):
    from clucene_spark.search.wand import wand_query_local

    assert wand_query_local(store, terms, k=10) == _naive_or(searcher, terms)


def test_lang_dispatch_build(spark, tmp_path):
    """LanguageBasedAnalyzer dispatch: zh docs index as CJK bigrams, en
    docs through the StandardAnalyzer — in one fused build."""
    from clucene_spark.index.segments import build_segments_fused
    from clucene_spark.search.wand import wand_query_local

    df = spark.createDataFrame(
        [
            (0, "the quick analyzer pipeline", "en"),
            (1, "你好世界欢迎", "zh"),
            (2, "quick 你好", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    d = str(tmp_path / "lang_idx")
    build_segments_fused(df, d, docs_per_segment=16, analyzer="lang", lang_col="lang")
    store = SegmentStore(spark, d)
    terms = {r["term"] for r in store.term_dict().collect()}
    assert "你好" in terms and "好世" in terms and "世界" in terms  # zh bigrams
    assert "quick" in terms and "the" not in terms  # en stopwords removed
    # both docs contain the term 你好: the zh doc as a bigram, the en doc
    # as the StandardTokenizer's whole-CJK-run token (ReadCJK consumes the
    # full run, StandardTokenizer.cpp:288-298)
    hits = wand_query_local(store, ["你好"], k=10)
    assert {h[0] for h in hits} == {1, 2}
    # but the bigram 好世 exists ONLY via the zh CJKAnalyzer path
    assert [h[0] for h in wand_query_local(store, ["好世"], k=10)] == [1]


def test_fielded_segment_store_wand(spark, tmp_path):
    """Multi-field segment store: composite field\\x1fterm keys, per-field
    doc_lens, wand_query(field=...) scores == the relational fielded
    Searcher's BM25 (rank + value identity at 4dp)."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.index.segments import (
        FIELD_SEP,
        SegmentStore,
        build_segments_fused,
    )
    from clucene_spark.search.engine import Searcher, TermQuery
    from clucene_spark.search.wand import wand_query, wand_query_local

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    two = docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 4), " ").alias("title"),
        "text",
    )
    d = str(tmp_path / "fielded_idx")
    build_segments_fused(
        two, d, docs_per_segment=128,
        fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")],
    )
    store = SegmentStore(spark, d)
    # composite keys present for both fields, dictionary sorted
    terms = [r["term"] for r in store.postings().select("term").collect()]
    assert any(t.startswith("title" + FIELD_SEP) for t in terms)
    assert any(t.startswith("text" + FIELD_SEP) for t in terms)
    assert "field" in store.doc_lens().columns
    # per-field stats: title avgdl ~4, text avgdl much larger
    _, avg_title = store.stats(field="title")
    _, avg_text = store.stats(field="text")
    assert avg_title < avg_text

    idx = InvertedIndex(
        two, fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")]
    )
    s = Searcher(idx, similarity="bm25")
    for fld, term in [("title", "join"), ("text", "spark")]:
        want = [(r["doc_id"], r["score"]) for r in
                s.topk(TermQuery(term=term, field=fld), 10, round_to=4).collect()]
        got = [(r["doc_id"], r["score"]) for r in
               wand_query(store, [term], k=10, field=fld).collect()]
        assert got == want, (fld, term)
        assert wand_query_local(store, [term], k=10, field=fld) == want


def test_term_vectors_forward_index(spark, tmp_path):
    """TermPositionVector parity: per-doc (term, tf, positions) rows match
    a re-analysis of the document; survives merge with rebase+deletes."""
    from clucene_spark.index.merge import optimize
    from clucene_spark.index.segments import (
        SegmentStore,
        build_segments_fused,
        delete_docs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta alpha gamma doc{i}") for i in range(40)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "tv_idx")
    build_segments_fused(docs, d, docs_per_segment=16, analyzer="whitespace",
                         term_vectors=True)
    store = SegmentStore(spark, d)
    assert store.has_term_vectors()
    tvec = store.term_vector(7)
    assert tvec == [
        ("alpha", 2, [0, 2]),
        ("beta", 1, [1]),
        ("doc7", 1, [4]),
        ("gamma", 1, [3]),
    ]
    # distributed surface
    n = store.term_vectors().filter(F.col("doc_id") == 7).count()
    assert n == 4
    # merge keeps vectors, purges deletes
    delete_docs(d, [7])
    optimize(spark, d)
    store = SegmentStore(spark, d)
    assert store.has_term_vectors()
    assert store.term_vector(7) == []
    assert store.term_vector(8)[0][0] == "alpha"


def test_payload_postings_and_boosting(spark):
    """Payload.h model: payloads aligned with positions; boosting term
    scores scale with the average first payload byte."""
    from clucene_spark.index.payloads import (
        build_postings_with_payloads,
        payload_term_scores,
    )

    rows = [
        # (doc, pos, term, payload byte) — doc 1 carries a high boost
        (0, 0, "spark", bytes([1])),
        (0, 1, "fast", bytes([1])),
        (1, 0, "spark", bytes([10])),
        (1, 1, "slow", bytes([1])),
        (2, 0, "spark", None),
        (2, 1, "spark", bytes([4])),
    ]
    tokens = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, payload binary"
    )
    p = build_postings_with_payloads(tokens)
    row = p.filter((F.col("term") == "spark") & (F.col("doc_id") == 2)).first()
    assert row["positions"] == [0, 1]
    assert row["payloads"][0] is None and bytes(row["payloads"][1]) == bytes([4])
    dl = tokens.groupBy("doc_id").agg(F.count("*").alias("dl"))
    scores = {r["doc_id"]: r["score"]
              for r in payload_term_scores(p, dl, "spark", 3, 2.0).collect()}
    # doc1 boost 10 vs doc0 boost 1 — same tf/dl, so exactly 10x
    assert abs(scores[1] / scores[0] - 10.0) < 1e-9
    # doc2: null payload defaults to 1.0, avg (1+4)/2 = 2.5
    base = scores[0]
    import math
    # doc2 tf=2 though; just assert it scored and is finite
    assert math.isfinite(scores[2])


def test_term_vectors_with_offsets_and_highlight(spark, tmp_path):
    """Offsets-bearing vectors (WITH_POSITIONS_OFFSETS) + the highlighter's
    TokenSources path: fragments from stored offsets equal the re-analysis
    highlighter's output."""
    from clucene_spark.index.segments import (
        SegmentStore,
        build_segments_fused,
        build_term_vectors_offsets,
    )
    from clucene_spark.search.highlight import highlight, highlight_from_vectors

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc number {i} with spark inside") for i in range(30)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "tvo_idx")
    build_segments_fused(docs, d, docs_per_segment=16, analyzer="standard")
    n = build_term_vectors_offsets(spark, d, docs, analyzer="standard")
    assert n == 2  # both segments got vectors
    store = SegmentStore(spark, d)
    tv = store.term_vectors()
    assert {"positions", "starts", "ends"} <= set(tv.columns)
    row = tv.filter((F.col("doc_id") == 3) & (F.col("term") == "alpha")).first()
    assert row["starts"] == [0] and row["ends"] == [5]

    page = docs.limit(5)
    got = {r["doc_id"]: (r["fragment"], r["n_matches"]) for r in
           highlight_from_vectors(store, page, ["spark"]).collect()}
    want = {r["doc_id"]: (r["fragment"], r["n_matches"]) for r in
            highlight(page, ["spark"]).collect()}
    assert got == want
    assert "<b>spark</b>" in got[0][0]


def test_aligned_bulk_build_equivalence_and_resume(spark, tmp_path):
    """Zero-shuffle aligned bulk load: same logical index as the ranged
    fused builder; range-filter resume rebuilds only the missing split."""
    import glob
    import json
    import os
    import shutil

    from clucene_spark.index.segments import (
        SegmentStore,
        build_segments_aligned,
        build_segments_fused,
    )
    from clucene_spark.search.wand import wand_query_local

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    d1 = str(tmp_path / "aligned")
    d2 = str(tmp_path / "ranged")
    build_segments_aligned(docs, d1, analyzer="whitespace")
    build_segments_fused(docs, d2, docs_per_segment=128, analyzer="whitespace")
    s1, s2 = SegmentStore(spark, d1), SegmentStore(spark, d2)
    assert s1.stats() == s2.stats()
    td1 = {r["term"]: (r["df"], r["cf"]) for r in s1.term_dict().collect()}
    td2 = {r["term"]: (r["df"], r["cf"]) for r in s2.term_dict().collect()}
    assert td1 == td2
    assert wand_query_local(s1, ["spark", "vector"], k=10) == \
        wand_query_local(s2, ["spark", "vector"], k=10)
    # resume: drop one checkpoint+segment; re-run rebuilds ONLY that range
    cks = sorted(glob.glob(d1 + "/checkpoints/*.json"))
    victim = json.load(open(cks[0]))
    os.remove(cks[0])
    shutil.rmtree(os.path.join(d1, "segments", victim["segment"]))
    rebuilt = build_segments_aligned(docs, d1, analyzer="whitespace").collect()
    assert [(r["min_doc"], r["max_doc"]) for r in rebuilt] == [
        (victim["min_doc"], victim["max_doc"])
    ]
    s1b = SegmentStore(spark, d1)
    assert s1b.stats() == s2.stats()
    td1b = {r["term"]: (r["df"], r["cf"]) for r in s1b.term_dict().collect()}
    assert td1b == td2


def test_direct_bulk_build_matches_aligned_and_resumes(spark, tmp_path):
    """Direct-read bulk load (file paths distributed, pyarrow opens each
    split in the python task — the JVM never touches the text) produces a
    BYTE-identical index to the aligned JVM-scan plan over the same files,
    and resumes by pruning finished files via parquet footer stats."""
    import glob
    import json
    import os
    import shutil

    import pyarrow.parquet as pq

    from clucene_spark.index.segments import (
        build_segments_aligned,
        build_segments_direct,
    )

    src = str(tmp_path / "corpus")
    (spark.read.parquet(f"{SF}/documents.parquet")
     .select("doc_id", "text")
     .repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(src))
    files = sorted(glob.glob(src + "/part-*.parquet"))
    assert len(files) == 4
    d1 = str(tmp_path / "aligned")
    d2 = str(tmp_path / "direct")
    build_segments_aligned(
        spark.read.parquet(*files).select("doc_id", "text"), d1,
        analyzer="whitespace")
    build_segments_direct(spark, files, d2, analyzer="whitespace")
    segs1 = sorted(os.listdir(os.path.join(d1, "segments")))
    segs2 = sorted(os.listdir(os.path.join(d2, "segments")))
    assert segs1 == segs2 and len(segs1) == 4
    for s in segs1:
        for f in ("postings.parquet", "doc_lens.parquet"):
            assert pq.read_table(os.path.join(d1, "segments", s, f)).equals(
                pq.read_table(os.path.join(d2, "segments", s, f))), (s, f)
    # resume: drop one checkpoint+segment; re-run rebuilds ONLY that file
    cks = sorted(glob.glob(d2 + "/checkpoints/*.json"))
    victim = json.load(open(cks[1]))
    os.remove(cks[1])
    shutil.rmtree(os.path.join(d2, "segments", victim["segment"]))
    rebuilt = build_segments_direct(
        spark, files, d2, analyzer="whitespace").collect()
    assert [(r["min_doc"], r["max_doc"]) for r in rebuilt] == [
        (victim["min_doc"], victim["max_doc"])
    ]
    for s in segs1:
        assert pq.read_table(
            os.path.join(d1, "segments", s, "postings.parquet")
        ).equals(pq.read_table(os.path.join(d2, "segments", s, "postings.parquet")))


def test_direct_build_single_pass_vectors_match_second_pass(spark, tmp_path):
    """build_segments_direct(with_vectors=True) writes the offsets-bearing
    term-vectors sidecar in the SAME read as the postings (the reference's
    TermVectorsWriter-inside-addDocument shape); content is identical to
    the separate build_term_vectors_offsets pass over the aligned index."""
    import glob
    import os

    import pyarrow.parquet as pq

    from clucene_spark.index.segments import (
        SegmentStore,
        build_segments_aligned,
        build_segments_direct,
        build_term_vectors_offsets,
    )

    src = str(tmp_path / "corpus")
    (spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
     .repartitionByRange(3, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(src))
    files = sorted(glob.glob(src + "/part-*.parquet"))
    d1 = str(tmp_path / "two_pass")
    d2 = str(tmp_path / "one_pass")
    docs = spark.read.parquet(*files).select("doc_id", "text")
    build_segments_aligned(docs, d1, analyzer="standard")
    build_term_vectors_offsets(spark, d1, docs, analyzer="standard")
    build_segments_direct(spark, files, d2, analyzer="standard",
                          with_vectors=True)
    segs = sorted(os.listdir(os.path.join(d1, "segments")))
    assert segs == sorted(os.listdir(os.path.join(d2, "segments")))
    for s in segs:
        t1 = pq.read_table(os.path.join(d1, "segments", s, "term_vectors.parquet"))
        t2 = pq.read_table(os.path.join(d2, "segments", s, "term_vectors.parquet"))
        assert t1.equals(t2), s
    store = SegmentStore(spark, d2)
    assert store.has_term_vectors()
    vec = store.term_vector(3)
    assert vec and all(len(v) >= 3 for v in vec)


def test_fielded_store_merge_preserves_fields(spark, tmp_path):
    """Compaction over a multi-field store: composite keys merge like any
    terms, per-field doc_lens survive, per-field stats and fielded WAND
    results are unchanged."""
    from clucene_spark.index.merge import optimize
    from clucene_spark.index.segments import SegmentStore, build_segments_fused
    from clucene_spark.search.wand import wand_query_local

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    two = docs.select(
        "doc_id", F.array_join(F.slice(toks, 1, 4), " ").alias("title"), "text"
    )
    d = str(tmp_path / "fielded_merge")
    build_segments_fused(
        two, d, docs_per_segment=64,
        fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")],
    )
    store = SegmentStore(spark, d)
    before = wand_query_local(store, ["join"], k=10, field="title")
    stats_before = store.stats(field="title")
    optimize(spark, d)
    store = SegmentStore(spark, d)
    assert "field" in store.doc_lens().columns
    assert store.stats(field="title") == stats_before
    assert wand_query_local(store, ["join"], k=10, field="title") == before


def test_phrase_query_direct_matches_relational(spark, tmp_path):
    """Store-served exact phrase (positions blobs) is value-identical to
    the relational phrase scorer, including repeated-term phrases and the
    fielded store."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.index.segments import build_segments_fused
    from clucene_spark.search.engine import PhraseQuery, Searcher
    from clucene_spark.search.wand import phrase_query_direct

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    d = str(tmp_path / "phrase_idx")
    build_segments_fused(docs, d, docs_per_segment=64, analyzer="whitespace")
    store = SegmentStore(spark, d)
    s = Searcher(InvertedIndex(docs))
    for terms, slop in ((["batch", "batch"], 0), (["key", "value"], 0),
                        (["key", "value", "table"], 0), (["key", "value"], 2),
                        (["key", "value", "table"], 4),
                        # repeated-term sloppy phrases drive the
                        # SloppyPhraseScorer repeat walk on both paths
                        (["batch", "batch"], 1), (["batch", "batch"], 3)):
        want = [(r["doc_id"], r["score"]) for r in
                s.topk(PhraseQuery(terms=terms, slop=slop), 10, round_to=4).collect()]
        got = [(r["doc_id"], r["score"]) for r in
               phrase_query_direct(store, terms, k=10, slop=slop).collect()]
        assert got == want, (terms, slop)
    # nonexistent term short-circuits to empty
    assert phrase_query_direct(store, ["key", "zzzznope"], k=10).count() == 0


def test_term_vectors_offsets_on_aligned_and_pieced_index(spark, tmp_path):
    """Regression (ADVICE r02): build_term_vectors_offsets used a
    docs_per_segment modulus to route docs, mis-bucketing aligned/range-
    keyed manifests and writing multi-piece ranges only into the first
    piece's dir, which broke term_vectors()/has_term_vectors() on any
    pieced index. Docs are now routed by the manifest's actual doc ranges
    and every segment gets a (possibly empty) vectors file."""
    from clucene_spark.index.segments import (
        SegmentStore,
        build_segments_aligned,
        build_term_vectors_offsets,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc number {i} with spark inside")
         for i in range(40)],
        "doc_id long, text string",
    ).repartition(3)
    d = str(tmp_path / "tvo_aligned")
    build_segments_aligned(docs, d, analyzer="whitespace")
    build_term_vectors_offsets(spark, d, docs, analyzer="whitespace")

    store = SegmentStore(spark, d)
    assert store.has_term_vectors()
    # every manifest segment carries the file (pieced-index invariant)
    import os
    for name in store._names:
        assert os.path.exists(
            os.path.join(d, "segments", name, "term_vectors.parquet")
        ), name
    # full forward index covers every doc exactly once
    tv = store.term_vectors()
    assert tv.select("doc_id").distinct().count() == 40
    assert tv.filter((F.col("doc_id") == 17) & (F.col("term") == "spark")).count() == 1

    # vectors built over a SUBSET of docs: uncovered segments get empty
    # files, readers keep working
    d2 = str(tmp_path / "tvo_subset")
    build_segments_aligned(docs, d2, analyzer="whitespace")
    build_term_vectors_offsets(
        spark, d2, docs.filter(F.col("doc_id") < 10), analyzer="whitespace"
    )
    store2 = SegmentStore(spark, d2)
    assert store2.has_term_vectors()
    assert store2.term_vectors().select("doc_id").distinct().count() == 10
    assert store2.term_vector(39) == []


def test_manifest_time_travel(spark, tmp_path):
    """Generations are immutable commit points: a past generation stays
    queryable after appends (IndexReader-on-a-commit / snapshot reads),
    and asking for a generation that never existed raises."""
    import pytest as _pytest

    from clucene_spark.index.segments import SegmentStore, build_segments_fused

    d = str(tmp_path / "tt")
    docs = spark.createDataFrame(
        [(i, f"w{i} common text") for i in range(40)],
        "doc_id long, text string",
    )
    build_segments_fused(docs.where("doc_id < 20"), d,
                         docs_per_segment=8, analyzer="whitespace")
    build_segments_fused(docs, d, docs_per_segment=8,
                         analyzer="whitespace")
    past = SegmentStore(spark, d, generation=0)
    latest = SegmentStore(spark, d)
    assert past.doc_lens().count() == 20
    assert latest.doc_lens().count() == 40
    assert past.manifest["generation"] == 0
    assert latest.manifest["generation"] == 1
    with _pytest.raises(FileNotFoundError):
        SegmentStore(spark, d, generation=5)


def test_serving_paths_cut_top_k_on_exact_scores(spark, tmp_path):
    """Near-tie across the k-th cut: the two docs' exact scores differ by
    less than 5e-5 and round to the same 4-dp value. Every serving path
    ranks on the exact scores and rounds only the kept rows, so k=1 keeps
    doc 1 (the higher exact score), not doc 0 (the lower doc_id a rounded
    ORDER BY would keep)."""
    from clucene_spark.index.segments import build_segments_fused
    from clucene_spark.search.wand import (
        phrase_query_direct,
        wand_query_direct,
        wand_query_local,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(["t u"] * 6 + ["x"] * 45)),
         (1, " ".join(["t u"] * 7 + ["x"] * 56))],
        "doc_id long, text string",
    )
    d = str(tmp_path / "near_tie")
    # one doc per segment: each segment's own top-k is exact, so the
    # near-tie meets only in the global cut
    build_segments_fused(docs, d, docs_per_segment=1, analyzer="whitespace")
    store = SegmentStore(spark, d)
    assert len(store._names) == 2

    def near_tie(exact):
        assert 0 < exact[1] - exact[0] < 5e-5, exact
        assert round(exact[0], 4) == round(exact[1], 4), exact

    term = dict(wand_query_local(store, ["t"], k=2, round_to=None))
    near_tie(term)
    want = [(1, round(term[1], 4))]
    for path in (wand_query, wand_query_direct):
        got = [(r["doc_id"], r["score"])
               for r in path(store, ["t"], k=1).collect()]
        assert got == want, path.__name__
    assert wand_query_local(store, ["t"], k=1) == want

    phrase = {r["doc_id"]: r["score"] for r in phrase_query_direct(
        store, ["t", "u"], k=2, round_to=None).collect()}
    near_tie(phrase)
    got = [(r["doc_id"], r["score"])
           for r in phrase_query_direct(store, ["t", "u"], k=1).collect()]
    assert got == [(1, round(phrase[1], 4))]
