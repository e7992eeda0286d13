"""Searcher statistics snapshot: driver-side docFreq and dl on posting rows.

Guards three properties of the relational query path on the sf0.01
fixture:

  * job counts: a warm query runs one Spark job for a term query, two for
    AND / OR / phrase and three for prefix / fuzzy — no statistics job and
    no per-query doc_lens broadcast;
  * `doc_freqs` is a driver lookup (an absent term runs no job, returns 0)
    and the dictionary loads once even under concurrent first calls;
  * scores are bit-identical to the golden fixture
    `goldens/searcher_scores_sf001.json` ("doc_id float.hex(score)") for the
    six query classes under bm25, classic and fielded scoring.

Regenerate the fixture (only when a scoring change is intended) with
`python tests/test_stats_snapshot.py`.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import uuid
from pathlib import Path

import pytest

SF = "/root/testdata/sf0.01"
GOLDEN = Path(__file__).with_name("goldens") / "searcher_scores_sf001.json"
K = 25

# query class -> QueryParser string; `title:` leaves route to the second
# field of the fielded index
QUERIES = {
    "term": "spark",
    "and": "+spark +join",
    "or": "spark join window",
    "phrase": '"spark join"',
    "prefix": "sp*",
    "fuzzy": "sprak~",
}
FIELDED_QUERIES = {
    "term": "title:spark",
    "and": "+title:spark +join",
    "or": "title:spark title:join title:window",
    "phrase": 'title:"spark join"',
    "prefix": "title:sp*",
    "fuzzy": "title:sprak~",
}
JOBS = {"term": 1, "and": 2, "or": 2, "phrase": 2, "prefix": 3, "fuzzy": 3}


def _docs(spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id", F.array_join(F.slice(toks, 1, 6), " ").alias("title"),
        "text",
    )


def _searchers(spark):
    """config name -> (Searcher, QueryParser, query strings)."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.queryparser.parser import QueryParser
    from clucene_spark.search.engine import Searcher

    docs = _docs(spark)
    plain = InvertedIndex(docs).cache()
    fielded = InvertedIndex(
        docs,
        fields=[("text", "text", "whitespace"),
                ("title", "title", "whitespace")],
    ).cache()
    parser = QueryParser()
    fparser = QueryParser(indexed_fields=["title"])
    return {
        "bm25": (Searcher(plain), parser, QUERIES),
        "classic": (Searcher(plain, similarity="classic"), parser, QUERIES),
        "classic_norm_bytes": (
            Searcher(plain, similarity="classic", norm_bytes=True),
            parser, QUERIES,
        ),
        "fielded_bm25": (Searcher(fielded), fparser, FIELDED_QUERIES),
        "fielded_classic": (
            Searcher(fielded, similarity="classic"), fparser, FIELDED_QUERIES,
        ),
    }


def score_goldens(spark) -> dict:
    """{config: {class: ["<doc_id> <float.hex(score)>", ...]}} — unrounded
    top-K per query, so any change to a score's last bit shows."""
    out = {}
    for name, (s, parser, queries) in _searchers(spark).items():
        out[name] = {
            cls: [
                f"{int(r['doc_id'])} {float(r['score']).hex()}"
                for r in s.topk(parser.parse(q), K).collect()
            ]
            for cls, q in queries.items()
        }
    return out


@pytest.fixture(scope="module")
def searchers(spark):
    return _searchers(spark)


def _jobs(spark, fn) -> int:
    """Spark jobs run by `fn()`, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"stats-snapshot-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_golden_scores_bit_identical(spark):
    got = score_goldens(spark)
    want = json.loads(GOLDEN.read_text())
    assert got.keys() == want.keys()
    for name in want:
        for cls in want[name]:
            assert got[name][cls] == want[name][cls], (name, cls)
    # the fixture must exercise every class with real hits
    assert all(want[name][cls] for name in want for cls in QUERIES)


@pytest.mark.parametrize("config", ["bm25", "fielded_bm25"])
@pytest.mark.parametrize("cls", list(QUERIES))
def test_warm_query_job_count(spark, searchers, config, cls):
    s, parser, queries = searchers[config]
    query = parser.parse(queries[cls])
    s.topk(query, K).collect()  # warm: snapshot loaded, caches filled
    n = _jobs(spark, lambda: s.topk(query, K).collect())
    assert n == JOBS[cls], (config, cls, n)


def test_doc_freqs_absent_term_runs_no_job(spark, searchers):
    s = searchers["bm25"][0]
    s.doc_freqs(["spark"])  # first use loads the dictionary
    got = {}
    n = _jobs(spark, lambda: got.update(
        s.doc_freqs(["no-such-term", "spark", ("text", "join")])))
    assert n == 0
    assert got["no-such-term"] == 0
    assert got["spark"] > 0 and got[("text", "join")] > 0
    fs = searchers["fielded_bm25"][0]
    fdf = fs.doc_freqs([("title", "spark"), ("title", "no-such-term"),
                        ("nofield", "spark")])
    assert fdf[("title", "spark")] > 0
    assert fdf[("title", "no-such-term")] == 0
    assert fdf[("nofield", "spark")] == 0


def test_doc_freqs_match_term_dict(searchers):
    s = searchers["fielded_bm25"][0]
    want = {
        (r["field"], r["term"]): int(r["df"])
        for r in s.index.term_dict.collect()
    }
    got = s.doc_freqs(list(want))
    assert got == want


def test_concurrent_first_calls_load_dictionary_once(spark):
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import Searcher

    s = Searcher(InvertedIndex(_docs(spark)).cache())
    loads = []
    real = s._load_term_stats

    def counting():
        loads.append(1)
        return real()

    s._load_term_stats = counting
    n = 2 * os.cpu_count()  # more threads than cores
    barrier = threading.Barrier(n)
    results = [None] * n

    def first_call(i):
        barrier.wait(timeout=60)
        results[i] = s.doc_freqs(["spark", "join"])

    threads = [threading.Thread(target=first_call, args=(i,))
               for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(loads) == 1
    assert all(r == results[0] for r in results) and results[0]["spark"] > 0


def test_postings_carry_doc_length(searchers):
    """dl on a posting row equals the doc's length in doc_lens (the
    per-query doc_lens join this replaces)."""
    for name in ("bm25", "fielded_bm25"):
        idx = searchers[name][0].index
        keys = ["doc_id", "field"] if "field" in idx.postings.columns \
            else ["doc_id"]
        lens = {tuple(r[k] for k in keys): r["dl"]
                for r in idx.doc_lens.collect()}
        rows = idx.postings.select(*keys, "dl").distinct().collect()
        assert {tuple(r[k] for k in keys): r["dl"] for r in rows} == lens
        assert len(rows) == len(lens)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from clucene_spark.session import get_spark

    # the same session shape as tests/conftest.py
    spark = get_spark("score_goldens", master="local[8]",
                      shuffle_partitions=8)
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(json.dumps(score_goldens(spark), indent=1) + "\n")
    spark.stop()
    print(f"wrote {GOLDEN}")
