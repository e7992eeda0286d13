"""Input generation and reference answers, run in a child process.

`python3 prepare.py <workload> <seed> <out_dir>` writes the workload's
input files and `expected.json` under out_dir. Running it apart from the
measured process keeps the benchmark's own corpora and reference indexes
out of `driver_peak_rss_mb`, and lets it run while the Spark JVM starts.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

import gen
import reference as ref

K = 10
TIE = 1e-4

# Input sizes. Each run must finish set-up and its measured rounds within
# about half a minute, so these are smaller than a production crawl; the
# README records what they amount to.
CRAWL_PAGES, CRAWL_FILES, CRAWL_LEN = 12_000, 24, 180
SERVE_DOCS, SERVE_FILES, SERVE_LEN, SERVE_QUERIES = 24_000, 12, 120, 250
SEARCH_DOCS, SEARCH_FILES, SEARCH_LEN, SEARCH_PER_CLASS = 2_000, 4, 100, 30
# query rounds run before timing (see the warm-up note in workloads.py)
SEARCH_WARMUP_ROUNDS = 1
DEDUP_DOCS, DEDUP_LEN, DEDUP_TWIN_RATE = 1_500, 100, 0.05
VOCAB_STEMS = 8_000
SAMPLED_DF_TERMS = 200


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def expected_topk(index: ref.Index, score, matched) -> dict:
    """Everything a top-k check needs: the match count and every doc that
    may legally appear in a top-k (score within TIE of the k-th)."""
    ranked = ref.ranked(index, score, matched)
    if len(ranked) > K:
        floor = ranked[K - 1][1] - TIE
        ranked = [r for r in ranked if r[1] >= floor]
    return {"n_match": int(matched.sum()), "ranked": ranked}


def prep_crawl(seed: int, out: str) -> dict:
    rng = _rng(seed, 1)
    vocab = gen.Vocab(rng, VOCAB_STEMS)
    corpus = gen.Corpus(vocab, rng, CRAWL_PAGES, CRAWL_LEN)
    paths = gen.write_warc_files(corpus, rng, os.path.join(out, "warc"),
                                 CRAWL_FILES)
    index = ref.Index(np.arange(len(corpus)),
                      [ref.tokenize(t) for t in corpus.texts])
    sample = sorted(rng.choice(index.terms, SAMPLED_DF_TERMS, replace=False))
    sample += ["zzzabsentterm"]
    return {
        "warc_paths": paths,
        "n_pages": len(corpus),
        "n_tokens": index.n_tokens,
        "n_postings": index.n_postings,
        "df": {t: index.doc_freq(t) for t in sample},
    }


def prep_serve(seed: int, out: str) -> dict:
    rng = _rng(seed, 2)
    vocab = gen.Vocab(rng, VOCAB_STEMS)
    corpus = gen.Corpus(vocab, rng, SERVE_DOCS, SERVE_LEN)
    ids = np.arange(len(corpus), dtype=np.int64)
    gen.write_parquet_docs(corpus.texts, ids, os.path.join(out, "docs"),
                           SERVE_FILES)
    index = ref.Index(ids, [ref.tokenize(t) for t in corpus.texts])
    log = gen.disjoint_term_queries(corpus, rng, SERVE_QUERIES)
    return {
        "docs_dir": os.path.join(out, "docs"),
        "n_docs": index.n_docs,
        "n_postings": index.n_postings,
        "queries": [[m, t] for m, t in log],
        "expected": [expected_topk(index, *index.bm25(t, m)) for m, t in log],
    }


def prep_search(seed: int, out: str) -> dict:
    rng = _rng(seed, 3)
    vocab = gen.Vocab(rng, VOCAB_STEMS)
    corpus = gen.Corpus(vocab, rng, SEARCH_DOCS, SEARCH_LEN)
    ids = np.arange(len(corpus), dtype=np.int64)
    gen.write_parquet_docs(corpus.texts, ids, os.path.join(out, "docs"),
                           SEARCH_FILES)
    index = ref.Index(ids, [ref.tokenize(t) for t in corpus.texts])
    # a warm-up log with its own draws, then the measured log
    logs = [gen.search_log(corpus, rng, SEARCH_WARMUP_ROUNDS),
            gen.search_log(corpus, rng, SEARCH_PER_CLASS)]
    out_logs = []
    for log in logs:
        exp: dict[str, list] = {}
        for cls, qs in log.items():
            exp[cls] = [_expect_search(index, cls, q) for q in qs]
        out_logs.append({"queries": log, "expected": exp})
    return {
        "docs_dir": os.path.join(out, "docs"),
        "n_docs": index.n_docs,
        "warmup": out_logs[0],
        "log": out_logs[1],
    }


def _expect_search(index: ref.Index, cls: str, q) -> dict:
    if cls == "wand":
        mode, terms = q
        return expected_topk(index, *index.bm25(terms, mode))
    if cls == "term":
        return expected_topk(index, *index.bm25([q]))
    if cls == "and":
        return expected_topk(index, *index.bm25(
            [t.lstrip("+") for t in q.split()], "AND"))
    if cls == "or":
        return expected_topk(index, *index.bm25(q.split()))
    if cls == "phrase":
        return expected_topk(index, *index.phrase(q.strip('"').split()))
    if cls == "prefix":
        terms = index.prefix_terms(q.rstrip("*"))
    else:  # fuzzy: "word~0.7"
        word, sim = q.split("~")
        terms = index.fuzzy_terms(word, float(sim))
        if len(terms) > 1024:  # the engine keeps only the best 1024
            raise ValueError(f"fuzzy query {q} expands past 1024 terms")
    docs = np.nonzero(index.docs_with_any(terms))[0]
    return {"n_match": int(len(docs)),
            "docs": index.doc_ids[docs].tolist()}


def prep_dedup(seed: int, out: str) -> dict:
    rng = _rng(seed, 4)
    vocab = gen.Vocab(rng, VOCAB_STEMS)
    ids, texts, twins = gen.dedup_corpus(vocab, rng, DEDUP_DOCS, DEDUP_LEN,
                                         DEDUP_TWIN_RATE)
    gen.write_parquet_docs(texts, np.asarray(ids, np.int64),
                           os.path.join(out, "docs"), 4)
    sets = [ref.shingles(t) for t in texts]
    pos = {d: i for i, d in enumerate(ids)}
    twin_j = [(a, b, ref.jaccard(sets[pos[a]], sets[pos[b]]),
               min(len(sets[pos[a]]), len(sets[pos[b]]))) for a, b in twins]
    return {
        "docs_dir": os.path.join(out, "docs"),
        "n_docs": len(ids),
        "twins": twin_j,
    }


PREPARE = {
    "crawl_build": prep_crawl,
    "serve_local": prep_serve,
    "search_spark": prep_search,
    "curate_dedup": prep_dedup,
}


def main() -> None:
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    data = PREPARE[workload](seed, out)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(data, fh)


if __name__ == "__main__":
    main()
