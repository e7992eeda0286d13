"""Reference answers the benchmark checks the program against.

Nothing here imports the program: the tokenizer, BM25, phrase, prefix,
fuzzy and Jaccard computations are written from their definitions, over
the text the benchmark generated itself.

  * tokens: lowercase letter runs minus Lucene's 33 English stop words;
  * BM25: k1 1.2, b 0.75, idf ln(1 + (N - df + 0.5) / (df + 0.5)), N and
    avgdl over the documents with at least one token;
  * exact phrase: phrase frequency as tf, idf summed over the phrase terms;
  * fuzzy: similarity 1 - lev(q, t) / min(|q|, |t|), kept when > min_sim;
  * Jaccard over distinct word 3-grams of the space-split text.
"""

from __future__ import annotations

import math
import re

import numpy as np

from gen import STOP_WORDS

K1 = 1.2
B = 0.75
_WORD = re.compile(r"[a-z]+")


def tokenize(text: str) -> list[str]:
    return [w for w in _WORD.findall(text.lower()) if w not in STOP_WORDS]


def bm25_idf(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class Index:
    """Exact in-memory inverted index over token lists."""

    def __init__(self, doc_ids, token_lists: list[list[str]]):
        term_id: dict[str, int] = {}
        lens = np.fromiter((len(t) for t in token_lists), np.int64,
                           len(token_lists))
        flat = np.fromiter(
            (term_id.setdefault(w, len(term_id))
             for toks in token_lists for w in toks),
            np.int64, int(lens.sum()))
        keep = lens > 0
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)[keep]
        self.dl = lens[keep].astype(np.float64)
        self.n_docs = int(keep.sum())
        self.avgdl = float(self.dl.mean()) if self.n_docs else 1.0
        self.term_id = term_id
        self.terms = np.array(sorted(term_id, key=term_id.get), dtype=object)
        self.flat = flat
        self.doc_of = np.repeat(np.arange(self.n_docs), lens[keep])
        self.n_tokens = int(len(flat))
        # postings: unique (term, doc) keys sorted by term then doc
        key = flat * self.n_docs + self.doc_of
        ukey, tf = np.unique(key, return_counts=True)
        self.p_term = ukey // self.n_docs
        self.p_doc = ukey % self.n_docs
        self.p_tf = tf.astype(np.float64)
        self.n_postings = int(len(ukey))
        self.df = np.bincount(self.p_term, minlength=len(self.terms))
        self._start = np.concatenate(
            [[0], np.cumsum(self.df)]).astype(np.int64)
        self._matrix = None

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc indices, tf) of a term; empty when absent."""
        t = self.term_id.get(term)
        if t is None:
            return np.zeros(0, np.int64), np.zeros(0)
        lo, hi = self._start[t], self._start[t + 1]
        return self.p_doc[lo:hi], self.p_tf[lo:hi]

    def doc_freq(self, term: str) -> int:
        t = self.term_id.get(term)
        return 0 if t is None else int(self.df[t])

    def _tf_norm(self, tf, docs):
        return tf * (K1 + 1.0) / (
            tf + K1 * (1.0 - B + B * self.dl[docs] / self.avgdl))

    def bm25(self, terms: list[str], mode: str = "OR"
             ) -> tuple[np.ndarray, np.ndarray]:
        """(scores, matched mask) over all docs for a term / AND / OR."""
        terms = list(dict.fromkeys(terms))
        score = np.zeros(self.n_docs)
        hits = np.zeros(self.n_docs, dtype=np.int64)
        for t in terms:
            docs, tf = self.postings(t)
            if not len(docs):
                continue
            score[docs] += bm25_idf(len(docs), self.n_docs) * self._tf_norm(
                tf, docs)
            hits[docs] += 1
        need = len(terms) if mode == "AND" else 1
        return score, hits >= need

    def phrase(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Exact phrase: pfreq = aligned occurrences in the indexed
        (stop-word-free, densely numbered) token stream."""
        ids = [self.term_id.get(t) for t in terms]
        score = np.zeros(self.n_docs)
        if any(i is None for i in ids):
            return score, np.zeros(self.n_docs, dtype=bool)
        n = len(ids)
        m = len(self.flat) - n + 1
        ok = np.ones(max(m, 0), dtype=bool)
        for j, i in enumerate(ids):
            ok &= self.flat[j:j + m] == i
            ok &= self.doc_of[j:j + m] == self.doc_of[:m]
        pf = np.bincount(self.doc_of[:m][ok], minlength=self.n_docs).astype(
            np.float64)
        matched = pf > 0
        idf = sum(bm25_idf(int(self.df[i]), self.n_docs) for i in ids)
        docs = np.nonzero(matched)[0]
        score[docs] = idf * self._tf_norm(pf[docs], docs)
        return score, matched

    def docs_with_any(self, terms) -> np.ndarray:
        mask = np.zeros(self.n_docs, dtype=bool)
        for t in terms:
            mask[self.postings(t)[0]] = True
        return mask

    def prefix_terms(self, prefix: str) -> list[str]:
        return [t for t in self.term_id if t.startswith(prefix)]

    def fuzzy_terms(self, term: str, min_sim: float) -> list[str]:
        if self._matrix is None:
            self._matrix = TermMatrix(self.terms)
        sims = self._matrix.similarity(term)
        return [t for t, s in zip(self.terms, sims) if s > min_sim]


def levenshtein(a: str, b: str) -> int:
    """Plain dynamic-programming edit distance (the vectorized form below
    is tested against it)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class TermMatrix:
    """Terms as a padded code-point matrix, for vectorized edit distance."""

    def __init__(self, terms):
        self.terms = list(terms)
        self.lens = np.fromiter((len(t) for t in self.terms), np.int64,
                                len(self.terms))
        width = int(self.lens.max()) if len(self.terms) else 0
        flat = "".join(t.ljust(width, "\0") for t in self.terms)
        self.mat = np.frombuffer(flat.encode("utf-32-le"), np.uint32
                                 ).reshape(len(self.terms), width)

    def levenshtein(self, q: str) -> np.ndarray:
        """Edit distance from q to every term, one DP column sweep
        vectorized over the terms."""
        n_t, width = self.mat.shape
        prev = np.tile(np.arange(width + 1, dtype=np.int64), (n_t, 1))
        for i, ch in enumerate(q, 1):
            cur = np.empty_like(prev)
            cur[:, 0] = i
            diff = (self.mat != ord(ch)).astype(np.int64)
            for j in range(1, width + 1):
                cur[:, j] = np.minimum(
                    np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1),
                    prev[:, j - 1] + diff[:, j - 1])
            prev = cur
        return prev[np.arange(n_t), self.lens]

    def similarity(self, q: str) -> np.ndarray:
        """Fuzzy similarity 1 - lev / min(|q|, |t|) to every term."""
        return 1.0 - self.levenshtein(q) / np.minimum(len(q), self.lens)


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n])
            for i in range(max(len(toks) - n, 0) + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def ranked(index: Index, score: np.ndarray, matched: np.ndarray
           ) -> list[tuple[int, float]]:
    """All matching (doc_id, score), score descending then doc_id."""
    docs = np.nonzero(matched)[0]
    order = np.lexsort((index.doc_ids[docs], -score[docs]))
    return [(int(index.doc_ids[docs[i]]), float(score[docs[i]]))
            for i in order]


def check_hits(hits, expected: dict, k: int = 10, tol: float = 1e-4,
               exact: bool = True) -> str | None:
    """None when `hits` [(doc_id, score)] is a correct top-k, else why not.

    `expected` holds the reference match count and either `ranked` (every
    (doc_id, score) that may appear in a top-k: the k best and all docs
    within `tol` of the k-th) or, for inexact checks, `docs` (every
    matching doc). Ties within `tol` (the serving paths round scores to
    1e-4) may come in any order and may cut a different k-th doc; the hit
    count, the order of scores, each hit's score and the rank profile must
    match."""
    n = min(k, expected["n_match"])
    if len(hits) != n:
        return f"{len(hits)} hits, expected {n}"
    scores = [float(s) for _, s in hits]
    if any(b > a for a, b in zip(scores, scores[1:])):
        return f"scores increase down the list: {scores}"
    if not exact:
        allowed = set(expected["docs"])
        bad = [int(d) for d, _ in hits if int(d) not in allowed]
        return f"docs {bad[:5]} contain no matching term" if bad else None
    ranked = expected["ranked"]
    by_doc = {int(d): s for d, s in ranked}
    for rank, (d, s) in enumerate(hits):
        r = by_doc.get(int(d))
        if r is None:
            return f"doc {d} at rank {rank} is not a reference top-{k} doc"
        if abs(r - s) > tol or abs(ranked[rank][1] - s) > tol:
            return (f"rank {rank}: doc {d} score {s} vs reference "
                    f"{r:.6f} (rank score {ranked[rank][1]:.6f})")
    return None
