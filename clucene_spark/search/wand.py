"""Block-max WAND top-k BM25 over the persistent segment store.

The distributed plan mirrors MultiSearcher's scatter-gather (reference
search/MultiSearcher.cpp:122-152) with the global-statistics first pass
(MultiSearcher.cpp:72-74):

  1. stats pass   : global df per query term + (n_docs, avgdl) — one tiny
                    aggregation over the segment dictionaries.
  2. segment scan : postings rows for ONLY the query terms (term predicate
                    pushed into the parquet scan; terms are sorted within a
                    segment so row-group stats prune like the .tii index).
  3. per-segment  : applyInPandas group per segment runs doc-at-a-time
                    block-max WAND (decode varbyte blobs -> numpy; pivot on
                    term upper bounds; skip blocks whose block-max BM25
                    bound can't beat the running threshold — the skip-list
                    skipTo of SegmentTermDocs.cpp:128-155 plus the
                    max-score metadata the north star names).
  4. global merge : ORDER BY score DESC, doc_id ASC LIMIT k — Spark's
                    TakeOrderedAndProject, i.e. per-partition bounded PQ +
                    driver merge (HitQueue semantics, HitQueue.cpp:100-105).

WAND returns the EXACT top-k (pruning is safe: a block is skipped only when
its upper bound cannot enter the heap), so results are rank-identical to
the naive full-scoring plan — asserted in tests/test_wand.py.
"""

from __future__ import annotations

import heapq
import os
import threading as _threading

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from clucene_spark.index.codec import decode_postings, vbyte_decode
from clucene_spark.index.segments import SegmentStore

K1 = 1.2
B = 0.75

HIT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def bm25_idf(df: int, n_docs: int) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _bm25(tf, dl, idf: float, avgdl: float):
    return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))


class _TermCursor:
    """Decoded posting list + block metadata + a moving pointer."""

    __slots__ = ("docs", "tfs", "dls", "idf", "blk_max_doc", "blk_ub", "ub", "i", "n")

    def __init__(self, docs, tfs, dls, idf, blk_max_doc, blk_max_tf, blk_min_dl, avgdl):
        self.docs = docs
        self.tfs = tfs
        self.dls = dls
        self.idf = idf
        self.blk_max_doc = np.asarray(blk_max_doc, dtype=np.int64)
        # block-max BM25 upper bound: score is increasing in tf, decreasing
        # in dl, so score(max_tf, min_dl) bounds every posting in the block
        self.blk_ub = _bm25(
            np.asarray(blk_max_tf, dtype=np.float64),
            np.asarray(blk_min_dl, dtype=np.float64),
            idf,
            avgdl,
        )
        self.ub = float(self.blk_ub.max()) if len(self.blk_ub) else 0.0
        self.i = 0
        self.n = len(docs)

    @property
    def doc(self) -> int:
        return int(self.docs[self.i]) if self.i < self.n else 2**62

    def skip_to(self, target: int) -> None:
        if self.i < self.n and self.docs[self.i] < target:
            self.i += int(np.searchsorted(self.docs[self.i :], target, side="left"))

    def block_ub_at(self, doc: int) -> float:
        """Upper bound of the block containing the first posting >= doc."""
        b = int(np.searchsorted(self.blk_max_doc, doc, side="left"))
        if b >= len(self.blk_ub):
            return 0.0
        return float(self.blk_ub[b])

    def block_end_at(self, doc: int) -> int:
        b = int(np.searchsorted(self.blk_max_doc, doc, side="left"))
        if b >= len(self.blk_max_doc):
            return 2**62
        return int(self.blk_max_doc[b])


def wand_topk_segment(
    cursors: list[_TermCursor],
    avgdl: float,
    k: int,
    required: int = 1,
    deleted: frozenset = frozenset(),
) -> list[tuple[int, float]]:
    """Doc-at-a-time block-max WAND over one segment's cursors.

    required=1   -> OR semantics (classic WAND top-k)
    required=len -> AND semantics (conjunction; pivot must align all terms)
    Returns exact top-k [(doc_id, score)] with (score desc, doc asc) order.
    """
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of size k
    theta = 0.0

    def push(doc: int, score: float):
        nonlocal theta
        item = (score, -doc)
        if len(heap) < k:
            heapq.heappush(heap, item)
            if len(heap) == k:
                theta = heap[0][0]
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
            theta = heap[0][0]

    n_terms = len(cursors)
    required = max(1, min(required, n_terms))

    while True:
        live = [c for c in cursors if c.i < c.n]
        if len(live) < required:
            break
        live.sort(key=lambda c: c.doc)
        # pivot: smallest index where cumulative UB sum could beat theta,
        # and (for AND) at least `required` terms are at or before it
        acc = 0.0
        pivot = -1
        for j, c in enumerate(live):
            acc += c.ub
            if j + 1 >= required and (acc > theta or len(heap) < k):
                pivot = j
                break
        if pivot < 0:
            break
        pivot_doc = live[pivot].doc
        if required == n_terms:
            pivot_doc = live[-1].doc  # conjunction: align on the max doc
            pivot = len(live) - 1

        if live[0].doc == pivot_doc:
            # all cursors [0..pivot] are on pivot_doc candidates — check the
            # block-max refinement before full scoring (the BMW step)
            block_sum = sum(c.block_ub_at(pivot_doc) for c in live[: pivot + 1])
            rest_ub = sum(c.ub for c in live[pivot + 1 :])
            if len(heap) == k and block_sum + rest_ub <= theta:
                # skip to the nearest block boundary past pivot_doc
                next_doc = min(c.block_end_at(pivot_doc) for c in live[: pivot + 1]) + 1
                for c in live[: pivot + 1]:
                    c.skip_to(max(next_doc, pivot_doc + 1))
                continue
            # score pivot_doc fully (dl rides inline in the posting — no
            # doc-table lookup on the scoring hot path)
            matched = 0
            score = 0.0
            for c in cursors:
                c.skip_to(pivot_doc)
                if c.i < c.n and int(c.docs[c.i]) == pivot_doc:
                    matched += 1
                    score += _bm25(float(c.tfs[c.i]), float(c.dls[c.i]), c.idf, avgdl)
                    c.i += 1
            # deletions filter results without touching statistics — the
            # .del check during posting iteration (SegmentTermDocs.cpp:98-100)
            if matched >= required and pivot_doc not in deleted:
                push(pivot_doc, score)
        else:
            # advance the lagging cursors up to the pivot document
            for c in live[: pivot + 1]:
                if c.doc < pivot_doc:
                    c.skip_to(pivot_doc)

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-d, s) for s, d in out]


def taat_topk_segment(
    cursors: list[_TermCursor],
    avgdl: float,
    k: int,
    required: int = 1,
    deleted: frozenset = frozenset(),
) -> list[tuple[int, float]]:
    """Vectorized term-at-a-time scorer — numerically identical results to
    wand_topk_segment (same float64 ops elementwise), but C-speed.

    Rationale: our DAAT block-max WAND runs as a python loop (~10µs/doc);
    numpy TAAT scores a whole segment's candidate set in a few vector ops,
    so for pandas-UDF execution it wins at every realistic posting-list
    length — BMW's skipping advantage only pays when per-doc cost is
    native. Both ship: WAND demonstrates/tests the block-max machinery,
    TAAT is the default execution (algo='taat')."""
    f8 = np.float64
    all_docs = np.concatenate([c.docs for c in cursors])
    all_scores = np.concatenate(
        [_bm25(c.tfs.astype(f8), c.dls.astype(f8), c.idf, avgdl) for c in cursors]
    )
    uniq, inv = np.unique(all_docs, return_inverse=True)
    scores = np.zeros(len(uniq), dtype=f8)
    np.add.at(scores, inv, all_scores)
    if required > 1:
        counts = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(counts, inv, 1)
        keep = counts >= required
        uniq, scores = uniq[keep], scores[keep]
    if deleted:
        keep = ~np.isin(uniq, np.fromiter(deleted, dtype=np.int64, count=len(deleted)))
        uniq, scores = uniq[keep], scores[keep]
    order = np.lexsort((uniq, -scores))[:k]
    return list(zip(uniq[order].tolist(), scores[order].tolist()))


def _score_segment(cursors, avgdl, k, required, deleted, algo: str):
    if algo == "wand":
        return wand_topk_segment(cursors, avgdl, k, required, deleted)
    return taat_topk_segment(cursors, avgdl, k, required, deleted)


def wand_query(
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
    mode: str = "OR",
    round_to: int | None = 4,
    algo: str = "taat",
    field: str | None = None,
) -> DataFrame:
    """Distributed block-max WAND top-k over the segment store."""
    terms = list(dict.fromkeys(terms))
    if field is not None:
        # multi-field store: composite (field, term) keys + per-field avgdl
        from clucene_spark.index.segments import fielded_term

        terms = [fielded_term(field, t) for t in terms]
    n_docs, avgdl = store.stats(field)
    # global df pass (MultiSearcher.cpp:72-74 pattern), memoized per store
    dfs = store.doc_freqs(terms)
    idf_by_term = {t: bm25_idf(df, n_docs) for t, df in dfs.items() if df > 0}
    live_terms = [t for t in terms if t in idf_by_term]
    required = len(terms) if mode == "AND" else 1
    if (mode == "AND" and len(live_terms) < len(terms)) or not live_terms:
        return store.spark.createDataFrame([], HIT_SCHEMA)
    deleted = frozenset(store.deleted_ids())

    def _wand_one(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cursors = []
        for row in pdf.itertuples():
            docs, tfs = decode_postings(row.doc_blob, row.tf_blob)
            dls = vbyte_decode(row.dl_blob).astype(np.int64)
            cursors.append(
                _TermCursor(
                    docs, tfs, dls, idf_by_term[row.term],
                    row.blk_max_doc, row.blk_max_tf, row.blk_min_dl, avgdl,
                )
            )
        if len(cursors) < required:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
        hits = _score_segment(cursors, avgdl, k, required, deleted, algo)
        return pd.DataFrame(
            {"doc_id": [h[0] for h in hits], "score": [h[1] for h in hits]}
        ).astype({"doc_id": "int64", "score": "float64"})

    p = store.postings().filter(F.col("term").isin(live_terms)).select(
        "segment", "term", "doc_blob", "tf_blob", "dl_blob",
        "blk_max_doc", "blk_max_tf", "blk_min_dl",
    )
    hits = p.groupBy("segment").applyInPandas(_wand_one, HIT_SCHEMA)
    return _top_k(hits, k, round_to)


def _top_k(hits: DataFrame, k: int, round_to: int | None) -> DataFrame:
    """Top-k by (score DESC, doc_id ASC) on the EXACT scores, then round
    the k kept rows — the order wand_query_local uses, so every serving
    path cuts the same k-th hit when two scores differ only below the
    rounding."""
    top = hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    if round_to is None:
        return top
    return top.select("doc_id", F.round("score", round_to).alias("score"))


# Per-WORKER decoded-postings LRU for the direct serving path: python
# workers are reused across queries, so repeat terms skip the parquet
# read + vbyte decode exactly like the in-process server's store-handle
# cache. Keyed by (file path, mtime_ns, size, term) — segment files are
# immutable once committed (atomic rename), and the stat pair catches a
# same-name rebuild. Budget is per worker process.
_WORKER_CACHE: "OrderedDict" = None  # lazy-init inside the worker
_WORKER_CACHE_N = [0]
# guards first-touch creation of per-store serve state (_serve_cache /
# _serve_cache_lock / _serve_pool) against concurrent cold queries
_SERVE_INIT_LOCK = _threading.Lock()
_WORKER_CACHE_BUDGET = int(
    os.environ.get("CLUCENE_WORKER_CACHE_POSTINGS", "4000000")
)


# segments served per fan-out task (see wand_query_direct): amortizes the
# per-task python round-trip; override via SPARK_GRAFT_SERVE_SEGMENTS_PER_TASK
_SERVE_SEGMENTS_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_SERVE_SEGMENTS_PER_TASK", "4")
)


def _entry_postings(entry) -> int:
    """Budget charge for one decoded LRU entry — used by BOTH the
    per-worker cache and the in-process serve cache so insert-charge and
    evict-credit can never diverge (a sum(tf) charge refunded as df was
    a permanent counter leak that eventually disabled the cache).
    None = negative entry (term absent), charged 0. Positional 4-tuples
    (docs, tfs, dls, poss) are dominated by the positions: sum(tf).
    WAND 6-tuples are dominated by the posting arrays: df."""
    if entry is None:
        return 0
    if len(entry) == 4:
        return int(entry[1].sum()) if entry[3] is not None else len(entry[0])
    return len(entry[0])


def _segment_entries(
    path: str, terms: list[str], with_positions: bool = False
) -> dict:
    """term -> decoded entry (or None if absent in this segment), served
    from the per-worker LRU; misses read the term-filtered parquet once.

    Entry shapes (separate key spaces — a WAND read must not shadow a
    phrase read of the same term):
      with_positions=False: (docs, tfs, dls, blk_max_doc, blk_max_tf,
                             blk_min_dl)
      with_positions=True:  (docs, tfs, dls, positions-per-doc list, or
                             positions=None for a store built without
                             the .prx analogue)"""
    global _WORKER_CACHE
    from collections import OrderedDict

    import pyarrow.dataset as pa_ds

    if _WORKER_CACHE is None:
        _WORKER_CACHE = OrderedDict()
    st = os.stat(path)
    tag = "p" if with_positions else "w"
    base = (path, st.st_mtime_ns, st.st_size, tag)
    out: dict = {}
    missing = []
    for t in terms:
        key = base + (t,)
        if key in _WORKER_CACHE:
            _WORKER_CACHE.move_to_end(key)
            out[t] = _WORKER_CACHE[key]
        else:
            missing.append(t)
    if missing:
        cols = (["term", "doc_blob", "tf_blob", "dl_blob", "pos_blob"]
                if with_positions else
                ["term", "doc_blob", "tf_blob", "dl_blob",
                 "blk_max_doc", "blk_max_tf", "blk_min_dl"])
        tab = pa_ds.dataset(path).to_table(
            columns=cols, filter=pa_ds.field("term").isin(missing),
        )
        seen = set()
        for i in range(tab.num_rows):
            t = tab["term"][i].as_py()
            seen.add(t)
            docs, tfs = decode_postings(
                tab["doc_blob"][i].as_py(), tab["tf_blob"][i].as_py()
            )
            dls = vbyte_decode(tab["dl_blob"][i].as_py()).astype(np.int64)
            if with_positions:
                from clucene_spark.index.codec import decode_positions

                pb = tab["pos_blob"][i].as_py()
                poss = (decode_positions(bytes(pb), tfs)
                        if pb is not None else None)
                entry = (docs, tfs, dls, poss)
            else:
                entry = (docs, tfs, dls, tab["blk_max_doc"][i].as_py(),
                         tab["blk_max_tf"][i].as_py(),
                         tab["blk_min_dl"][i].as_py())
            _WORKER_CACHE_N[0] += _entry_postings(entry)
            _WORKER_CACHE[base + (t,)] = entry
            out[t] = entry
        for t in missing:
            if t not in seen:
                _WORKER_CACHE[base + (t,)] = None
                out[t] = None
        while _WORKER_CACHE_N[0] > _WORKER_CACHE_BUDGET and _WORKER_CACHE:
            _, old = _WORKER_CACHE.popitem(last=False)
            _WORKER_CACHE_N[0] -= _entry_postings(old)
    return out


def wand_query_direct(
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
    mode: str = "OR",
    round_to: int | None = 4,
    algo: str = "taat",
    field: str | None = None,
) -> DataFrame:
    """Shuffle-free serving path: one task PER SEGMENT opens its
    postings.parquet directly (pyarrow, with a term-dictionary filter that
    prunes row groups — the .tii binary-search analogue) and runs
    block-max WAND locally; results merge via TakeOrderedAndProject.

    This is the Lucene serving topology — executors own segments, queries
    fan out once and return k rows per segment — and it removes the
    groupBy(segment) shuffle from the latency path. Identical results to
    wand_query (rank-identity tested); use wand_query when the postings
    already sit in a DataFrame pipeline, this for low-latency top-k.
    """
    import os

    import pyarrow.parquet as pq
    import pyarrow.dataset as pa_ds

    terms = list(dict.fromkeys(terms))
    if field is not None:
        # multi-field store: composite (field, term) keys + per-field avgdl
        from clucene_spark.index.segments import fielded_term

        terms = [fielded_term(field, t) for t in terms]
    n_docs, avgdl = store.stats(field)
    dfs = store.doc_freqs(terms)
    idf_by_term = {t: bm25_idf(df, n_docs) for t, df in dfs.items() if df > 0}
    live_terms = [t for t in terms if t in idf_by_term]
    required = len(terms) if mode == "AND" else 1
    if (mode == "AND" and len(live_terms) < len(terms)) or not live_terms:
        return store.spark.createDataFrame([], HIT_SCHEMA)
    deleted = frozenset(store.deleted_ids())

    index_dir = store.index_dir
    seg_names = [s["name"] for s in store.manifest["segments"]]
    # parallelize the segment list directly into n_part slices: a local
    # relation + repartition(n_part) costs an extra Exchange stage on
    # every query; pre-sliced parallelize gives the same fan-out with a
    # single stage (guide §2.4). Each python task costs ~10-20 ms of
    # worker round-trip regardless of work (measured: an EMPTY 32-task
    # mapInPandas stage is 0.61 s, 8 tasks 0.30 s on local[32]), while
    # serving one segment is sub-ms — so tasks serve >= _SERVE_SEGMENTS_
    # PER_TASK segments each, bounded by cluster parallelism; at real
    # scale (segments >> cores) this still fans out to every core.
    n_part = max(1, min(
        store.spark.sparkContext.defaultParallelism,
        (len(seg_names) + _SERVE_SEGMENTS_PER_TASK - 1)
        // _SERVE_SEGMENTS_PER_TASK,
    ))
    seg_df = store.spark.createDataFrame(
        store.spark.sparkContext.parallelize(
            [(n,) for n in seg_names], n_part
        ),
        "segment string",
    )

    def _serve(batches):
        import pandas as pd

        for pdf in batches:
            out_docs, out_scores = [], []
            for seg in pdf["segment"]:
                path = os.path.join(index_dir, "segments", seg, "postings.parquet")
                # per-worker decoded LRU: repeat terms on a reused python
                # worker skip the read + decode (see _segment_entries)
                entries = _segment_entries(path, live_terms)
                cursors = []
                for t in live_terms:
                    e = entries[t]
                    if e is None:
                        continue
                    docs, tfs, dls, bmax_doc, bmax_tf, bmin_dl = e
                    cursors.append(
                        _TermCursor(
                            docs, tfs, dls, idf_by_term[t],
                            bmax_doc, bmax_tf, bmin_dl, avgdl,
                        )
                    )
                if len(cursors) < required:
                    continue
                for d, s in _score_segment(cursors, avgdl, k, required, deleted, algo):
                    out_docs.append(d)
                    out_scores.append(s)
            yield pd.DataFrame(
                {"doc_id": pd.Series(out_docs, dtype="int64"),
                 "score": pd.Series(out_scores, dtype="float64")}
            )

    hits = seg_df.mapInPandas(_serve, HIT_SCHEMA)
    return _top_k(hits, k, round_to)


def phrase_query_direct(
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
    round_to: int | None = 4,
    field: str | None = None,
    slop: int = 0,
) -> DataFrame:
    """Phrase top-k served FROM THE SEGMENT STORE: per segment, read
    the phrase terms' postings + position blobs (term-pruned parquet scan),
    intersect docID lists, then either count adjacent alignments via the
    shifted-set intersection (slop=0, ExactPhraseScorer.cpp:34+ semantics)
    or run the reference SloppyPhraseScorer window walk
    (clucene_spark/search/sloppy.py; SloppyPhraseScorer.cpp:35-171) —
    value-identical to the relational scorer in both modes. Scores
    idf_sum x BM25(tf=phrase_freq) — the .prx-consuming twin of
    wand_query_direct, same shuffle-free per-segment fan-out +
    TakeOrderedAndProject merge. Completes the store's serving surface:
    term/boolean (WAND) and phrases both run off the compressed segments,
    no relational index needed."""
    import os

    import pyarrow.dataset as pa_ds

    from clucene_spark.index.codec import decode_positions
    from clucene_spark.search.sloppy import repeat_groups, sloppy_phrase_freq

    qterms = list(terms)
    if field is not None:
        from clucene_spark.index.segments import fielded_term

        qterms = [fielded_term(field, t) for t in qterms]
    n_docs, avgdl = store.stats(field)
    dfs = store.doc_freqs(qterms)
    if any(dfs[t] == 0 for t in qterms):
        return store.spark.createDataFrame([], HIT_SCHEMA)
    # duplicates count per SLOT, like the relational scorer's sum over terms
    idf_sum = sum(bm25_idf(dfs[t], n_docs) for t in qterms)
    deleted = frozenset(store.deleted_ids())
    rep_marks = repeat_groups(qterms)

    index_dir = store.index_dir
    seg_names = [s["name"] for s in store.manifest["segments"]]
    # parallelize the segment list directly into n_part slices: a local
    # relation + repartition(n_part) costs an extra Exchange stage on
    # every query; pre-sliced parallelize gives the same fan-out with a
    # single stage (guide §2.4). Each python task costs ~10-20 ms of
    # worker round-trip regardless of work (measured: an EMPTY 32-task
    # mapInPandas stage is 0.61 s, 8 tasks 0.30 s on local[32]), while
    # serving one segment is sub-ms — so tasks serve >= _SERVE_SEGMENTS_
    # PER_TASK segments each, bounded by cluster parallelism; at real
    # scale (segments >> cores) this still fans out to every core.
    n_part = max(1, min(
        store.spark.sparkContext.defaultParallelism,
        (len(seg_names) + _SERVE_SEGMENTS_PER_TASK - 1)
        // _SERVE_SEGMENTS_PER_TASK,
    ))
    seg_df = store.spark.createDataFrame(
        store.spark.sparkContext.parallelize(
            [(n,) for n in seg_names], n_part
        ),
        "segment string",
    )

    def _serve(batches):
        import pandas as pd

        for pdf in batches:
            out_docs, out_scores = [], []
            for seg in pdf["segment"]:
                path = os.path.join(index_dir, "segments", seg, "postings.parquet")
                # per-worker decoded LRU incl. positions (see
                # _segment_entries) — repeat phrase terms skip read+decode
                entries = _segment_entries(
                    path, list(set(qterms)), with_positions=True
                )
                per_term = {}
                for t in set(qterms):
                    e = entries[t]
                    if e is None or e[3] is None:
                        per_term = {}
                        break  # term absent here / positions required
                    per_term[t] = e
                if len(per_term) < len(set(qterms)):
                    continue
                # docID intersection via sorted merges
                base_docs = per_term[qterms[0]][0]
                cand = base_docs
                for t in qterms[1:]:
                    cand = cand[np.isin(cand, per_term[t][0])]
                for doc in cand:
                    if int(doc) in deleted:
                        continue
                    doc_pos = []
                    dl = None
                    for t in qterms:
                        docs_t, _tfs, dls_t, poss = per_term[t]
                        j = int(np.searchsorted(docs_t, doc))
                        doc_pos.append(poss[j])
                        dl = int(dls_t[j])
                    if slop == 0:
                        # shifted intersection: positions of term i minus i
                        aligned = doc_pos[0]
                        for i in range(1, len(qterms)):
                            aligned = np.intersect1d(
                                aligned, doc_pos[i] - i, assume_unique=False
                            )
                            if aligned.size == 0:
                                break
                        pfreq = float(aligned.size)
                    else:
                        # reference SloppyPhraseScorer walk (incl. repeated
                        # query terms) — same kernel as the relational
                        # scorer, so both paths stay value-identical
                        pfreq = sloppy_phrase_freq(doc_pos, slop, rep_marks)
                    if pfreq > 0:
                        out_docs.append(int(doc))
                        out_scores.append(_bm25(pfreq, float(dl), idf_sum, avgdl))
            yield pd.DataFrame(
                {"doc_id": pd.Series(out_docs, dtype="int64"),
                 "score": pd.Series(out_scores, dtype="float64")}
            )

    hits = seg_df.mapInPandas(_serve, HIT_SCHEMA)
    return _top_k(hits, k, round_to)


def wand_query_local(
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
    mode: str = "OR",
    round_to: int | None = 4,
    algo: str = "taat",
    field: str | None = None,
) -> list[tuple[int, float]]:
    """In-process serving (no Spark job ANYWHERE on the query path): the
    same per-segment read + decode + score loop wand_query_direct fans
    out, run where the caller lives. This is the latency floor for a
    shard set that fits one node — a query server holds SegmentStore
    handles and answers in ~ms..100ms instead of paying per-query Spark
    stage scheduling. Two serving-path properties (r4):

      * segment reads run on a thread pool — pyarrow's filtered to_table
        releases the GIL, so 49 segments read in parallel instead of
        ~5ms each sequentially;
      * global df (for idf) comes from the SAME filtered read (each
        postings row carries its segment-local df; the global value is
        their sum), so the old per-cold-term Spark aggregation
        (store.doc_freqs) is gone from the serving path entirely;
      * decoded postings are LRU-CACHED per (segment, term) on the store
        handle (r5) — the serving analogue of the OS page cache one
        level up: head terms decode their multi-MB blobs once, repeat
        queries skip BOTH the parquet read and the vbyte decode
        (negative entries are cached too, so a fully-known query
        touches no files at all). Budget-bounded by total cached
        postings (`store._serve_cache_budget`, default 32M ≈ a few
        hundred MB); a store handle is pinned to one manifest
        generation, so entries can never go stale — reopening a store
        after a commit starts an empty cache.

    The distributed paths reuse identical scoring code, so results are
    rank-identical (tested)."""
    from concurrent.futures import ThreadPoolExecutor

    import os
    import threading
    from collections import OrderedDict

    import pyarrow.dataset as pa_ds

    terms = list(dict.fromkeys(terms))
    if field is not None:
        # multi-field store: composite (field, term) keys + per-field avgdl
        from clucene_spark.index.segments import fielded_term

        terms = [fielded_term(field, t) for t in terms]
    n_docs, avgdl = store.stats(field)
    required = len(terms) if mode == "AND" else 1
    deleted = frozenset(store.deleted_ids())

    names = [x["name"] for x in store.manifest["segments"]]
    for s in names:  # warm the memoized dataset handles (not thread-safe)
        store.dataset(s)

    # double-checked init under a module-level lock: two concurrent first
    # queries on a cold store must not each build a cache/lock/counter
    # triple (the loser's assignment would wipe the winner's charges and
    # split the state across two locks — permanent accounting drift)
    cache: OrderedDict = getattr(store, "_serve_cache", None)
    if cache is None:
        with _SERVE_INIT_LOCK:
            cache = getattr(store, "_serve_cache", None)
            if cache is None:
                store._serve_cache_postings = 0
                store._serve_cache_lock = threading.Lock()
                cache = store._serve_cache = OrderedDict()
    budget = getattr(store, "_serve_cache_budget", 32_000_000)
    lock = store._serve_cache_lock

    # entries is built from the values IN HAND (cache hits here, freshly
    # decoded rows below) — never re-read from the cache after eviction:
    # an entry this query just decoded may already have been evicted by
    # the budget loop (or a concurrent query), and a None from that
    # re-read would be indistinguishable from a negative "term absent"
    # entry, silently dropping real hits.
    entries: dict = {}
    with lock:
        # PER-SEGMENT missing lists: one evicted (segment, term) pair must
        # re-read exactly that segment, not trigger a filtered read of
        # every segment for the term (cost grew with segment count on any
        # partial eviction)
        missing = {
            s: [t for t in terms if (s, t) not in cache] for s in names
        }
        for s in names:
            for t in terms:
                if (s, t) in cache:  # refresh LRU position of hits
                    cache.move_to_end((s, t))
                    entries[(s, t)] = cache[(s, t)]
    read_names = [s for s in names if missing[s]]

    def _read(s):
        return store.dataset(s).to_table(
            columns=["term", "df", "doc_blob", "tf_blob", "dl_blob",
                     "blk_max_doc", "blk_max_tf", "blk_min_dl"],
            filter=pa_ds.field("term").isin(missing[s]),
        )

    if read_names:
        if len(read_names) > 1:
            # one pool per store handle, reused across queries — creating
            # a fresh executor per query cost more than the reads it
            # parallelized (~60ms of thread spawning per head query)
            pool = getattr(store, "_serve_pool", None)
            if pool is None:
                with _SERVE_INIT_LOCK:  # same cold-start race as the
                    pool = getattr(store, "_serve_pool", None)  # cache init
                    if pool is None:
                        pool = ThreadPoolExecutor(
                            max_workers=min(len(names), os.cpu_count() or 8),
                            thread_name_prefix="clucene-serve",
                        )
                        store._serve_pool = pool
            tabs = list(pool.map(_read, read_names))
        else:
            tabs = [_read(s) for s in read_names]
        with lock:
            for s, tab in zip(read_names, tabs):
                seen = set()
                for i in range(tab.num_rows):
                    t = tab["term"][i].as_py()
                    seen.add(t)
                    if (s, t) in cache:
                        cache.move_to_end((s, t))
                        entries[(s, t)] = cache[(s, t)]
                        continue
                    docs, tfs = decode_postings(
                        tab["doc_blob"][i].as_py(), tab["tf_blob"][i].as_py()
                    )
                    dls = vbyte_decode(
                        tab["dl_blob"][i].as_py()
                    ).astype(np.int64)
                    entry = (
                        docs, tfs, dls,
                        tab["blk_max_doc"][i].as_py(),
                        tab["blk_max_tf"][i].as_py(),
                        tab["blk_min_dl"][i].as_py(),
                    )
                    cache[(s, t)] = entry
                    entries[(s, t)] = entry
                    store._serve_cache_postings += _entry_postings(entry)
                for t in missing[s]:
                    if t not in seen and (s, t) not in entries:
                        cache[(s, t)] = None  # negative: term absent here
                        entries[(s, t)] = None
            while store._serve_cache_postings > budget and cache:
                _, old = cache.popitem(last=False)
                store._serve_cache_postings -= _entry_postings(old)
    dfs: dict[str, int] = {}
    for (s, t), e in entries.items():
        if e is not None:
            dfs[t] = dfs.get(t, 0) + len(e[0])
    idf_by_term = {t: bm25_idf(df, n_docs) for t, df in dfs.items() if df > 0}
    if (mode == "AND" and len(idf_by_term) < len(terms)) or not idf_by_term:
        return []

    hits: list[tuple[int, float]] = []
    for s in names:
        cursors = []
        for t in terms:
            e = entries[(s, t)]
            if e is None or t not in idf_by_term:
                continue
            docs, tfs, dls, bmax_doc, bmax_tf, bmin_dl = e
            cursors.append(
                _TermCursor(
                    docs, tfs, dls, idf_by_term[t],
                    bmax_doc, bmax_tf, bmin_dl, avgdl,
                )
            )
        if len(cursors) < required:
            continue
        hits.extend(_score_segment(cursors, avgdl, k, required, deleted, algo))
    hits.sort(key=lambda h: (-h[1], h[0]))
    hits = hits[:k]
    if round_to is not None:
        hits = [(d, round(s, round_to)) for d, s in hits]
    return hits
