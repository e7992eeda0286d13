"""Persistent segment store: build, commit protocol, checkpoints, resume.

The CLucene write path (IndexWriter/DocumentsWriter flush -> segment files,
SegmentInfos generations — reference index/IndexWriter.cpp:668-700,
index/SegmentInfos.cpp) restated for a distributed object store:

  * A **segment** = one doc-ID range of the corpus, fully inverted and
    compressed. Each segment is a directory of parquet files:
      postings.parquet      (term, df, cf, doc_blob, tf_blob, dl_blob,
                             pos_blob, blk_min_doc/max_doc/max_tf/min_dl)
      doc_lens.parquet      (doc_id, dl) — (doc_id, field, dl) when fielded
      term_index.parquet    prefix-compressed term blocks (.tis/.tii)
      term_vectors.parquet  forward index, when built with term vectors
      urls.parquet          (doc_id, url, warc_ts), crawl builds only
    Terms inside a segment's postings file are sorted, so parquet row-group
    min/max stats on `term` give the two-level term-dictionary behaviour
    (binary-searchable .tii analogue) for free at read time. Every builder
    reads its input its own way, then inverts through `_invert_fields`
    and writes through `_emit_segment` — the one place a segment's files,
    atomic publish and checkpoint are written (the DocumentsWriter
    flush / writeSegment role, reference index/DocumentsWriter.cpp).
  * A **manifest generation** `manifest/segments_<gen>.json` lists the live
    segments — the segments_N commit-point protocol. Readers take the max
    generation; writers commit a new generation atomically (tmp + rename).
  * A **checkpoint** row per built segment (`checkpoints/part_<id>.json`)
    records lineage + metrics (n_docs, n_tokens, n_postings, wall time,
    input fingerprint). Re-running the build SKIPS doc ranges whose
    checkpoint exists — the north rule's resumability requirement. The
    commit step folds all checkpointed segments into the next manifest.

Scale notes: segment build is embarrassingly parallel — one applyInPandas
group per doc range; the fused builder's only shuffle moves raw text
bytes to segment groups (the relational builder shuffles token rows once).
Head-term skew cannot overload a reducer because grouping keys are
(segment_id), and within a segment a term's postings are bounded by the
segment's doc-range size (choose docs_per_segment accordingly; 10^12 docs
/ 10^6-doc segments = 10^6 independent tasks).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import TYPE_CHECKING, NamedTuple

import numpy as np
import pandas as pd

if TYPE_CHECKING:
    import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from clucene_spark.index.codec import (
    TERM_INDEX_INTERVAL,
    encode_postings_table,
    encode_term_block,
)
from clucene_spark.index.utf16 import (
    sort_terms_pdf,
    utf16_argsort,
    utf16_key,
    any_needs_utf16,
)


def _write_term_index(dir_path: str, terms, part_file: str | None = None) -> None:
    """Write the segment's prefix-compressed term dictionary blocks — the
    .tis layout with every TERM_INDEX_INTERVAL-th term promoted to an
    in-RAM index row (.tii, reference TermInfosWriter.cpp:167-241). One row
    per 128-term block: (block_id, first_term, n_terms, blob); a reader
    binary-searches first_term then decodes <=interval terms."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if hasattr(terms, "to_pylist"):  # pyarrow (Chunked)Array from the
        terms = terms.to_pylist()    # arrow-native encode path
    else:
        terms = list(terms)
    rows = []
    for b in range(0, len(terms), TERM_INDEX_INTERVAL):
        chunk = terms[b : b + TERM_INDEX_INTERVAL]
        rows.append(
            (
                b // TERM_INDEX_INTERVAL,
                chunk[0],
                len(chunk),
                encode_term_block(chunk),
            )
        )
    tab = pa.table(
        {
            "block_id": pa.array([r[0] for r in rows], pa.int32()),
            "first_term": pa.array([r[1] for r in rows], pa.string()),
            "n_terms": pa.array([r[2] for r in rows], pa.int32()),
            "blob": pa.array([r[3] for r in rows], pa.binary()),
        }
    )
    if part_file is None:
        pq.write_table(tab, os.path.join(dir_path, "term_index.parquet"))
    else:  # merged segments: one part per reducer (disjoint term ranges)
        os.makedirs(os.path.join(dir_path, "term_index.parquet"), exist_ok=True)
        pq.write_table(tab, os.path.join(dir_path, "term_index.parquet", part_file))

# multi-field segment stores key postings by the composite term
# "field<US>term" — the reference's Term ordering by (field, text)
# (index/TermInfosWriter.cpp:108-140) realized as a prefixed sort key; 0x1f
# sorts below every printable char so field blocks stay contiguous.
FIELD_SEP = "\x1f"


def fielded_term(field: str, term: str) -> str:
    return field + FIELD_SEP + term


def _analyze_docs(texts, analyzer: str, langs=None):
    """Per-doc token lists + flat positions + counts for one text column.
    Shared by the single-field and multi-field fused builders."""
    if analyzer in ("standard", "lang"):
        # dense post-stopword positions: derived as one vectorized
        # arange-per-doc, no per-token position bookkeeping in python
        from clucene_spark.analysis.standard import standard_analyze_terms

        if analyzer == "lang":
            from clucene_spark.analysis.analyzers import cjk_bigram_analyze

            if langs is None:
                # caller supplied no lang column (fielded builds, title
                # fields): every doc takes the non-CJK branch instead of
                # crashing the task on zip(texts, None)
                langs = [None] * len(texts)
            per_doc = []
            for t, lg in zip(texts, langs):
                if t is None:
                    per_doc.append([])
                elif lg in ("zh", "ja", "ko"):
                    per_doc.append([tok[0] for tok in cjk_bigram_analyze(t)])
                else:
                    per_doc.append(standard_analyze_terms(t))
        else:
            per_doc = [
                standard_analyze_terms(t) if t is not None else [] for t in texts
            ]
        counts = np.fromiter((len(x) for x in per_doc), dtype=np.int64,
                             count=len(per_doc))
        total = int(counts.sum())
        offsets = np.cumsum(counts) - counts
        p = np.arange(total, dtype=np.int64) - np.repeat(offsets, counts)
    else:  # whitespace: raw split-array positions kept (empties skipped)
        per_doc = []
        pos_doc = []
        for t in texts:
            terms_i, pos_i = [], []
            if t is not None:
                for i, w in enumerate(t.split(" ")):
                    if w:
                        terms_i.append(w)
                        pos_i.append(i)
            per_doc.append(terms_i)
            pos_doc.append(pos_i)
        counts = np.fromiter((len(x) for x in per_doc), dtype=np.int64,
                             count=len(per_doc))
        total = int(counts.sum())
        p = np.fromiter((i for ps in pos_doc for i in ps),
                        dtype=np.int64, count=total)
    return per_doc, p, counts


# A doc is ARROW-ELIGIBLE iff the StandardAnalyzer provably degenerates to
# lower().delete('.'',').split() over the WHOLE text — i.e. the text has no
# _BAD_CHUNK (standard.py) anywhere AND only ASCII chars, so the piecewise
# proof's single clean span covers the doc. RE2 alternation (linear scan,
# runs inside Arrow's C++ kernel):
#   1. any char outside [A-Za-z0-9., ascii-ws]  (unicode, punct, control)
#   2. '.'/',' not chunk-final                  (internal/doubled punct)
#   3. digit-led alnum run containing a letter  (DFA splits "3x")
#   4. a 256+ alnum run                         (LUCENE_MAX_WORD_LEN split)
# Restricting to ASCII also makes python str.split() == Arrow
# utf8_split_whitespace (both split [\t\n\x0b\x0c\r ]; the exotic
# whitespace/unicode cases are all routed to the python path by rule 1).
_ARROW_BAD_DOC = (
    "[^A-Za-z0-9.,\t\n\x0b\x0c\r ]"
    "|[.,][^\t\n\x0b\x0c\r ]"
    "|(?:^|[\t\n\x0b\x0c\r ])[0-9]+[A-Za-z]"
    "|[A-Za-z0-9]{256}"
)

# Docs that must take the WHOLE-DOC python path: any character outside
# printable ASCII + the 5 ASCII whitespace chars. Everything else is
# "chunk-routable": Arrow's utf8_split_whitespace and python's str.split
# agree on those bytes, so the DFA can run once per DISTINCT whitespace
# chunk instead of once per doc (python isspace() additionally treats
# \x1c-\x1f as whitespace, and non-ASCII brings unicode casing/classes —
# both go to the per-doc path).
_ARROW_HARD_DOC = "[^\x20-\x7e\t\n\x0b\x0c\r]"

# Worker-persistent memo for the chunk-routed DFA: piece -> terms tuple.
# Keys are either `chunk + " "` (mid-doc lookahead variant) or the bare
# chunk (doc-final EOS variant); chunks contain no whitespace, so the two
# keyspaces cannot collide. Pure-function cache, bounded (Zipf head fits
# long before the cap; memory ~ tens of MB worst case per worker).
_CHUNK_TERMS_MEMO: dict = {}
_CHUNK_TERMS_MEMO_CAP = 1 << 19


def _analyze_docs_codes(texts, analyzer: str, langs=None):
    """Token stream as DICTIONARY CODES: (codes int64, uniques object[],
    p int64, counts int64) — same tokens/positions as _analyze_docs, but
    the per-token representation never materializes python strings for
    the (dominant) regex-clean standard-analyzer docs.

    Fast path (analyzer='standard'): one RE2 scan routes clean docs
    through Arrow C kernels — utf8_lower -> delete './,' ->
    split_whitespace -> dictionary_encode — so tokenization + vocab
    hashing run over contiguous string buffers instead of millions of
    heap-scattered python str objects (the fused build's dominant memory
    traffic, which is what saturates the socket at high core counts).
    Docs with any bad chunk (planted edge tokens, unicode, internal
    punctuation) take the existing piecewise-DFA python path and their
    terms are mapped into the same code space. Token-for-token equality
    with _analyze_docs is pinned in tests/test_segments_arrow_kernel.py.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if analyzer != "standard":
        if isinstance(texts, (pa.Array, pa.ChunkedArray)):
            texts = np.array(texts.to_pylist(), dtype=object)
        per_doc, p, counts = _analyze_docs(texts, analyzer, langs)
        t_arr = np.array([w for ws in per_doc for w in ws], dtype=object)
        codes, uniques = pd.factorize(t_arr)
        return (codes.astype(np.int64), np.asarray(uniques, dtype=object),
                p, counts)

    from clucene_spark.analysis.standard import (
        ENGLISH_STOP_WORDS, standard_analyze_terms_nostop)

    if isinstance(texts, pa.ChunkedArray):
        texts_pa = texts.combine_chunks()
    elif isinstance(texts, pa.Array):
        texts_pa = texts
    else:
        texts_pa = pa.array(texts, type=pa.string(), from_pandas=True)
    n = len(texts_pa)
    bad = pc.fill_null(
        pc.match_substring_regex(texts_pa, _ARROW_BAD_DOC), True
    ).to_numpy(zero_copy_only=False).astype(bool)
    elig_idx = np.flatnonzero(~bad)
    bad_all = np.flatnonzero(bad)
    # the hard-doc test only matters for bad docs — scan that subset
    if len(bad_all):
        hard_sub = pc.fill_null(
            pc.match_substring_regex(
                pc.take(texts_pa, pa.array(bad_all)), _ARROW_HARD_DOC
            ),
            True,
        ).to_numpy(zero_copy_only=False).astype(bool)
        chunk_idx = bad_all[~hard_sub]   # DFA per DISTINCT chunk
        py_idx = bad_all[hard_sub]       # DFA per doc (rare)
    else:
        chunk_idx = py_idx = bad_all

    if len(elig_idx):
        sub = (texts_pa if len(elig_idx) == n
               else pc.take(texts_pa, pa.array(elig_idx)))
        tok_lists = pc.utf8_split_whitespace(
            pc.replace_substring(
                pc.replace_substring(pc.utf8_lower(sub), ".", ""), ",", ""))
        if isinstance(tok_lists, pa.ChunkedArray):
            tok_lists = tok_lists.combine_chunks()
        offs = tok_lists.offsets.to_numpy().astype(np.int64)
        counts_e = np.diff(offs)
        flat_a = pc.list_flatten(tok_lists)
    else:
        counts_e = np.zeros(0, np.int64)
        flat_a = pa.array([], type=pa.string())

    # --- chunk-routed DFA path: messy-but-ASCII docs. Real web text puts
    # ~85% of TOKENS in docs that contain at least one bad chunk (long
    # docs almost always do), so running the piecewise python scan per
    # doc dominates the whole analyze phase. Instead: Arrow-split the
    # RAW text into whitespace chunks (byte-identical to python's split
    # for this character class), dictionary-encode the chunks, run the
    # verified piecewise analyzer once per DISTINCT chunk — Zipf says
    # that's ~2 orders fewer DFA invocations — and expand the code
    # stream in numpy. The doc-final chunk uses the EOS lookahead
    # variant (the DFA distinguishes end-of-string from a following
    # space, e.g. single-letter acronym shaving), via appended
    # expansion-table entries.
    b_terms: list = []                   # distinct term strings (class B)
    b_term_ids: dict = {}
    exp_counts_l: list = []              # per expansion-entry term count
    exp_flat_l: list = []                # flattened term ids per entry
    if len(chunk_idx):
        subB = pc.take(texts_pa, pa.array(chunk_idx))
        lists_b = pc.utf8_split_whitespace(subB)
        if isinstance(lists_b, pa.ChunkedArray):
            lists_b = lists_b.combine_chunks()
        offs_b = lists_b.offsets.to_numpy().astype(np.int64)
        rcounts = np.diff(offs_b)
        denc_b = pc.dictionary_encode(pc.list_flatten(lists_b))
        rc = denc_b.indices.to_numpy(zero_copy_only=False).astype(np.int32)
        rvocab = denc_b.dictionary.to_pylist()

        def _intern(terms) -> int:
            eid = len(exp_counts_l)
            exp_counts_l.append(len(terms))
            for t in terms:
                gid = b_term_ids.get(t)
                if gid is None:
                    gid = len(b_terms)
                    b_term_ids[t] = gid
                    b_terms.append(t)
                exp_flat_l.append(gid)
            return eid

        # default (mid-doc) expansion per distinct raw chunk: the
        # piecewise analyzer on chunk+" " IS the chunk's mid-doc DFA
        # output (its own finditer sees the trailing space as lookahead).
        # Memoized worker-wide: chunk vocabularies are Zipf, so the head
        # recurs in every file a reused worker processes — the pure
        # piece->terms function runs once per distinct piece per WORKER,
        # not per file (bounded; see _CHUNK_TERMS_MEMO).
        memo = _CHUNK_TERMS_MEMO
        for ch in rvocab:
            if not ch:
                _intern(())
                continue
            piece = ch + " "
            terms = memo.get(piece)
            if terms is None:
                terms = tuple(standard_analyze_terms_nostop(piece))
                if len(memo) < _CHUNK_TERMS_MEMO_CAP:
                    memo[piece] = terms
            _intern(terms)
        # EOS variants for chunks that occur doc-final (doc not ending
        # in whitespace <=> last arrow chunk non-empty)
        occ_exp = rc.copy()
        last_pos = offs_b[1:] - 1
        has_chunks = rcounts > 0
        final_occ = last_pos[has_chunks]
        if len(final_occ):
            final_rc = rc[final_occ]
            nonempty = np.array(
                [len(rvocab[c]) > 0 for c in final_rc], dtype=bool
            )
            final_occ = final_occ[nonempty]
            final_rc = final_rc[nonempty]
            eos_eid: dict = {}
            for c in np.unique(final_rc):
                piece = rvocab[int(c)]  # EOS variant: no lookahead space
                terms = memo.get(piece)
                if terms is None:
                    terms = tuple(standard_analyze_terms_nostop(piece))
                    if len(memo) < _CHUNK_TERMS_MEMO_CAP:
                        memo[piece] = terms
                eos_eid[int(c)] = _intern(terms)
            occ_exp[final_occ] = np.array(
                [eos_eid[int(c)] for c in final_rc], dtype=occ_exp.dtype
            )
        exp_counts = np.array(exp_counts_l, dtype=np.int64)
        exp_off = np.cumsum(exp_counts) - exp_counts
        exp_flat = np.array(exp_flat_l, dtype=np.int32)
        e = exp_counts[occ_exp]
        if exp_counts.max(initial=0) <= 1:
            # dominant shape: every chunk expands to 0 or 1 term — the
            # stream is a pure gather, no repeat machinery
            one = e == 1
            bterm_stream = exp_flat[exp_off[occ_exp[one]]]
        else:
            # hybrid: single-term occurrences (the vast majority) are a
            # pure gather into their cumulative slots; only the e>1
            # remainder pays the repeat machinery
            tot_b = int(e.sum())
            slot = np.cumsum(e) - e
            bterm_stream = np.empty(tot_b, np.int32)
            one = e == 1
            bterm_stream[slot[one]] = exp_flat[exp_off[occ_exp[one]]]
            multi = e > 1
            if multi.any():
                em, om, sm = e[multi], occ_exp[multi], slot[multi]
                intra_m = (np.arange(int(em.sum()), dtype=np.int64)
                           - np.repeat(np.cumsum(em) - em, em))
                bterm_stream[np.repeat(sm, em) + intra_m] = (
                    exp_flat[np.repeat(exp_off[om], em) + intra_m]
                )
        # per-doc expanded counts: every class-B doc has >=1 arrow chunk
        # (split of a non-null string is never an empty list), so
        # reduceat over the chunk offsets is safe
        counts_b = (np.add.reduceat(e, offs_b[:-1])
                    if len(e) else np.zeros(len(chunk_idx), np.int64))
    else:
        counts_b = np.zeros(0, np.int64)
        bterm_stream = np.zeros(0, np.int32)

    # --- whole-doc python path: non-ASCII / control chars / nulls ---
    counts_c = np.zeros(len(py_idx), np.int64)
    py_tokens: list = []
    chunk_cache: dict = {}
    for j, bi in enumerate(py_idx):
        t = texts_pa[int(bi)].as_py()
        terms = (standard_analyze_terms_nostop(t, chunk_cache)
                 if t is not None else [])
        counts_c[j] = len(terms)
        py_tokens.extend(terms)

    # --- unify the three code spaces at VOCAB level (never per token):
    # class A's dictionary is the prefix; class B's distinct terms and
    # class C's tokens map through a vocab-sized python dict + one
    # numpy gather.
    denc = pc.dictionary_encode(flat_a)
    codes_e = denc.indices.to_numpy(zero_copy_only=False).astype(np.int32)
    uniq_a = denc.dictionary.to_pylist()
    term_gid = {t: i for i, t in enumerate(uniq_a)}
    for t in b_terms:
        if t not in term_gid:
            term_gid[t] = len(term_gid)
    if len(bterm_stream):
        b_map = np.array([term_gid[t] for t in b_terms], dtype=np.int32)
        codes_b = b_map[bterm_stream]
    else:
        codes_b = bterm_stream
    codes_c = np.empty(len(py_tokens), np.int32)
    for i, t in enumerate(py_tokens):
        gid = term_gid.get(t)
        if gid is None:
            gid = len(term_gid)
            term_gid[t] = gid
        codes_c[i] = gid
    uniques = np.array(list(term_gid.keys()), dtype=object)

    # no sub-path has stop-filtered yet: stopwords + edge-empties drop
    # at the CODE level — one probe per VOCAB entry, never per token
    drop = np.zeros(len(uniques), dtype=bool)
    for i, u in enumerate(uniques):
        if u == "" or u in ENGLISH_STOP_WORDS:
            drop[i] = True

    # stitch the sub-streams back into original doc order (vectorized
    # scatter; uniq_docs downstream needs doc_ids ascending)
    counts_full = np.zeros(n, np.int64)
    counts_full[elig_idx] = counts_e
    counts_full[chunk_idx] = counts_b
    counts_full[py_idx] = counts_c
    total = int(counts_full.sum())
    starts = np.cumsum(counts_full) - counts_full
    flat_codes = np.empty(total, np.int32)

    def _tgt(sel, cnts):
        # fused: repeat(starts) + (arange - repeat(csum-cnts))
        #      = arange + repeat(starts - (csum-cnts)) — one repeat pass
        return (np.arange(int(cnts.sum()), dtype=np.int64)
                + np.repeat(starts[sel] - (np.cumsum(cnts) - cnts), cnts))

    if len(elig_idx):
        if len(elig_idx) == n:
            flat_codes = codes_e
        else:
            flat_codes[_tgt(elig_idx, counts_e)] = codes_e
    if len(chunk_idx):
        flat_codes[_tgt(chunk_idx, counts_b)] = codes_b
    if len(py_idx):
        flat_codes[_tgt(py_idx, counts_c)] = codes_c

    if drop.any():
        keep = ~drop[flat_codes]
        # per-doc kept counts WITHOUT materializing a per-token doc index:
        # sum `keep` over each non-empty doc's token range (reduceat needs
        # strictly-covering segments, so empty docs are patched via mask)
        nz = counts_full > 0
        kept_nz = np.add.reduceat(keep, starts[nz])
        counts_full = np.zeros(n, np.int64)
        counts_full[nz] = kept_nz
        flat_codes = flat_codes[keep]
        total = int(counts_full.sum())
    idx_t = np.int32 if total < 2**31 else np.int64
    offsets2 = (np.cumsum(counts_full) - counts_full).astype(idx_t)
    p = np.arange(total, dtype=idx_t) - np.repeat(offsets2, counts_full)
    return flat_codes, uniques, p, counts_full


def _invert_encode(doc_ids_in, per_doc, p, counts, wp: bool,
                   term_prefix: str = "", build_tv: bool = False):
    """Sort-invert-encode one token stream given per-doc python term lists
    (compat wrapper: flatten + factorize, then the codes kernel)."""
    t_arr = np.array([w for ws in per_doc for w in ws], dtype=object)
    codes, uniques = pd.factorize(t_arr)
    del t_arr
    return _invert_encode_codes(
        doc_ids_in, codes.astype(np.int64),
        np.asarray(uniques, dtype=object), p, counts, wp,
        term_prefix=term_prefix, build_tv=build_tv)


def _invert_encode_codes(doc_ids_in, codes, uniques, p, counts, wp: bool,
                         term_prefix: str = "", build_tv: bool = False):
    """Sort-invert-encode one token stream (numpy, no python per token).
    Returns (seg_tab: pa.Table, uniq_docs, dl_counts, n_tok, n_postings[, tv_pdf]).

    Tokens arrive as dictionary codes + vocab (from _analyze_docs_codes'
    Arrow path, or the factorize in the _invert_encode wrapper).

    build_tv additionally materializes the FORWARD index — one row per
    (doc, term) with tf + positions, the TermPositionVector
    (reference index/TermVectorWriter.cpp:29-37 .tvx/.tvd/.tvf; read side
    TermVectorsReader). It reuses the same sorted run boundaries as the
    inverted encode, so the extra cost is one np.split + a sort by doc."""
    total = int(counts.sum())
    doc_ids_in = np.asarray(doc_ids_in, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    # carry doc ORDINALS (row index into doc_ids_in) through the sort,
    # not doc ids: ordinals fit int32, and both docs_p and dls_p become
    # direct gathers afterward (the dl searchsorted disappears)
    ord_t = np.int32 if len(doc_ids_in) < 2**31 else np.int64
    d = np.repeat(np.arange(len(doc_ids_in), dtype=ord_t), counts)
    # stable sort by term keeps (doc asc, pos asc) inside each term run.
    # rank of the ~small unique-term set: EVERY per-token operation runs
    # on integer codes — the strings are only touched again at term-run
    # boundaries (vocab-sized, ~2 orders smaller). Per-token arrays are
    # int32 where the value range allows (vocab and positions are both
    # far below 2^31 per task): the stable argsort is a radix sort on
    # integer keys, so halving the key width halves both its passes and
    # the gather traffic — the dominant memory-bandwidth cost of this
    # kernel at high core counts (BENCH/BASELINE.md r4 epoch analysis).
    # Term rank uses UTF-16 code-unit order (reference
    # TermInfosWriter.cpp:108-140 parity; plain argsort unless a term
    # contains a char >= U+E000). term_prefix (fielded terms) is applied
    # to the vocab, never per token.
    if term_prefix:
        uniques = np.array([term_prefix + u for u in uniques], dtype=object)
    else:
        uniques = np.asarray(uniques, dtype=object)
    u_order = utf16_argsort(uniques)
    narrow = len(uniques) < 2**31 and total < 2**31
    rank_of_code = np.empty(len(uniques),
                            dtype=np.int32 if narrow else np.int64)
    rank_of_code[u_order] = np.arange(len(uniques))
    sorted_uniques = uniques[u_order]
    ranks = rank_of_code[codes]
    if narrow and p.dtype != np.int32 and (len(p) == 0 or p.max() < 2**31):
        p = p.astype(np.int32)
    order = np.argsort(ranks, kind="stable")
    r, d, p = ranks[order], d[order], p[order]

    n_tok = total
    post_change = np.ones(n_tok, dtype=bool)
    if n_tok > 1:
        post_change[1:] = (r[1:] != r[:-1]) | (d[1:] != d[:-1])
    post_idx = np.flatnonzero(post_change)
    ord_p = d[post_idx]
    docs_p = doc_ids_in[ord_p]
    tfs = np.diff(np.concatenate([post_idx, [n_tok]]))
    ranks_p = r[post_idx]
    term_change = np.ones(len(post_idx), dtype=bool)
    if len(post_idx) > 1:
        term_change[1:] = ranks_p[1:] != ranks_p[:-1]
    uniq_docs = doc_ids_in[counts > 0]
    dl_counts = counts[counts > 0]
    dls_p = counts[ord_p]

    # arrow-native encode: the vbyte streams/offsets map straight onto
    # Arrow binary+list buffers — no per-term bytes slices or .tolist()
    seg_tab = encode_postings_table(
        None, term_change, docs_p, tfs, dls_p,
        positions_flat=p if wp else None,
        terms_at_starts=sorted_uniques[ranks_p[term_change]],
    )
    if not build_tv:
        return seg_tab, uniq_docs, dl_counts, n_tok, int(len(post_idx))
    terms_p = sorted_uniques[ranks_p]
    pos_runs = np.split(p, post_idx[1:]) if n_tok else []
    tv_pdf = sort_terms_pdf(
        pd.DataFrame(
            {
                "doc_id": docs_p,
                "term": terms_p.astype(str),
                "tf": tfs,
                "positions": [r_.tolist() for r_ in pos_runs],
            }
        ),
        ["doc_id", "term"],
    )
    return seg_tab, uniq_docs, dl_counts, n_tok, int(len(post_idx)), tv_pdf


class _Inverted(NamedTuple):
    """One segment's inverted content, ready for `_emit_segment`."""

    postings: pa.Table
    doc_lens: pd.DataFrame
    docs: np.ndarray          # ascending ids of docs with >= 1 token
    n_tokens: int
    n_postings: int
    term_vectors: pa.Table | None = None


def _invert_fields(ids, fields, wp: bool, build_tv: bool = False) -> _Inverted:
    """Analyze + invert + encode one segment's docs (ids ascending).

    fields: [(name, texts, analyzer, langs), ...]. A single unnamed field
    (name None) gives plain terms and doc_lens (doc_id, dl). Named fields
    are inverted one pass each in sorted name order, so the composite
    "field<US>term" keys stay globally sorted, and doc_lens carries
    (doc_id, field, dl). build_tv adds the positions-only forward index."""
    import pyarrow as pa

    tabs, dls, tvs = [], [], []
    n_tok = n_post = 0
    for fname, texts, an, langs in sorted(fields, key=lambda f: f[0] or ""):
        codes, uniq, p, counts = _analyze_docs_codes(texts, an, langs)
        res = _invert_encode_codes(
            ids, codes, uniq, p, counts, wp,
            term_prefix=fname + FIELD_SEP if fname else "", build_tv=build_tv,
        )
        tabs.append(res[0])
        dls.append(pd.DataFrame(
            {"doc_id": res[1], "field": fname, "dl": res[2]} if fname
            else {"doc_id": res[1], "dl": res[2]}
        ))
        n_tok += res[3]
        n_post += res[4]
        if build_tv:
            tvs.append(res[5])
    tv = None
    if build_tv:
        tv = pa.Table.from_pandas(
            sort_terms_pdf(pd.concat(tvs, ignore_index=True),
                           ["doc_id", "term"]),
            preserve_index=False,
        )
    return _Inverted(
        pa.concat_tables(tabs),
        pd.concat(dls, ignore_index=True),
        np.unique(np.concatenate([d["doc_id"].to_numpy() for d in dls])),
        n_tok, n_post, tv,
    )


SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
        T.StructField("cf", T.LongType(), False),
        T.StructField("doc_blob", T.BinaryType(), False),
        T.StructField("tf_blob", T.BinaryType(), False),
        T.StructField("dl_blob", T.BinaryType(), False),
        T.StructField("pos_blob", T.BinaryType(), True),
        T.StructField("blk_min_doc", T.ArrayType(T.LongType()), False),
        T.StructField("blk_max_doc", T.ArrayType(T.LongType()), False),
        T.StructField("blk_max_tf", T.ArrayType(T.LongType()), False),
        T.StructField("blk_min_dl", T.ArrayType(T.LongType()), False),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("segment", T.StringType(), False),
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("min_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("n_postings", T.LongType(), False),
        T.StructField("n_terms", T.LongType(), False),
        T.StructField("build_sec", T.DoubleType(), False),
    ]
)


# ---------------------------------------------------------------------------
# manifest (segments_N) protocol
# ---------------------------------------------------------------------------

def _manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest")


def latest_generation(index_dir: str) -> int:
    mdir = _manifest_dir(index_dir)
    if not os.path.isdir(mdir):
        return -1
    gens = [
        int(f.split("_")[1].split(".")[0])
        for f in os.listdir(mdir)
        if f.startswith("segments_") and f.endswith(".json")
    ]
    return max(gens) if gens else -1


def read_manifest(index_dir: str, generation: int | None = None) -> dict:
    """The committed segment list — latest generation by default, or a
    specific PAST generation for point-in-time reads (the reference's
    IndexReader-on-a-commit-point / Iceberg snapshot time travel:
    generations are immutable once written, so any un-GC'd commit stays
    queryable)."""
    gen = latest_generation(index_dir) if generation is None else generation
    if gen < 0:
        return {"generation": -1, "segments": []}
    path = os.path.join(_manifest_dir(index_dir), f"segments_{gen}.json")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no committed generation {gen} in {index_dir}"
        )
    with open(path) as f:
        return json.load(f)


def commit_manifest(index_dir: str, segments: list[dict], extra: dict | None = None) -> dict:
    """Atomically write the next manifest generation (tmp + rename — the
    two-phase segments.gen pattern, reference SegmentInfos.cpp)."""
    mdir = _manifest_dir(index_dir)
    os.makedirs(mdir, exist_ok=True)
    gen = latest_generation(index_dir) + 1
    manifest = {
        "generation": gen,
        "segments": segments,
        "committed_unix": time.time(),
        **(extra or {}),
    }
    tmp = os.path.join(mdir, f".segments_{gen}.json.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(tmp, os.path.join(mdir, f"segments_{gen}.json"))
    return manifest


def gc_segments(index_dir: str) -> list[str]:
    """Delete segment dirs not referenced by the latest manifest — the
    IndexFileDeleter ref-count GC (reference index/IndexFileDeleter.cpp),
    simplified to keep-last-commit."""
    live = {s["name"] for s in read_manifest(index_dir)["segments"]}
    sdir = os.path.join(index_dir, "segments")
    removed = []
    if not os.path.isdir(sdir):
        return removed
    import shutil

    for name in os.listdir(sdir):
        if name not in live and not name.startswith("."):
            shutil.rmtree(os.path.join(sdir, name), ignore_errors=True)
            removed.append(name)
    return removed


# ---------------------------------------------------------------------------
# checkpoints (resumability + lineage/metrics)
# ---------------------------------------------------------------------------

def _ckpt_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "checkpoints")


def _resume_state(
    index_dir: str, docs_per_segment: int
) -> tuple[set[int], dict[int, list[dict]]]:
    """(full_range_ids, partial_ranges) for resume.

    A doc range may be covered by SEVERAL piece segments (seg_X, seg_X_p1,
    …) built across runs — e.g. a crashed build resumed with more input, or
    update_documents appending new docs into a range whose earlier docs are
    already indexed. A range is FULL (skippable wholesale) when its pieces
    reach the range end; otherwise it is PARTIAL and the caller must
    anti-join incoming rows against the range's already-indexed doc_ids and
    build only the remainder as a new piece. Nothing is ever deleted
    preemptively — existing pieces and checkpoints stay untouched, so a
    crash mid-append can never lose previously committed documents
    (pieces over one range have disjoint doc_ids; the query side treats
    every manifest segment uniformly, and merges compact pieces away)."""
    cks = read_checkpoints(index_dir)
    by_range: dict[int, list[dict]] = {}
    for c in cks:
        by_range.setdefault(c["segment_id"], []).append(c)
    full: set[int] = set()
    partial: dict[int, list[dict]] = {}
    for sid, pieces in by_range.items():
        range_end = (sid + 1) * docs_per_segment - 1
        if max(p["max_doc"] for p in pieces) >= range_end:
            full.add(sid)
        else:
            partial[sid] = pieces
    return full, partial


def _apply_resume_filter(src: DataFrame, index_dir: str,
                         full_ids: set[int],
                         partial: dict[int, list[dict]]) -> DataFrame:
    """Drop incoming rows already indexed: whole full ranges by segment_id,
    partial ranges by a broadcast anti-join on their existing doc_ids (the
    broadcast is bounded by docs_per_segment x n_partial_ranges — small).
    Re-delivered identical rows (stream replay) vanish entirely; only
    genuinely new doc_ids survive to build an additional piece segment."""
    if full_ids:
        src = src.filter(~F.col("segment_id").isin(list(full_ids)))
    if partial:
        spark = src.sparkSession
        seg_root = os.path.join(index_dir, "segments")
        dl_paths = [
            p
            for pieces in partial.values()
            for c in pieces
            if os.path.exists(
                p := os.path.join(seg_root, c["segment"], "doc_lens.parquet")
            )
        ]
        # pieces compacted away (dir GC'd, checkpoint retained as range
        # bookkeeping) live on inside merge products: pull their ids from
        # the committed segments overlapping the partial piece ranges.
        # Over-inclusion is safe — every manifest id is indexed, and the
        # anti-join only ever drops incoming rows that are already
        # indexed — while the doc_id range filter keeps the broadcast
        # bounded by the partial ranges' width.
        gone = [
            c for pieces in partial.values() for c in pieces
            if not os.path.exists(
                os.path.join(seg_root, c["segment"], "doc_lens.parquet")
            )
        ]
        merged_paths = []
        if gone:
            for s in read_manifest(index_dir)["segments"]:
                if any(
                    s["min_doc"] <= c["max_doc"]
                    and c["min_doc"] <= s["max_doc"]
                    for c in gone
                ):
                    p = os.path.join(seg_root, s["name"], "doc_lens.parquet")
                    if os.path.exists(p) and p not in dl_paths:
                        merged_paths.append(p)
        existing = spark.read.parquet(*(dl_paths + merged_paths)).select(
            "doc_id"
        )
        if merged_paths:
            keep = F.lit(False)
            for pieces in partial.values():
                for c in pieces:
                    keep = keep | F.col("doc_id").between(
                        c["min_doc"], c["max_doc"]
                    )
            existing = existing.filter(keep)
        partial_ids = list(partial)
        in_partial = F.col("segment_id").isin(partial_ids)
        fresh = (
            src.filter(in_partial)
            .join(F.broadcast(existing), "doc_id", "left_anti")
        )
        src = src.filter(~in_partial).unionByName(fresh)
    return src


def _piece_name(seg_id: int, piece_idx: dict[int, int]) -> str:
    k = piece_idx.get(seg_id, 0)
    return f"seg_{seg_id:08d}" + (f"_p{k}" if k else "")


def _publish_segment(tmp_path: str, seg_path: str) -> None:
    """Atomic publish tolerant of task retries: if the segment dir already
    exists, a prior attempt (retry after a crash between rename and
    checkpoint write, or a speculative twin) completed the rename first.
    Builds are deterministic per doc range, so the resident dir has
    identical content — drop ours and let the checkpoint write proceed;
    a bare os.rename would raise ENOTEMPTY on every retry forever."""
    try:
        os.rename(tmp_path, seg_path)
    except OSError:
        if os.path.isdir(seg_path):
            shutil.rmtree(tmp_path, ignore_errors=True)
        else:
            raise


def _write_checkpoint(index_dir: str, name: str, ck: dict) -> None:
    """tmp + rename with a per-attempt tmp name: a duplicate attempt of
    the same task (retry or speculative twin) writes its own tmp file, so
    neither truncates nor renames the other's out from under it."""
    fname = f"part_{name[len('seg_'):]}.json"
    cdir = _ckpt_dir(index_dir)
    ck_tmp = os.path.join(cdir, f".{fname}.{uuid.uuid4().hex}.tmp")
    with open(ck_tmp, "w") as f:
        json.dump(ck, f)
    os.rename(ck_tmp, os.path.join(cdir, fname))


def _emit_segment(index_dir: str, name: str, segment_id: int, min_doc: int,
                  max_doc: int, t0: float, inv: _Inverted,
                  sidecars: dict | None = None) -> pd.DataFrame:
    """Write one segment — the single write path of every builder.

    postings + doc_lens (+ term_index when the segment has terms, + each
    `sidecars` {name: pa.Table} as <name>.parquet) go to a uuid tmp dir,
    which is published atomically; then the checkpoint row is written.
    Returns that row as a one-row CHECKPOINT_SCHEMA frame. The caller
    owns the naming and doc range of the segment, and `t0`, the start of
    its build_sec clock."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seg_path = os.path.join(index_dir, "segments", name)
    tmp_path = seg_path + "." + uuid.uuid4().hex + ".tmp"
    os.makedirs(tmp_path, exist_ok=True)
    pq.write_table(inv.postings, os.path.join(tmp_path, "postings.parquet"))
    pq.write_table(
        pa.Table.from_pandas(inv.doc_lens, preserve_index=False),
        os.path.join(tmp_path, "doc_lens.parquet"),
    )
    if inv.postings.num_rows:
        _write_term_index(tmp_path, inv.postings.column("term"))
    for side, tab in (sidecars or {}).items():
        pq.write_table(tab, os.path.join(tmp_path, side + ".parquet"))
    _publish_segment(tmp_path, seg_path)
    ck = {
        "segment": name,
        "segment_id": int(segment_id),
        "min_doc": int(min_doc),
        "max_doc": int(max_doc),
        "n_docs": int(len(inv.docs)),
        "n_tokens": int(inv.n_tokens),
        "n_postings": int(inv.n_postings),
        "n_terms": int(inv.postings.num_rows),
        "build_sec": round(time.perf_counter() - t0, 4),
    }
    _write_checkpoint(index_dir, name, ck)
    return pd.DataFrame([ck])


def _doc_range(docs: np.ndarray) -> tuple[int, int]:
    """(min_doc, max_doc) of a doc-range-keyed segment; (-1, -1) when no
    doc of its group produced a token."""
    return (int(docs[0]), int(docs[-1])) if len(docs) else (-1, -1)


def read_checkpoints(index_dir: str) -> list[dict]:
    cdir = _ckpt_dir(index_dir)
    if not os.path.isdir(cdir):
        return []
    out = []
    for f in sorted(os.listdir(cdir)):
        if f.endswith(".json"):
            with open(os.path.join(cdir, f)) as fh:
                out.append(json.load(fh))
    return out


def commit_from_checkpoints(index_dir: str, extra: dict | None = None) -> dict:
    """Commit the next manifest generation after a build/append: the
    CURRENT manifest (the only record of merge products — checkpoints of
    merged-away ranges intentionally outlive their segment dirs as resume
    bookkeeping) plus every checkpoint whose segment dir exists on disk
    and isn't already listed. Rebuilding the list from checkpoints ALONE
    would drop seg_m_* merge outputs and resurrect GC'd segment names on
    any append after a compaction — the next GC would then delete the
    merge product itself (data loss)."""
    seg_root = os.path.join(index_dir, "segments")
    entries = {s["name"]: s for s in read_manifest(index_dir)["segments"]}
    for c in read_checkpoints(index_dir):
        name = c["segment"]
        if name in entries or not os.path.isdir(os.path.join(seg_root, name)):
            continue  # already listed, or merged away + GC'd (the doc
            #           range is covered by a live merge product)
        entries[name] = {
            "name": name,
            "min_doc": c["min_doc"],
            "max_doc": c["max_doc"],
            "n_docs": c["n_docs"],
            "n_tokens": c["n_tokens"],
            "n_terms": c["n_terms"],
        }
    segments = sorted(
        entries.values(), key=lambda s: (s["min_doc"], s["name"])
    )
    return commit_manifest(index_dir, segments, extra=extra)


# ---------------------------------------------------------------------------
# segment build
# ---------------------------------------------------------------------------

def _cap_arrow_threads() -> None:
    """One task = one core (Spark's scheduling assumption): stop pyarrow
    from silently grabbing the whole box for parquet compression."""
    import pyarrow as pa

    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception:
        pass


def build_segments(
    tokens: DataFrame,
    doc_lens: DataFrame | None = None,
    index_dir: str | None = None,
    docs_per_segment: int = 4096,
    with_positions: bool = True,
    resume: bool = True,
) -> DataFrame:
    """Invert `tokens(doc_id, pos, term)` into compressed segments on disk.

    One applyInPandas group per doc-ID range; each group writes its own
    postings.parquet + doc_lens.parquet + checkpoint file, then the driver
    commits a manifest generation. Idempotent per segment: a crashed build
    re-run with resume=True skips already-checkpointed ranges (the
    per-partition checkpoint resumability of the north rule).

    Returns the checkpoint/metrics DataFrame (one row per segment built or
    skipped-from-checkpoint).

    doc_lens is accepted for API symmetry but ignored: per-doc lengths are
    re-derived inside each segment group as sum(tf) over its terms, so the
    tokenizer (the expensive Python DFA stage) runs exactly ONCE and the
    plan has exactly two shuffles (posting partial-agg, segment grouping) —
    no doc-table join on the build path.
    """
    spark = tokens.sparkSession
    os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)
    os.makedirs(_ckpt_dir(index_dir), exist_ok=True)

    full_ids, partial = (set(), {})
    if resume:
        full_ids, partial = _resume_state(index_dir, docs_per_segment)
    piece_idx = {sid: len(p) for sid, p in partial.items()}

    seg_col = F.floor(F.col("doc_id") / F.lit(docs_per_segment)).alias("segment_id")
    tok = tokens.withColumn("segment_id", seg_col)
    tok = _apply_resume_filter(tok, index_dir, full_ids, partial)

    # ONE shuffle: raw (doc_id, pos, term) rows hash to their segment group;
    # the posting aggregation (tf, positions, doc lengths) happens in numpy
    # inside the segment writer. A Spark-side partial agg would not shrink
    # this shuffle (avg tf ≈ 1, collect_list keeps every position) — it
    # would only add a second shuffle and Arrow list-column overhead.
    per_doc = tok.select("segment_id", "term", "doc_id", "pos")

    def _build_one(key, pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        seg_id = int(key[0])
        # tokens in (doc, pos) order as dictionary codes: the same codes
        # kernel the fused builders run, so the term rank sort (UTF-16
        # order, stable) yields (term, doc, pos) posting runs
        pdf = pdf.sort_values(["doc_id", "pos"], kind="mergesort")
        ids, counts = np.unique(pdf["doc_id"].to_numpy(np.int64),
                                return_counts=True)
        codes, uniq = pd.factorize(pdf["term"].to_numpy())
        seg_tab, docs, dl, n_tok, n_post = _invert_encode_codes(
            ids, codes.astype(np.int64), np.asarray(uniq, dtype=object),
            pdf["pos"].to_numpy(np.int64), counts, with_positions)
        inv = _Inverted(seg_tab, pd.DataFrame({"doc_id": docs, "dl": dl}),
                        docs, n_tok, n_post)
        return _emit_segment(index_dir, _piece_name(seg_id, piece_idx), seg_id,
                             *_doc_range(docs), t0, inv)

    built = per_doc.groupBy("segment_id").applyInPandas(_build_one, CHECKPOINT_SCHEMA)
    built_rows = built.collect()  # action: executes the distributed build

    # commit: current manifest (merge products) + new checkpoints
    commit_from_checkpoints(index_dir,
                            extra={"docs_per_segment": docs_per_segment})
    return spark.createDataFrame(built_rows or [], CHECKPOINT_SCHEMA)


def build_segments_fused(
    docs: DataFrame,
    index_dir: str,
    docs_per_segment: int = 4096,
    analyzer: str = "standard",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    with_positions: bool = True,
    resume: bool = True,
    lang_col: str | None = None,
    fields: list[tuple[str, str, str]] | None = None,
    term_vectors: bool = False,
) -> DataFrame:
    """Single-Python-stage index build: tokenize + invert + encode fused.

    analyzer: "standard" (DFA chain), "whitespace", or "lang" — per-row
    analyzer dispatch on `lang_col` (the contrib LanguageBasedAnalyzer
    model: 'zh'/'ja'/'ko' route through CJK bigrams, everything else the
    StandardAnalyzer).

    fields: optional [(field_name, source_col, analyzer), ...] — the
    multi-field segment model. Postings are keyed by the composite term
    "field\\x1fterm" (the reference's (field, text) Term ordering,
    index/TermInfosWriter.cpp:108-140), per-field analyzers drive the
    build (PerFieldAnalyzerWrapper), and doc_lens.parquet carries
    (doc_id, field, dl) so BM25 norms/avgdl are per field. Query with
    wand_query(..., field=...).

    The CLucene DocumentsWriter pattern (reference _DocumentsWriter.h:79-104:
    each thread inverts its own documents into a private in-RAM index, no
    cross-thread traffic until segment flush) restated for Spark: group RAW
    documents by doc-range (the only shuffle moves text bytes, ~50B/token
    cheaper than an exploded token row), then one applyInPandas group =
    analyze + invert + compress + write one segment. Tokens never cross the
    Arrow boundary back to the JVM, so the plan is:

        scan -> repartition(segment_id)[text bytes] -> python[DFA+numpy+write]

    This is the scale shape: python CPU dominates, everything else is
    embarrassingly parallel, shuffle volume = corpus text size / no token
    explosion. Global term stats are NOT built here — the query side sums
    per-segment dictionaries (SegmentStore.term_dict), mirroring how
    MultiSearcher derives global df (MultiSearcher.cpp:72-74).
    """
    spark = docs.sparkSession
    os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)
    os.makedirs(_ckpt_dir(index_dir), exist_ok=True)

    full_ids, partial = (set(), {})
    if resume:
        full_ids, partial = _resume_state(index_dir, docs_per_segment)
    piece_idx = {sid: len(p) for sid, p in partial.items()}

    flds = sorted(fields, key=lambda x: x[0]) if fields else None
    if flds:
        cols = [F.col(doc_id_col).cast("long").alias("doc_id")] + [
            F.col(src_col).alias(fname) for fname, src_col, _ in flds
        ]
    else:
        cols = [
            F.col(doc_id_col).cast("long").alias("doc_id"),
            F.col(text_col).alias("text"),
        ]
        if analyzer == "lang" and lang_col:
            cols.append(F.col(lang_col).alias("lang"))
    src = docs.select(*cols).withColumn(
        "segment_id", F.floor(F.col("doc_id") / F.lit(docs_per_segment))
    )
    src = _apply_resume_filter(src, index_dir, full_ids, partial)

    def _build_one(key, pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        _cap_arrow_threads()
        seg_id = int(key[0])
        pdf = pdf.sort_values("doc_id", kind="mergesort")
        if flds:
            fields_in = [(fname, pdf[fname].to_numpy(), an_f, None)
                         for fname, _src_col, an_f in flds]
        else:
            # analyzer='lang' without a lang column: dispatch falls back
            # to the non-CJK branch per doc rather than KeyError-ing
            langs = (pdf["lang"].to_numpy()
                     if analyzer == "lang" and "lang" in pdf.columns else None)
            fields_in = [(None, pdf["text"].to_numpy(), analyzer, langs)]
        inv = _invert_fields(pdf["doc_id"].to_numpy(np.int64), fields_in,
                             with_positions, build_tv=term_vectors)
        return _emit_segment(
            index_dir, _piece_name(seg_id, piece_idx), seg_id,
            *_doc_range(inv.docs), t0, inv,
            sidecars={"term_vectors": inv.term_vectors} if term_vectors
            else None,
        )

    built = src.groupBy("segment_id").applyInPandas(_build_one, CHECKPOINT_SCHEMA)
    built_rows = built.collect()

    commit_from_checkpoints(index_dir,
                            extra={"docs_per_segment": docs_per_segment,
                                   "analyzer": analyzer})
    return spark.createDataFrame(built_rows or [], CHECKPOINT_SCHEMA)


# ---------------------------------------------------------------------------
# deletes (the .del sidecar — reference IndexReader.h:631, applied during
# posting iteration SegmentTermDocs.cpp:98-100)
# ---------------------------------------------------------------------------

def _deletes_path(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes.json")


def delete_docs(index_dir: str, doc_ids) -> int:
    """Buffer doc-id deletions (IndexWriter::deleteDocuments analogue,
    reference IndexWriter.cpp:702-733). Deletions FILTER query results
    immediately; postings are physically purged at the next merge touching
    their segment (exactly the reference's apply-at-flush/merge model).
    Corpus statistics (df, avgdl) intentionally keep counting deleted docs
    until purge — same as Lucene's docFreq over un-merged deletes."""
    cur = set(read_deletes(index_dir))
    cur.update(int(d) for d in doc_ids)
    tmp = _deletes_path(index_dir) + "." + uuid.uuid4().hex + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(cur), f)
    os.rename(tmp, _deletes_path(index_dir))
    return len(cur)


def read_deletes(index_dir: str) -> list[int]:
    p = _deletes_path(index_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def clear_deletes(index_dir: str) -> None:
    p = _deletes_path(index_dir)
    if os.path.exists(p):
        os.remove(p)


def update_documents(
    spark: SparkSession,
    index_dir: str,
    new_docs: DataFrame,
    delete_ids,
    docs_per_segment: int = 4096,
    analyzer: str = "standard",
) -> DataFrame:
    """updateDocument = delete + add (reference IndexWriter.cpp:702-733:
    an update is a buffered delete of the old term plus an add of the new
    document under a NEW internal docID). Here: delete_ids are filtered
    from queries immediately (purged at merge), new_docs append under NEW
    doc_ids (Lucene's new-docID semantics). New ids may land anywhere —
    inside a partially-filled range they become an extra piece segment via
    the resume anti-join (existing docs of the range are never touched);
    ids already indexed are dropped by the same anti-join."""
    delete_docs(index_dir, delete_ids)
    return build_segments_fused(
        new_docs, index_dir, docs_per_segment=docs_per_segment,
        analyzer=analyzer, resume=True,
    )


# ---------------------------------------------------------------------------
# segment reader
# ---------------------------------------------------------------------------

class SegmentStore:
    """Read side of the on-disk index (the IndexReader analogue)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        generation: int | None = None,
    ):
        """generation=None reads the latest commit; a specific value
        opens that PAST commit point (time travel — see read_manifest)."""
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = read_manifest(index_dir, generation)
        if not self.manifest["segments"]:
            raise FileNotFoundError(f"no committed manifest in {index_dir}")
        self._names = [s["name"] for s in self.manifest["segments"]]

    def postings(self) -> DataFrame:
        """All live segments' postings with a `segment` column. Term
        predicates push down to the parquet scan (terms are sorted within
        each file, so row-group stats prune like the .tii index)."""
        paths = [
            os.path.join(self.index_dir, "segments", n, "postings.parquet")
            for n in self._names
        ]
        df = self.spark.read.parquet(*paths).withColumn(
            "segment",
            F.regexp_extract(F.input_file_name(), "/segments/([^/]+)/", 1),
        )
        return df

    def doc_lens(self) -> DataFrame:
        paths = [
            os.path.join(self.index_dir, "segments", n, "doc_lens.parquet")
            for n in self._names
        ]
        return self.spark.read.parquet(*paths)

    def stats(self, field: str | None = None) -> tuple[int, float]:
        """(n_docs, avgdl), memoized — an open IndexReader computes corpus
        stats once, not per query. For a multi-field store (doc_lens rows
        are (doc_id, field, dl)) pass `field`: n_docs stays GLOBAL (the
        maxDoc idf model) while avgdl is that field's."""
        if field is not None:
            if not hasattr(self, "_fstats"):
                self._fstats: dict[str, tuple[int, float]] = {}
            if field not in self._fstats:
                dl = self.doc_lens()
                n = dl.select("doc_id").distinct().count()
                row = dl.filter(F.col("field") == field).agg(
                    F.avg("dl").alias("avgdl")
                ).collect()[0]
                self._fstats[field] = (int(n), float(row["avgdl"] or 1.0))
            return self._fstats[field]
        if getattr(self, "_stats", None) is None:
            row = self.doc_lens().agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).collect()[0]
            self._stats = (int(row["n"]), float(row["avgdl"] or 1.0))
        return self._stats

    def doc_freqs(self, terms: list[str]) -> dict[str, int]:
        """Global df per term, memoized per store (the hot-term dictionary
        cache). Cold terms resolve via a direct pyarrow read of the
        (term, df) columns across segments — term-filtered, row-group
        pruned, parallel over the store's serving pool — so no Spark job
        sits on the query path; the Spark aggregation remains as the
        fallback for filesystems pyarrow can't reach."""
        if not hasattr(self, "_df_cache"):
            self._df_cache: dict[str, int] = {}
        missing = [t for t in set(terms) if t not in self._df_cache]
        if missing:
            try:
                found = self._doc_freqs_arrow(missing)
            except Exception:
                rows = (
                    self.postings()
                    .filter(F.col("term").isin(missing))
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .collect()
                )
                found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def _doc_freqs_arrow(self, terms: list[str]) -> dict[str, int]:
        import os as _os
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.dataset as pa_ds

        names = [x["name"] for x in self.manifest["segments"]]
        for s in names:  # warm memoized handles before threading
            self.dataset(s)

        def _read(s):
            return self.dataset(s).to_table(
                columns=["term", "df"], filter=pa_ds.field("term").isin(terms)
            )

        pool = getattr(self, "_serve_pool", None)
        if pool is None and len(names) > 1:
            pool = ThreadPoolExecutor(
                max_workers=min(len(names), _os.cpu_count() or 8),
                thread_name_prefix="clucene-serve",
            )
            self._serve_pool = pool
        tabs = pool.map(_read, names) if pool else map(_read, names)
        out: dict[str, int] = {}
        for tab in tabs:
            for t, df in zip(tab["term"].to_pylist(), tab["df"].to_pylist()):
                out[t] = out.get(t, 0) + int(df)
        return out

    def term_dict(self) -> DataFrame:
        """Global (term, df, cf) — sums the per-segment dictionaries."""
        return self.postings().groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )

    def deleted_ids(self) -> set[int]:
        """Buffered deletions (the .del bitset analogue)."""
        return set(read_deletes(self.index_dir))

    def _term_vector_paths(self) -> list[str]:
        return [
            p
            for n in self._names
            if os.path.exists(
                p := os.path.join(
                    self.index_dir, "segments", n, "term_vectors.parquet"
                )
            )
        ]

    def has_term_vectors(self) -> bool:
        # tolerate pieced indexes where only some segments carry the file
        # (e.g. vectors built before an append): vectors are available if
        # ANY segment has them; per-doc reads skip uncovered segments.
        return bool(self._term_vector_paths())

    def term_vectors(self) -> DataFrame:
        """Forward index (doc_id, term, tf, positions) — the
        TermVectorsReader surface (reference index/TermVectorReader.cpp,
        tests src/test/index/TestTermVectorsReader.cpp). Requires the index
        to have been built with term_vectors=True. Segments without a
        vectors file (pieces appended after the vectors pass) are skipped,
        mirroring term_vector()'s per-doc behavior."""
        paths = self._term_vector_paths()
        if not paths:
            raise FileNotFoundError(
                f"no term_vectors.parquet in any segment of {self.index_dir}"
            )
        return self.spark.read.parquet(*paths)

    def term_vector(self, doc_id: int) -> list[tuple[str, int, list[int]]]:
        """One document's vector, read driver-side via pyarrow with a
        doc_id filter (rows are doc-sorted, so row groups prune) — the
        IndexReader::getTermFreqVector(docNumber) call shape."""
        import pyarrow.dataset as pa_ds

        out = []
        for n in self._names:
            path = os.path.join(self.index_dir, "segments", n, "term_vectors.parquet")
            if not os.path.exists(path):
                continue
            tab = pa_ds.dataset(path).to_table(
                filter=pa_ds.field("doc_id") == int(doc_id)
            )
            for i in range(tab.num_rows):
                out.append(
                    (
                        tab["term"][i].as_py(),
                        int(tab["tf"][i].as_py()),
                        list(tab["positions"][i].as_py()),
                    )
                )
        return sorted(out)

    def dataset(self, segment: str):
        """Memoized pyarrow dataset handle for a segment's postings file —
        an open IndexReader keeps per-segment readers open instead of
        re-parsing parquet footers per query."""
        if not hasattr(self, "_ds_cache"):
            self._ds_cache = {}
        if segment not in self._ds_cache:
            import pyarrow.dataset as pa_ds

            self._ds_cache[segment] = pa_ds.dataset(
                os.path.join(self.index_dir, "segments", segment, "postings.parquet")
            )
        return self._ds_cache[segment]


def build_segments_aligned(
    docs: DataFrame,
    index_dir: str,
    analyzer: str = "standard",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    with_positions: bool = True,
    resume: bool = True,
) -> DataFrame:
    """Zero-shuffle bulk load: one segment PER INPUT SPLIT.

    The fused builder's only shuffle moves raw text into fixed doc ranges.
    For the initial bulk build over a doc-sorted corpus that shuffle buys
    nothing — each scan partition already holds a contiguous doc range —
    so this path goes scan -> python (tokenize+invert+encode+write) with
    NO exchange at all: the index shards align with the input splits, the
    way a production bulk load carves shards from file splits. On a
    single-JVM node this removes the shuffle write+read from the JVM,
    which is what contends with the python workers at full occupancy.

    Segments are named by their actual doc range (seg_a_<min>_<max>);
    readers treat them like any other segment. Resume: each finished
    partition checkpoints its [min_doc, max_doc]; a re-run filters those
    ranges out BEFORE the scan (predicate pushdown prunes their row
    groups), so crashed builds restart where they left off — the same
    per-partition checkpoint contract as the ranged builder.

    Requirements: `docs` sorted by doc_id across partitions (a doc-sorted
    parquet read qualifies); doc ids must not straddle split boundaries
    out of order. Appends of NEW ranges work (they scan-filter cleanly);
    for interleaved appends use build_segments_fused."""
    spark = docs.sparkSession
    os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)
    os.makedirs(_ckpt_dir(index_dir), exist_ok=True)

    src = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    done_ranges: list[tuple[int, int]] = []
    if resume:
        done_ranges = [
            (int(c["min_doc"]), int(c["max_doc"]))
            for c in read_checkpoints(index_dir)
        ]
        for lo, hi in done_ranges:
            src = src.filter(~F.col("doc_id").between(lo, hi))

    def _one(batches):
        _cap_arrow_threads()
        t0 = time.perf_counter()
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            "doc_id", kind="mergesort"
        )
        ids = pdf["doc_id"].to_numpy(np.int64)
        inv = _invert_fields(
            ids, [(None, pdf["text"].to_numpy(), analyzer, None)],
            with_positions)
        lo, hi = int(ids[0]), int(ids[-1])
        # aligned path: range-keyed (segment_id = lo), not dps-keyed
        yield _emit_segment(index_dir, f"seg_a_{lo:012d}_{hi:012d}", lo, lo,
                            hi, t0, inv)

    built_rows = src.mapInPandas(_one, CHECKPOINT_SCHEMA).collect()

    commit_from_checkpoints(index_dir, extra={"aligned": True,
                                              "analyzer": analyzer})
    return spark.createDataFrame(built_rows or [], CHECKPOINT_SCHEMA)


def build_segments_direct(
    spark: SparkSession,
    input_path: str | list[str],
    index_dir: str,
    analyzer: str = "standard",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    with_positions: bool = True,
    with_vectors: bool = False,
    resume: bool = True,
    _plan_only: bool = False,
) -> DataFrame:
    """Direct-read bulk load: the aligned plan with the JVM out of the scan.

    ``with_vectors=True`` additionally writes the offsets-bearing term
    vectors sidecar inside the SAME single read of each file — the
    reference's TermVectorsWriter-inside-addDocument shape
    (index/DocumentsWriter invert loop) — so a 100-TB corpus is scanned
    once for both artifacts instead of paying build_term_vectors_offsets'
    second full scan + shuffle. Output is byte-identical to that second
    pass (pytest-pinned).

    `build_segments_aligned` already has the right SHAPE for an initial
    bulk build (scan -> python, one segment per input split, no exchange),
    but the bytes still take the long way around: the JVM decodes parquet
    to InternalRows, re-encodes them into Arrow batches, and ships them to
    the python worker over a local socket. Measured on the scaling fleet,
    that conversion pipeline burns ~1.4 of every 4 node cores — CPU a real
    cluster pays too, on every node, forever.

    This path distributes FILE PATHS instead: Spark parallelizes one row
    per parquet file, pre-sliced into ~2 tasks per core (`_file_fanout`,
    shared with the crawl builder), and each python task opens
    its file directly with pyarrow (`pq.read_table(path, columns=[id,
    text])`), then runs the IDENTICAL tokenize -> invert -> varbyte-encode
    -> atomic-rename kernel. The JVM's share of the build drops to task
    scheduling; the text is decoded from parquet exactly once, in the
    process that consumes it. Spark still owns distribution, retries,
    speculation, and the checkpoint/manifest commit — this is the standard
    file-granular ingestion pattern (Petastorm/WebDataset-style), not a
    driver-side loop.

    Output is byte-identical to `build_segments_aligned` over the same
    files (pytest asserts manifest + postings parity). Resume contract is
    unchanged: finished [min_doc, max_doc] ranges are checkpointed; a
    re-run prunes fully-covered files from the task list via parquet
    footer statistics (no data read), the python-side analogue of the
    aligned path's pushed-down range anti-filter.

    Reference analogue: IndexWriter.addDocuments bulk load
    (src/core/CLucene/index/IndexWriter.cpp) — the reference tokenizes in
    the same process that reads the source text; this path restores that
    locality under Spark's distribution."""
    os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)
    os.makedirs(_ckpt_dir(index_dir), exist_ok=True)

    if isinstance(input_path, list):
        files = list(input_path)
    elif os.path.isdir(input_path):
        files = sorted(
            os.path.join(input_path, f)
            for f in os.listdir(input_path)
            if f.endswith(".parquet")
        )
    else:
        files = [input_path]
    if not files:
        raise ValueError(f"no parquet files under {input_path}")

    done_ranges: list[tuple[int, int]] = []
    if resume:
        done_ranges = [
            (int(c["min_doc"]), int(c["max_doc"]))
            for c in read_checkpoints(index_dir)
        ]

    def _one_file(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        _cap_arrow_threads()
        t0 = time.perf_counter()
        meta = pq.ParquetFile(path).metadata
        if done_ranges and meta.num_rows:
            idx_col = meta.schema.to_arrow_schema().get_field_index(doc_id_col)
            los, his = [], []
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx_col).statistics
                if st is None or st.min is None:
                    los = []
                    break
                los.append(st.min)
                his.append(st.max)
            if los and any(
                lo <= min(los) and max(his) <= hi for lo, hi in done_ranges
            ):
                return None  # file fully built by a prior run
        tab = pq.read_table(path, columns=[doc_id_col, text_col])
        if tab.num_rows == 0:
            return None
        ids = tab.column(doc_id_col).to_numpy().astype(np.int64)
        # keep text as an Arrow column end-to-end: the codes kernel
        # tokenizes regex-clean docs without ever materializing python
        # strings
        texts = tab.column(text_col).combine_chunks()
        order = np.argsort(ids, kind="stable")
        if not np.all(order[:-1] < order[1:]):
            ids = ids[order]
            texts = texts.take(pa.array(order))
        if done_ranges:
            keep = np.ones(len(ids), bool)
            for lo, hi in done_ranges:
                keep &= ~((ids >= lo) & (ids <= hi))
            if not keep.any():
                return None
            if not keep.all():
                ids = ids[keep]
                texts = texts.filter(pa.array(keep))
        inv = _invert_fields(ids, [(None, texts, analyzer, None)],
                             with_positions)
        sidecars = None
        if with_vectors:
            sidecars = {"term_vectors": _term_vectors_arrow(_term_vectors_frame(
                ids, np.array(texts.to_pylist(), dtype=object), analyzer))}
        lo, hi = int(ids[0]), int(ids[-1])
        return _emit_segment(index_dir, f"seg_a_{lo:012d}_{hi:012d}", lo, lo,
                             hi, t0, inv, sidecars)

    return _file_fanout(spark, files, _one_file, index_dir,
                        {"aligned": True, "analyzer": analyzer},
                        plan_only=_plan_only)


def _file_fanout(spark: SparkSession, files: list[str], build_file,
                 index_dir: str, extra: dict,
                 plan_only: bool = False) -> DataFrame:
    """The file-granular bulk build shared by build_segments_direct and
    the crawl builder: Spark distributes FILE PATHS, and each python task
    runs build_file(path) -> checkpoint frame (or None for a skipped file)
    over its slice, then the driver commits a manifest generation.

    Task packing: one task per FILE maximizes retry granularity but pays
    an inter-task gap (arrow stream setup/teardown, scheduler latency —
    measured ~20% of core-time at 32 one-file tasks on 4 cores), so files
    are packed ~2 tasks per core (wave balance without per-task churn).
    Checkpoints/segments stay per-file, so RESUME granularity is
    unchanged — only Spark's retry unit coarsens. The path list is
    pre-sliced at parallelize time: zero exchanges (a round-robin
    repartition of a local relation adds a stage + shuffle per build)."""

    def _task(batches):
        import gc

        # the kernel's object graph is acyclic (tuples/lists/ndarrays,
        # refcount-reclaimed); cyclic-GC passes over millions of tracked
        # allocations are pure overhead that compounds across co-located
        # workers. Collect once at the task boundary instead; workers are
        # reused, so leave the collector enabled between tasks.
        gc.disable()
        for pdf in batches:
            for path in pdf["path"]:
                row = build_file(path)
                if row is not None:
                    yield row
        gc.enable()
        gc.collect()

    n_tasks = min(len(files), max(1, spark.sparkContext.defaultParallelism * 2))
    paths_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(f,) for f in files], n_tasks),
        T.StructType([T.StructField("path", T.StringType(), False)]),
    )
    plan_df = paths_df.mapInPandas(_task, CHECKPOINT_SCHEMA)
    if plan_only:  # plan-shape pins (tests/test_plans.py) without building
        return plan_df
    built_rows = plan_df.collect()
    commit_from_checkpoints(index_dir, extra=extra)
    return spark.createDataFrame(built_rows or [], CHECKPOINT_SCHEMA)


def build_term_vectors_offsets(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    analyzer: str = "standard",
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> int:
    """Write offsets-bearing term vectors beside each committed segment —
    the WITH_POSITIONS_OFFSETS flavor (reference TermVectorOffsetInfo,
    index/TermVectorWriter.cpp): per (doc, term) rows carry tf, positions,
    and character start/end offsets so consumers (the Highlighter's
    TokenSources path) never re-analyze stored text.

    Runs as its own applyInPandas pass grouped by the index's doc ranges
    (one task per segment, same parallelism as the build); the hot
    inverted build stays offset-free. Returns #segments written.

    Docs are routed to segments by the manifest's actual (min_doc,
    max_doc) ranges — NOT by a docs_per_segment modulus — so pieced
    indexes (resume-after-crash, streamed ingest, update-append) and
    aligned/range-keyed manifests each get a vectors file in their OWN
    segment directory; segments outside the supplied docs still get an
    empty (schema-only) file so has_term_vectors() stays an all-segments
    invariant."""
    man = read_manifest(index_dir)
    segs = sorted(
        man["segments"], key=lambda s: (int(s["min_doc"]), s["name"])
    )
    ranges = [(s["name"], int(s["min_doc"]), int(s["max_doc"])) for s in segs]
    rng_df = docs.sparkSession.createDataFrame(
        ranges, schema="name string, min_doc long, max_doc long"
    )
    src = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )
    # broadcast range-join: tiny manifest side, no shuffle of the docs;
    # first matching range wins if pieces ever overlap
    from pyspark.sql import Window

    src = (
        src.join(
            F.broadcast(rng_df),
            (F.col("doc_id") >= F.col("min_doc"))
            & (F.col("doc_id") <= F.col("max_doc")),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("min_doc", "name")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text", "name")
    )
    idx_dir = index_dir
    an = analyzer

    out_schema = T.StructType([T.StructField("name", T.StringType(), False),
                               T.StructField("n_rows", T.LongType(), False)])

    def _one(key, pdf: pd.DataFrame) -> pd.DataFrame:
        seg_name = str(key[0])
        tv = _term_vectors_frame(pdf["doc_id"], pdf["text"], an)
        _write_term_vectors_file(idx_dir, seg_name, tv)
        return pd.DataFrame({"name": [seg_name], "n_rows": [len(tv)]})

    res = src.groupBy("name").applyInPandas(_one, out_schema).collect()
    written = {r["name"] for r in res}
    # schema-only files for segments none of the supplied docs fell into,
    # so every committed segment carries the file (all-segments invariant)
    for s in segs:
        if s["name"] not in written:
            _write_term_vectors_file(
                index_dir,
                s["name"],
                pd.DataFrame(
                    {"doc_id": pd.Series([], dtype="int64"),
                     "term": pd.Series([], dtype="object"),
                     "tf": pd.Series([], dtype="int64"),
                     "positions": pd.Series([], dtype="object"),
                     "starts": pd.Series([], dtype="object"),
                     "ends": pd.Series([], dtype="object")}
                ),
            )
    return len(written)


def _term_vectors_frame(doc_ids, texts, analyzer: str) -> pd.DataFrame:
    """Offsets-bearing term-vector rows for one segment's docs — the
    shared kernel of build_term_vectors_offsets (grouped pass over an
    existing index) and build_segments_direct(with_vectors=True) (written
    in the same single read as the postings, the reference
    TermVectorsWriter-inside-addDocument shape).

    Accumulation is flat-array, not dict-of-lists: per-token python
    allocation was the kernel's cost center AND its concurrency killer
    (allocator churn compounds across 32 workers). Tokens land in flat
    columns, one stable mergesort groups (doc, utf16-term), and the list
    columns come out as zero-copy slices of the sorted arrays."""
    from clucene_spark.analysis.standard import standard_analyze

    docs_f: list[int] = []
    terms_f: list[str] = []
    pos_f: list[int] = []
    st_f: list[int] = []
    en_f: list[int] = []
    for doc_id, text in zip(doc_ids, texts):
        if text is None:
            continue
        d = int(doc_id)
        if analyzer == "whitespace":
            # raw split indices as positions — identical to the
            # whitespace index path's position convention
            off = 0
            for i, w in enumerate(text.split(" ")):
                if w:
                    docs_f.append(d)
                    terms_f.append(w)
                    pos_f.append(i)
                    st_f.append(off)
                    en_f.append(off + len(w))
                off += len(w) + 1
        else:
            for t, p, s, e, _ty in standard_analyze(text):
                docs_f.append(d)
                terms_f.append(t)
                pos_f.append(p)
                st_f.append(s)
                en_f.append(e)
    if not docs_f:
        return pd.DataFrame(
            {"doc_id": pd.Series([], dtype="int64"),
             "term": pd.Series([], dtype="object"),
             "tf": pd.Series([], dtype="int64"),
             "positions": pd.Series([], dtype="object"),
             "starts": pd.Series([], dtype="object"),
             "ends": pd.Series([], dtype="object")}
        )
    docs_a = np.asarray(docs_f, dtype=np.int64)
    terms_a = np.asarray(terms_f, dtype=object)
    pos_a = np.asarray(pos_f, dtype=np.int64)
    st_a = np.asarray(st_f, dtype=np.int64)
    en_a = np.asarray(en_f, dtype=np.int64)
    # stable sort by (doc, UTF-16 term key): token order survives within
    # each (doc, term) group, so positions/offsets stay in stream order
    keys_a = np.asarray([utf16_key(t) for t in terms_f], dtype=object)
    order = np.lexsort((keys_a, docs_a))
    docs_a, terms_a, keys_a = docs_a[order], terms_a[order], keys_a[order]
    pos_a, st_a, en_a = pos_a[order], st_a[order], en_a[order]
    # group boundaries: doc change OR term change
    new_grp = np.ones(len(docs_a), dtype=bool)
    new_grp[1:] = (docs_a[1:] != docs_a[:-1]) | (keys_a[1:] != keys_a[:-1])
    starts_idx = np.flatnonzero(new_grp)
    counts = np.diff(np.append(starts_idx, len(docs_a)))
    return pd.DataFrame(
        {
            "doc_id": docs_a[starts_idx],
            "term": terms_a[starts_idx],
            "tf": counts,
            "positions": [pos_a[i:i + c] for i, c in zip(starts_idx, counts)],
            "starts": [st_a[i:i + c] for i, c in zip(starts_idx, counts)],
            "ends": [en_a[i:i + c] for i, c in zip(starts_idx, counts)],
        }
    )


def _term_vectors_arrow(tv):
    import pyarrow as pa

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("term", pa.string()),
            ("tf", pa.int64()),
            ("positions", pa.list_(pa.int64())),
            ("starts", pa.list_(pa.int64())),
            ("ends", pa.list_(pa.int64())),
        ]
    )
    return pa.Table.from_pandas(tv, schema=schema, preserve_index=False)


def _write_term_vectors_file(index_dir: str, segment: str, tv) -> None:
    import pyarrow.parquet as pq

    path = os.path.join(index_dir, "segments", segment, "term_vectors.parquet")
    tmp = path + "." + uuid.uuid4().hex + ".tmp"
    pq.write_table(_term_vectors_arrow(tv), tmp)
    os.replace(tmp, path)


def read_term_index(index_dir: str, segment: str) -> list[str]:
    """Decode a segment's prefix-compressed term dictionary back to the
    full sorted term list (reader side of _write_term_index)."""
    import pyarrow.parquet as pq

    from clucene_spark.index.codec import decode_term_block

    tab = pq.read_table(os.path.join(index_dir, "segments", segment, "term_index.parquet"))
    # first_term order is the global block order (block_id restarts per
    # reducer part in merged segments; term ranges across parts are
    # disjoint). Blocks order by UTF-16 code units like the terms inside.
    firsts = tab.column("first_term").to_pylist()
    blobs = tab.column("blob").to_pylist()
    out: list[str] = []
    for i in utf16_argsort(firsts):
        out.extend(decode_term_block(bytes(blobs[i])))
    return out
