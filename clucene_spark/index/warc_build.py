"""Crawl-to-index direct build: WARC files in, index segments out, one
task per file, ZERO shuffle, no JVM data path.

This composes the WARC streaming parser (`data/warc.py`), HTML text
extraction + normalization (`pipeline/extract.py`), and the direct bulk
index kernel (`index/segments.py` `_invert_fields`/`_emit_segment`) into
the single-scan pipeline a production crawl ingest runs:

    open .warc.gz -> cut records -> split HTTP -> extract text ->
    normalize -> tokenize (StandardAnalyzer DFA) -> invert -> varbyte
    encode -> write segment + checkpoint

all inside ONE python task per WARC file. Spark distributes file paths
and owns retries/speculation/commit through the same file fan-out as
`build_segments_direct` (`segments._file_fanout`); the page bytes are decompressed, parsed and
tokenized in the process that consumes them and never cross the JVM.
Segments align with crawl files (the Common-Crawl unit, ~1 GB each), so
a 64k-file crawl fans out to any cluster width with no exchange.

DocIDs are synthesized deterministically as ``file_idx * stride + seq``
(seq = record ordinal within the file), so every file owns a disjoint,
contiguous, ascending doc range — the invariant the aligned/direct
segment layout (seg_a_<min>_<max>) and the merge rebase rely on.

Resume: a finished file's segment checkpoint starts exactly at
``file_idx * stride``; re-runs skip those files without opening them
(file-granular, the WARC analogue of the parquet-footer pruning in
`build_segments_direct`).

Reference analogue: IndexWriter.addDocuments over a crawl reader
(`src/core/CLucene/index/IndexWriter.cpp`) — the reference tokenizes in
the same process that reads the source bytes; this preserves that
locality under Spark's distribution, upstream of the reference's scope
(CLucene ships no crawl-format reader).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

import re as _re

from ..data.warc import (
    decode_html,
    parse_warc_date,
    parse_warc_stream,
    parse_warc_stream_tolerant,
    split_http_payload,
)
from ..pipeline.extract import extract_text_py, normalize_text_py
from .segments import (
    _ckpt_dir,
    _emit_segment,
    _file_fanout,
    _invert_fields,
    read_checkpoints,
)

_TITLE_RE = _re.compile(r"(?is)<title[^>]*>(.*?)</title>")


def extract_title_py(page: str) -> str:
    """<title> text of a decoded page (whitespace-collapsed, entity-
    unescaped) — the head-section field `extract_text_py` deliberately
    drops; '' when absent."""
    import html as _html

    m = _TITLE_RE.search(page)
    if not m:
        return ""
    return " ".join(_html.unescape(m.group(1)).split())

DEFAULT_STRIDE = 10_000_000  # docs per file ceiling; CC files hold ~30-150k

_CJK_RANGES = (
    (0x3040, 0x30FF),   # hiragana + katakana
    (0x3400, 0x9FFF),   # CJK unified (+ext A)
    (0xAC00, 0xD7AF),   # hangul syllables
)


def detect_lang(text: str, threshold: float = 0.2) -> str:
    """Deterministic script-based language routing for the crawl path:
    'zh' (CJK analyzer chain) when >= threshold of the non-space chars
    are CJK codepoints, else 'en'. A crawl record carries no trusted
    lang column, so the LanguageBasedAnalyzer dispatch
    (`segments.py` analyzer='lang') needs content evidence; pure-ASCII
    text short-circuits before any codepoint walk."""
    if not text or text.isascii():
        return "en"
    n = cjk = 0
    for ch in text:
        if ch.isspace():
            continue
        n += 1
        o = ord(ch)
        for lo, hi in _CJK_RANGES:
            if lo <= o <= hi:
                cjk += 1
                break
    return "zh" if n and cjk / n >= threshold else "en"


def build_segments_from_warc(
    spark: SparkSession,
    warc_paths: list[str],
    index_dir: str,
    analyzer: str = "standard",
    stride: int = DEFAULT_STRIDE,
    wet: bool = False,
    normalize: bool = True,
    with_positions: bool = True,
    resume: bool = True,
    file_indices: dict[str, int] | None = None,
    title_field: bool = False,
    tolerant: bool = False,
) -> DataFrame:
    """Build one index segment per WARC file; returns the checkpoint rows
    of segments built THIS run (resumed files are skipped).

    ``wet=True`` reads WET sidecars ('conversion' records, payload is
    already-extracted text) and skips the HTML extract step.

    ``title_field=True`` additionally indexes each page's <title> as a
    second field in the composite-key format (`FIELD_SEP`-prefixed
    terms, per-field doc lengths), so fielded queries
    (``wand_query_direct(..., field='title')``) work on crawl-built
    indexes exactly like fused-built ones. Incompatible with wet=True
    (WET records carry no markup).

    ``file_indices`` overrides the default position-in-sorted-list docID
    base per path — the streaming ingest passes its persistent ledger
    here so files arriving in later micro-batches keep globally unique,
    stable doc ranges across batches and replays."""
    os.makedirs(os.path.join(index_dir, "segments"), exist_ok=True)
    os.makedirs(_ckpt_dir(index_dir), exist_ok=True)

    files = sorted(warc_paths)
    if not files:
        raise ValueError("no WARC paths given")
    file_idx = (
        dict(file_indices)
        if file_indices is not None
        else {p: i for i, p in enumerate(files)}
    )
    missing = [p for p in files if p not in file_idx]
    if missing:
        raise ValueError(f"paths missing from file_indices: {missing[:3]}")

    done_starts: set[int] = set()
    if resume:
        done_starts = {
            int(c["min_doc"]) for c in read_checkpoints(index_dir)
        }

    if title_field and wet:
        raise ValueError("title_field requires HTML pages (wet=False)")

    want = "conversion" if wet else "response"
    parse = parse_warc_stream_tolerant if tolerant else parse_warc_stream

    def _one_file(path):
        lo0 = file_idx[path] * stride
        if lo0 in done_starts:
            return None  # file fully indexed by a prior run
        t0 = time.perf_counter()
        texts, ids, titles = [], [], []
        urls, tss = [], []
        with open(path, "rb") as fh:
            for rec in parse(fh):
                h = rec["headers"]
                if h.get("warc-type") != want:
                    continue
                if wet:
                    text = rec["payload"].decode("utf-8", "replace")
                else:
                    _status, hh, body = split_http_payload(rec["payload"])
                    page = decode_html(body, hh.get("content-type"))
                    if title_field:
                        titles.append(extract_title_py(page))
                    text = extract_text_py(page)
                if normalize:
                    text = normalize_text_py(text)
                ids.append(lo0 + len(ids))
                texts.append(text)
                urls.append(h.get("warc-target-uri"))
                tss.append(parse_warc_date(h.get("warc-date")))
        if not ids:
            return None
        if len(ids) > stride:
            raise ValueError(
                f"{path}: {len(ids)} records exceed stride {stride}"
            )
        import pyarrow as pa

        ids_a = np.asarray(ids, dtype=np.int64)
        texts_a = np.asarray(texts, dtype=object)
        langs = [detect_lang(t) for t in texts] if analyzer == "lang" else None
        if title_field:
            # composite-key multi-field segment, the fused builder's shape
            fields = [("text", texts_a, analyzer, langs),
                      ("title", np.asarray(titles, dtype=object), analyzer,
                       None)]
        else:
            fields = [(None, texts_a, analyzer, langs)]
        inv = _invert_fields(ids_a, fields, with_positions)
        # URL sidecar: the crawl metadata a re-crawl supersedence pass
        # needs (doc_id -> capture url + time); one tiny file per segment,
        # the stored-fields role for the crawl key
        urls_tab = pa.Table.from_pandas(
            pd.DataFrame(
                {"doc_id": ids_a, "url": urls,
                 "warc_ts": pd.Series(tss, dtype="datetime64[us]")}
            ),
            preserve_index=False,
        )
        lo, hi = int(ids_a[0]), int(ids_a[-1])
        return _emit_segment(index_dir, f"seg_a_{lo:012d}_{hi:012d}", lo, lo,
                             hi, t0, inv, {"urls": urls_tab})

    return _file_fanout(
        spark, files, _one_file, index_dir,
        {"aligned": True, "analyzer": analyzer, "source": "warc"},
    )


def crawl_urls(spark: SparkSession, index_dir: str) -> DataFrame:
    """The index's crawl metadata: (doc_id, url, warc_ts) unioned from
    the urls.parquet sidecar of every COMMITTED segment. Resolved via the
    manifest, never a directory glob: a glob would pick up uncommitted
    .tmp dirs from a crashed build (whose doc_ids are in no manifest), and
    supersede_recrawls would then delete live captures in favor of
    unreachable ones."""
    from .segments import read_manifest

    seg_root = os.path.join(index_dir, "segments")
    paths = [
        p for s in read_manifest(index_dir)["segments"]
        if os.path.exists(
            p := os.path.join(seg_root, s["name"], "urls.parquet")
        )
    ]
    if not paths:
        raise FileNotFoundError(f"no urls.parquet sidecars in {index_dir}")
    return spark.read.parquet(*paths)


def supersede_recrawls(spark: SparkSession, index_dir: str) -> list[int]:
    """Latest capture wins across crawl waves: for every CANONICAL url
    captured more than once, keep the newest (warc_ts, doc_id) and
    buffer deletions for the rest (the IndexWriter updateDocument model
    — delete + the add that already happened; postings purge at the
    next merge). Returns the superseded doc_ids.

    Scale note: only (canon, ts, id) triples shuffle (one groupBy); the
    loser id list that reaches the driver is bounded by the re-crawl
    overlap, and lands in the same deletes sidecar every delete path
    uses. Idempotent — a second pass finds no new losers."""
    from pyspark.sql import functions as F

    from ..pipeline.urls import canonicalize_url
    from .segments import delete_docs, read_deletes

    canon = crawl_urls(spark, index_dir).select(
        "doc_id", "warc_ts", canonicalize_url(F.col("url")).alias("canon")
    )
    keep = (
        canon.groupBy("canon")
        .agg(F.max(F.struct("warc_ts", "doc_id")).alias("w"))
        .select(F.col("w.doc_id").alias("keep_id"))
    )
    losers = canon.join(
        keep, canon["doc_id"] == keep["keep_id"], "left_anti"
    ).select("doc_id")
    already = set(read_deletes(index_dir))
    ids = sorted(
        int(r["doc_id"])
        for r in losers.collect()
        if int(r["doc_id"]) not in already
    )
    if ids:
        delete_docs(index_dir, ids)
    return ids
