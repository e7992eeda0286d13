"""The four workloads: set-up, measured rounds, checks and layer numbers.

Each workload function takes the run context and returns a `Result`.
Program calls go through the package's public functions only; the spans
and wrappers around them exist only when the run is traced.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import reference as ref
from tracing import EventLog, catalyst_ms, patched, span_s, union_length

K = 10
SERVE_WARM_REPLAYS = 5
# Warm-up before timing: the first build, dedup pass or query round of a
# fresh process imports the Python workers and compiles the JVM's hot
# paths, and takes 2-4x as long as the next ones. It belongs to set-up.
# Later operations still speed up by 10-20% over the next ~20 s while the
# JIT settles; the median over the measured rounds absorbs that.
CRAWL_WARMUP_BUILDS = 1
DEDUP_WARMUP_PASSES = 2
SEARCH_CLASSES = ("term", "and", "or", "phrase", "prefix", "fuzzy")


@dataclass
class Result:
    # operation class -> latencies (ms) of its operations that succeeded
    op_ms: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    # folded after Spark stops, when the event log is complete
    fold: object = None

    def check(self, ok: bool, why: str) -> None:
        if not ok and len(self.errors) < 20:
            self.errors.append(why)


def _p(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return float(v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))])


def _rounds(ctx, run_round) -> None:
    """Whole rounds until the run's seconds are used up (at least one)."""
    t0 = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t0 < ctx.seconds:
        run_round(n)
        n += 1


def _timed_op(ctx, res: Result, cls: str, fn):
    """Run one operation of class `cls`; a raised error counts as a failed
    operation."""
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # the operation failed; the run goes on
        res.failed += 1
        print(f"perfbench: operation failed: {type(e).__name__}: {e}",
              file=sys.stderr)
        return None
    res.op_ms.setdefault(cls, []).append((time.perf_counter() - t0) * 1000.0)
    ctx.sample_rss()
    return out


# ---------------------------------------------------------------------------
# crawl_build
# ---------------------------------------------------------------------------

def crawl_build(ctx) -> Result:
    from clucene_spark.index.segments import SegmentStore, read_manifest
    from clucene_spark.index.warc_build import build_segments_from_warc

    spark = ctx.start_spark()
    exp = ctx.expected
    paths = exp["warc_paths"]
    res = Result()
    builds: list[tuple[dict, list, dict]] = []  # traced: span, rows, bytes

    def build(n: int):
        idx = os.path.join(ctx.run_dir, f"idx-{n}")
        with ctx.tracer.op(f"build-{n}"), \
                ctx.tracer.span("build", spark) as sp:
            df = build_segments_from_warc(spark, paths, idx)
        return idx, df, sp

    def check(idx, rows):
        man = read_manifest(idx)
        res.check(sum(s["n_docs"] for s in man["segments"]) == exp["n_pages"],
                  "manifest doc count != pages generated")
        res.check(sum(r["n_tokens"] for r in rows) == exp["n_tokens"],
                  "sum n_tokens != reference token count")
        res.check(sum(r["n_postings"] for r in rows) == exp["n_postings"],
                  "sum n_postings != reference (term, doc) count")
        got = SegmentStore(spark, idx).doc_freqs(list(exp["df"]))
        bad = [t for t, d in exp["df"].items() if got.get(t) != d]
        res.check(not bad, f"doc_freqs differ on {bad[:5]}")

    for n in range(-CRAWL_WARMUP_BUILDS, 0):  # warm-up: part of set-up
        idx, df, _ = build(n)
        with ctx.own_work():
            check(idx, df.collect())
            shutil.rmtree(idx)
    ctx.setup_done()

    def one(n):
        out = _timed_op(ctx, res, "build", lambda: build(n + 1))
        if out is None:
            return
        idx, df, sp = out
        rows = [r.asDict() for r in df.collect()]
        check(idx, rows)
        if ctx.trace:
            builds.append((sp, rows, _index_bytes(idx)))
        shutil.rmtree(idx)

    _rounds(ctx, one)
    res.layers["build_docs_per_s"] = exp["n_pages"] / (
        statistics.median(res.op_ms["build"]) / 1000.0)
    if ctx.trace:
        res.layers.update(_replay_crawl_layers(ctx.tracer, paths[:2]))
        last_rows = builds[-1][1]
        n = exp["n_pages"]
        res.layers["index.tokens_per_doc"] = sum(
            r["n_tokens"] for r in last_rows) / n
        res.layers["index.postings_per_doc"] = sum(
            r["n_postings"] for r in last_rows) / n
        res.layers["index.warc_build.file_task_s"] = statistics.median(
            sum(r["build_sec"] for r in rows) for _, rows, _ in builds)
        sizes = builds[-1][2]
        for part, b in sizes.items():
            res.layers[f"index.bytes.{part}"] = b / n
        res.layers["index_bytes_per_doc"] = sum(sizes.values()) / n

        def fold(log: EventLog):
            folds = [log.fold(sp) for sp, _, _ in builds]
            for key in ("jobs", "in_job_s", "outside_job_s", "task_cpu_s",
                        "max_task_s"):
                res.layers[f"spark.build.{key}"] = statistics.median(
                    f[key] for f in folds)
        res.fold = fold
    return res


def _index_bytes(idx: str) -> dict:
    parts = {"postings": "postings.parquet", "doc_lens": "doc_lens.parquet",
             "term_index": "term_index.parquet", "urls": "urls.parquet"}
    out = dict.fromkeys(parts, 0)
    seg_root = os.path.join(idx, "segments")
    for seg in os.listdir(seg_root):
        for part, fname in parts.items():
            p = os.path.join(seg_root, seg, fname)
            if os.path.isfile(p):
                out[part] += os.path.getsize(p)
    return out


def _replay_crawl_layers(tr, paths: list[str]) -> dict:
    """Per-layer cost of the crawl kernel, replayed in-process on a fixed
    sample of files: WARC cut + HTTP split + decode, then extraction and
    normalization, then StandardAnalyzer terms."""
    from clucene_spark.analysis.standard import standard_analyze_terms
    from clucene_spark.data.warc import (decode_html, parse_warc_stream,
                                         split_http_payload)
    from clucene_spark.pipeline.extract import (extract_text_py,
                                                normalize_text_py)

    pages = []
    with tr.op("replay"):
        with tr.span("data.warc") as warc:
            for p in paths:
                with open(p, "rb") as fh:
                    for rec in parse_warc_stream(fh):
                        if rec["headers"].get("warc-type") != "response":
                            continue
                        _s, hh, body = split_http_payload(rec["payload"])
                        pages.append(decode_html(body, hh.get("content-type")))
        with tr.span("pipeline.extract") as extract:
            texts = [normalize_text_py(extract_text_py(pg)) for pg in pages]
        with tr.span("analysis.standard") as analyze:
            for t in texts:
                standard_analyze_terms(t)
    kdoc = len(pages) / 1000.0
    return {f"{sp['name']}.ms_per_kdoc": span_s(sp) * 1000.0 / kdoc
            for sp in (warc, extract, analyze)}


# ---------------------------------------------------------------------------
# serve_local
# ---------------------------------------------------------------------------

class _TracedDataset:
    """Stands in for a segment's pyarrow dataset handle and records each
    `to_table` read as a span of the query that caused it."""

    def __init__(self, ds, tracer, active):
        self._ds, self._tracer, self._active = ds, tracer, active

    def to_table(self, *a, **kw):
        t0 = time.time()
        try:
            return self._ds.to_table(*a, **kw)
        finally:
            self._tracer.record("index.segments.read", t0, time.time(),
                                self._active.get("query"))

    def __getattr__(self, name):
        return getattr(self._ds, name)


def _serve_tracing(tracer, active: dict):
    """Wrap the store's dataset handles and the codec's postings decoder
    so reads and decodes show as child spans of the running query
    (`active["query"]`; reads run on the store's thread pool, so the
    parent cannot come from the calling thread's span stack)."""
    import contextlib

    from clucene_spark.index.segments import SegmentStore
    from clucene_spark.search import wand

    def dataset(fn):
        def inner(self, seg):
            return _TracedDataset(fn(self, seg), tracer, active)
        return inner

    def decode(fn):
        def inner(*a, **kw):
            t0 = time.time()
            out = fn(*a, **kw)
            tracer.record("index.codec.decode", t0, time.time(),
                          active.get("query"), postings=len(out[0]))
            return out
        return inner

    es = contextlib.ExitStack()
    es.enter_context(patched(SegmentStore, "dataset", dataset))
    es.enter_context(patched(wand, "decode_postings", decode))
    return es


def serve_local(ctx) -> Result:
    import contextlib

    from clucene_spark.index.segments import (SegmentStore,
                                              build_segments_direct,
                                              read_manifest)
    from clucene_spark.search.wand import wand_query_local

    spark = ctx.start_spark()
    exp = ctx.expected
    queries = [(m, t) for m, t in exp["queries"]]
    idx = os.path.join(ctx.run_dir, "idx")
    build_segments_direct(spark, exp["docs_dir"], idx, analyzer="standard")
    warm = SegmentStore(spark, idx)
    for m, t in queries[:5]:  # warm-up on a throwaway handle
        wand_query_local(warm, t, k=K, mode=m)
    del warm
    ctx.setup_done()

    tr = ctx.tracer
    res = Result()
    n_seg = len(read_manifest(idx)["segments"])
    q_spans = {"cold": [], "warm": []}
    opens = []
    active: dict = {}  # the running query's span, for the wrappers

    def query(store, phase, i):
        m, t = queries[i]
        with tr.op(f"{phase}-{i}"), tr.span("wand_query_local") as sp:
            active["query"] = sp
            hits = _timed_op(ctx, res, phase, lambda: wand_query_local(
                store, t, k=K, mode=m))
        if hits is not None and sp is not None:
            sp["lookups"] = n_seg * len(t)
            q_spans[phase].append(sp)
        return hits

    def one(n):
        with (_serve_tracing(tr, active) if ctx.trace
              else contextlib.nullcontext()):
            with tr.span("index.segments.open") as sp:
                store = SegmentStore(spark, idx)
                store.stats()
            if sp is not None:
                opens.append(sp)
            first = []
            for i, (m, t) in enumerate(queries):
                hits = query(store, "cold", i)
                first.append(hits)
                if hits is not None:
                    why = ref.check_hits(hits, exp["expected"][i])
                    res.check(why is None, f"serve query {t} ({m}): {why}")
            for _ in range(SERVE_WARM_REPLAYS):
                for i, (m, t) in enumerate(queries):
                    hits = query(store, "warm", i)
                    res.check(hits is None or hits == first[i],
                              f"serve query {t}: warm answer != cold answer")
            pool = getattr(store, "_serve_pool", None)
            if pool is not None:
                pool.shutdown(wait=True)

    _rounds(ctx, one)
    res.layers.update({
        "serve_cold_p50_ms": _p(res.op_ms["cold"], 0.50),
        "serve_cold_p95_ms": _p(res.op_ms["cold"], 0.95),
        "serve_warm_p50_ms": _p(res.op_ms["warm"], 0.50),
        "serve_warm_p99_ms": _p(res.op_ms["warm"], 0.99),
    })
    if ctx.trace:
        res.layers.update(_serve_layers(tr, q_spans, opens))
    return res


def _serve_layers(tr, q_spans: dict, opens: list) -> dict:
    kids = tr.children()

    def per_query(phase):
        reads = decodes = postings = lookups = 0
        read_s = decode_s = wall_s = 0.0
        for sp in q_spans[phase]:
            ch = kids.get(sp["id"], [])
            rd = [c for c in ch if c["name"] == "index.segments.read"]
            dc = [c for c in ch if c["name"] == "index.codec.decode"]
            reads += len(rd)
            read_s += union_length((c["start"], c["end"]) for c in rd)
            decodes += len(dc)
            decode_s += sum(span_s(c) for c in dc)
            postings += sum(c["postings"] for c in dc)
            lookups += sp["lookups"]
            wall_s += span_s(sp)
        n = max(1, len(q_spans[phase]))
        return {"reads": reads / n, "read_ms": read_s * 1000 / n,
                "decodes": decodes / n, "decode_ms": decode_s * 1000 / n,
                "postings": postings / n, "lookups": lookups / n,
                "score_ms": (wall_s - read_s - decode_s) * 1000 / n}

    cold, warm = per_query("cold"), per_query("warm")
    return {
        "index.segments.open_ms": statistics.median(
            span_s(s) * 1000 for s in opens),
        "index.segments.reads_per_query": cold["reads"],
        "index.segments.read_ms_per_query": cold["read_ms"],
        "index.codec.decode_calls_per_query": cold["decodes"],
        "index.codec.decode_ms_per_query": cold["decode_ms"],
        "index.codec.postings_decoded_per_query": cold["postings"],
        "search.wand.cache_hit_ratio":
            1.0 - warm["decodes"] / max(1e-9, warm["lookups"]),
        "search.wand.score_ms_per_query": warm["score_ms"],
    }


# ---------------------------------------------------------------------------
# search_spark
# ---------------------------------------------------------------------------

def search_spark(ctx) -> Result:
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.index.segments import (SegmentStore,
                                              build_segments_direct)
    from clucene_spark.queryparser.parser import QueryParser
    from clucene_spark.search.engine import Searcher
    from clucene_spark.search.wand import wand_query_direct

    spark = ctx.start_spark()
    exp = ctx.expected
    docs = spark.read.parquet(exp["docs_dir"])
    index = InvertedIndex(docs, analyzer="standard").cache()
    index.postings.count()
    index.doc_lens.count()
    index.term_dict.count()
    searcher = Searcher(index)
    parser = QueryParser()
    ctx.log("InvertedIndex cached")
    idx = os.path.join(ctx.run_dir, "idx")
    build_segments_direct(spark, exp["docs_dir"], idx, analyzer="standard")
    store = SegmentStore(spark, idx)
    store.stats()
    ctx.log("segment index built")

    res = Result()
    classes = SEARCH_CLASSES + ("wand",)
    spans: dict[str, list] = {c: [] for c in classes}
    tr = ctx.tracer

    def run(cls: str, q, expected: dict, measured: bool):
        if cls == "wand":
            mode, terms = q

            def call():
                with tr.span("wand.direct", spark) as sp:
                    rows = wand_query_direct(store, terms, k=K,
                                             mode=mode).collect()
                return rows, {"op": sp}
        else:
            def call():
                with tr.span("query." + cls, spark) as sp:
                    with tr.span("parse") as p:
                        query = parser.parse(q)
                    with tr.span("topk") as tk:
                        df = searcher.topk(query, K)
                    with tr.span("collect") as co:
                        rows = df.collect()
                if ctx.trace:
                    sp["catalyst_ms"] = catalyst_ms(df)
                return rows, {"op": sp, "parse": p, "topk": tk,
                              "collect": co}

        if measured:
            out = _timed_op(ctx, res, cls, call)
        else:
            out = call()
        if out is None:
            return
        rows, sp = out
        if measured:
            spans[cls].append(sp)
        hits = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        why = ref.check_hits(hits, expected,
                          exact=cls not in ("prefix", "fuzzy"))
        res.check(why is None, f"search {cls} {q!r}: {why}")

    warm = exp["warmup"]
    for i in range(len(warm["queries"]["term"])):  # warm-up: set-up
        for cls in classes:
            run(cls, warm["queries"][cls][i], warm["expected"][cls][i], False)
    ctx.setup_done()

    log = exp["log"]
    n_log = len(log["queries"]["term"])

    def one(n):
        i = n % n_log
        for cls in classes:
            run(cls, log["queries"][cls][i], log["expected"][cls][i], True)

    _rounds(ctx, one)
    for cls in SEARCH_CLASSES:
        res.layers[f"rel_{cls}_p50_ms"] = statistics.median(res.op_ms[cls])
    res.layers["spark_wand_p50_ms"] = statistics.median(res.op_ms["wand"])
    if ctx.trace:
        def ms(sp):
            return span_s(sp) * 1000.0

        for cls in SEARCH_CLASSES:
            res.layers[f"queryparser.parse_ms.{cls}"] = statistics.median(
                ms(s["parse"]) for s in spans[cls])
            res.layers[f"search.engine.topk_call_ms.{cls}"] = \
                statistics.median(ms(s["topk"]) for s in spans[cls])
            res.layers[f"search.engine.collect_ms.{cls}"] = \
                statistics.median(ms(s["collect"]) for s in spans[cls])
            res.layers[f"spark.query.catalyst_ms.{cls}"] = statistics.median(
                s["op"]["catalyst_ms"] for s in spans[cls])

        def fold(log_: EventLog):
            for cls in SEARCH_CLASSES:
                folds = [log_.fold(s["op"]) for s in spans[cls]]
                res.layers[f"spark.query.jobs.{cls}"] = statistics.median(
                    f["jobs"] for f in folds)
                res.layers[f"spark.query.in_job_ms.{cls}"] = \
                    statistics.median(f["in_job_s"] for f in folds) * 1000
                res.layers[f"spark.query.outside_job_ms.{cls}"] = \
                    statistics.median(f["outside_job_s"] for f in folds) * 1000
            folds = [log_.fold(s["op"]) for s in spans["wand"]]
            res.layers["search.wand.direct_jobs"] = statistics.median(
                f["jobs"] for f in folds)
            res.layers["search.wand.direct_in_job_ms"] = statistics.median(
                f["in_job_s"] for f in folds) * 1000
            res.layers["search.wand.direct_outside_job_ms"] = \
                statistics.median(f["outside_job_s"] for f in folds) * 1000
        res.fold = fold
    return res


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------

THRESHOLD = 0.5
MIN_SHINGLES = 64  # the program's default floor: 2 x num_hashes(32)


def curate_dedup(ctx) -> Result:
    from clucene_spark.pipeline.dedup import minhash_lsh_pairs

    spark = ctx.start_spark()
    exp = ctx.expected
    docs = spark.read.parquet(exp["docs_dir"])
    res = Result()
    outputs, pass_spans = [], []

    def one_pass(tag: str):
        with ctx.tracer.op(tag), ctx.tracer.span("dedup", spark) as sp:
            rows = minhash_lsh_pairs(docs, threshold=THRESHOLD).collect()
        return [(int(r["a"]), int(r["b"]), float(r["jaccard"]))
                for r in rows], sp

    for n in range(DEDUP_WARMUP_PASSES):  # warm-up: part of set-up
        outputs.append(one_pass(f"warmup-{n}")[0])
        spark.catalog.clearCache()
    ctx.setup_done()

    def one(n):
        out = _timed_op(ctx, res, "pass", lambda: one_pass(f"pass-{n}"))
        spark.catalog.clearCache()
        if out is not None:
            outputs.append(out[0])
            pass_spans.append(out[1])

    _rounds(ctx, one)
    res.layers["dedup_docs_per_s"] = exp["n_docs"] / (
        statistics.median(res.op_ms["pass"]) / 1000.0)
    _check_dedup(ctx, res, outputs)
    if ctx.trace:
        res.layers["pipeline.dedup.pairs_out"] = float(len(outputs[-1]))

        def fold(log: EventLog):
            folds = [log.fold(sp) for sp in pass_spans]
            for key in ("jobs", "in_job_s", "outside_job_s", "task_cpu_s",
                        "largest_stage_s", "shuffle_write_mb", "spill_mb"):
                res.layers[f"spark.dedup.{key}"] = statistics.median(
                    f[key] for f in folds)
        res.fold = fold
    return res


def _check_dedup(ctx, res: Result, outputs: list) -> None:
    import pyarrow.parquet as pq

    exp = ctx.expected
    tab = pq.read_table(exp["docs_dir"])
    texts = dict(zip(tab["doc_id"].to_pylist(), tab["text"].to_pylist()))
    sets: dict[int, set] = {}

    def sh(d):
        if d not in sets:
            sets[d] = ref.shingles(texts[d])
        return sets[d]

    first = outputs[0]
    for out in outputs[1:]:
        res.check(sorted(out) == sorted(first),
                  "dedup output differs between passes")
    keys = [(min(a, b), max(a, b)) for a, b, _ in first]
    res.check(len(keys) == len(set(keys)), "a pair appears twice")
    for a, b, j in first:
        exact = ref.jaccard(sh(a), sh(b))
        res.check(exact >= THRESHOLD,
                  f"pair ({a}, {b}) exact Jaccard {exact:.4f} < threshold")
        res.check(abs(exact - j) <= 5e-5 + 1e-12,
                  f"pair ({a}, {b}) Jaccard {j} vs exact {exact:.6f}")
    got = set(keys)
    for a, b, j, floor in exp["twins"]:
        if j >= THRESHOLD and floor >= MIN_SHINGLES:
            res.check((min(a, b), max(a, b)) in got,
                      f"planted twin ({a}, {b}) J={j:.3f} not returned")
