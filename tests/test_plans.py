"""Physical-plan quality gates (.explain-driven).

The scale story depends on specific plan shapes, so we pin them:
  * term predicates PUSH DOWN into the parquet scans (postings + docs) —
    the two-level term-dictionary behaviour (row-group pruning stands in
    for the .tii binary search);
  * top-k compiles to TakeOrderedAndProject (per-partition bounded PQ +
    driver merge — the MultiSearcher scatter-gather for free);
  * the fused build plan contains exactly ONE exchange (the segment
    grouping) — no hidden extra shuffles creep in.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from clucene_spark.index.segments import SegmentStore, build_segments_fused

    d = str(tmp_path_factory.mktemp("plan_idx"))
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    build_segments_fused(docs, d, docs_per_segment=128, analyzer="whitespace")
    return SegmentStore(spark, d)


def test_term_filter_pushed_to_postings_scan(store):
    df = store.postings().filter(F.col("term") == "spark").select("term", "df")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(term,spark)" in plan


def test_docs_filter_pushed_and_columns_pruned(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.filter(F.col("lang") == "en").select("doc_id")
    plan = _plan(df)
    assert "EqualTo(lang,en)" in plan
    # column pruning: the scan must not read `text` (the wide column)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema and "text" not in scan_schema[0]


def test_topk_plan_is_take_ordered(spark):
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.engine import Searcher, TermQuery

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s = Searcher(InvertedIndex(docs))
    plan = _plan(s.topk(TermQuery(term="spark"), 10))
    assert "TakeOrderedAndProject" in plan


def test_fused_build_single_exchange(spark):
    """The fused build's lineage has exactly one Exchange (segment
    grouping); tokenize work lives inside the same python stage."""
    from clucene_spark.index.segments import CHECKPOINT_SCHEMA

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = docs.select("doc_id", "text").withColumn(
        "segment_id", F.floor(F.col("doc_id") / 128)
    )
    import pandas as pd

    def nop(key, pdf):
        return pd.DataFrame(
            [{f.name: (0 if f.dataType.typeName() != "string" else "x")
              for f in CHECKPOINT_SCHEMA.fields}]
        )

    out = src.groupBy("segment_id").applyInPandas(nop, CHECKPOINT_SCHEMA)
    plan = _plan(out)
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchanges == 1, plan


def test_direct_build_plan_never_scans_the_corpus(spark, tmp_path):
    """The direct bulk plan moves FILE PATHS, not text: no FileScan of the
    corpus, no parquet columns in ReadSchema, and (since r6) NO exchange
    at all — the path list is pre-sliced into its tasks at parallelize
    time. The corpus bytes enter exactly one process — the python worker
    that tokenizes them."""
    import re

    from clucene_spark.index.segments import build_segments_direct

    src = str(tmp_path / "corpus")
    (spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
     .repartitionByRange(4, "doc_id").write.parquet(src))
    plan = _plan(build_segments_direct(
        spark, src, str(tmp_path / "idx"), analyzer="whitespace",
        _plan_only=True))
    assert "Scan parquet" not in plan, plan      # corpus never JVM-scanned
    assert "text" not in plan, plan              # no text column anywhere
    assert "MapInPandas" in plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchanges == 0, plan                # pre-sliced path list


def test_pii_stats_map_only(spark):
    """PII detect/redact is column-regex math — the plan must contain NO
    exchange (pure map stage over the scan)."""
    from clucene_spark.pipeline.textstats import pii_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pii_stats(docs))
    assert "Exchange" not in plan, plan


def test_mixture_sample_map_only(spark):
    """Domain-mixture resampling is a literal-map rate lookup + hash +
    bounded explode — the plan must contain NO exchange and no Python
    workers (fractional-epoch copies are generated where the data sits)."""
    from clucene_spark.pipeline.sampling import mixture_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(mixture_sample(docs, rates={"src3": 2.5, "src7": 0.25}))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_pack_sequences_no_global_window_single_scan(spark):
    """The packing cumsum must never be a single-partition window: every
    Window in the plan partitions by the range-bucket id, and the text is
    scanned once (both aggregation passes share the range exchange)."""
    from clucene_spark.pipeline.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_sequences(docs, seq_len=512, n_ranges=8))
    assert "Window" in plan
    # formatted explain lists window specs with their partition columns;
    # a global window would show 'windowspecdefinition(' with no partition
    # expr — ours must carry _pid
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in spec, plan
    # the totals pass already materialized the narrow counts frame, so
    # the placement job reads the CACHE (the residual "Scan parquet" lines
    # in the explain are the InMemoryRelation's stored definition, not an
    # executed rescan of the text)
    assert "InMemoryTableScan" in plan, plan


def test_cluster_canonical_no_cartesian(spark):
    """Component labeling joins by doc_id / band keys only — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from clucene_spark.pipeline.graph import cluster_canonical

    docs = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a long, b long"
    )
    plan = _plan(cluster_canonical(docs, pairs))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_window_dedup_flag_join_not_broadcast(spark):
    """Both sides of the window_dedup_stats flag join are corpus-sized
    (~one row per token). The r4 1M-doc audit hit broadcast-build OOM
    (AQE compressed-size estimate) AND a shuffle-hash per-partition
    hash-relation build failure — the join must be SORT-MERGE, the only
    shape that spills on both sides."""
    from clucene_spark.pipeline.dedup import window_dedup_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(window_dedup_stats(docs))
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_ivfpq_adc_scan_prunes_columns_and_partitions(spark, tmp_path_factory):
    """The IVF-PQ ADC stage is the 100-TB read path: its scan must read
    ONLY (vec_id, codes) — the embedding column stays on disk (30.8x more
    bytes at the 1M audit) — and the cluster probe must reach the scan as
    a partition filter."""
    from clucene_spark.data.vectors import vectors_df
    from clucene_spark.pipeline.ann import (
        adc_lut,
        adc_scores,
        ivfpq_write,
        kmeans_train,
        pq_train,
    )

    vecs = vectors_df(spark, 2000, 64)
    cents = kmeans_train(vecs, k=4, n_iter=4, seed=42)
    books = pq_train(vecs, n_sub=8, n_codes=8, n_iter=4, seed=7)
    path = str(tmp_path_factory.mktemp("ivfpq_plan") / "store")
    ivfpq_write(vecs, cents, books, path)

    idx = spark.read.parquet(path).filter(F.col("cluster").isin([0, 1]))
    qv = [0.1] * 64
    plan = _plan(adc_scores(idx, adc_lut(books, qv)))
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "codes" in read_schema and "embedding" not in read_schema, plan
    assert "PartitionFilters" in scan and "cluster" in scan, plan


def test_lm_score_join_not_broadcast(spark):
    """The corpus-derived bigram LM join must stay a shuffled hash join:
    AQE's compressed-size estimate once broadcast it and aborted on
    driver.maxResultSize at 1M docs (BENCH/large_corpus.json)."""
    from clucene_spark.pipeline.textstats import lm_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(lm_score(docs))
    assert "ShuffledHashJoin" in plan, plan


def test_line_dedup_stats_join_sort_merge_and_no_text_explode(spark):
    """line_dedup plan pins. max_docs=1 (default / gate policy): the
    owner-only fast path has NO per-line flag join — the keep sets come
    off two hash-keyed aggregations (r6). max_docs>1: the flag join is
    corpus-sized on both sides (distinct line hashes) -> pinned
    sort-merge, like window_dedup_stats. In both shapes the stats explode
    must carry ONLY hashes: no plan node may generate per-line text rows
    (the rewrite is a map-side lambda over the doc's own split array)."""
    from clucene_spark.pipeline.dedup import line_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "text", F.regexp_replace("text", " ", "\n")
    )
    plan = _plan(line_dedup(docs))
    # owner-only path: the ONLY join left is the doc_id keep-sets
    # attachment; no corpus-lines sort-merge join may appear
    assert "SortMergeJoin" not in plan, plan
    # the only explode is transform(...)->md5 hashes; exploding the raw
    # split() (text lines) into rows would show 'explode(split('
    assert "explode(split(" not in plan.replace(" ", ""), plan

    plan2 = _plan(line_dedup(docs, max_docs=2))
    assert "SortMergeJoin" in plan2, plan2
    assert "explode(split(" not in plan2.replace(" ", ""), plan2


def test_span_dedup_flag_join_sort_merge_and_no_text_explode(spark):
    """span_dedup's flag join is corpus-sized on both sides (stride-1
    window hashes vs one row per distinct hash) -> pinned sort-merge,
    same audited reasoning as window_dedup_stats. The explode carries
    only (pos, hash) structs; window TEXT must never become rows, and
    the rewrite is a map-side lambda over the doc's own split array."""
    from clucene_spark.pipeline.dedup import span_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(span_dedup(docs, w=16))
    assert "SortMergeJoin" in plan, plan
    assert "explode(split(" not in plan.replace(" ", ""), plan


def test_url_dedup_single_shuffle_no_python(spark):
    """url_dedup is one partial-aggregating shuffle of (canon,ts,id)
    triples; canonicalization is pure Catalyst (no Python workers, no
    extra exchange)."""
    from clucene_spark.pipeline.urls import url_dedup

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("https://www.site"), F.col("doc_id") % 5,
                 F.lit(".example/p?b=2&a=1")).alias("url"),
        F.col("doc_id").alias("ts"),
    )
    plan = _plan(url_dedup(pages, ts_col="ts"))
    # one node in the tree (the formatted detail section repeats it)
    assert plan.count("+- Exchange") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_warc_scan_no_exchange_no_corpus_scan(spark, tmp_path):
    """warc_scan distributes PATHS: the path list is pre-sliced into its
    tasks at parallelize time (since r6 — zero exchanges); the crawl
    bytes never enter the JVM (no file scan of the payloads, python
    opens each file)."""
    import re

    from clucene_spark.data.warc import (
        list_warc_paths,
        warc_scan,
        webtext_warc_files,
    )

    webtext_warc_files(spark, 40, str(tmp_path), docs_per_file=20).collect()
    plan = _plan(warc_scan(spark, list_warc_paths(str(tmp_path))))
    assert "Scan parquet" not in plan, plan
    assert "MapInPandas" in plan, plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchanges == 0, plan


def test_robots_filter_broadcasts_rules_never_shuffles_pages(spark):
    """The per-domain parsed-rules side broadcasts; the page table joins
    in place — no exchange of pages, decision via one Arrow kernel."""
    from clucene_spark.pipeline.robots import robots_filter

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(
            F.lit("https://site"), F.col("doc_id") % 5,
            F.lit(".example/cat"), F.col("doc_id") % 3,
            F.lit("/item"), F.col("doc_id"),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [(f"site{i}.example", "User-agent: *\nDisallow: /cat0\n")
         for i in range(5)],
        "domain string, robots_txt string",
    )
    import re

    plan = _plan(robots_filter(pages, robots, keep_denied=True))
    assert "BroadcastHashJoin" in plan, plan
    # the only exchange is the BroadcastExchange of the rules side —
    # zero shuffle exchanges, so the page table never moves
    assert "BroadcastExchange" in plan, plan
    assert not re.findall(r"^\(\d+\) Exchange", plan, flags=re.M), plan


def test_anchor_text_agg_single_shuffle(spark):
    """anchor_text_agg: ONE aggregate shuffle on the canonical target
    URL with map-side partial aggregation (the term explode happens
    below the exchange)."""
    from clucene_spark.pipeline.links import anchor_text_agg

    links = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("https://s"), F.col("doc_id") % 7,
                 F.lit(".example/p"), F.col("doc_id")).alias("src_url"),
        F.concat(F.lit("https://s"), (F.col("doc_id") + 1) % 7,
                 F.lit(".example/p"), F.col("doc_id") % 97).alias("dst_url"),
        F.lit("some anchor words").alias("anchor_text"),
    )
    plan = _plan(anchor_text_agg(links))
    # two-level aggregation: the big exploded-term shuffle keyed
    # (dst, src, domain) + the tiny per-inlink rollup — and NO Expand
    # (a single multi-distinct groupBy would push 3x the exploded rows
    # through the wire)
    assert plan.count("+- Exchange") == 2, plan
    assert "Expand" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_ingest_crawl_single_pass_single_shuffle(spark):
    """ingest_crawl: the whole admission cascade is ONE pass over the
    page table — one source scan, exactly TWO Arrow evals (robots
    decide + masked main-text extraction), blocklist as per-level
    broadcast hash joins (html never in a join key, no SortMergeJoin),
    and exactly ONE shuffle (the latest-wins window)."""
    import re

    from clucene_spark.pipeline.clean import ingest_crawl

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("https://s"), F.col("doc_id") % 7,
                 F.lit(".example/p"), F.col("doc_id") % 97).alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), F.col("text"),
                          F.lit("</p></body></html>")), "utf-8").alias("html"),
    )
    robots = spark.createDataFrame(
        [("s0.example", "User-agent: *\nDisallow: /\n")],
        "domain string, robots_txt string",
    )
    bl = spark.createDataFrame([("s3.example",)], "domain string")
    plan = _plan(ingest_crawl(pages, robots, bl))
    # formatted mode lists each node twice (tree + details); count tree nodes
    assert len(re.findall(r"ArrowEvalPython \(\d+\)", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"[+:]- Exchange \(\d+\)", plan)) == 1, plan
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", plan)) == 1, plan


def test_bm25f_broadcasts_filtered_postings_and_takeordered(spark):
    """BM25F: the query-term filter must reach below the postings
    aggregation (only matching tokens shuffle), dl comes off the posting
    rows (no join against the corpus-sized doc_lens at all), and the top-k
    must be TakeOrderedAndProject — never a global sort."""
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.search.bm25f import bm25f_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    two = docs.select(
        "doc_id", F.array_join(F.slice(toks, 1, 4), " ").alias("title"), "text"
    )
    idx = InvertedIndex(
        two,
        fields=[("text", "text", "whitespace"), ("title", "title", "whitespace")],
    )
    plan = _plan(bm25f_topk(idx, ["spark", "join"]))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan


def test_dsir_broadcast_ratio_join_and_takeordered(spark):
    """DSIR: the <=n_buckets-row log-ratio table joins back BROADCAST
    (the corpus-sized (doc,bucket) side never re-shuffles for it) and
    the Gumbel-top-k is TakeOrderedAndProject."""
    from clucene_spark.pipeline.dsir import dsir_resample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tgt = docs.filter(F.col("source") == "src0")
    plan = _plan(dsir_resample(docs, tgt, k=10, n_buckets=128))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
