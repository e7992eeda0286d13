"""Inverted-index build: docs -> tokens -> postings / doc_lens / term_dict.

The write path restates CLucene's DocumentsWriter invert+flush pipeline
(reference: src/core/CLucene/index/DocumentsWriter.cpp:679-810,
DocumentsWriterThreadState.cpp:778-950) as declarative DataFrame plans:

    docs ──tokenize──> tokens(doc_id, pos, term, dl)
         ──groupBy(term, doc_id)──> postings(term, doc_id, tf, positions, dl)
    postings ──groupBy(doc_id)────> doc_lens(doc_id, dl)
             ──groupBy(term)──────> term_dict(term, df, cf)

The tokenizer knows each document's length ``dl`` (its token count) while
it inverts the document, as CLucene's DocumentsWriter does, so every token
and posting row carries it: a scorer reads dl off the posting row instead
of joining doc_lens per query, and doc_lens / term_dict derive from the
postings, so a cached index runs the analyzer once.

Scale notes (100 TB / 10^12-doc design point):
  * tokenize + partial aggregation are map-side (no shuffle before the
    partial agg; Spark's hash aggregate does map-side combine for
    count/sum, so the shuffle for postings moves one row per (term, doc)
    — already the minimal posting unit).
  * Head terms (stopwords hit ~every doc) skew the groupBy(term) for
    term_dict / collect-style aggregations. ``salted_term_dict`` shows the
    two-level salt+merge pattern; plain count/sum aggs are already safe
    because partial aggregation runs before the shuffle.
  * Never collect_list an unsalted hot term: grouped posting *arrays* are
    built per (term, doc) — bounded by positions within one document —
    and full per-term posting lists only inside the segment writer, which
    groups by (term) AFTER a repartitionByRange(term) so each partition
    holds a contiguous term range (see index/segments.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def tokenize_whitespace(
    docs: DataFrame, text_col: str = "text", doc_id_col: str = "doc_id"
) -> DataFrame:
    """Whitespace tokenizer — JVM-side split+posexplode, whole-stage codegen.

    Equivalent of CLucene's WhitespaceTokenizer
    (reference: src/core/CLucene/analysis/Analyzers.cpp:98-124). The
    driver-provided ``documents`` table is already clean lowercase text, so
    this is the fast path; the StandardAnalyzer DFA (analysis/standard.py)
    is the parity path for raw webtext. Emits (doc_id, pos, term, dl), dl
    being the doc's token count.
    """
    words = F.split(F.col(text_col), " ")
    return (
        docs.select(
            F.col(doc_id_col).alias("doc_id"),
            F.posexplode(words).alias("pos", "term"),
            F.size(F.filter(words, lambda w: w != "")).alias("dl"),
        )
        .filter(F.col("term") != "")
    )


def build_postings(tokens: DataFrame, keys=("term", "doc_id")) -> DataFrame:
    """(term, doc_id, tf, positions, dl) — the exploded posting
    representation; `keys` leads with ``field`` on a multi-field index.

    positions are sorted within (term, doc) as in CLucene's prox stream
    (reference: index/DocumentsWriterThreadState.cpp:987+). The array is
    bounded by one document's length, so no skew hazard. dl is the doc's
    length carried by every one of its tokens — the exact-length analogue
    of CLucene's lossy 1-byte norms
    (reference: index/DocumentsWriterThreadState.cpp:148-158; BM25 needs
    the raw length, the byte codec lives in search/similarity.py). It
    rides the same aggregation, so the postings keep the shuffle layout
    (and row order) of the plain (term, doc_id) aggregate.
    """
    return tokens.groupBy(*keys).agg(
        F.count("*").alias("tf"),
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.max("dl").cast("long").alias("dl"),
    )


def build_postings_noposition(tokens: DataFrame) -> DataFrame:
    """Freq-only postings (the .frq stream without .prx) — cheaper shuffle."""
    return tokens.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))


def build_term_dict(postings: DataFrame, keys=("term",)) -> DataFrame:
    """(term, df, cf) — the term dictionary with docFreq/collectionFreq
    (reference: index/TermInfosWriter.cpp:172-181 stores docFreq per term).
    count/sum aggregate map-side first, so head-term skew only concentrates
    pre-aggregated partials — safe without salting."""
    return postings.groupBy(*keys).agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    )


def salted_term_dict(tokens: DataFrame, n_salts: int = 16) -> DataFrame:
    """Two-level salted aggregation for pathologically hot terms — EXACT.

    The explicit skew pattern the north rule asks for: salt by a hash of
    doc_id, aggregate per (term, salt), then merge the ≤n_salts partials
    per term. Because each doc_id lands in exactly one salt bucket, the
    per-bucket distinct-doc counts are disjoint and their sum is the exact
    df — no reducer ever sees more than 1/n_salts of a stopword-grade
    term's postings. With 10^12 docs this is what keeps the head of the
    Zipf curve from pinning single reducers.
    """
    salted = tokens.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)))
    partial = salted.groupBy("term", "salt").agg(
        F.countDistinct("doc_id").alias("df_part"),
        F.count("*").alias("cf_part"),
    )
    return partial.groupBy("term").agg(
        F.sum("df_part").alias("df"),
        F.sum("cf_part").alias("cf"),
    )


def corpus_stats(doc_lens: DataFrame) -> DataFrame:
    """Single-row (n_docs, avgdl) — the global-statistics pass every
    distributed BM25 needs (reference MultiSearcher computes global df the
    same way: search/MultiSearcher.cpp:72-74)."""
    return doc_lens.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )


def _tokenize_one(docs: DataFrame, text_col: str, doc_id_col: str,
                  analyzer: str) -> DataFrame:
    if analyzer == "standard":
        from clucene_spark.analysis.spark import tokenize_standard

        return tokenize_standard(docs, text_col, doc_id_col).select(
            "doc_id", "pos", "term", "dl"
        )
    if analyzer.startswith("snowball:"):
        from clucene_spark.analysis.spark import tokenize_snowball

        return tokenize_snowball(
            docs, analyzer.split(":", 1)[1], text_col, doc_id_col
        ).select("doc_id", "pos", "term", "dl")
    return tokenize_whitespace(docs, text_col, doc_id_col)


class InvertedIndex:
    """Bundle of the four index DataFrames over one corpus.

    Lazily-evaluated logical plans; call .cache() on the members when a
    query session will reuse them (the analogue of an open IndexReader).

    Single-field by default. Pass ``fields=[(field_name, source_col,
    analyzer), ...]`` for the multi-field model — Term is a (field, text)
    pair (reference index/Term.cpp; dictionary ordered by (field, text) at
    index/TermInfosWriter.cpp:108-140; per-field metadata FieldInfos.cpp;
    per-field analyzer choice = PerFieldAnalyzerWrapper driving the build).
    In that mode every index table carries a `field` column:

        tokens(doc_id, field, pos, term, dl)
        postings(field, term, doc_id, tf, positions, dl)
        doc_lens(doc_id, field, dl)       # per-field lengths -> norms
        term_dict(field, term, df, cf)    # per-field df for fielded idf

    The union of per-field token streams is one scan per source column of
    the same docs DataFrame; Catalyst collapses them into a single pass
    when the plan allows, and the posting aggregation shuffles on
    (field, term, doc_id) — field skew behaves like term skew and gets the
    same salting/AQE treatment.
    """

    def __init__(
        self,
        docs: DataFrame,
        text_col: str = "text",
        doc_id_col: str = "doc_id",
        analyzer: str = "whitespace",
        fields: list[tuple[str, str, str]] | None = None,
    ):
        self.docs = docs
        if fields:
            self.default_field = fields[0][0]
            self.field_names = [f[0] for f in fields]
            parts = []
            for fname, col, an in fields:
                t = _tokenize_one(docs, col, doc_id_col, an)
                parts.append(
                    t.select("doc_id", F.lit(fname).alias("field"), "pos",
                             "term", "dl")
                )
            toks = parts[0]
            for p in parts[1:]:
                toks = toks.unionByName(p)
            self.tokens = toks
            postings = build_postings(toks, ("field", "term", "doc_id"))
            self._keys = ["doc_id", "field"]
        else:
            self.default_field = text_col
            self.field_names = [text_col]
            self.tokens = _tokenize_one(docs, text_col, doc_id_col, analyzer)
            postings = build_postings(self.tokens)
            self._keys = ["doc_id"]
        self._derive(postings)

    def _derive(self, postings: DataFrame) -> None:
        # doc_lens and term_dict read the postings, never the tokens, so
        # a cached index runs the analyzer once
        self.postings = postings
        self.doc_lens = postings.groupBy(*self._keys).agg(
            F.max("dl").alias("dl")
        )
        self.term_dict = build_term_dict(
            postings, self._keys[1:] + ["term"]
        )

    def cache(self) -> "InvertedIndex":
        self._derive(self.postings.cache())
        self.doc_lens = self.doc_lens.cache()
        self.term_dict = self.term_dict.cache()
        return self
