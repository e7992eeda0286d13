"""Query algebra -> DataFrame plans (the IndexSearcher equivalent).

The reference compiles Query -> Weight -> Scorer, where every scorer is a
docID-sorted iterator and composites are merge-joins over docID streams
(reference: src/core/CLucene/search/Scorer.h, BooleanScorer2.cpp:447-530,
ConjunctionScorer.cpp, PhraseScorer.cpp). The Spark restatement:

  TermQuery            -> postings.filter(term = t)                  (leaf scan)
  Boolean SHOULD       -> union of child (doc_id, score) + groupBy sum
  Boolean MUST         -> same union, HAVING matched == n_must        (n-way equi-join)
  Boolean MUST_NOT     -> left_anti join                              (anti-join)
  minNrShouldMatch     -> HAVING should_matched >= m                  (BooleanQuery.cpp:61)
  coord(overlap,max)   -> matched/max multiplier (Similarity.cpp:231-235)
  PhraseQuery          -> n-way join on doc_id + shifted position-array intersect
                          (ExactPhraseScorer.cpp alignment semantics)
  Prefix/Wildcard/Range -> predicate on the term column of term_dict —
                          Catalyst pushes it to the scan; no 1024-clause
                          expansion needed (PrefixQuery.cpp:88-160,
                          MultiTermQuery.cpp:52-80)
  FuzzyQuery           -> prefix-pruned dictionary scan + suffix
                          levenshtein, best-1024 expansion with the
                          (sim-minSim)/(1-minSim) rewrite boost
                          (FuzzyQuery.cpp:42-230,377-425)
  top-k                -> ORDER BY score DESC, doc_id ASC LIMIT k
                          (tiebreak per HitQueue.cpp:100-105)

One shuffle per boolean level (union + groupBy) instead of a chain of
binary joins — the plan that survives 1000 executors. Global statistics
live on the driver: n_docs/avgdl are collected when the Searcher opens
and per-term df comes from a term-dictionary snapshot loaded on first use
(the RAM term index of TermInfosReader.cpp:28-180), so a query's plan is
its only Spark work.
"""

from __future__ import annotations

import re
import threading
from bisect import bisect_left
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from clucene_spark.index.build import InvertedIndex
from clucene_spark.search import similarity as sim


# ---------------------------------------------------------------------------
# Query AST (the logical plan of this engine)
# ---------------------------------------------------------------------------

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"


@dataclass
class Query:
    boost: float = 1.0


def _fpfx(f: Optional[str]) -> str:
    return f"{f}:" if f else ""


@dataclass
class TermQuery(Query):
    """Term = (field, text) pair like the reference's interned Term
    (reference index/Term.cpp; ordering by (field, text) at
    index/TermInfosWriter.cpp:108-140). field=None resolves to the
    searcher's default field."""
    term: str = ""
    field: Optional[str] = None

    def __str__(self) -> str:
        return _boosted(_fpfx(self.field) + self.term, self.boost)


@dataclass
class PhraseQuery(Query):
    terms: list = field(default_factory=list)
    slop: int = 0
    field: Optional[str] = None

    def __str__(self) -> str:
        s = _fpfx(self.field) + '"' + " ".join(self.terms) + '"'
        if self.slop:
            s += f"~{self.slop}"
        return _boosted(s, self.boost)


@dataclass
class PrefixQuery(Query):
    prefix: str = ""
    field: Optional[str] = None

    def __str__(self) -> str:
        return _boosted(_fpfx(self.field) + self.prefix + "*", self.boost)


@dataclass
class WildcardQuery(Query):
    pattern: str = ""  # glob with * and ?
    field: Optional[str] = None

    def __str__(self) -> str:
        return _boosted(_fpfx(self.field) + self.pattern, self.boost)


@dataclass
class FuzzyQuery(Query):
    term: str = ""
    min_similarity: float = 0.5  # reference default queryParser/QueryParser.h:123
    prefix_length: int = 0       # reference FuzzyQuery.h prefixLength
    field: Optional[str] = None

    def __str__(self) -> str:
        return _boosted(f"{_fpfx(self.field)}{self.term}~{self.min_similarity:g}",
                        self.boost)


@dataclass
class RangeQuery(Query):
    lower: Optional[str] = None
    upper: Optional[str] = None
    inclusive: bool = True
    field: Optional[str] = None
    # per-bound overrides — the reference RangeFilter/ConstantScoreRange
    # grid takes includeLower/includeUpper SEPARATELY (RangeFilter.cpp
    # constructor); None falls back to `inclusive` for the symmetric form
    include_lower: Optional[bool] = None
    include_upper: Optional[bool] = None

    @property
    def inc_lower(self) -> bool:
        return self.inclusive if self.include_lower is None else self.include_lower

    @property
    def inc_upper(self) -> bool:
        return self.inclusive if self.include_upper is None else self.include_upper

    def __str__(self) -> str:
        o = "[" if self.inc_lower else "{"
        c = "]" if self.inc_upper else "}"
        return _boosted(
            f"{_fpfx(self.field)}{o}{self.lower or '*'} TO {self.upper or '*'}{c}",
            self.boost,
        )


@dataclass
class ConstantScoreRangeQuery(RangeQuery):
    """Every doc containing ANY dictionary term in the range scores a
    CONSTANT boost — no tf/idf, no per-term clause expansion (reference
    search/ConstantScoreQuery.h:79-120; since Lucene 2.x this is the
    QueryParser's DEFAULT range form, `useOldRangeQuery=false`,
    QueryParser.cpp:465-481). The scored old-form RangeQuery remains
    available via `use_old_range_query=True`."""


@dataclass
class MultiPhraseQuery(Query):
    """Phrase with term ALTERNATIVES per slot (reference
    search/MultiPhraseQuery.cpp, MultipleTermPositions.cpp: per-slot
    posting lists are PQ-unioned before the position check). slots is a
    list of term lists; a doc matches when some position p has, for every
    slot i, (p + i) among that slot's union of positions. slop > 0 runs
    the SloppyPhraseScorer walk over the unioned per-slot positions
    (MultiPhraseQuery.cpp:99-105)."""
    slots: list = field(default_factory=list)
    field: Optional[str] = None
    slop: int = 0

    def __str__(self) -> str:
        body = " ".join(
            s[0] if len(s) == 1 else "(" + "|".join(s) + ")" for s in self.slots
        )
        return _boosted(f'"{body}"', self.boost)


@dataclass
class SpanScoreQuery(Query):
    """A span query promoted to a scorable top-level Query — in the
    reference SpanQuery *extends* Query (spans/SpanQuery.h), so span
    clauses slot into BooleanQuery and two-pass weight normalization like
    any other leaf. Weight semantics follow SpanWeight
    (spans/SpanWeight.cpp:21-60): idf = Σ idf(term) over the extracted
    DISTINCT terms (extractTerms fills a TermSet), sumOfSquaredWeights =
    (idf·boost)², value = queryWeight·idf; the scorer folds
    sloppyFreq(raw span width) per doc (spans/SpanScorer.cpp:70-75).
    Pinned by the TestSpansAdvanced / TestSpansAdvanced2 golden scores
    (e.g. two duplicate MUST span clauses on the 4-doc fixture score
    exactly 0.3884282, TestSpansAdvanced.cpp:71-93)."""
    span: Optional[object] = None  # clucene_spark.search.spans.SpanQuery
    field: Optional[str] = None

    def __str__(self) -> str:
        return _boosted(f"spanScore({self.span})", self.boost)


@dataclass
class MatchAllQuery(Query):
    def __str__(self) -> str:
        return _boosted("*:*", self.boost)


@dataclass
class KeywordQuery(Query):
    """Fielded term over an UNTOKENIZED docs-table column (the
    INDEX_UNTOKENIZED / KeywordAnalyzer field model, Field.h:53-82): the
    whole value is one term, matched by equality on the column. Scores a
    constant `boost` per match (documented simplification: keyword fields
    carry filter semantics, not tf/idf)."""
    field: str = ""
    value: str = ""

    def __str__(self) -> str:
        return _boosted(f"{self.field}:{self.value}", self.boost)


@dataclass
class ConstantScoreQuery(Query):
    """Uniform score = boost for every doc matching a docs-table predicate —
    the ConstantScoreRangeQuery pattern (reference
    search/ConstantScoreQuery.cpp:24-120): a filter promoted to a query so
    multi-term expansion never blows the clause limit."""
    predicate: Optional[object] = None  # pyspark Column over the docs table


@dataclass
class FilteredQuery(Query):
    """query ∧ docs-subset filter (reference Filter/RangeFilter/QueryFilter,
    search/RangeFilter.cpp:66-140, applied as a bitset AND during collection
    IndexSearcher.cpp:90-106). The filter is a predicate over docs-table
    columns; scores come from the wrapped query only — in Spark this is a
    left-semi join against the filtered doc set."""
    query: Optional[Query] = None
    predicate: Optional[object] = None


@dataclass
class QueryFilter:
    """Filter drawn from another query's matched-doc set (reference
    search/QueryFilter.cpp): membership only — the wrapped query's scores
    are discarded, like the reference's bits() hit collection."""
    query: Optional[Query] = None


@dataclass
class SpanQueryFilter:
    """Filter from a span query's matching docs (reference
    search/SpanQueryFilter.cpp:30-55: bits set per span hit doc).
    `field` routes the span stream on a multi-field index (defaults to
    the index's default field, like an unfielded query string)."""
    span: Optional[object] = None
    field: Optional[str] = None


@dataclass
class CachingWrapperFilter:
    """Caches the wrapped filter's resolved doc-id set (reference
    search/CachingWrapperFilter.cpp: per-reader bitset cache). The
    reference keys its cache by IndexReader; a Searcher here wraps one
    index, so one cached DataFrame per filter instance is the same scope.
    Spark mapping: resolve once, `.cache()`, reuse across queries —
    subsequent FilteredQuery plans read the in-memory doc-id relation
    instead of recomputing the sub-filter."""
    flt: Optional[object] = None
    _cached: Optional[DataFrame] = field(default=None, repr=False, compare=False)


def date_filter(start, end, resolution: str = "second", column: str = "date"):
    """Column predicate matching docs whose DateTools-encoded `column`
    falls in [start, end] at `resolution` (reference search/DateFilter.cpp
    term-range over DateField encodings; DateTools variant). Compose it
    into FilteredQuery / ChainedFilter like any column predicate."""
    from clucene_spark.document.tools import date_to_string

    lo = date_to_string(start, resolution)
    hi = date_to_string(end, resolution)
    return (F.col(column) >= lo) & (F.col(column) <= hi)


def date_field_before(time: int, column: str = "datefield"):
    """DateFilter::Before over the LEGACY DateField encoding (reference
    search/DateFilter.cpp Before = term range [MIN_DATE_STRING,
    timeToString(time)]): docs whose encoded `column` is <= time."""
    from clucene_spark.document.tools import MIN_DATE_STRING, time_to_string

    hi = time_to_string(time)
    return (F.col(column) >= MIN_DATE_STRING) & (F.col(column) <= hi)


def date_field_after(time: int, column: str = "datefield"):
    """DateFilter::After (term range [timeToString(time), MAX_DATE_STRING])."""
    from clucene_spark.document.tools import MAX_DATE_STRING, time_to_string

    lo = time_to_string(time)
    return (F.col(column) >= lo) & (F.col(column) <= MAX_DATE_STRING)


@dataclass
class ChainedFilter:
    """Bitset combinator over sub-filters (reference
    search/ChainedFilter.h:50-57, .cpp:219): the first filter seeds the
    set, each op in ("AND","OR","ANDNOT","XOR") folds in the next.
    Sub-filters are column predicates, QueryFilter, SpanQueryFilter, or
    nested ChainedFilter. In Spark the bitset algebra becomes doc-id set
    algebra: semi-join / union-distinct / anti-join / symmetric anti."""
    filters: list = field(default_factory=list)
    ops: list = field(default_factory=list)  # len(filters) - 1


@dataclass
class BooleanClause:
    query: Query = None
    occur: str = SHOULD


@dataclass
class BooleanQuery(Query):
    clauses: list = field(default_factory=list)
    min_should_match: int = 0
    # BooleanWeight disableCoord (reference BooleanQuery.cpp ctor arg,
    # getBooleanQuery(clauses, true)): multi-term rewrites and
    # MultiFieldQueryParser expansion groups score as a plain sum — no
    # overlap/maxOverlap multiplier even under classic similarity
    coord_disabled: bool = False

    def add(self, query: Query, occur: str = SHOULD) -> "BooleanQuery":
        self.clauses.append(BooleanClause(query, occur))
        return self

    def __str__(self) -> str:
        parts = []
        for c in self.clauses:
            prefix = {MUST: "+", MUST_NOT: "-", SHOULD: ""}[c.occur]
            inner = str(c.query)
            if isinstance(c.query, BooleanQuery):
                inner = f"({inner})"
            parts.append(prefix + inner)
        body = " ".join(parts)
        if self.boost != 1.0:
            body = f"({body})"  # "(germ term)^2.0" canonical form
        return _boosted(body, self.boost)


def _boosted(s: str, boost: float) -> str:
    return s if boost == 1.0 else f"{s}^{boost:g}"


def _shift(offset: int):
    """1-arg lambda for F.transform (a 2-arg lambda would bind arg2 to the
    ARRAY INDEX, silently corrupting position math)."""
    return lambda x: x - F.lit(offset)


def _wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


# ---------------------------------------------------------------------------
# Searcher
# ---------------------------------------------------------------------------

class _TermStats:
    """Driver-side docFreq lookup over the whole term dictionary: per
    field, the terms sorted in code-point order (an Arrow string array)
    and their df (an int64 array), searched by bisection. An absent term
    has df 0."""

    def __init__(self, table):
        import pyarrow.compute as pc

        self._by_field: dict[Optional[str], tuple] = {}
        if "field" not in table.column_names:
            self._by_field[None] = self._arrays(table)
            return
        fields = table.column("field")
        for f in pc.unique(fields).to_pylist():
            self._by_field[f] = self._arrays(table.filter(pc.equal(fields, f)))

    @staticmethod
    def _arrays(table) -> tuple:
        table = table.sort_by("term")
        return (table.column("term").combine_chunks(),
                table.column("df").to_numpy())

    def df(self, field: Optional[str], term: str) -> int:
        arrays = self._by_field.get(field)
        if arrays is None:
            return 0
        terms, dfs = arrays
        i = bisect_left(terms, term, key=lambda v: v.as_py())
        if i < len(terms) and terms[i].as_py() == term:
            return int(dfs[i])
        return 0


class Searcher:
    """Compiles Query ASTs to (doc_id, score) DataFrames over an InvertedIndex.

    similarity: "bm25" (k1=1.2, b=0.75) or "classic" (reference
    DefaultSimilarity with exact 1/sqrt(dl) norms; byte-norm parity mode
    via norm_bytes=True replicates the lossy codec).

    Statistics: n_docs and avgdl (per field when fielded) are collected
    from ``index.doc_lens`` when the Searcher opens; per-term df comes
    from a snapshot of the whole ``index.term_dict`` loaded by one Arrow
    collect on first use (``doc_freqs``); dl is read off each posting row.
    idf stays Python ``math.log`` on the driver (Spark's ``ln`` differs in
    the last bit for some df values). A warm query therefore runs only
    its scoring plan.
    """

    def __init__(self, index: InvertedIndex, similarity: str = "bm25",
                 norm_bytes: bool = False):
        self.index = index
        self.similarity = similarity
        self.norm_bytes = norm_bytes
        # multi-field mode (Term = (field, text), per-field FieldInfos —
        # reference index/Term.cpp, index/FieldInfos.cpp): postings carry a
        # `field` column, dl/avgdl are per field, n_docs stays global like
        # the reference's maxDoc in idf
        self.fielded = "field" in index.postings.columns
        self.default_field = getattr(index, "default_field", "text")
        if self.fielded:
            rows = index.doc_lens.groupBy("field").agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).collect()
            self._field_stats = {
                r["field"]: (int(r["n"]), float(r["avgdl"] or 1.0)) for r in rows
            }
            self.n_docs = int(index.doc_lens.select("doc_id").distinct().count())
            self.avgdl = self._field_stats.get(self.default_field, (0, 1.0))[1]
        else:
            row = index.doc_lens.agg(
                F.count("*").alias("n"), F.avg("dl").alias("avgdl")
            ).collect()[0]
            self.n_docs = int(row["n"])
            self.avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 1.0
        self._term_stats: Optional[_TermStats] = None
        self._term_stats_lock = threading.Lock()

    # -- field plumbing -------------------------------------------------------

    def _f(self, field: Optional[str]) -> str:
        return field or self.default_field

    def _avgdl(self, field: Optional[str]) -> float:
        if not self.fielded:
            return self.avgdl
        return self._field_stats.get(self._f(field), (0, 1.0))[1]

    def _postings(self, field: Optional[str]) -> DataFrame:
        if not self.fielded:
            return self.index.postings
        return self.index.postings.filter(
            F.col("field") == self._f(field)
        ).drop("field")

    def _doclens(self, field: Optional[str]) -> DataFrame:
        """(doc_id, dl) for a stream that does not start from posting rows
        (span scoring); posting-row scorers read `dl` off the row."""
        if not self.fielded:
            return self.index.doc_lens
        return self.index.doc_lens.filter(
            F.col("field") == self._f(field)
        ).drop("field")

    def _tdict(self, field: Optional[str]) -> DataFrame:
        if not self.fielded:
            return self.index.term_dict
        return self.index.term_dict.filter(
            F.col("field") == self._f(field)
        ).drop("field")

    def _lnorm(self, df: DataFrame) -> tuple[DataFrame, "F.Column"]:
        """Length-norm column for classic scoring. Exact 1/sqrt(dl) by
        default; norm_bytes=True round-trips the reference's lossy 8-bit
        codec (Similarity.cpp:99-160) — ranks diverge from the reference
        unless the norm is quantized identically. The codec is a pure
        function of dl, expressed as a closed-form Catalyst column
        (sim.lnorm_column): zero Spark jobs for norm setup, no broadcast
        join (the r1-r4 implementation collected distinct dls into a
        broadcast map — a corpus job the expression form doesn't need)."""
        if not self.norm_bytes:
            return df, 1.0 / F.sqrt(F.col("dl"))
        return df, sim.lnorm_column(F.col("dl"))

    # -- statistics ---------------------------------------------------------

    def doc_freqs(self, terms: list, field: Optional[str] = None) -> dict:
        """Per-term docFreq — the stats pass of weight creation
        (reference: search/TermQuery.cpp:114-118 pulls docFreq/maxDoc), as
        a driver lookup in the term-dictionary snapshot: no Spark job once
        the snapshot is loaded, 0 for an absent term. Accepts plain term
        strings (resolved against `field`/default field) or (field, term)
        tuples; the returned dict is keyed by whatever was passed in."""
        if not terms:
            return {}
        stats = self._stats()
        out = {}
        for k in terms:
            f, t = (k[0], k[1]) if isinstance(k, tuple) else (field, k)
            out[k] = stats.df(self._f(f) if self.fielded else None, t)
        return out

    def _stats(self) -> _TermStats:
        if self._term_stats is None:
            with self._term_stats_lock:
                if self._term_stats is None:
                    self._term_stats = self._load_term_stats()
        return self._term_stats

    def _load_term_stats(self) -> _TermStats:
        """The whole dictionary in one Arrow collect (term_dict is cached
        with the index, and holds one row per distinct (field, term))."""
        cols = (["field"] if self.fielded else []) + ["term", "df"]
        return _TermStats(self.index.term_dict.select(*cols).toArrow())

    def _idf(self, df: int) -> float:
        if self.similarity == "bm25":
            return sim.bm25_idf_py(df, self.n_docs)
        return sim.classic_idf_py(df, self.n_docs)

    # -- leaf scorers ---------------------------------------------------------

    def _score_term_postings(self, postings: DataFrame, idf: float, boost: float,
                             query_norm: float = 1.0,
                             field: Optional[str] = None) -> DataFrame:
        """postings(term-filtered): (doc_id, tf, dl) -> (doc_id, score)."""
        p = postings
        if self.similarity == "bm25":
            score = (
                F.lit(idf)
                * sim.bm25_tf(F.col("tf"), F.col("dl"), F.lit(self._avgdl(field)))
                * F.lit(boost)
            )
        else:
            p, lnorm = self._lnorm(p)
            score = (
                sim.classic_tf(F.col("tf"))
                * F.lit(idf * idf * boost * query_norm)
                * lnorm
            )
        return p.select("doc_id", score.alias("score"))

    def _expand_terms(self, query: Query) -> DataFrame:
        """Multi-term queries -> DataFrame of (term, df, idf_boost) matches.

        The reference expands against the term enum and caps at 1024
        clauses (BooleanQuery.cpp:147-149); a term-column predicate has no
        such cap and Catalyst pushes it into the dictionary scan."""
        td = self._tdict(getattr(query, "field", None))
        if isinstance(query, PrefixQuery):
            return td.filter(F.col("term").startswith(query.prefix))
        if isinstance(query, WildcardQuery):
            return td.filter(F.col("term").rlike(_wildcard_to_regex(query.pattern)))
        if isinstance(query, RangeQuery):
            from clucene_spark.index.utf16 import needs_utf16, utf16_key

            # term ranges compare in UTF-16 code-unit order like the
            # reference's term enum walk (Term.cpp compareTo over TCHARs).
            # Only switch to the encoded key when a bound actually reaches
            # the divergent region (char >= U+E000) — the plain string
            # predicate pushes down to the dictionary scan, encode() does
            # not, and the two orders agree everywhere below U+E000.
            if needs_utf16(query.lower) or needs_utf16(query.upper):
                c = F.encode(F.col("term"), "UTF-16BE")
                lo = F.lit(utf16_key(query.lower)) if query.lower is not None else None
                hi = F.lit(utf16_key(query.upper)) if query.upper is not None else None
            else:
                c, lo, hi = F.col("term"), query.lower, query.upper
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (c >= lo if query.inc_lower else c > lo)
            if hi is not None:
                cond = cond & (c <= hi if query.inc_upper else c < hi)
            return td.filter(cond)
        raise TypeError(f"not a multi-term query: {query}")

    def _score_multiterm(self, query: Query) -> DataFrame:
        """Expand to matching terms, score as a SHOULD-of-terms (the
        MultiTermQuery::rewrite -> BooleanQuery pattern, scored with
        constant idf=1 per expanded term like ConstantScore mode to avoid a
        driver-side stats pass over an unbounded expansion)."""
        qf = getattr(query, "field", None)
        matches = self._expand_terms(query).select("term", "df")
        p = self._postings(qf).join(F.broadcast(matches), "term")
        if self.similarity == "bm25":
            per_term = sim.bm25_score(
                F.col("tf"), F.col("df"), F.col("dl"),
                F.lit(float(self.n_docs)), F.lit(self._avgdl(qf)),
            )
        else:
            idf = sim.classic_idf(F.col("df"), F.lit(float(self.n_docs)))
            p, lnorm = self._lnorm(p)  # honor norm_bytes parity mode
            per_term = sim.classic_tf(F.col("tf")) * idf * idf * lnorm
        per_term = per_term * F.lit(query.boost)
        return p.groupBy("doc_id").agg(F.sum(per_term).alias("score"))

    MAX_CLAUSE_COUNT = 1024  # reference search/BooleanQuery.cpp:147-149

    def _fuzzy_matches(self, query: FuzzyQuery) -> DataFrame:
        """(term, df, rw_boost) expansion set, reference-faithful
        (FuzzyTermEnum, search/FuzzyQuery.cpp:42-230,377-425):

          * candidates must share the first prefixLength chars (pushed to
            the dictionary scan as a startswith predicate);
          * sim = 1 - lev(suffix_a, suffix_b) / (prefixLength + min(|a|,|b|))
            over the POST-prefix suffixes, with the reference's n==0/m==0
            edge rules (FuzzyQuery.cpp:143-152,225-227);
          * keep only sim > minSimilarity (strict), cap the expansion at the
            best maxClauseCount=1024 by rewrite score (ScoreTermQueue);
          * rw_boost = (sim - minSim) / (1 - minSim) — the difference()
            scale_factor each expanded TermQuery is boosted by.
        """
        t = query.term
        plen = min(int(query.prefix_length), len(t))
        pre, suf = t[:plen], t[plen:]
        n = len(suf)
        td = self._tdict(query.field).select("term", "df")
        if plen:
            td = td.filter(F.col("term").startswith(pre))
        suffix_col = F.expr(f"substring(term, {plen + 1})")
        m = F.length(suffix_col).cast("double")
        if n == 0:
            sim_col = F.when(
                F.lit(plen) > 0, F.lit(1.0) - m / F.lit(float(max(plen, 1)))
            ).otherwise(F.lit(0.0))
        else:
            dist = F.levenshtein(suffix_col, F.lit(suf)).cast("double")
            general = F.lit(1.0) - dist / (
                F.lit(float(plen)) + F.least(F.lit(float(n)), m)
            )
            m0 = (
                F.lit(1.0 - n / plen) if plen > 0 else F.lit(0.0)
            )
            sim_col = F.when(m == 0, m0).otherwise(general)
        scale = 1.0 / (1.0 - query.min_similarity)
        matched = td.select(
            "term", "df", sim_col.alias("sim")
        ).filter(F.col("sim") > query.min_similarity)
        rw = ((F.col("sim") - query.min_similarity) * scale).alias("rw_boost")
        return (
            matched.select("term", "df", rw)
            .orderBy(F.col("rw_boost").desc(), F.col("term").asc())
            .limit(self.MAX_CLAUSE_COUNT)
        )

    def topk_collapse(
        self,
        query: Query,
        collapse_field: str,
        k: int = 10,
        round_to: int | None = None,
    ) -> DataFrame:
        """Field collapsing (the grouping/diversification feature of the
        Lucene lineage): relevance top-k with AT MOST ONE hit per
        `collapse_field` value — each group is represented by its best
        (score DESC, doc_id ASC) member, then representatives rank by the
        same order. Returns (doc_id, <collapse_field>, score).

        Scale shape: scoring is unchanged; the collapse is ONE
        partial-aggregating shuffle on the collapse key (max-struct per
        group — never a per-group window sort of the full hit list), and
        the final top-k over one-row-per-group compiles to
        TakeOrderedAndProject."""
        qn = self.query_norm_for(query)
        scores = self.score(query, qn)
        if round_to is not None:
            scores = scores.select(
                "doc_id", F.round(F.col("score"), round_to).alias("score")
            )
        labeled = scores.join(
            self.index.docs.select("doc_id", collapse_field), "doc_id"
        )
        best = (
            labeled.groupBy(collapse_field)
            .agg(
                F.max(
                    F.struct(
                        F.col("score").alias("s"),
                        (-F.col("doc_id")).alias("nd"),
                    )
                ).alias("w")
            )
            .select(
                (-F.col("w.nd")).alias("doc_id"),
                collapse_field,
                F.col("w.s").alias("score"),
            )
        )
        return best.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)

    def suggest(
        self,
        term: str,
        k: int = 5,
        field: Optional[str] = None,
        prefix_length: int = 1,
        min_similarity: float = 0.5,
        round_to: int = 4,
    ) -> DataFrame:
        """Did-you-mean term suggestions from the term dictionary:
        candidates inside the FuzzyTermEnum similarity cutoff
        (_fuzzy_matches — the reference-faithful suffix-Levenshtein sim,
        FuzzyQuery.cpp:143-152,225-227), ranked by (sim DESC, df DESC,
        term ASC) so more-frequent corpus terms win similarity ties —
        the classic corpus-as-its-own-dictionary spellchecker policy.
        The input term itself is excluded. Returns (term, df, sim).

        Scale shape: the prefixLength predicate pushes into the
        term-dictionary scan (same pushdown as PrefixQuery), sim is one
        JVM levenshtein per surviving dict row, and top-k compiles to
        TakeOrderedAndProject — no shuffle, no Python."""
        q = FuzzyQuery(term=term, min_similarity=min_similarity,
                       prefix_length=prefix_length, field=field)
        cands = self._fuzzy_matches(q).filter(F.col("term") != term)
        sim_full = F.round(
            F.col("rw_boost") * F.lit(1.0 - min_similarity)
            + F.lit(min_similarity), round_to,
        )
        return (
            cands.select("term", "df", sim_full.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("df").desc(),
                     F.col("term").asc())
            .limit(k)
        )

    def _score_fuzzy(self, query: FuzzyQuery) -> DataFrame:
        """rewrite -> BooleanQuery(SHOULD, coord disabled) of boosted
        TermQueries (FuzzyQuery::rewrite, FuzzyQuery.cpp:377-425): every
        expanded term scores with its own tf/idf times rw_boost."""
        qf = query.field
        matches = self._fuzzy_matches(query)
        p = self._postings(qf).join(F.broadcast(matches), "term")
        if self.similarity == "bm25":
            per_term = sim.bm25_score(
                F.col("tf"), F.col("df"), F.col("dl"),
                F.lit(float(self.n_docs)), F.lit(self._avgdl(qf)),
            )
        else:
            idf = sim.classic_idf(F.col("df"), F.lit(float(self.n_docs)))
            p, lnorm = self._lnorm(p)  # honor norm_bytes parity mode
            per_term = (
                sim.classic_tf(F.col("tf")) * idf * idf * lnorm
            )
        per_term = per_term * F.col("rw_boost") * F.lit(query.boost)
        return p.groupBy("doc_id").agg(F.sum(per_term).alias("score"))

    def _score_phrase(self, query: PhraseQuery, query_norm: float = 1.0) -> DataFrame:
        """Exact/sloppy phrase via position-array joins.

        Exact (slop=0): doc matches if positions align adjacently; phrase
        freq = #alignments (ExactPhraseScorer.cpp:34+). Expressed as an
        n-way inner join on doc_id with shifted array_intersect — the
        candidate intersection happens first (cheap join on doc_id),
        position check is column math.
        Sloppy: the reference-faithful PhrasePositions window walk
        (SloppyPhraseScorer.cpp:35-171 incl. the repeated-query-term
        handling; payoff 1/(matchLength+1), Similarity.cpp:223-225) run
        per doc over the joined position arrays through an Arrow-batched
        pandas UDF — see clucene_spark/search/sloppy.py.
        """
        pf = self._phrase_freqs(query)
        if pf is None:
            return self._empty_scores()
        scored, idf_sum = pf
        if self.similarity == "bm25":
            score = (
                F.lit(idf_sum)
                * sim.bm25_tf(F.col("pfreq"), F.col("dl"),
                              F.lit(self._avgdl(query.field)))
                * F.lit(query.boost)
            )
        else:
            scored, lnorm = self._lnorm(scored)
            score = (
                F.sqrt(F.col("pfreq"))
                * F.lit(idf_sum * idf_sum * query.boost * query_norm)
                * lnorm
            )
        return scored.select("doc_id", score.alias("score"))

    def _phrase_freqs(self, query: PhraseQuery):
        """(doc_id, pfreq, dl) relation + Σidf for a phrase — the freq half of
        PhraseWeight (reference PhraseQuery.cpp:200+ builds the scorer,
        379+ explains it; both consume the same phraseFreq). Returns None
        when any phrase term is absent (reference: no scorer)."""
        terms = query.terms
        dfs = self.doc_freqs(terms, field=query.field)
        if any(dfs[t] == 0 for t in terms):
            return None
        parts = []
        for i, t in enumerate(terms):
            p = (
                self._postings(query.field).filter(F.col("term") == t)
                .select("doc_id", *(["dl"] if i == 0 else []),
                        F.col("positions").alias(f"pos{i}"))
            )
            parts.append(p)
        joined = parts[0]
        for p in parts[1:]:
            joined = joined.join(p, "doc_id")
        if query.slop == 0:
            # positions of term i shifted back by i must all intersect
            aligned = F.col("pos0")
            for i in range(1, len(terms)):
                aligned = F.array_intersect(
                    aligned, F.transform(F.col(f"pos{i}"), _shift(i))
                )
            freq = F.size(aligned)
        else:
            # the faithful SloppyPhraseScorer walk, vectorized over docs
            # (Arrow batches); the per-doc kernel is pure Python but the
            # position lists are phrase-term occurrences only — tiny rows
            import pandas as pd  # noqa: F401 (pandas_udf runtime dep)

            from clucene_spark.search.sloppy import (
                repeat_groups,
                sloppy_phrase_freq,
            )

            slop = query.slop
            marks = repeat_groups(terms)

            @F.pandas_udf("double")
            def _sloppy_pf(arrs):
                return arrs.map(
                    lambda ls: sloppy_phrase_freq(list(ls), slop, marks)
                )

            freq = _sloppy_pf(
                F.array(*[F.col(f"pos{i}") for i in range(len(terms))])
            )
        idf_sum = sum(self._idf(dfs[t]) for t in terms)
        scored = joined.withColumn("pfreq", freq).filter(F.col("pfreq") > 0)
        return scored.select("doc_id", "pfreq", "dl"), idf_sum

    def _score_multi_phrase(self, query: MultiPhraseQuery,
                            query_norm: float = 1.0) -> DataFrame:
        """Union each slot's alternatives' positions per doc, then the same
        shifted-intersection alignment as the exact phrase. idf sums over
        ALL terms in all slots (MultiPhraseWeight's sumOfSquaredWeights)."""
        all_terms = [t for slot in query.slots for t in slot]
        dfs = self.doc_freqs(all_terms, field=query.field)
        slot_dfs = []
        for i, slot in enumerate(query.slots):
            if all(dfs[t] == 0 for t in slot):
                return self._empty_scores()
            p = (
                self._postings(query.field).filter(F.col("term").isin(slot))
                .select("doc_id", "dl", F.explode("positions").alias("p"))
                .groupBy("doc_id")
                .agg(*([F.max("dl").alias("dl")] if i == 0 else []),
                     F.sort_array(F.collect_set("p")).alias(f"pos{i}"))
            )
            slot_dfs.append(p)
        joined = slot_dfs[0]
        for p in slot_dfs[1:]:
            joined = joined.join(p, "doc_id")
        if query.slop == 0:
            aligned = F.col("pos0")
            for i in range(1, len(query.slots)):
                aligned = F.array_intersect(
                    aligned, F.transform(F.col(f"pos{i}"), _shift(i))
                )
            pfreq = F.size(aligned).cast("double")
        else:
            # SloppyPhraseScorer over the unioned slot positions
            # (MultiPhraseQuery.cpp:99-105). Identical slots share one
            # union list, so they repeat exactly like duplicated single
            # terms. PARTIALLY overlapping slots collide doc-dependently:
            # the reference marks repeats ONCE, from the FIRST scored
            # doc's initial tp positions (checkedRepeats,
            # SloppyPhraseScorer.cpp:95-118), and the flags then persist
            # for every later doc — replayed here by fetching the first
            # matching doc's head positions (a bounded single-row driver
            # fetch; the joined frame is checkpointed so the scoring pass
            # reuses it instead of recomputing the multi-join).
            from clucene_spark.search.sloppy import (
                repeat_groups,
                sloppy_phrase_freq,
            )

            nslots = len(query.slots)
            keys = [tuple(sorted(set(s))) for s in query.slots]
            partial_overlap = any(
                a != b and set(a) & set(b)
                for i, a in enumerate(keys)
                for b in keys[i + 1:]
            )
            if not partial_overlap:
                # disjoint-or-identical slots: two pps collide in ANY doc
                # iff they share the identical union list (one token per
                # position), so first-doc detection reduces to key
                # identity — no extra job needed
                marks = repeat_groups(["\x1f".join(k) for k in keys])
            else:
                joined = joined.localCheckpoint(eager=True)
                first = (
                    joined.orderBy("doc_id")
                    .select(*[f"pos{i}" for i in range(nslots)])
                    .first()
                )
                marks = None
                if first is not None:
                    tp0 = [int(first[i][0]) for i in range(nslots)]
                    rep = [
                        any(tp0[i] == tp0[j] for j in range(nslots) if j != i)
                        for i in range(nslots)
                    ]
                    if any(rep):
                        marks = [0 if r else -1 for r in rep]
            slop = query.slop

            @F.pandas_udf("double")
            def _mp_sloppy_pf(arrs):
                return arrs.map(
                    lambda ls: sloppy_phrase_freq(list(ls), slop, marks)
                )

            pfreq = _mp_sloppy_pf(
                F.array(*[F.col(f"pos{i}") for i in range(len(query.slots))])
            )
        # idf sums over ALL slot terms INCLUDING absent ones — the
        # reference's MultiPhraseWeight calls docFreq per term and
        # idf(df=0) is ln(N)+1 (classic) / its bm25 analogue, not 0
        idf_sum = sum(self._idf(dfs[t]) for t in all_terms)
        scored = joined.withColumn("pfreq", pfreq).filter(F.col("pfreq") > 0)
        if self.similarity == "bm25":
            score = (
                F.lit(idf_sum)
                * sim.bm25_tf(F.col("pfreq"), F.col("dl"),
                              F.lit(self._avgdl(query.field)))
                * F.lit(query.boost)
            )
        else:
            scored, lnorm = self._lnorm(scored)
            score = (
                F.sqrt(F.col("pfreq"))
                * F.lit(idf_sum * idf_sum * query.boost * query_norm)
                * lnorm
            )
        return scored.select("doc_id", score.alias("score"))

    def _empty_scores(self) -> DataFrame:
        return (
            self.index.doc_lens.sparkSession.createDataFrame(
                [], "doc_id long, score double"
            )
        )

    # -- composite scoring ----------------------------------------------------

    def score(self, query: Query, query_norm: float = 1.0) -> DataFrame:
        """Compile to a (doc_id, score) DataFrame."""
        if isinstance(query, TermQuery):
            df = self.doc_freqs([query.term], field=query.field)[query.term]
            if df == 0:
                return self._empty_scores()
            idf = self._idf(df)
            p = self._postings(query.field).filter(F.col("term") == query.term)
            return self._score_term_postings(p, idf, query.boost, query_norm,
                                             field=query.field)
        if isinstance(query, PhraseQuery):
            if len(query.terms) == 1:
                return self.score(
                    TermQuery(boost=query.boost, term=query.terms[0],
                              field=query.field),
                    query_norm,
                )
            return self._score_phrase(query, query_norm)
        if isinstance(query, MultiPhraseQuery):
            return self._score_multi_phrase(query, query_norm)
        if isinstance(query, FuzzyQuery):
            return self._score_fuzzy(query)
        if isinstance(query, ConstantScoreRangeQuery):
            terms = self._expand_terms(
                RangeQuery(lower=query.lower, upper=query.upper,
                           inclusive=query.inclusive,
                           include_lower=query.include_lower,
                           include_upper=query.include_upper,
                           field=query.field)
            ).select("term")
            matched = (
                self._postings(query.field)
                .join(F.broadcast(terms), "term")
                .select("doc_id").distinct()
            )
            return matched.select(
                "doc_id", F.lit(float(query.boost)).alias("score")
            )
        if isinstance(query, (PrefixQuery, WildcardQuery, RangeQuery)):
            return self._score_multiterm(query)
        if isinstance(query, MatchAllQuery):
            ids = self.index.doc_lens.select("doc_id")
            if self.fielded:
                ids = ids.distinct()
            return ids.select("doc_id", (F.lit(1.0) * query.boost).alias("score"))
        if isinstance(query, ConstantScoreQuery):
            matched = self.index.docs.filter(query.predicate).select("doc_id")
            return matched.select("doc_id", F.lit(float(query.boost)).alias("score"))
        if isinstance(query, KeywordQuery):
            matched = self.index.docs.filter(
                F.col(query.field) == query.value
            ).select("doc_id")
            return matched.select("doc_id", F.lit(float(query.boost)).alias("score"))
        if isinstance(query, FilteredQuery):
            scores = self.score(query.query, query_norm)
            allowed = self._filter_docids(query.predicate)
            return scores.join(allowed, "doc_id", "left_semi")
        if isinstance(query, SpanScoreQuery):
            return self._score_span(query, query_norm)
        if isinstance(query, BooleanQuery):
            return self._score_boolean(query, query_norm)
        raise TypeError(f"unknown query type: {type(query)}")

    def _score_span(self, query: SpanScoreQuery,
                    query_norm: float = 1.0) -> DataFrame:
        """SpanWeight/SpanScorer scoring (spans/SpanWeight.cpp:44-68,
        SpanScorer.cpp:70-90): pfreq(doc) = Σ sloppyFreq(e - s) over the
        compiled span stream, then score = tf(pfreq) · idf² · queryNorm ·
        byteNorm (classic) / idf · bm25_tf(pfreq) (bm25 mapping)."""
        from clucene_spark.search import spans as sp

        # fielded index: compile the span stream inside query.field only —
        # SpanQuery::getField (spans/SpanQuery.h) pins a span tree to one
        # field, and dl/avgdl/df below are already per-field via the
        # engine's fielded helpers
        searcher = sp.SpanSearcher(
            self.index, self.similarity,
            field=self._f(query.field) if self.fielded else None,
        )
        terms = sorted(set(sp.span_terms(query.span)))
        if not terms:
            return self._empty_scores()
        dfs = self.doc_freqs([(query.field, t) for t in terms])
        # SpanWeight sums idf over the whole extracted TermSet — absent
        # terms contribute idf(df=0), exactly like MultiPhraseWeight
        idf_sum = sum(self._idf(d) for d in dfs.values())
        payoff = 1.0 / ((F.col("e") - F.col("s")) + 1.0)
        pfreq = (
            searcher.spans(query.span)
            .groupBy("doc_id")
            .agg(F.sum(payoff).alias("pfreq"))
        )
        p = pfreq.join(self._doclens(query.field), "doc_id")
        if self.similarity == "bm25":
            score = (
                F.lit(idf_sum)
                * sim.bm25_tf(F.col("pfreq"), F.col("dl"),
                              F.lit(self._avgdl(query.field)))
                * F.lit(query.boost)
            )
        else:
            p, lnorm = self._lnorm(p)
            score = (
                F.sqrt("pfreq")
                * F.lit(idf_sum * idf_sum * query.boost * query_norm)
                * lnorm
            )
        return p.select("doc_id", score.alias("score"))

    def _filter_docids(self, flt) -> DataFrame:
        """Resolve any Filter form to its doc-id set. Column predicates
        evaluate against the docs table (pushed into the scan); query /
        span filters collect their matched docs; ChainedFilter folds the
        reference's bitset ops as doc-id set algebra — each op is one
        doc_id-keyed join, broadcast when the filter side is small."""
        if isinstance(flt, CachingWrapperFilter):
            if flt._cached is None:
                flt._cached = self._filter_docids(flt.flt).cache()
            return flt._cached
        if isinstance(flt, QueryFilter):
            return self.score(flt.query).select("doc_id")
        if isinstance(flt, SpanQueryFilter):
            from clucene_spark.search.spans import SpanSearcher

            return (
                SpanSearcher(
                    self.index, self.similarity,
                    field=self._f(flt.field) if self.fielded else None,
                )
                .spans(flt.span)
                .select("doc_id")
                .distinct()
            )
        if isinstance(flt, ChainedFilter):
            if not flt.filters:
                raise ValueError("ChainedFilter needs at least one sub-filter")
            if len(flt.ops) != len(flt.filters) - 1:
                raise ValueError(
                    f"ChainedFilter: {len(flt.filters)} filters need "
                    f"{len(flt.filters) - 1} ops, got {len(flt.ops)}"
                )
            cur = self._filter_docids(flt.filters[0]).distinct()
            for op, f in zip(flt.ops, flt.filters[1:]):
                nxt = self._filter_docids(f).distinct()
                if op == "AND":
                    cur = cur.join(nxt, "doc_id", "left_semi")
                elif op == "OR":
                    cur = cur.union(nxt).distinct()
                elif op == "ANDNOT":
                    cur = cur.join(nxt, "doc_id", "left_anti")
                elif op == "XOR":
                    cur = cur.join(nxt, "doc_id", "left_anti").union(
                        nxt.join(cur, "doc_id", "left_anti")
                    )
                else:
                    raise ValueError(f"unknown ChainedFilter op: {op}")
            return cur
        return self.index.docs.filter(flt).select("doc_id")

    def explain(self, query: TermQuery) -> DataFrame:
        """Score-component breakdown for a term query — the Explanation
        tree (reference search/Explanation.cpp, TermWeight::explain at
        TermQuery.cpp:150+) as columns. Invariant (TestExplanations): the
        product of the components equals score()."""
        df = self.doc_freqs([query.term], field=query.field)[query.term]
        idf = self._idf(df)
        p = self._postings(query.field).filter(F.col("term") == query.term)
        if self.similarity == "bm25":
            tf_comp = sim.bm25_tf(F.col("tf"), F.col("dl"),
                                  F.lit(self._avgdl(query.field)))
            return p.select(
                "doc_id", "tf", "dl",
                F.lit(idf).alias("idf"),
                tf_comp.alias("tf_norm"),
                F.lit(query.boost).alias("boost"),
                (F.lit(idf) * tf_comp * query.boost).alias("score"),
            )
        qn = self.query_norm_for(query)
        p, lnorm = self._lnorm(p)
        return p.select(
            "doc_id", "tf", "dl",
            F.lit(idf * idf * qn).alias("weight"),  # idf² · queryNorm
            F.sqrt("tf").alias("tf_sqrt"),
            lnorm.alias("length_norm"),
            F.lit(query.boost).alias("boost"),
            (F.sqrt("tf") * F.lit(idf * idf * qn * query.boost) * lnorm).alias("score"),
        )

    def explain_phrase(self, query: PhraseQuery) -> DataFrame:
        """PhraseWeight::explain (reference PhraseQuery.cpp:379-460) as
        columns: score = queryWeight · fieldWeight where queryWeight =
        boost·idf·queryNorm and fieldWeight = tf(phraseFreq)·idf·fieldNorm
        — idf is the SUM over the phrase terms, phraseFreq the exact
        alignment count (slop=0) or the SloppyPhraseScorer payoff sum.
        Same column convention as explain(): BM25 emits (idf, tf_norm),
        classic emits (weight = idf²·queryNorm, tf_sqrt, length_norm); the
        TestExplanations invariant is product(components)·boost == score."""
        pf = self._phrase_freqs(query)
        if pf is None:
            return self._empty_scores()
        p, idf_sum = pf
        if self.similarity == "bm25":
            tf_comp = sim.bm25_tf(F.col("pfreq"), F.col("dl"),
                                  F.lit(self._avgdl(query.field)))
            return p.select(
                "doc_id", "pfreq", "dl",
                F.lit(idf_sum).alias("idf"),
                tf_comp.alias("tf_norm"),
                F.lit(query.boost).alias("boost"),
                (F.lit(idf_sum) * tf_comp * query.boost).alias("score"),
            )
        qn = self.query_norm_for(query)
        p, lnorm = self._lnorm(p)
        return p.select(
            "doc_id", "pfreq", "dl",
            F.lit(idf_sum * idf_sum * qn).alias("weight"),
            F.sqrt("pfreq").alias("tf_sqrt"),
            lnorm.alias("length_norm"),
            F.lit(query.boost).alias("boost"),
            (F.sqrt("pfreq") * F.lit(idf_sum * idf_sum * qn * query.boost)
             * lnorm).alias("score"),
        )

    def explain_boolean(self, query: BooleanQuery) -> DataFrame:
        """Component breakdown for a BooleanQuery — BooleanWeight::explain
        (reference BooleanQuery.cpp / BooleanScorer2, coord at
        Similarity.cpp:231-235) as columns:

          (doc_id, must_sum, should_sum, overlap, max_overlap, coord, score)

        Invariant (the TestExplanations contract): for every surviving doc,
        (must_sum + should_sum) * coord * boost == score(query). Classic
        applies coord = overlap/maxOverlap; BM25 disables coord exactly as
        score() does."""
        must = [c.query for c in query.clauses if c.occur == MUST]
        should = [c.query for c in query.clauses if c.occur == SHOULD]
        must_not = [c.query for c in query.clauses if c.occur == MUST_NOT]
        if not must and not should:
            raise ValueError("explain_boolean needs a positive clause")
        qn = self.query_norm_for(query)
        parts = [
            self.score(q, qn).select(
                "doc_id", "score", F.lit(1).alias("is_must")
            )
            for q in must
        ] + [
            self.score(q, qn).select(
                "doc_id", "score", F.lit(0).alias("is_must")
            )
            for q in should
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        agg = union.groupBy("doc_id").agg(
            F.sum(F.when(F.col("is_must") == 1, F.col("score"))
                  .otherwise(0.0)).alias("must_sum"),
            F.sum(F.when(F.col("is_must") == 0, F.col("score"))
                  .otherwise(0.0)).alias("should_sum"),
            F.sum("is_must").alias("must_matched"),
            F.count("*").alias("overlap"),
        )
        if must:
            agg = agg.filter(F.col("must_matched") == len(must))
        if query.min_should_match > 0 and should:
            agg = agg.filter(
                (F.col("overlap") - F.col("must_matched"))
                >= query.min_should_match
            )
        max_overlap = len(must) + len(should)
        if (self.similarity == "classic" and max_overlap > 1
                and not query.coord_disabled):
            coord = F.col("overlap") / F.lit(float(max_overlap))
        else:
            coord = F.lit(1.0)
        out = agg.select(
            "doc_id",
            "must_sum",
            "should_sum",
            F.col("overlap").cast("long").alias("overlap"),
            F.lit(max_overlap).cast("long").alias("max_overlap"),
            coord.alias("coord"),
            ((F.col("must_sum") + F.col("should_sum")) * coord
             * F.lit(query.boost)).alias("score"),
        )
        for q in must_not:
            out = out.join(self.score(q).select("doc_id"), "doc_id", "left_anti")
        return out

    def batch_topk(
        self,
        queries,
        k: int = 10,
        field: Optional[str] = None,
        round_to: int = 4,
    ) -> DataFrame:
        """Score an entire query SET in ONE job — the offline-eval /
        relevance-mining pattern a per-query engine can't amortize:
        thousands of term queries share a single postings scan instead of
        a scan each (at 100 TB the scan dominates, so batch cost is
        ~one query's IO plus a bounded aggregate).

        `queries`: {query_id: [terms]} dict or a (query_id, term)
        DataFrame. Plan: the tiny query table broadcast-joins into the
        postings scan (pushing an In(term) filter), per-(query, doc)
        scores fold through ONE map-side-combined aggregate, and the
        per-query top-k is a rank window partitioned by query_id — each
        window partition holds one query's candidate set, never the
        corpus. Scores match the single-query TermQuery/SHOULD path
        exactly (BM25; classic runs with queryNorm=1, the batch has no
        per-query two-pass norm). Returns (query_id, doc_id, score),
        top-k per query, ordered (query_id, score DESC, doc_id ASC)."""
        from pyspark.sql import Window

        p0 = self._postings(field)
        spark = p0.sparkSession
        if isinstance(queries, dict):
            rows = [(qid, t) for qid, ts in queries.items() for t in ts]
            qdf = spark.createDataFrame(rows, "query_id string, term string")
        else:
            qdf = queries
        p = (
            p0.join(F.broadcast(qdf), "term")
            .join(F.broadcast(self._tdict(field).select("term", "df")), "term")
        )
        if self.similarity == "bm25":
            per_term = sim.bm25_score(
                F.col("tf"), F.col("df"), F.col("dl"),
                F.lit(float(self.n_docs)), F.lit(self._avgdl(field)),
            )
        else:
            idf = sim.classic_idf(F.col("df"), F.lit(float(self.n_docs)))
            p, lnorm = self._lnorm(p)  # honor norm_bytes parity mode
            per_term = (
                sim.classic_tf(F.col("tf")) * idf * idf * lnorm
            )
        agg = (
            p.groupBy("query_id", "doc_id")
            .agg(F.round(F.sum(per_term), round_to).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            agg.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "doc_id", "score")
            .orderBy("query_id", F.col("score").desc(), F.col("doc_id").asc())
        )

    def extract_terms(
        self, query: Query, include_prohibited: bool = False,
        max_expansion: int = 1024,
    ) -> list[tuple[str, float]]:
        """QueryTermExtractor::getTerms (reference contribs highlighter
        QueryTermExtractor.cpp:30-90): flatten a query tree into
        (term, weight) pairs for highlighting — recursing through
        boolean/filtered/span nodes, REWRITING multi-term nodes against
        the live term dictionary (Prefix/Wildcard/Range expand to their
        dictionary matches, Fuzzy to its similarity-weighted expansion),
        skipping prohibited clauses unless asked (getTerms' prohibited
        flag). Weights are boost products; duplicates keep the max.
        Expansions cap at `max_expansion` terms — the reference's
        BooleanQuery::rewrite 1024-clause ceiling."""
        from clucene_spark.search import spans as sp

        out: dict[str, float] = {}

        def add(t: str, w: float) -> None:
            out[t] = max(out.get(t, 0.0), w)

        def walk(q, boost: float) -> None:
            b = boost * getattr(q, "boost", 1.0)
            if isinstance(q, TermQuery):
                add(q.term, b)
            elif isinstance(q, PhraseQuery):
                for t in q.terms:
                    add(t, b)
            elif isinstance(q, MultiPhraseQuery):
                for slot in q.slots:
                    for t in slot:
                        add(t, b)
            elif isinstance(q, BooleanQuery):
                for c in q.clauses:
                    if c.occur != MUST_NOT or include_prohibited:
                        walk(c.query, b)
            elif isinstance(q, FilteredQuery):
                walk(q.query, b)
            elif isinstance(q, FuzzyQuery):
                rows = self._fuzzy_matches(q).select("term", "rw_boost") \
                    .limit(max_expansion).collect()
                for r in rows:
                    add(r["term"], b * r["rw_boost"])
            elif isinstance(q, (PrefixQuery, WildcardQuery, RangeQuery)):
                rows = self._expand_terms(q).select("term") \
                    .limit(max_expansion).collect()
                for r in rows:
                    add(r["term"], b)
            elif isinstance(q, sp.SpanTerm):
                add(q.term, b)
            elif isinstance(q, sp.SpanFirst):
                walk(q.query, b)
            elif isinstance(q, (sp.SpanNear, sp.SpanOr)):
                for c in q.clauses:
                    walk(c, b)
            elif isinstance(q, sp.SpanNot):
                walk(q.include, b)  # exclude side never highlights
            # MatchAll / ConstantScore / Keyword carry no index terms

        walk(query, 1.0)
        return sorted(out.items())

    def topk_sorted(
        self,
        query: Query,
        sort_col: str | None = None,
        ascending: bool = False,
        k: int = 10,
        sort_fields: list[tuple[str, bool]] | None = None,
        round_to: int = 4,
    ) -> DataFrame:
        """Top-k by stored-field sort instead of relevance — the
        IndexSearcher::_search(..., Sort) path (reference
        IndexSearcher.cpp:267-310, FieldSortedHitQueue). Sort keys come
        straight from the docs table (the FieldCache un-inversion is free:
        we kept the forward data as columns); typed sorts are free too
        (column types order natively, TestSort testTypedSort/testAutoSort);
        final tiebreak doc_id ASC, as FieldSortedHitQueue's doc-order tail.

        `sort_fields` is the multi-key Sort form (TestSort testSortCombos/
        testMultiSort): ordered (field, ascending) pairs where field may be
        "score" (SortField::FIELD_SCORE — relevance as a sort component) or
        "doc_id" (FIELD_DOC). Single-key `sort_col`/`ascending` is the
        back-compat form."""
        if sort_fields is None:
            sort_fields = [(sort_col, ascending)]
        doc_cols, out_cols = [], ["doc_id"]
        for f, _ in sort_fields:
            if f not in ("score", "doc_id") and f not in doc_cols:
                doc_cols.append(f)
        rows = self.score(query)
        rows = rows.select("doc_id", F.round("score", round_to).alias("score"))
        if doc_cols:
            rows = rows.join(
                self.index.docs.select("doc_id", *doc_cols), "doc_id"
            )
        out_cols += doc_cols
        if any(f == "score" for f, _ in sort_fields):
            out_cols.append("score")
        order = [
            (F.col(f).asc() if asc else F.col(f).desc())
            for f, asc in sort_fields
        ]
        return (
            rows.select(*out_cols)
            .orderBy(*order, F.col("doc_id").asc())
            .limit(k)
        )

    def _boolean_terms_agg(self, must, should, query_norm: float):
        """Single-scan aggregation for the common all-TermQuery boolean
        level, or None when the clause mix needs the generic union plan.

        The r5 plan unioned one postings scan per clause — N passes over
        the cached postings for an N-term query. When every positive
        clause is a plain TermQuery on one field with distinct terms, one
        `term IN (...)` scan joined to a broadcast (term, idf, boost,
        is_must) map computes the identical per-(term, doc) score rows
        (same literal-by-literal multiplication order as the per-term
        scorer, so the floats match bit-for-bit) and the same
        (score, must_matched, matched) aggregate — guide §2.4, one scan
        and one shuffle for the whole boolean level."""
        pos = [(q, 1) for q in must] + [(q, 0) for q in should]
        if len(pos) < 2:
            return None
        if not all(isinstance(q, TermQuery) for q, _ in pos):
            return None
        fields = {self._f(q.field) for q, _ in pos}
        if len(fields) > 1:
            return None
        field = pos[0][0].field
        terms = [q.term for q, _ in pos]
        if len(set(terms)) != len(terms):
            return None  # duplicate clause terms must each contribute
        dfs = self.doc_freqs(terms, field=field)
        if any(dfs[q.term] == 0 for q in must):
            # a zero-df MUST term empties the intersection
            spark = self.index.doc_lens.sparkSession
            return spark.createDataFrame(
                [], "doc_id long, score double, must_matched long, matched long"
            )
        def _w2(idf: float, boost: float) -> float:
            # same literal product, same association, as the classic
            # per-term scorer's F.lit(idf * idf * boost * query_norm)
            return idf * idf * boost * query_norm

        rows = [
            (q.term, self._idf(dfs[q.term]), float(q.boost),
             _w2(self._idf(dfs[q.term]), q.boost), im)
            for q, im in pos
            if dfs[q.term] > 0
        ]
        if not rows:
            spark = self.index.doc_lens.sparkSession
            return spark.createDataFrame(
                [], "doc_id long, score double, must_matched long, matched long"
            )
        # per-term constants as CASE chains on the term column — cheaper
        # than a broadcast map join for the handful of query terms, and
        # the per-row products keep the leaf scorer's literal order, so
        # the floats are bit-identical to the union-of-scans plan
        idf_c = w_c = w2_c = im_c = None
        for t, idf, w, w2, im in rows:
            cond = F.col("term") == t
            idf_c = (F.when(cond, idf) if idf_c is None
                     else idf_c.when(cond, idf))
            w_c = F.when(cond, w) if w_c is None else w_c.when(cond, w)
            w2_c = F.when(cond, w2) if w2_c is None else w2_c.when(cond, w2)
            im_c = F.when(cond, im) if im_c is None else im_c.when(cond, im)
        p = (
            self._postings(field)
            .filter(F.col("term").isin([r[0] for r in rows]))
        )
        if self.similarity == "bm25":
            per_row = (
                idf_c
                * sim.bm25_tf(F.col("tf"), F.col("dl"),
                              F.lit(self._avgdl(field)))
                * w_c
            )
        else:
            p, lnorm = self._lnorm(p)
            per_row = sim.classic_tf(F.col("tf")) * w2_c * lnorm
        return p.groupBy("doc_id").agg(
            F.sum(per_row).alias("score"),
            F.sum(im_c).alias("must_matched"),
            F.count("*").alias("matched"),
        )

    def _score_boolean(self, query: BooleanQuery, query_norm: float = 1.0) -> DataFrame:
        """Union + groupBy plan: one shuffle for the whole boolean level.

        MUST = HAVING must_matched == n_must (n-way intersect);
        SHOULD sum + optional minShouldMatch; MUST_NOT = left_anti;
        coord(overlap, maxOverlap) multiplier for classic
        (Similarity.cpp:231-235; BM25 mode disables coord like Lucene's
        BooleanWeight with disableCoord)."""
        must = [c.query for c in query.clauses if c.occur == MUST]
        should = [c.query for c in query.clauses if c.occur == SHOULD]
        must_not = [c.query for c in query.clauses if c.occur == MUST_NOT]

        if not must and not should:
            # pure negation matches nothing in Lucene
            return self._empty_scores()

        agg = self._boolean_terms_agg(must, should, query_norm)
        if agg is None:
            scored_parts = []
            for q in must:
                scored_parts.append(
                    self.score(q, query_norm).select(
                        "doc_id", "score", F.lit(1).alias("is_must")
                    )
                )
            for q in should:
                scored_parts.append(
                    self.score(q, query_norm).select(
                        "doc_id", "score", F.lit(0).alias("is_must")
                    )
                )

            union = scored_parts[0]
            for p in scored_parts[1:]:
                union = union.unionByName(p)

            agg = union.groupBy("doc_id").agg(
                F.sum("score").alias("score"),
                F.sum("is_must").alias("must_matched"),
                F.count("*").alias("matched"),
            )
        if must:
            agg = agg.filter(F.col("must_matched") == len(must))
        if query.min_should_match > 0 and should:
            agg = agg.filter(
                (F.col("matched") - F.col("must_matched")) >= query.min_should_match
            )
        max_overlap = len(must) + len(should)
        if (self.similarity == "classic" and max_overlap > 1
                and not query.coord_disabled):
            agg = agg.withColumn(
                "score", F.col("score") * F.col("matched") / F.lit(float(max_overlap))
            )
        result = agg.select("doc_id", (F.col("score") * query.boost).alias("score"))

        for q in must_not:
            excl = self.score(q).select("doc_id")
            result = result.join(excl, "doc_id", "left_anti")
        return result

    # -- entry points ---------------------------------------------------------

    def query_norm_for(self, query: Query) -> float:
        """Classic two-pass weight normalization: queryNorm = 1/sqrt(Σ w²)
        over leaf weights w = idf·boost (reference SearchHeader.cpp:119-126,
        TermQuery.cpp:131-140). BM25 has no queryNorm (returns 1)."""
        if self.similarity != "classic":
            return 1.0
        leaves: list[tuple[str, tuple, float]] = []  # (kind, (field, terms..), boost)

        def walk(q: Query, boost: float):
            b = boost * q.boost
            if isinstance(q, TermQuery):
                leaves.append(("T", (q.field, q.term), b))
            elif isinstance(q, PhraseQuery):
                # phrase weight = sum(idf) * boost
                leaves.append(("P", (q.field, tuple(q.terms)), b))
            elif isinstance(q, MultiPhraseQuery):
                # MultiPhraseWeight: idf sums over ALL terms in all slots
                leaves.append(
                    ("P", (q.field,
                           tuple(t for slot in q.slots for t in slot)), b)
                )
            elif isinstance(q, SpanScoreQuery):
                # SpanWeight: idf over the extracted term SET
                # (spans/SpanWeight.cpp:26-28 fills a TermSet)
                from clucene_spark.search import spans as sp

                leaves.append(
                    ("P", (q.field, tuple(sorted(set(sp.span_terms(q.span))))), b)
                )
            elif isinstance(q, BooleanQuery):
                for c in q.clauses:
                    if c.occur != MUST_NOT:
                        walk(c.query, b)
            elif isinstance(q, FilteredQuery):
                walk(q.query, b)  # filters don't contribute weight

        walk(query, 1.0)
        pairs = []
        for kind, key, _ in leaves:
            f = key[0]
            if kind == "T":
                pairs.append((f, key[1]))
            else:
                pairs.extend((f, t) for t in key[1])
        dfs = self.doc_freqs(pairs)
        sum_sq = 0.0
        for kind, key, b in leaves:
            f = key[0]
            if kind == "P":
                idf = sum(self._idf(dfs[(f, x)]) for x in key[1])
            else:
                idf = self._idf(dfs[(f, key[1])])
            sum_sq += (idf * b) ** 2
        return sim.classic_query_norm_py(sum_sq)

    def topk(self, query: Query, k: int = 10, round_to: int | None = None) -> DataFrame:
        """Top-k with the reference tiebreak: score DESC, doc_id ASC
        (HitQueue.cpp:100-105). Spark plans this as TakeOrderedAndProject —
        per-partition bounded top-k then a driver merge, the MultiSearcher
        scatter-gather (MultiSearcher.cpp:122-152) for free.

        With `round_to`, the order (and so the k-th cut) is on the ROUNDED
        score, as the oracle queries (`oracle_sql()`) order; the segment
        serving paths in search/wand.py instead cut on exact scores and
        round the kept rows, so at a near-tie below the rounding the two
        can keep a different k-th hit."""
        qn = self.query_norm_for(query)
        scores = self.score(query, qn)
        if round_to is not None:
            scores = scores.select(
                "doc_id", F.round(F.col("score"), round_to).alias("score")
            )
        return scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def topk_after(
        self,
        query: Query,
        k: int = 10,
        after: tuple | None = None,
        round_to: int | None = None,
    ) -> DataFrame:
        """Cursor deep-paging (search-after): resume the total
        (score DESC, doc_id ASC) order strictly after the cursor
        (after_score, after_doc_id) — the distributed form of Hits
        paging (the reference re-fetches a doubled top-n on demand,
        Hits.cpp:96-135 getMoreDocs; see SURVEY §2d "Hits paging").
        At cluster scale a cursor beats OFFSET: offset n makes every
        shard ship n+k rows to the merger, a cursor keeps per-shard
        cost at k because the strict-after predicate filters BEFORE
        the per-partition bounded top-k. The cursor compares on the
        same rounding the caller receives, so page boundaries are
        stable across pages and engines."""
        qn = self.query_norm_for(query)
        scores = self.score(query, qn)
        if round_to is not None:
            scores = scores.select(
                "doc_id", F.round(F.col("score"), round_to).alias("score")
            )
        if after is not None:
            s, d = float(after[0]), int(after[1])
            scores = scores.filter(
                (F.col("score") < s)
                | ((F.col("score") == s) & (F.col("doc_id") > d))
            )
        return scores.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)
