"""BM25F — weighted multi-field ranking (Zaragoza & Robertson, TREC
2004 "Microsoft Cambridge at TREC-13"; the standard web-search scorer
over title/body/anchor fields).

Classic per-field BM25 (engine.py TermQuery with field=...) scores each
field independently and sums — which double-counts the saturation. BM25F
instead normalizes each field's tf by its own length, combines them
into ONE weighted pseudo-frequency, and saturates once:

    tfn_{t,f,d} = tf_{t,f,d} / (1 + b_f * (dl_{f,d} / avgdl_f - 1))
    wtf_{t,d}   = Σ_f  w_f · tfn_{t,f,d}
    score(d)    = Σ_t  idf(t) · wtf_{t,d} / (k1 + wtf_{t,d})

idf uses DOC-level df (a doc counts once however many fields hold the
term) with the same ln(1+(N−df+.5)/(df+.5)) shape as the rest of the
engine (reference Similarity.cpp:227-229 analogue in BM25 form).

Scale shape: the postings side is filtered to the query terms FIRST
(predicate pushdown to the scan) and each posting row carries its
per-field length dl, so no join against the corpus-sized doc_lens is
needed; per-field avgdl and per-term df are bounded collects (n_fields /
n_terms rows); the final per-doc fold is one doc-keyed partial-agg
shuffle + top-k (TakeOrderedAndProject). No corpus-sized structure ever
reaches the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F


def bm25f_topk(
    index,
    terms: list[str],
    weights: dict[str, float] | None = None,
    b: dict[str, float] | None = None,
    k1: float = 1.2,
    k: int = 10,
    round_to: int | None = 4,
) -> DataFrame:
    """Top-k (doc_id, score) under BM25F over `index` (a multi-field
    InvertedIndex — every table carries a `field` column).

    weights: per-field boost w_f (default 1.0 for every index field);
    b: per-field length normalization (default 0.75). Ties break
    (score DESC, doc_id ASC) like every other top-k in the engine."""
    if weights is None:
        weights = {f: 1.0 for f in index.field_names}
    fields = list(weights)
    b = b or {}
    b_map = {f: float(b.get(f, 0.75)) for f in fields}

    post = index.postings.filter(
        F.col("term").isin(list(terms)) & F.col("field").isin(fields)
    )
    dl = index.doc_lens.filter(F.col("field").isin(fields))

    # bounded stats: per-field avgdl (n_fields rows), doc-level df per
    # query term (n_terms rows), global doc count — memoized on the index
    # object (an open-reader statistics cache, like Searcher's term
    # dictionary snapshot): r5 re-collected all three on EVERY call, three
    # Spark jobs per query before the scoring plan even started (guide §1.2).
    cache = index.__dict__.setdefault("_bm25f_cache", {})
    fkey = tuple(sorted(fields))
    if ("avgdl", fkey) not in cache:
        cache[("avgdl", fkey)] = {
            r["field"]: float(r["ad"])
            for r in dl.groupBy("field").agg(F.avg("dl").alias("ad")).collect()
        }
    avgdl = cache[("avgdl", fkey)]
    if "n_docs" not in cache:
        cache["n_docs"] = index.doc_lens.select("doc_id").distinct().count()
    n_docs = cache["n_docs"]
    dkey = ("dfs", tuple(sorted(set(terms))), fkey)
    if dkey not in cache:
        cache[dkey] = {
            r["term"]: int(r["df"])
            for r in post.select("term", "doc_id")
            .distinct()
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .collect()
        }
    dfs = cache[dkey]
    idf = {
        t: math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        for t, df in dfs.items()
    }
    if not idf:  # no query term occurs in any scored field: empty result
        # (an empty create_map types as map<void,void> and fails analysis)
        spark = index.postings.sparkSession
        return spark.createDataFrame([], "doc_id long, score double")

    w_expr = F.create_map(
        *[F.lit(x) for f in fields for x in (f, float(weights[f]))]
    )
    b_expr = F.create_map(*[F.lit(x) for f in fields for x in (f, b_map[f])])
    ad_expr = F.create_map(
        *[F.lit(x) for f in fields for x in (f, avgdl.get(f, 1.0))]
    )
    idf_expr = F.create_map(
        *[F.lit(x) for t in idf for x in (t, idf[t])]
    )

    tfn = (
        post.withColumn(
            "part",
            w_expr[F.col("field")]
            * F.col("tf")
            / (
                F.lit(1.0)
                + b_expr[F.col("field")]
                * (F.col("dl") / ad_expr[F.col("field")] - F.lit(1.0))
            ),
        )
    )
    wtf = tfn.groupBy("doc_id", "term").agg(F.sum("part").alias("wtf"))
    score = F.sum(
        idf_expr[F.col("term")] * F.col("wtf") / (F.lit(float(k1)) + F.col("wtf"))
    ).alias("score")
    out = wtf.groupBy("doc_id").agg(score)
    if round_to is not None:
        out = out.select("doc_id", F.round("score", round_to).alias("score"))
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(int(k))
