"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.

Pure column expressions (JVM-side, whole-stage codegen); each has a DuckDB
oracle in __spark_entry__. These are the per-document map stage of a
training-data pipeline — embarrassingly parallel, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from clucene_spark.pipeline.dedup import md5_31

# largest prime < 2^53: keeps acc*31 + token_hash inside int64 in the
# rolling-hash fold (2^53*31 < 2^58.96 < 2^63)
FP_MOD = 9007199254740881

# the reference's 33-word English stop list (Analyzers.cpp:293-300) doubles
# as the language-ID evidence set
STOP33 = (
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with"
).split()

# BPE-ish token pattern: letter runs, digit runs, or single non-alnum marks
TOKEN_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _tokens(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda t: t != "")


def lang_id(docs: DataFrame, threshold: float = 0.04) -> DataFrame:
    """N-gram-heuristic language ID: stopword ratio over whitespace tokens.

    (doc_id, stop_ratio, pred_lang): 'en' if ratio >= threshold, else 'und'.
    A real pipeline swaps the evidence set per language; the operator shape
    (map-only, ratio of set-membership hits) is the same."""
    toks = _tokens(F.col("text"))
    stops = F.filter(toks, lambda t: t.isin(STOP33))
    ratio = F.when(F.size(toks) > 0, F.size(stops) / F.size(toks)).otherwise(0.0)
    return docs.select(
        "doc_id",
        F.round(ratio, 4).alias("stop_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("und")).alias("pred_lang"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + score in [0,1]:
      * n_tokens, mean token length
      * stopword ratio (natural-language evidence)
      * digit/symbol character ratio (boilerplate evidence)
    score = clamp(stop_ratio*2, 0, 1) * clamp(n_tokens/64, 0, 1)
            * (1 - symbol_ratio)."""
    toks = _tokens(F.col("text"))
    n_toks = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(STOP33)))
    n_chars = F.length("text")
    n_sym = n_chars - F.length(F.regexp_replace(F.col("text"), "[^a-z ]", ""))
    stop_ratio = F.when(n_toks > 0, stops / n_toks).otherwise(0.0)
    sym_ratio = F.when(n_chars > 0, n_sym / n_chars).otherwise(0.0)
    mean_len = F.when(
        n_toks > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_toks,
    ).otherwise(0.0)
    score = (
        F.least(stop_ratio * 2, F.lit(1.0))
        * F.least(n_toks / F.lit(64.0), F.lit(1.0))
        * (F.lit(1.0) - sym_ratio)
    )
    return docs.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(sym_ratio, 4).alias("symbol_ratio"),
        F.round(score, 4).alias("quality"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens, chars_per_bpe_token): whitespace
    count plus a BPE-ish regex segmentation count — the standard cheap
    proxy pair for LLM token budgeting."""
    ws = F.size(_tokens(F.col("text")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0))
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.round(
            F.when(bpe > 0, F.length("text") / bpe).otherwise(0.0), 4
        ).alias("chars_per_bpe_token"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals:

      * dup_token_frac: 1 - distinct_tokens/n_tokens — the line-free
        analogue of "duplicate line fraction"
      * top_2gram_frac: tokens covered by the single most frequent
        2-gram, / n_tokens (most-common-n-gram character-fraction rule,
        token approximation)
      * dup_3gram_frac: tokens covered by 3-grams occurring more than
        once (capped at 1; occurrences may overlap)

    High values flag keyword-stuffed / boilerplate / degenerate pages
    that per-doc quality scores miss. Shape: one n-gram explode and two
    doc_id-keyed aggregations (partial-agg friendly) — the same
    single-shuffle profile as simhash; the base token stats stay
    map-only."""
    from clucene_spark.pipeline.dedup import ensure_parallelism

    docs = ensure_parallelism(docs)
    toks = _tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )

    # the lambdas read a projected token column, so the text is split
    # once per doc rather than once per n-gram
    tok_docs = docs.select("doc_id", toks.alias("toks"))

    def _grams(n: int):
        t = F.col("toks")
        g = F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )
        return tok_docs.filter(F.size(t) >= n).select(
            "doc_id", F.lit(n).alias("n"), F.explode(g).alias("gram")
        )

    gram_stats = (
        _grams(2).unionByName(_grams(3))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id", "n")
        .agg(
            F.max("cnt").alias("max_cnt"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_cnt"),
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("max_cnt"))).alias("max2"),
            F.max(F.when(F.col("n") == 3, F.col("dup_cnt"))).alias("dup3"),
        )
    )
    j = base.join(gram_stats, "doc_id", "left")
    nt = F.col("n_tokens").cast("double")
    return j.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.when(nt > 0, 1 - F.col("n_distinct") / nt).otherwise(0.0), 4
        ).alias("dup_token_frac"),
        F.round(
            # cap like dup_3gram_frac: overlapping repeats ('a a a a')
            # can cover more token-slots than tokens exist
            F.least(
                F.when(nt > 0, F.coalesce(F.col("max2"), F.lit(0)) * 2 / nt)
                .otherwise(0.0),
                F.lit(1.0),
            ), 4
        ).alias("top_2gram_frac"),
        F.round(
            F.least(
                F.when(nt > 0, F.coalesce(F.col("dup3"), F.lit(0)) * 3 / nt)
                .otherwise(0.0),
                F.lit(1.0),
            ), 4
        ).alias("dup_3gram_frac"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): order-sensitive rolling hash over tokens —
    fp = fold(h = (h*31 + md5_31(token)) mod FP_MOD). Equal texts collide
    exactly; any token edit/reorder changes fp (vs the order-insensitive
    minhash family). The sub-2^53 modulus keeps h*31+t inside int64."""
    toks = _tokens(F.col("text"))
    fp = F.aggregate(
        F.transform(toks, lambda t: md5_31(t)),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + t) % FP_MOD,
    )
    return docs.select("doc_id", fp.alias("fp"))


# PII patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB oracle): fixed-shape quantifiers, no backrefs, no lookaround.
PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PII_PHONE = "\\+\\d{1,3}[ -]\\d{3}[ -]\\d{3}[ -]\\d{4}"


def pii_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, redacted): detect and scrub
    the three highest-volume PII shapes (emails, IPv4 addresses,
    international-format phone numbers) — the mandatory scrub stage of a
    web-crawl training pipeline. Map-only column regexes (no shuffle, no
    Python); replacement tags are stable so downstream dedup of redacted
    text still collapses pages differing only in their PII."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_IPV4), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), 0)).alias("n_phones"),
        redacted.alias("redacted"),
    )


def lm_score(docs: DataFrame, round_to: int = 4) -> DataFrame:
    """Corpus-trained bigram language-model score per doc — the
    perplexity-filtering stage of a curation pipeline (docs whose text is
    improbable under the corpus's own bigram statistics are gibberish /
    boilerplate candidates). (doc_id, n_bigrams, avg_logp) where
    avg_logp = mean over bigrams of ln P(w2 | w1), Laplace-smoothed:
    P = (c(w1 w2) + 1) / (c(w1) + V).

    Scale shape: two count aggregations (one shuffle each, token-keyed,
    map-side partial) + one bigram-keyed join of the doc stream against
    the count tables (the LM is corpus-derived and corpus-sized, so a
    shuffle join — a fixed external LM would broadcast instead).

    Determinism: per-doc log-prob summation is an ORDERED left fold over
    the position-sorted bigram list (sort_array + F.aggregate), never a
    shuffle-order float sum — so the DuckDB oracle's identical fold is
    bit-for-bit reproducible.
    """
    from clucene_spark.pipeline.dedup import ensure_parallelism

    docs = ensure_parallelism(docs)
    toks = _tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    bi = base.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(slice(t, 1, size(t) - 1), (w, i) -> struct(w as w1, t[i + 1] as w2))")
        ).alias("pos", "b"),
    ).select("doc_id", "pos", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))

    uni = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cu"))
    )
    big = bi.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    v = uni.count()

    # the bigram LM is corpus-derived and corpus-sized: pin a shuffled
    # hash join — AQE's size estimate (compressed bytes) can sneak it
    # under the broadcast threshold and then blow spark.driver.
    # maxResultSize collecting it (observed at 1M docs: 103 tasks,
    # >1 GiB serialized). The unigram table is vocab-sized and genuinely
    # broadcastable, so it stays AQE-planned.
    scored = (
        bi.join(big.hint("shuffle_hash"), ["w1", "w2"])
        .join(uni.select(F.col("term").alias("w1"), "cu"), "w1")
        .withColumn(
            "logp",
            F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.lit(float(v)))),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("pos", "logp"))),
            F.lit(0.0),
            lambda acc, s: acc + s["logp"],
        ).alias("sum_logp"),
    )
    return folded.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("sum_logp") / F.col("n_bigrams"), round_to).alias("avg_logp"),
    )


def ppl_buckets(
    docs: DataFrame,
    by: str = "lang",
    n_buckets: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public):
    rank every doc WITHIN its stratum by the corpus-trained LM score
    and split the stratum into n_buckets equal-count bands — head
    (most fluent) / middle / tail for the classic 3. Docs with <2
    tokens carry no bigram evidence and are excluded, as in lm_score.

    Returns (doc_id, <by>, n_bigrams, avg_logp, bucket_id, bucket):
    bucket_id = 1..n_buckets in (avg_logp DESC, doc_id ASC) order —
    the rounded score ranks, so the band edges are engine-reproducible
    — and bucket is the head/middle/tail label when n_buckets == 3
    (the id as a string otherwise).

    Scale shape: lm_score's two count shuffles + LM join, then ONE
    per-stratum window (ntile). The exact-rank form is the
    oracle-able gate; at 100 TB the production path replaces the
    per-stratum global sort with approximate quantile thresholds from
    a bounded sample (broadcast thresholds -> map-only band assign) —
    same downstream semantics, CCNet itself publishes the cutoffs,
    not the ranks."""
    from pyspark.sql import Window

    scored = lm_score(docs, round_to=round_to).join(
        docs.select("doc_id", by), "doc_id"
    )
    w = Window.partitionBy(by).orderBy(
        F.col("avg_logp").desc(), F.col("doc_id").asc()
    )
    out = scored.withColumn(
        "bucket_id", F.ntile(n_buckets).over(w).cast("long")
    )
    if n_buckets == 3:
        name = (
            F.when(F.col("bucket_id") == 1, "head")
            .when(F.col("bucket_id") == 2, "middle")
            .otherwise("tail")
        )
    else:
        name = F.col("bucket_id").cast("string")
    return out.select(
        "doc_id", by, "n_bigrams", "avg_logp", "bucket_id",
        name.alias("bucket"),
    )
