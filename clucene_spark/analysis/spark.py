"""Spark entry points for the analyzers — Arrow-batched, never per-row Python.

``tokenize_standard`` runs the StandardAnalyzer chain over a docs DataFrame
via mapInPandas: one Python worker call per Arrow batch, emitting the
exploded token table. This is the UDF slow path the architecture confines
to exactly one place (the DFA genuinely cannot be expressed as column ops);
everything downstream is JVM-side DataFrame algebra.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from clucene_spark.analysis.standard import standard_analyze

TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("start_off", T.IntegerType(), False),
        T.StructField("end_off", T.IntegerType(), False),
        T.StructField("type", T.StringType(), False),
    ]
)


INDEX_TOKEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("pos", T.IntegerType(), False),
        # the doc's token count, repeated on each of its tokens
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def tokenize_standard(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    full: bool = False,
) -> DataFrame:
    """docs -> token rows: (doc_id, term, pos, dl) by default; full=True
    emits (doc_id, term, pos, start_off, end_off, type) for term-vector /
    highlight use.

    Column-prunes to exactly (doc_id, text) before the Python stage so the
    Arrow transfer carries no dead columns, and the indexing path emits
    only the four columns the postings build needs — the Arrow return
    serialization of the exploded token table is the dominant cost of this
    stage, not the DFA itself."""
    src = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    if full:
        def analyze_full(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_doc, out_term, out_pos, out_s, out_e, out_ty = [], [], [], [], [], []
                for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                    if text is None:
                        continue
                    for term, pos, s, e, ty in standard_analyze(text):
                        out_doc.append(doc_id)
                        out_term.append(term)
                        out_pos.append(pos)
                        out_s.append(s)
                        out_e.append(e)
                        out_ty.append(ty)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(out_doc, dtype="int64"),
                        "term": pd.Series(out_term, dtype="object"),
                        "pos": pd.Series(out_pos, dtype="int32"),
                        "start_off": pd.Series(out_s, dtype="int32"),
                        "end_off": pd.Series(out_e, dtype="int32"),
                        "type": pd.Series(out_ty, dtype="object"),
                    }
                )

        return src.mapInPandas(analyze_full, schema=TOKEN_SCHEMA)

    import numpy as np

    def analyze_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy()
            texts = pdf["text"].to_numpy()
            per_doc = [
                standard_analyze(t) if t is not None else [] for t in texts
            ]
            counts = np.fromiter((len(x) for x in per_doc), dtype=np.int64,
                                 count=len(per_doc))
            total = int(counts.sum())
            terms = [tok[0] for toks in per_doc for tok in toks]
            poss = np.fromiter(
                (tok[1] for toks in per_doc for tok in toks),
                dtype=np.int32, count=total,
            )
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids, counts),
                    "term": pd.Series(terms, dtype="object"),
                    "pos": poss,
                    "dl": np.repeat(counts.astype(np.int32), counts),
                }
            )

    return src.mapInPandas(analyze_batches, schema=INDEX_TOKEN_SCHEMA)


def tokenize_snowball(
    docs: DataFrame,
    language: str,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """docs -> (doc_id, term, pos, dl) through the SnowballAnalyzer chain
    (StandardTokenizer -> StandardFilter -> LowerCase -> SnowballFilter for
    `language`, reference snowball/SnowballAnalyzer.h) — Arrow-batched
    like tokenize_standard; the per-token stemmer is pure Python inside
    the same mapInPandas stage."""
    import numpy as np

    from clucene_spark.analysis.german import snowball_analyze

    src = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    def analyze_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy()
            texts = pdf["text"].to_numpy()
            per_doc = [
                snowball_analyze(t, language) if t is not None else []
                for t in texts
            ]
            counts = np.fromiter((len(x) for x in per_doc), dtype=np.int64,
                                 count=len(per_doc))
            total = int(counts.sum())
            terms = [tok[0] for toks in per_doc for tok in toks]
            poss = np.fromiter(
                (tok[1] for toks in per_doc for tok in toks),
                dtype=np.int32, count=total,
            )
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids, counts),
                    "term": pd.Series(terms, dtype="object"),
                    "pos": poss,
                    "dl": np.repeat(counts.astype(np.int32), counts),
                }
            )

    return src.mapInPandas(analyze_batches, schema=INDEX_TOKEN_SCHEMA)
