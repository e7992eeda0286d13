"""Deduplication operators for large-scale training-data pipelines.

The operators are declarative DataFrame algebra over the `documents`
table, so Catalyst plans partial aggregation, broadcast where small, and
AQE skew handling; the MinHash state is one Arrow kernel pass per
document batch (no per-shingle rows). Each operator has a DuckDB
oracle in __spark_entry__ (hashes are md5-derived so both engines compute
bit-identical values).

Scale notes (100 TB):
  * exact_dedup: one shuffle on the 60-bit content hash; collisions across
    petabytes are handled by grouping on (hash, length) — verify-on-collide
    could compare full text but 60-bit + length makes false merges ~0.
  * minhash_lsh: the classic shingle -> K minhashes -> bands -> bucket-join
    pipeline. The candidate join is on band_hash buckets, so the shuffle
    moves only (band_hash, doc_id) pairs; mega-buckets (boilerplate shingles)
    are capped to defend against quadratic blowup inside a bucket.
  * simhash: per-doc 32-bit signature via one groupBy; pairing joins on
    rotated bands of the signature (here: all-pairs within small inputs,
    banded at scale).
  * embedding near-dup: cosine via JVM-side zip_with/aggregate; at scale,
    pre-bucket by LSH hyperplanes (see ann.py) before pairing.
"""

from __future__ import annotations

import math

from contextlib import contextmanager
from typing import Iterator

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F

# 60-bit portable hash: identical in DuckDB as ('0x'||substr(md5(x),1,15))::BIGINT
def md5_60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


# 31-bit variant for modular minhash arithmetic without int64 overflow
def md5_31(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")


MERSENNE_61 = (1 << 61) - 1


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Rebalance tiny-partition inputs before a CPU-heavy map stage.

    A small parquet file scans as 1-2 splits, so the tokenize/shingle
    explode — the dominant cost of every dedup pipeline — runs on 1-2 of
    the cluster's cores. Join/shuffle outputs are as bad in the other
    direction: exactly spark.sql.shuffle.partitions FAT partitions, and
    the explode multiplies each ~300x before the partial aggregation, so
    per-task agg state outgrows memory and sort-spills (observed at 1M
    docs: an input with join lineage spilled >70 GB where the same rows
    from a 201-split scan spilled almost nothing). Target 4x parallelism
    so the explode-heavy stage runs many small tasks. At production
    scale the scan already yields >= 4x cores splits and this is a no-op
    branch — the conditional keeps the extra shuffle out of the 100 TB
    plan."""
    target = df.sparkSession.sparkContext.defaultParallelism * 4
    if df.rdd.getNumPartitions() < target:
        # hash-repartition on doc_id when available: a keyless round-robin
        # repartition first LOCALLY SORTS its full input rows
        # (spark.sql.execution.sortBeforeRepartition, needed for
        # deterministic retries) — measurable on wide text rows — while a
        # hash partitioning is deterministic by construction and skips the
        # sort. doc_id cardinality >> partitions, so the spread is even.
        if "doc_id" in df.columns:
            return df.repartition(target, F.col("doc_id"))
        return df.repartition(target)
    return df


def with_planted_dups(docs: DataFrame, every: int = 10, id_offset: int = 1_000_000,
                      keep_frac: float = 0.8) -> DataFrame:
    """Deterministic near-duplicate corpus: every Nth doc gets a twin with
    the first keep_frac of its tokens (id = doc_id + id_offset). Used by
    the dedup demos/tests so recall is measurable on synthetic data; the
    oracle replays the identical construction in SQL."""
    toks = F.split(F.col("text"), " ")
    truncated = F.array_join(
        F.slice(toks, 1, F.greatest(F.lit(1), F.floor(F.size(toks) * keep_frac)).cast("int")),
        " ",
    )
    twins = (
        docs.filter(F.col("doc_id") % every == 0)
        .select(
            (F.col("doc_id") + id_offset).alias("doc_id"),
            truncated.alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(twins)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: (keep_id, n_dups, dup_ids).
    keep_id = min doc_id of the group (deterministic survivor)."""
    h = docs.select("doc_id", md5_60(F.col("text")).alias("h"),
                    F.length("text").alias("len"))
    return (
        h.groupBy("h", "len")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .select("keep_id", "n_copies", "doc_ids")
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct token n-grams — the dedup unit."""
    # the token array is a projected column: a lambda that captured
    # split(text) would re-split the whole text once per shingle
    docs = ensure_parallelism(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    toks = F.col("toks")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return docs.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        round_to: int = 4) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold (a < b).

    Join on shared shingles -> |A∩B| per pair, then Jaccard via per-doc
    shingle counts. At 100 TB this exact form runs AFTER LSH candidate
    generation; standalone it's the ground-truth oracle for minhash."""
    sh = shingles(docs, n)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("n_inter"))
    )
    j = (
        inter.join(counts.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na")), "a")
        .join(counts.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("a", "b", F.round("jaccard", round_to).alias("jaccard"))


MERSENNE_31 = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) int64 vectors of the K universal hashes
    h_i(s) = (a_i * (md5_60(s) >> 32) + b_i) mod (2^31-1).

    The modulus must be SMALL enough that a*h wraps it many times — a
    non-wrapping modulus leaves every h_i monotone in h, making all K
    minima pick the same shingle (zero independence, LSH degenerates).
    a*h < 2^31 * 2^28 = 2^59 stays inside int64."""
    i = np.arange(num_hashes, dtype=np.int64)
    a = ((i * 2 + 1) * 2654435761) % MERSENNE_31 + 1
    b = ((i + 1) * 40503) % MERSENNE_31
    return a, b


_STATE_CHUNK_DOCS = 1024


def _minhash_state_batches(batches, n: int, a: np.ndarray, b: np.ndarray):
    """mapInArrow kernel: (doc_id, text) batches -> (doc_id, m0..m{K-1}, S).

    Per chunk, token and shingle boundaries come from the text column's
    Arrow offsets and its space bytes (UTF-8 never puts 0x20 inside a
    multi-byte character, so this is split(text, " ") exactly: leading,
    trailing and repeated spaces give empty tokens). Shingle i of a doc
    spans tokens i..i+n-1; a doc with at most n tokens is one shingle (its
    whole text). Each shingle's bytes are md5-hashed once; md5_60 is the
    digest's top 60 bits. The K minima are numpy reduceats over the
    chunk's shingle hashes, and S is the per-doc distinct hashes, sorted.
    Null texts have no shingles and emit no row."""
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc

    md5 = hashlib.md5
    # docs are taken _STATE_CHUNK_DOCS at a time: the per-shingle arrays
    # and digests of one chunk, not of a whole Arrow batch, are alive at once
    for batch in (
        whole.slice(lo, _STATE_CHUNK_DOCS)
        for whole in batches
        for lo in range(0, whole.num_rows, _STATE_CHUNK_DOCS)
    ):
        text = batch.column("text")
        if text.null_count:
            batch = batch.filter(pc.is_valid(text))
            text = batch.column("text")
        n_docs = len(text)
        if n_docs == 0:
            continue
        _, obuf, buf = text.buffers()
        offs = np.frombuffer(
            obuf, np.int64 if pa.types.is_large_string(text.type) else np.int32
        )[text.offset:text.offset + n_docs + 1].astype(np.int64)
        raw = memoryview(buf) if buf is not None else b""
        data = np.frombuffer(raw, np.uint8)
        sp = np.flatnonzero(data[offs[0]:offs[-1]] == 32) + offs[0]
        n_tok = np.diff(np.searchsorted(sp, offs)) + 1
        t0 = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
        # token byte ranges: tokens start at a doc's offset or after a
        # space and end at a space or the next doc's offset; both lists
        # are non-decreasing in (doc, token) order, so a sort merges them
        tok_start = np.sort(np.concatenate((offs[:-1], sp + 1)))
        tok_end = np.sort(np.concatenate((sp, offs[1:])))
        # shingle byte ranges
        n_sh = np.maximum(n_tok - n + 1, 1)
        s0 = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
        sh_doc = np.repeat(np.arange(n_docs), n_sh)
        i = np.arange(int(n_sh.sum())) - s0[sh_doc]
        first = t0[sh_doc]
        sh_start = tok_start[first + i]
        sh_end = tok_end[first + np.minimum(i + n - 1, n_tok[sh_doc] - 1)]
        digests = b"".join([
            md5(raw[s:e]).digest()
            for s, e in zip(sh_start.tolist(), sh_end.tolist())
        ])
        h60 = (np.frombuffer(digests, ">u8")[::2] >> 4).astype(np.int64)
        h28 = h60 >> 32
        cols = [batch.column("doc_id")]
        for ai, bi in zip(a.tolist(), b.tolist()):
            hv = (ai * h28 + bi) % MERSENNE_31
            cols.append(pa.array(np.minimum.reduceat(hv, s0)))
        # S: per-doc sorted distinct hashes (collect_set's set, in order)
        order = np.lexsort((h60, sh_doc))
        hs, ds = h60[order], sh_doc[order]
        new = np.ones(len(hs), bool)
        new[1:] = (hs[1:] != hs[:-1]) | (ds[1:] != ds[:-1])
        s_offs = np.zeros(n_docs + 1, np.int32)
        np.cumsum(np.bincount(ds[new], minlength=n_docs), out=s_offs[1:])
        cols.append(
            pa.ListArray.from_arrays(pa.array(s_offs), pa.array(hs[new]))
        )
        yield pa.RecordBatch.from_arrays(
            cols, ["doc_id"] + [f"m{k}" for k in range(len(a))] + ["S"]
        )


def minhash_doc_state(docs: DataFrame, n: int = 3, num_hashes: int = 32) -> DataFrame:
    """Per-doc LSH state: (doc_id, m0..m{K-1}, S), one row per non-null doc.

    The K signature minima AND the 60-bit shingle set used by the exact
    verify step come out of ONE Arrow pass per document
    (`_minhash_state_batches`): the text is split, its distinct word
    n-grams hashed with md5_60, the K universal-hash minima taken in numpy
    and S emitted as a sorted distinct int64 list — no per-shingle rows,
    no groupBy exchange, no interpreted aggregate. Sets are 60-bit shingle
    hashes, not strings: ~5x smaller rows (the sets side broadcasts when
    small), long-array intersection instead of string compares, and
    cross-doc collision odds ~n_shingles^2/2^60 per pair — no effect at
    4dp. The values equal the md5_60 / min / collect_set expressions over
    shingles() (pytest-pinned).

    The kernel maps over the input partitions; an input with fewer
    partitions than defaultParallelism (a small parquet scan) is first
    hash-partitioned on doc_id so every core runs a share."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    src = docs.select("doc_id", "text")
    par = docs.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par, F.col("doc_id"))
    a, b = _minhash_coeffs(num_hashes)
    schema = StructType(
        [docs.schema["doc_id"]]
        + [StructField(f"m{i}", LongType()) for i in range(num_hashes)]
        + [StructField("S", ArrayType(LongType()))]
    )
    return src.mapInArrow(
        lambda it: _minhash_state_batches(it, n, a, b), schema
    )


@contextmanager
def minhash_state(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    min_shingles: int | None = None,
    path: str | None = None,
) -> Iterator[DataFrame]:
    """Lifecycle handle for the materialized signatures table.

    The signatures+verify-sets frame is read by BOTH the banding stage and
    the exact-verify stage of minhash_lsh_pairs, so it must be materialized
    exactly once. This context manager owns that materialization:

      * ``path=None`` — persist() + count(), and **unpersist on exit** (the
        in-memory form for interactive / moderate-scale runs; the cache is
        provably released, see tests/test_pipeline.py).
      * ``path=...``  — write-through: the state is written to parquet once
        and read back as a leaf relation (the 100-TB production form — every
        large MinHash pipeline writes its signatures table between stages;
        as a leaf scan it also gives Catalyst true stats). The files are
        caller-owned; delete the directory to release them.

    Use with ``minhash_lsh_pairs(docs, state=st)``::

        with minhash_state(corpus) as st:
            pairs = minhash_lsh_pairs(corpus, state=st)
            pairs.write.parquet(out)        # consume INSIDE the block

    ``min_shingles`` (default 2*num_hashes) is applied here so a passed
    state is always pre-filtered — minhash_lsh_pairs does not re-filter.
    """
    state = minhash_doc_state(docs, n, num_hashes)
    if min_shingles is None:
        min_shingles = 2 * num_hashes
    if min_shingles > 1:
        state = state.filter(F.size("S") >= min_shingles)
    if path is not None:
        state.write.mode("overwrite").parquet(path)
        yield docs.sparkSession.read.parquet(path)
    else:
        state = state.persist()
        state.count()
        try:
            yield state
        finally:
            state.unpersist()


def pick_bands(num_hashes: int, threshold: float, min_recall: float = 0.95) -> int:
    """Banding auto-selection: the most selective rows-per-band r (largest
    power-of-two divisor of K) whose candidate recall at J=threshold,
    1 - (1 - t^r)^(K/r), still clears min_recall. Wider bands suppress the
    sub-threshold candidate flood quadratically while the verify step
    keeps precision exact. Measured on 100k Zipf webtext docs (t=0.5,
    K=32): r=1 -> 108M candidates, r=2 -> 8.6M — the r=1 configuration is
    a 100-TB scale killer, which is why it is only used where an oracle
    needs provably-complete recall."""
    r = 1
    while (
        r * 2 <= num_hashes
        and num_hashes % (r * 2) == 0
        and 1 - (1 - threshold ** (r * 2)) ** (num_hashes // (r * 2)) >= min_recall
    ):
        r *= 2
    return num_hashes // r


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int | None = None,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    round_to: int = 4,
    min_shingles: int | None = None,
    state: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact Jaccard >= threshold.

    bands=None (default) auto-selects via pick_bands — e.g. 16 bands x
    2 rows at threshold 0.5 (recall 0.990 at the threshold, ~1 for real
    twins, and ~12x fewer candidates than 1-row bands on Zipf text).
    The driver gates pass bands=32 (1-row bands) explicitly: there
    P(miss | J=0.5) = (1-J)^32 ≈ 2e-10, so the verified output equals the
    exact-Jaccard oracle bit-for-bit — an oracle constraint, not the
    at-scale configuration. Buckets larger than max_bucket (boilerplate)
    are dropped — the skew cap that keeps the candidate join from going
    quadratic at scale."""
    if bands is None:
        bands = pick_bands(num_hashes, threshold)
    rows_per_band = num_hashes // bands
    if state is None:
        # ONE state pass feeds both the banded candidate generation and
        # the exact-verify sets (round 2 ran shingles() twice — the double
        # tokenize+explode pass dominated the whole pipeline's cost). The
        # state frame is persisted: at 100 TB this is the materialized
        # signatures table every production MinHash pipeline writes once
        # and reads from both the banding and the verify stage. This
        # internal persist stays alive as long as the returned (lazy)
        # DataFrame — convenient for one-shot gate/bench calls; for an
        # owned lifecycle (unpersist on exit, or parquet write-through at
        # scale) compute the state via the minhash_state context manager
        # and pass it here.
        state = minhash_doc_state(docs, n, num_hashes)
        # Signature floor: MinHash needs |S| >> K for the K minima to carry
        # independent information. Short docs (|S| ~ K or less) have
        # degenerate signatures — the same few shingles win many minima — so
        # they band-collide with every other short doc: measured at 1M Zipf
        # webtext docs, no floor -> 147.6M candidates (~147 per doc) whose
        # verify join then sorted array-attached rows into a >70 GB spill
        # abort. With the 2K floor the tiny docs (whose Jaccard estimates
        # are statistically meaningless anyway) are left to exact/chunk
        # dedup, and candidates collapse to the genuinely-comparable pairs.
        # Driver gates pin min_shingles=1: their exact-Jaccard oracle covers
        # every doc, and the gate corpora are small enough that degeneracy
        # is harmless there.
        if min_shingles is None:
            min_shingles = 2 * num_hashes
        if min_shingles > 1:
            state = state.filter(F.size("S") >= min_shingles)
        # persist AND materialize now: the banding self-join's two branches
        # otherwise race into an unpopulated cache and each computes the full
        # state pass — double work. One count() builds the cache once; this
        # IS the "signatures table written once" that a production pipeline
        # materializes between stages.
        state = state.persist()
    # Materialize (populates a fresh persist in one pass) AND size the
    # verify build side: the banding's two branches must not race into an
    # unpopulated cache (each would compute the state pass), and the
    # set-attachment join strategy below needs the sets table's real size.
    srow = state.agg(
        F.count("*").alias("n"), F.sum(F.size("S")).alias("tot")
    ).first()
    n_state, tot_sh = int(srow["n"]), int(srow["tot"] or 0)
    # else-branch note: caller-materialized state (minhash_state) is
    # already min_shingles-filtered and persisted / a parquet leaf; the
    # agg above is a cheap cached scan and its lifecycle stays the
    # caller's.
    # band keys as plain column math over the wide minima (no re-stack /
    # re-group): key = md5(band_index : the band's consecutive minima).
    # (r6 note: exact (band, minima) STRUCT keys were tried and measured
    # SLOWER than the md5 strings in an interleaved A/B — struct-keyed
    # aggregation loses more than the md5 costs — so the key stays.)
    band_cols = []
    for bi in range(bands):
        parts = [
            F.col(f"m{bi * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(F.md5(F.concat_ws(":", F.lit(str(bi)), *parts)))
    # each banded row also carries |S|: the pair generation below can then
    # emit (a, b, na, nb) directly, which deletes the two candidate-side
    # size joins the r5 plan paid after the distinct (guide §2.4)
    banded = state.select(
        "doc_id", F.size("S").alias("n_sh"),
        F.explode(F.array(*band_cols)).alias("bk"),
    )
    # skew cap: per-bucket counts partial-aggregate map-side, so the hot
    # set (buckets over the cap — boilerplate) is a tiny frame; an
    # anti-join drops their rows. Surviving buckets are BOUNDED by
    # max_bucket, so each bucket's doc list can be collected in one
    # groupBy and pairs generated inside the array — replacing the r5
    # window-count sort + self-join with one exchange of the banded rows
    # (guide §2.4: two operations keyed the same way share one exchange;
    # interleaved A/B at sf1.0: identical candidate set, slightly faster
    # and with a much tighter run-to-run spread than the window plan).
    hot = (
        banded.groupBy("bk").agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") > max_bucket)
        .select("bk")
    )
    capped = banded.join(hot, "bk", "left_anti")
    grp = (
        capped.groupBy("bk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "n_sh"))
            ).alias("ds")
        )
        .filter(F.size("ds") >= 2)
    )
    # all (x, y) with x.doc_id < y.doc_id inside a bucket: element i pairs
    # with every later element of the doc_id-ascending-sorted list (2-arg
    # transform lambda: arg 2 is the 0-based array index; slice() is
    # 1-based; doc_ids are unique per bucket so the struct sort is by id)
    pairs = grp.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                        lambda y: F.struct(
                            x["doc_id"].alias("a"),
                            y["doc_id"].alias("b"),
                            x["n_sh"].alias("na"),
                            y["n_sh"].alias("nb"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    # exact Jaccard computed ONLY for LSH candidate pairs: the candidate
    # pairs join both sides' (bounded, doc-length-sized) shingle-hash sets
    # by doc id, intersection is JVM-side array_intersect — no
    # shingle-keyed shuffle, no global shingle self-join. Candidates are
    # size-ratio prefiltered with ONLY the set cardinalities before any
    # array moves: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so ratio < t
    # pairs can NEVER verify — an exact necessary condition (not an
    # approximation), which on lognormal doc lengths kills most of the
    # band-collision survivors before the heavy set join. The sizes ride
    # the pair rows from the bucket expansion (16 extra bytes per row),
    # so the filter needs no joins at all. Pairs colliding in SEVERAL
    # bands (~11% at sf1.0) are NOT deduplicated here: verifying the few
    # duplicates costs less than an 8-9M-row distinct exchange (A/B:
    # 8.3s -> 6.8s for the candidate+verify span), and the final
    # projection dedupes the (tiny) verified output instead — the result
    # set is identical.
    sets = state.select("doc_id", "S")
    # Set-attachment strategy, picked from the MEASURED sets size instead
    # of left to the planner (guide §3.1/§8): when the sets table fits the
    # broadcast threshold, the two attachment joins broadcast it — the
    # bench/gate plan, zero shuffles on the verify. When it does NOT fit,
    # any join-based attachment materializes candidate rows CARRYING set
    # arrays (~|pairs| x |S| x 8 B x 2): audited at 1M docs / auto-banding
    # as 98.6M candidates -> a ~64 GB intermediate whose sort-merge sort
    # spilled 70-98 GB and whose shuffled-hash variant still exhausted the
    # disk with the exchange itself. The large regime therefore switches
    # to a GRID-partitioned verify (below) that never builds a wide row.
    est_sets_bytes = tot_sh * 8 * 2 + n_state * 32
    try:
        bcast_thr = int(
            docs.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except Exception:
        bcast_thr = 10 * 1024 * 1024
    pre = (
        pairs.select("p.a", "p.b", "p.na", "p.nb")
        .filter(
            F.least("na", "nb") >= F.greatest("na", "nb") * F.lit(float(threshold))
        )
    )
    # MATERIALIZE the prefiltered candidate table before the array join.
    # Without the barrier Catalyst plans the verify joins with no stats on
    # the candidate side (any upstream join lineage erases them) and can
    # reorder the heavy set join ahead of the size filter — observed at
    # 1M docs as >70 GB of sort spill and an abort when the same operator
    # over a stat-less input frame; over a bare scan it planned fine.
    # Production pipelines write the candidate table out anyway; the
    # checkpoint is that table, and downstream plans see its true
    # (post-filter, small) size.
    pre = pre.localCheckpoint(eager=True)
    if bcast_thr <= 0 or est_sets_bytes <= bcast_thr // 2:
        # small-sets regime: both attachments broadcast the sets table
        # (the planner picks BroadcastHashJoin from the cached relation's
        # true size; the estimate above errs low, so it under- not
        # over-claims this branch) — zero shuffles, exact array_intersect
        inter = (
            pre.join(
                sets.select(F.col("doc_id").alias("a"), F.col("S").alias("sa")),
                "a",
            )
            .join(
                sets.select(F.col("doc_id").alias("b"), F.col("S").alias("sb")),
                "b",
            )
            .select(
                "a",
                "b",
                F.size(F.array_intersect("sa", "sb")).alias("n_inter"),
                "na",
                "nb",
            )
        )
    else:
        inter = _grid_intersect(pre, sets)
    j = inter.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
    ).filter(F.col("jaccard") >= threshold)
    # multi-band collisions dedupe HERE, on the verified (small) output —
    # jaccard is a pure function of (a, b), so this equals the r5 plan's
    # pre-verify candidate distinct exactly
    return j.select(
        "a", "b", F.round("jaccard", round_to).alias("jaccard")
    ).distinct()


def _grid_intersect(pre: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact per-pair set-intersection counts for the LARGE-sets regime:
    (a, b, na, nb) pairs -> (a, b, n_inter, na, nb), never materializing a
    pair row that carries a set array.

    Guide §8 shape — decide with small rows, move heavy bytes once: the
    pair space is partitioned into a P x Q grid by (a mod P, b mod Q);
    each doc's (compact, distinct-hash) set is replicated to its row of
    the grid as an a-side copy (Q cells) and its column as a b-side copy
    (P cells). One exchange therefore moves |pairs| 32-byte rows plus
    (P+Q) x the sets table — at 1M docs / 98.6M candidates that is
    ~3 GB + 8 GB, versus the ~64 GB array-carrying intermediate (plus its
    sort) that a join-based attachment builds. Inside each cell a python
    task holds the two set dictionaries (sets_bytes/P and /Q — bounded by
    choosing P,Q ~ sqrt(2 x parallelism)) and intersects per pair with
    numpy (sets are distinct-element arrays, so assume_unique holds).
    Output values are the identical integers the array_intersect plan
    produces (pytest-pinned equal on a forced-grid run)."""
    import pandas as _pd

    spark = pre.sparkSession
    par = spark.sparkContext.defaultParallelism
    # ~8x more cells than cores: the cell id is a grouping KEY, not a
    # partition id, so balance comes from having many more keys than
    # shuffle partitions (guide §2.5); replication grows only as
    # P+Q ~ 2*sqrt(cells)
    g = max(2, int(math.isqrt(8 * par)))
    P = Q = g
    cell_pair = (F.pmod(F.col("a"), F.lit(P)) * Q
                 + F.pmod(F.col("b"), F.lit(Q))).cast("int")
    pair_rows = pre.select(
        cell_pair.alias("cell"), F.lit(0).cast("byte").alias("side"),
        F.lit(None).cast("long").alias("doc"),
        F.lit(None).cast("array<long>").alias("S"),
        "a", "b", "na", "nb",
    )
    qs = F.explode(F.sequence(F.lit(0), F.lit(Q - 1)))
    a_rows = sets.select(
        "doc_id", "S", qs.alias("q")
    ).select(
        (F.pmod(F.col("doc_id"), F.lit(P)) * Q + F.col("q")).cast("int").alias("cell"),
        F.lit(1).cast("byte").alias("side"),
        F.col("doc_id").alias("doc"), "S",
        F.lit(None).cast("long").alias("a"), F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("int").alias("na"), F.lit(None).cast("int").alias("nb"),
    )
    ps = F.explode(F.sequence(F.lit(0), F.lit(P - 1)))
    b_rows = sets.select(
        "doc_id", "S", ps.alias("p")
    ).select(
        (F.col("p") * Q + F.pmod(F.col("doc_id"), F.lit(Q))).cast("int").alias("cell"),
        F.lit(2).cast("byte").alias("side"),
        F.col("doc_id").alias("doc"), "S",
        F.lit(None).cast("long").alias("a"), F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("int").alias("na"), F.lit(None).cast("int").alias("nb"),
    )
    union = pair_rows.unionByName(a_rows).unionByName(b_rows)

    def _cell(key, pdf: _pd.DataFrame) -> _pd.DataFrame:
        side = pdf["side"].to_numpy()
        # python frozensets beat every numpy variant measured for these
        # ~80-element int64 sets (3.7 us/pair vs 7.1 intersect1d / 9.8
        # searchsorted): len(x & y) iterates the smaller set probing the
        # larger's C hash table, no per-call array allocation
        sa = {
            int(d): frozenset(np.asarray(s, dtype=np.int64).tolist())
            for d, s in zip(pdf["doc"][side == 1], pdf["S"][side == 1])
        }
        sb = {
            int(d): frozenset(np.asarray(s, dtype=np.int64).tolist())
            for d, s in zip(pdf["doc"][side == 2], pdf["S"][side == 2])
        }
        pr = pdf[side == 0]
        aa = pr["a"].tolist()
        bb = pr["b"].tolist()
        ni = np.empty(len(aa), np.int32)
        for i, (a_, b_) in enumerate(zip(aa, bb)):
            ni[i] = len(sa[a_] & sb[b_])
        return _pd.DataFrame(
            {
                "a": np.asarray(aa, np.int64),
                "b": np.asarray(bb, np.int64),
                "n_inter": ni,
                "na": pr["na"].to_numpy(np.int32),
                "nb": pr["nb"].to_numpy(np.int32),
            }
        )

    return union.groupBy("cell").applyInPandas(
        _cell, "a long, b long, n_inter int, na int, nb int"
    )


def simhash_signatures(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash): tf-weighted sign-sum of term-hash bits (the
    term hash is 60-bit so all `bits` positions are uniformly random)."""
    toks = (
        ensure_parallelism(docs)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .withColumn("th", md5_60(F.col("term")))
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf")
                * F.when(F.shiftright(F.col("th"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(0)
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 60,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Banded candidate join: the signature splits into (max_hamming+1)
    disjoint bit-bands; by pigeonhole any pair within the radius agrees
    exactly on at least one band, so candidates come from an EQUI-join on
    (band, band_value) — never an all-pairs theta-join — and the explicit
    hamming filter restores precision. Recall is 1 by construction (on
    buckets under the cap), so the output equals the all-pairs result
    exactly (pytest-asserted).

    Band width = bits/(max_hamming+1) DECIDES scalability: expected
    bucket size is n_docs/2^width, and the per-bucket self-join is
    quadratic in it. 32-bit signatures (6-bit bands at h=3..4) mega-
    bucket at ~10^5 docs — measured: 100k Zipf docs did not finish in
    10 min — so the default signature is the full 60-bit term hash
    (12-15-bit bands: ~10^2-sized buckets at 1M docs). Buckets above
    max_bucket are dropped (the minhash-style skew cap; identical-doc
    floods belong to exact_dedup, which clean_corpus runs first). Beyond
    ~10M docs even 60-bit bands saturate — at that scale use the
    MinHash path or multi-probe rotations; the cap keeps this operator
    safe (never quadratic), not silently slow."""
    sig = simhash_signatures(docs, bits)
    nb = max_hamming + 1
    w = bits // nb
    band_structs = []
    for i in range(nb):
        lo = i * w
        width = w if i < nb - 1 else bits - lo
        band_structs.append(
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
        )
    bands = sig.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("bv")
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"),
             F.col("bv.val").alias("val"))
    from pyspark.sql import Window

    bands = (
        bands.withColumn(
            "bsz", F.count("*").over(Window.partitionBy("band", "val"))
        )
        .filter(F.col("bsz") <= max_bucket)
        .drop("bsz")
    )
    cands = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "val"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.simhash").alias("sa"),
            F.col("y.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cands.select("a", "b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _probe_masks(n_planes: int, multi_probe: int) -> list[int]:
    """Every non-zero XOR mask with popcount <= multi_probe — the
    hamming<=multi_probe probe set. multi_probe=1 is the n_planes
    single-bit flips; higher values add the C(n_planes, r) multi-bit
    flips (the r4 form silently capped every value >= 1 at single-bit
    probes, so raising multi_probe never improved recall)."""
    from itertools import combinations

    return [
        sum(1 << j for j in bits)
        for r in range(1, max(0, int(multi_probe)) + 1)
        for bits in combinations(range(n_planes), r)
    ]


def embedding_neardup_pairs(
    vecs: DataFrame,
    threshold: float = 0.99,
    round_to: int = 4,
    n_planes: int | None = None,
    seed: int = 42,
    dim: int = 64,
    multi_probe: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Pairing is LSH-bucketed (ann.lsh_bucketed hyperplane sign bits), never
    all-pairs: one side's rows are expanded to their own bucket plus every
    bucket within hamming<=multi_probe of it (all XOR masks of popcount
    <= multi_probe), the join is an equi-join on bucket, and cosine
    (JVM-side zip_with/aggregate in float64, no Python) filters inside
    buckets. Cost ~ (1 + Σ_{r<=multi_probe} C(n_planes, r)) x rows
    shuffled on bucket — combinatorial in multi_probe, so keep it 1-2;
    pair work is per-bucket, not corpus-quadratic. Recall: a pair straddling > multi_probe sign flips is
    missed — with threshold 0.99 (angle ~8 deg) P(flip) per plane is a few
    percent, so flip-1 probing covers all but ~0.1% of true pairs; the
    pytest measures recall vs the exact all-pairs reference.

    n_planes=None auto-sizes the code: max(8, ceil(log2(n/32))) planes so
    expected bucket size stays ~32 (measured: fixed 8 planes left ~400-
    vector buckets at 100k vecs — 269s of in-bucket cosine; auto picks 12
    planes there). Costs one count() job; flip-1 probe recall decays
    slowly with planes (~0.95 at 8, ~0.91 at 12 for threshold 0.99) —
    raise multi_probe or use the IVF path when that matters. The driver
    gate pins n_planes=8 (its oracle embeds those 8 plane constants)."""
    import math

    from clucene_spark.pipeline.ann import lsh_bucketed

    if n_planes is None:
        n = vecs.count()
        n_planes = max(8, math.ceil(math.log2(n / 32))) if n > 32 else 8

    b = lsh_bucketed(vecs, n_planes=n_planes, seed=seed, dim=dim)
    v = b.select(
        F.col("vec_id"),
        F.col("embedding").cast("array<double>").alias("e"),
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("norm"),
        F.col("bucket"),
    )
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(m).cast("long"))
        for m in _probe_masks(n_planes, multi_probe)
    ]
    left = v.select(
        "vec_id", "e", "norm", F.explode(F.array(*probes)).alias("bucket")
    )
    a, c = left.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.e"), F.col("b.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(c, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            F.round(cos, round_to).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def chunk_dedup(docs: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """Chunk-level (paragraph-level) exact dedup: split every doc into
    fixed chunk_tokens-token windows, hash each, group identical chunks
    across the corpus. Returns (chunk_hash, n_copies, n_docs, keep_doc,
    keep_idx) for chunks occurring more than once — the sub-document
    granularity a boilerplate-removal pass needs (site headers, license
    blocks, navigation text repeat across pages even when whole-doc
    hashes differ).

    Scale shape: one explode (docs x chunks_per_doc rows, each a 60-bit
    hash + two ints — no chunk text moves) and one groupBy shuffle on the
    hash; at 100 TB this is the same single-shuffle profile as
    exact_dedup, ~10x the row count."""
    toks = F.col("toks")
    n_chunks = F.ceil(F.size(toks) / chunk_tokens).cast("int")
    chunks = ensure_parallelism(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        ).alias("chunk_idx", "chunk"),
    ).filter(F.col("chunk") != "")
    return (
        chunks.select(
            "doc_id", "chunk_idx", md5_60(F.col("chunk")).alias("chunk_hash")
        )
        .groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            F.min(F.struct("doc_id", "chunk_idx"))["chunk_idx"].alias("keep_idx"),
        )
        .filter(F.col("n_copies") > 1)
    )


def window_dedup_stats(
    docs: DataFrame, w: int = 16, round_to: int = 4
) -> DataFrame:
    """Exact-substring (sliding token-window) duplication stats per doc —
    the declarative restatement of ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", public):
    a token position is duplicated text iff some w-token window covering
    it also occurs in ANOTHER doc. Complements chunk_dedup (fixed
    non-overlapping chunks): overlapping stride-1 windows catch shared
    substrings at any alignment, the way copied passages actually appear
    in web text. Returns (doc_id, n_windows, n_dup_windows, dup_frac)
    for every doc with >= w tokens — curation drops or trims docs whose
    dup_frac exceeds a policy threshold.

    Scale shape: one explode to (doc_id, window-hash) rows — n_tokens-w+1
    per doc, each 16 bytes, no window text ever moves — then three
    aggregations, all with map-side partial aggregation:
      1. (doc_id, h) occurrence counts (combines same-doc repeats early),
      2. per-h min/max doc_id — cross-doc iff min < max, which avoids a
         countDistinct entirely and cannot skew (partial agg collapses a
         boilerplate hash to one row per map task),
      3. per-doc rollup of total vs cross-doc-flagged window counts.
    The only join attaches the 1-row-per-hash flag back to (doc_id, h)
    rows; a mega-hash (site boilerplate in millions of docs) lands many
    left rows on one key with a single build row — AQE skew-join splits
    it. Window hashing is JVM-side column math (md5 over array_join of a
    slice), no Python in the plan."""
    toks = F.col("toks")
    wins = ensure_parallelism(docs).select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).filter(F.size(toks) >= w).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - w),
                lambda i: md5_60(F.array_join(F.slice(toks, i + 1, w), " ")),
            )
        ).alias("h"),
    )
    per_dh = wins.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    per_h = per_dh.groupBy("h").agg(
        (F.min("doc_id") < F.max("doc_id")).alias("is_dup")
    )
    # per_h is CORPUS-SIZED (one row per distinct window hash, ~n_tokens
    # rows at stride 1), and per_dh is the same size — pin SORT-MERGE for
    # this join. The r4 1M-doc audit hit both failure modes of the
    # alternatives: AQE sized the flag table by compressed shuffle bytes
    # and picked broadcast ("Not enough memory to build and broadcast"),
    # and shuffle_hash then failed its per-partition hash-relation build
    # under concurrent-task memory pressure ("Can't acquire 67108864
    # bytes"). SMJ spills gracefully on both sides — the only safe shape
    # when NEITHER side is bounded. (Contrast lm_score: its LM side is
    # corpus-derived but row-bounded by the vocab², so shuffle_hash is
    # right there.) Plan pinned by tests/test_plans.py.
    return (
        per_dh.join(per_h.hint("merge"), "h")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_windows"),
            F.sum(F.when(F.col("is_dup"), F.col("c")).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), round_to),
        )
    )


def line_dedup(
    docs: DataFrame, sep: str = "\n", max_docs: int = 1
) -> DataFrame:
    """Corpus-level duplicated-line removal with document rewrite — the
    CCNet / RefinedWeb line-dedup pass (public: Wenzek et al. 2019
    "CCNet", Penedo et al. 2023 "The RefinedWeb Dataset"): a line that
    occurs in more than `max_docs` documents is boilerplate (site nav,
    cookie banners, copyright footers) and is dropped from every document
    EXCEPT its canonical owner (min doc_id), so exactly one copy survives
    corpus-wide. Complements chunk_dedup (which only reports duplicate
    chunks): this op returns the cleaned corpus.

    Returns (doc_id, n_lines, n_kept, text_clean) for every input doc —
    text_clean is the document with dropped lines removed, original line
    order preserved (empty string when nothing survives).

    Scale shape at 100 TB — LINE TEXT NEVER EXPLODES OR SHUFFLES:
      - the stats pass explodes only (doc_id, line-hash) pairs (16-byte
        rows) and rolls them up two-level (the window_dedup_stats
        pattern: no countDistinct, boilerplate mega-lines collapse
        map-side and cannot skew the reduce);
      - with max_docs=1 (the default policy) there is NO per-line flag
        join at all: the keep rule collapses to "owner keeps" and the
        keep sets come off two hash-keyed aggregations. For max_docs>1
        both sides of the flag join are corpus-sized hash frames, so it
        is pinned sort-merge — same reasoning and failure modes as
        window_dedup_stats (AQE mis-broadcasts by compressed size;
        shuffled-hash can't build under memory pressure);
      - keep decisions come back as ONE compact row per doc (the kept
        hash set), joined to the original docs table on doc_id, and the
        rewrite itself is a map-side higher-order filter over the
        re-split text — the document body crosses the wire exactly once
        (that doc_id join), never in exploded per-line form.
    """
    lines = F.filter(F.split(F.col("text"), sep), lambda x: x != "")
    base = ensure_parallelism(docs).select("doc_id", "text").filter(
        F.size(lines) > 0
    )
    # distinct (doc_id, line-hash) pairs WITHOUT a distinct shuffle:
    # doc_ids are unique per row, so dedup is per-doc and array_distinct
    # runs map-side before the explode — removes a corpus-sized
    # exchange+aggregate from the r5 plan (guide §2.4).
    per_dh = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(lines, lambda x: md5_60(x)))
        ).alias("h"),
    )
    if max_docs <= 1:
        # owner-only fast path (the default / gate policy): with
        # max_docs=1 the keep rule "nd <= 1 OR doc_id == owner" is
        # exactly "doc_id == owner" — a line in one doc is kept by that
        # doc, which IS its min-doc owner, and a line in several docs is
        # kept only by the owner. So the keep sets come straight off the
        # per-line rollup: min(doc_id) per hash, then collect per owner —
        # no per-line flag join at all. vs the general path below this
        # deletes one corpus-lines exchange, both SMJ sorts, and the
        # second compute of the split+md5 branch (guide §2.1). Interleaved
        # A/B at the bench fixture (100k docs, 4 reps each): min 2.24 ->
        # 1.46 s, median 2.78 -> 1.77; exceptAll both ways = 0 rows.
        keep_sets = (
            per_dh.groupBy("h")
            .agg(F.min("doc_id").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("keep_hs"))
        )
    else:
        per_h = per_dh.groupBy("h").agg(
            F.count("*").alias("nd"),           # docs containing the line
            F.min("doc_id").alias("owner"),     # canonical keeper
        )
        keep_sets = (
            per_dh.join(per_h.hint("merge"), "h")
            .filter(
                (F.col("nd") <= max_docs) | (F.col("doc_id") == F.col("owner"))
            )
            .groupBy("doc_id")
            .agg(F.collect_set("h").alias("keep_hs"))
        )
    keep_hs = F.coalesce(
        F.col("keep_hs"), F.array().cast("array<long>")
    )
    kept_arr = F.filter(
        lines, lambda x: F.array_contains(keep_hs, md5_60(x))
    )
    return base.join(keep_sets, "doc_id", "left").select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept_arr).cast("long").alias("n_kept"),
        F.array_join(kept_arr, sep).alias("text_clean"),
    )


def span_dedup(docs: DataFrame, w: int = 16) -> DataFrame:
    """Exact-substring dedup WITH document rewrite — the removal half of
    ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", public): any w-token window that
    occurs in MORE THAN ONE document is duplicated text; every token
    position covered by such a window is cut from every document except
    the window's canonical owner (min doc_id — line_dedup's owner rule
    lifted to overlapping stride-1 windows), and overlapping removals
    merge into maximal spans, so copied passages vanish at ANY alignment
    while exactly one copy survives corpus-wide. Complements
    window_dedup_stats (which only reports per-doc duplication fractions)
    the way line_dedup complements chunk_dedup: this op returns the
    cleaned corpus. Within-doc-only repetition is deliberately kept (the
    owner keeps all its copies) — that signal belongs to text_repetition.

    Returns (doc_id, n_tokens, dup_tokens, n_spans, text_clean) for every
    input doc: dup_tokens/n_spans describe the merged removed spans
    (0/0 and text_clean = original text when nothing was cut, including
    docs shorter than w; empty string when nothing survives).

    Scale shape at 100 TB — WINDOW TEXT NEVER MOVES, DOC TEXT MOVES ONCE:
      - one explode to (doc_id, pos, window-hash) rows (n_tokens-w+1 per
        doc, 24 bytes each), hashed JVM-side (md5 over an array_join of a
        slice, no Python);
      - the flag table is one row per distinct hash carrying only
        (owner = min doc_id, cross-doc = min < max) — no countDistinct,
        and boilerplate mega-hashes collapse in the map-side partial agg;
      - flag join pinned SORT-MERGE: both sides are corpus-sized hash
        frames — same reasoning and audited failure modes as
        window_dedup_stats (AQE mis-broadcasts by compressed size,
        shuffled-hash can't build under memory pressure);
      - covered positions roll up to ONE compact row per doc (the merged
        (start,end) span list, bounded by doc length like line_dedup's
        keep-set), joined back on doc_id; the rewrite is a map-side
        higher-order filter — each token checks the few merged spans
        (O(n_tokens x n_spans)), the document body crosses the wire
        exactly once.
    """
    from pyspark.sql import Window

    toks = F.split(F.col("text"), " ")
    base = ensure_parallelism(docs).select("doc_id", "text")
    wtoks = F.col("toks")
    wins = base.select("doc_id", toks.alias("toks")).filter(
        F.size(wtoks) >= w
    ).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(wtoks) - w),
                lambda i: F.struct(
                    (i + 1).cast("int").alias("pos"),
                    md5_60(F.array_join(F.slice(wtoks, i + 1, w), " ")).alias(
                        "h"
                    ),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.h")
    per_h = wins.groupBy("h").agg(
        F.min("doc_id").alias("owner"),
        (F.min("doc_id") < F.max("doc_id")).alias("cross"),
    )
    covered = (
        wins.join(per_h.hint("merge"), "h")
        .filter(F.col("cross") & (F.col("doc_id") != F.col("owner")))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("p"),
        )
        .distinct()
    )
    # gaps-and-islands: consecutive covered positions share (p - rank)
    grp = F.col("p") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("p")
    )
    spans = (
        covered.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(F.min("p").alias("s"), F.max("p").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
            F.count("*").alias("n_spans"),
        )
    )
    span_arr = F.coalesce(
        F.col("spans"), F.array().cast("array<struct<s:int,e:int>>")
    )
    kept = F.transform(
        F.filter(
            F.transform(
                toks,
                lambda x, i: F.struct((i + 1).cast("int").alias("p"), x.alias("t")),
            ),
            lambda st: ~F.exists(
                span_arr,
                lambda v: (st["p"] >= v["s"]) & (st["p"] <= v["e"]),
            ),
        ),
        lambda st: st["t"],
    )
    return base.join(spans, "doc_id", "left").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias(
            "dup_tokens"
        ),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.array_join(kept, " ").alias("text_clean"),
    )


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 8,
                  min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any token
    n-gram with an evaluation/benchmark corpus — the standard
    leakage-removal pass before LLM training.

    bench: DataFrame with a `text` column (the benchmark set). Returns
    (doc_id, n_hits, first_hit) for contaminated docs (n_hits = how many
    distinct benchmark n-grams the doc contains).

    Scale shape: the benchmark side is tiny relative to the corpus, so
    its distinct n-gram hashes BROADCAST; the corpus side streams its
    shingles through a broadcast-hash semi-join — no shuffle of the
    100 TB side at all. Hashes are 60-bit (md5_60): collision odds
    ~|bench|x|doc n-grams|/2^60 — no practical false flags."""
    bench_grams = (
        shingles(bench.select(F.lit(-1).alias("doc_id"), "text"), n)
        .select(md5_60(F.col("shingle")).alias("g"))
        .distinct()
    )
    doc_grams = shingles(docs, n).select(
        "doc_id", md5_60(F.col("shingle")).alias("g")
    )
    hits = doc_grams.join(F.broadcast(bench_grams), "g")
    return (
        hits.groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"), F.min("g").alias("first_hit"))
        .filter(F.col("n_hits") >= min_hits)
    )


def decontaminate_fraction(docs: DataFrame, bench: DataFrame,
                           n: int = 8, round_to: int = 4) -> DataFrame:
    """Per-doc contamination FRACTION — the thresholded form real
    pipelines filter on (e.g. "drop if >5% of a doc's n-grams appear in
    the benchmark"), vs decontaminate()'s any-hit flag.

    Returns (doc_id, n_grams, n_hits, frac) for EVERY doc:
    n_grams = distinct token n-grams in the doc, n_hits = how many of
    those also occur in the benchmark set, frac = n_hits / n_grams.

    Scale shape: same as decontaminate — benchmark n-gram hashes
    broadcast; the corpus side left-joins its shingle stream against the
    broadcast (no shuffle) and marks matches, then ONE groupBy(doc_id)
    computes both counts. shingles() already dedups n-grams WITHIN each
    doc map-side (array_distinct before the explode), so plain count()
    suffices — no distinct aggregate, no expand: partial aggregation
    compresses the stream to one row per doc before the only shuffle."""
    bench_grams = (
        shingles(bench.select(F.lit(-1).alias("doc_id"), "text"), n)
        .select(md5_60(F.col("shingle")).alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    doc_grams = shingles(docs, n).select(
        "doc_id", md5_60(F.col("shingle")).alias("g")
    )
    flagged = doc_grams.join(F.broadcast(bench_grams), "g", "left")
    n_hits = F.count(F.col("hit")).alias("n_hits")  # count() skips nulls
    n_grams = F.count("g").alias("n_grams")
    return (
        flagged.groupBy("doc_id")
        .agg(n_grams, n_hits)
        .select(
            "doc_id", "n_grams", "n_hits",
            F.round(F.col("n_hits") / F.col("n_grams"), round_to).alias("frac"),
        )
    )
