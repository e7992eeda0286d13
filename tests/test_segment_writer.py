"""The one segment writer (`segments._emit_segment`) and its contract.

Every builder — relational, fused, aligned, direct and crawl — writes its
segments through `_emit_segment`: files into a uuid tmp dir, an atomic
publish, then the checkpoint row. These tests pin what that single path
guarantees: a retried or duplicated task attempt converges on one
segment dir and one checkpoint, and every committed segment holds
exactly the files its build asked for, with checkpoint counts that
match the files."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from clucene_spark.index import segments as S


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dp, _dns, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def test_write_checkpoint_survives_duplicate_attempt(tmp_path, monkeypatch):
    """A second attempt of the same task writing the same checkpoint while
    the first is mid-write (speculative twin, retry): neither may clobber
    the other's tmp file, both renames succeed, and the final file is one
    whole JSON row. The nested call runs inside the first attempt's
    json.dump, between its open and its rename."""
    idx = str(tmp_path)
    os.makedirs(os.path.join(idx, "checkpoints"))
    real_dump = json.dump
    calls = []

    def dump(obj, fh, *a, **kw):
        calls.append(obj)
        if len(calls) == 1:
            S._write_checkpoint(idx, "seg_00000007", {**obj, "attempt": 2})
        return real_dump(obj, fh, *a, **kw)

    monkeypatch.setattr(json, "dump", dump)
    S._write_checkpoint(idx, "seg_00000007", {"segment": "seg_00000007"})
    monkeypatch.undo()

    assert len(calls) == 2
    assert os.listdir(os.path.join(idx, "checkpoints")) == ["part_00000007.json"]
    cks = S.read_checkpoints(idx)
    assert len(cks) == 1 and cks[0]["segment"] == "seg_00000007"


def test_emit_segment_retry_converges(tmp_path):
    """Two attempts of the same segment (a task retry after the publish,
    or a speculative twin) leave one segment dir with byte-identical
    files, no tmp dir, and one checkpoint."""
    idx = str(tmp_path)
    os.makedirs(os.path.join(idx, "segments"))
    os.makedirs(os.path.join(idx, "checkpoints"))
    ids = np.arange(10, 16, dtype=np.int64)
    texts = np.array(["the quick brown fox", "jumps over", None, "lazy dogs",
                      "quick quick fox", "brown"], dtype=object)

    def attempt():
        inv = S._invert_fields(ids, [(None, texts, "standard", None)], True)
        return S._emit_segment(idx, "seg_00000000", 0, 10, 15, 0.0, inv)

    first = attempt()
    before = _digest(idx)
    second = attempt()
    after = _digest(idx)

    assert os.listdir(os.path.join(idx, "segments")) == ["seg_00000000"]
    assert sorted(os.listdir(os.path.join(idx, "checkpoints"))) == [
        "part_00000000.json"]
    assert not [p for p in after if p.endswith(".tmp") or ".tmp/" in p]
    # the checkpoint's build_sec is wall time; every segment file is equal
    seg_files = {p for p in before if p.startswith("segments/")}
    assert seg_files == {p for p in after if p.startswith("segments/")}
    assert {p: before[p] for p in seg_files} == {p: after[p] for p in seg_files}
    drop = ["build_sec"]
    assert (first.drop(columns=drop).to_dict("records")
            == second.drop(columns=drop).to_dict("records"))
    ck = S.read_checkpoints(idx)[0]
    assert (ck["n_docs"], ck["min_doc"], ck["max_doc"]) == (5, 10, 15)


# (builder, term vectors requested) — the five builders of the write path
BUILDS = [
    ("relational", False),
    ("fused", False),
    ("fused", True),
    ("aligned", False),
    ("direct", False),
    ("direct", True),
    ("crawl", False),
]


@pytest.fixture(scope="module")
def sources(spark, sf_dir, tmp_path_factory):
    from clucene_spark.data import warc as W

    root = tmp_path_factory.mktemp("writer_src")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    pq_dir = str(root / "parquet")
    (docs.repartitionByRange(3, "doc_id").sortWithinPartitions("doc_id")
     .write.parquet(pq_dir))
    W.webtext_warc_files(spark, 60, str(root / "crawl"),
                         docs_per_file=20).collect()
    return {"docs": docs, "parquet": pq_dir,
            "warc": W.list_warc_paths(str(root / "crawl"))}


def _build(spark, sources, builder, tv, idx):
    from clucene_spark.index.build import InvertedIndex
    from clucene_spark.index.warc_build import build_segments_from_warc

    docs = sources["docs"]
    if builder == "relational":
        S.build_segments(InvertedIndex(docs).tokens, None, idx,
                         docs_per_segment=128)
    elif builder == "fused":
        S.build_segments_fused(docs, idx, docs_per_segment=128,
                               term_vectors=tv)
    elif builder == "aligned":
        S.build_segments_aligned(spark.read.parquet(sources["parquet"]), idx)
    elif builder == "direct":
        S.build_segments_direct(spark, sources["parquet"], idx,
                                with_vectors=tv)
    else:
        build_segments_from_warc(spark, sources["warc"], idx, stride=20)


@pytest.mark.parametrize("builder,tv", BUILDS,
                         ids=[f"{b}{'-tv' if tv else ''}" for b, tv in BUILDS])
def test_builder_segment_file_set_and_counts(spark, sources, tmp_path,
                                             builder, tv):
    idx = str(tmp_path / "idx")
    _build(spark, sources, builder, tv, idx)

    want = {"postings.parquet", "doc_lens.parquet", "term_index.parquet"}
    if tv:
        want.add("term_vectors.parquet")
    if builder == "crawl":
        want.add("urls.parquet")
    segs = S.read_manifest(idx)["segments"]
    assert len(segs) >= 2
    assert sorted(os.listdir(os.path.join(idx, "segments"))) == sorted(
        s["name"] for s in segs)
    cks = {c["segment"]: c for c in S.read_checkpoints(idx)}
    assert set(cks) == {s["name"] for s in segs}
    for s in segs:
        seg_dir = os.path.join(idx, "segments", s["name"])
        assert set(os.listdir(seg_dir)) == want, s["name"]
        ck = cks[s["name"]]
        n_rows = pq.read_metadata(
            os.path.join(seg_dir, "postings.parquet")).num_rows
        dl_ids = pq.read_table(os.path.join(seg_dir, "doc_lens.parquet"),
                               columns=["doc_id"]).column("doc_id")
        assert ck["n_terms"] == n_rows
        assert ck["n_docs"] == len(set(dl_ids.to_pylist()))
