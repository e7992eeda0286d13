"""Seeded input generators for the benchmark.

Everything here is the benchmark's own code: the program under test never
generates its inputs, so a change to the program cannot change what it is
measured on. The same seed gives byte-identical inputs.

Text model: a vocabulary of pronounceable letter-only stems with inflected
variants (so fuzzy and prefix queries have real neighbours), drawn with a
Zipf law, with Lucene's English stop words mixed in. Sentences start with a
capital and end in '.'; tokens are separated by single spaces. Under
StandardAnalyzer such text tokenizes to exactly its lowercase letter runs
minus the stop words, which is what `reference.tokenize` computes.
"""

from __future__ import annotations

import datetime as _dt
import os
import zlib

import numpy as np

# Lucene's English stop list (33 words), written out here so the benchmark
# does not take it from the program it checks.
STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)
_STOPS = sorted(STOP_WORDS)

_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")
_SUFFIXES = ("s", "ed", "er", "ing", "ly")


class Vocab:
    """Words in Zipf rank order plus the stop words (ids >= n_words)."""

    def __init__(self, rng: np.random.Generator, n_stems: int,
                 zipf_s: float = 1.05):
        cons, vows = np.array(_CONS), np.array(_VOWS)
        m = n_stems * 2  # candidates; duplicates and stop words drop out
        parts = []
        for syl in range(3):
            tail = np.where(rng.random(m) < 0.3,
                            cons[rng.integers(0, len(cons), m)], "")
            part = np.char.add(np.char.add(
                cons[rng.integers(0, len(cons), m)],
                vows[rng.integers(0, len(vows), m)]), tail)
            if syl == 2:  # two or three syllables
                part = np.where(rng.random(m) < 0.5, part, "")
            parts.append(part)
        cands = np.char.add(np.char.add(parts[0], parts[1]), parts[2])
        suffix = rng.random((m, len(_SUFFIXES))) < 0.35
        words: list[str] = []
        seen = set(STOP_WORDS)
        stems = 0
        for i, stem in enumerate(cands.tolist()):
            if stems == n_stems:
                break
            if stem in seen:
                continue
            stems += 1
            seen.add(stem)
            words.append(stem)
            for j, suf in enumerate(_SUFFIXES):
                if suffix[i, j] and stem + suf not in seen:
                    seen.add(stem + suf)
                    words.append(stem + suf)
        order = rng.permutation(len(words))
        self.words = [words[i] for i in order]
        self.n_words = len(self.words)
        self.all_words = np.array(self.words + _STOPS, dtype=object)
        self.cap_words = np.array([w.capitalize() for w in self.all_words],
                                  dtype=object)
        ranks = np.arange(self.n_words, dtype=np.float64)
        w = 1.0 / (ranks + 2.0) ** zipf_s
        self.cdf = np.cumsum(w) / w.sum()

    def sample(self, rng: np.random.Generator, n: int,
               stop_rate: float = 0.12) -> np.ndarray:
        ids = np.searchsorted(self.cdf, rng.random(n), side="right")
        ids = np.minimum(ids, self.n_words - 1)
        stop = rng.random(n) < stop_rate
        ids[stop] = self.n_words + rng.integers(0, len(_STOPS), int(stop.sum()))
        return ids


class Corpus:
    """n docs of Zipf tokens: `ids` (flat word ids), `offsets` (doc i is
    ids[offsets[i]:offsets[i+1]]) and the rendered `texts`."""

    def __init__(self, vocab: Vocab, rng: np.random.Generator, n_docs: int,
                 mean_len: int, min_len: int = 24, max_len: int = 2000):
        lens = rng.lognormal(np.log(mean_len), 0.5, n_docs).astype(np.int64)
        lens = np.clip(lens, min_len, max_len)
        self.vocab = vocab
        self.offsets = np.concatenate([[0], np.cumsum(lens)])
        self.ids = vocab.sample(rng, int(self.offsets[-1]))
        self.texts = _render(vocab, rng, self.ids, self.offsets)

    def __len__(self) -> int:
        return len(self.texts)

    def doc_ids(self, i: int) -> np.ndarray:
        return self.ids[self.offsets[i]:self.offsets[i + 1]]


def _render(vocab: Vocab, rng: np.random.Generator, ids: np.ndarray,
            offsets: np.ndarray) -> list[str]:
    """Tokens -> sentences: capital first letter, '.' at the end, single
    spaces between tokens (the dedup shingler splits on ' ')."""
    toks = vocab.all_words[ids]
    n = len(ids)
    # sentence ends every 6-19 tokens, and always at a document end
    ends = np.zeros(n, dtype=bool)
    stops = np.cumsum(rng.integers(6, 20, n // 6 + 2)) - 1
    ends[stops[stops < n]] = True
    ends[offsets[1:] - 1] = True
    starts = np.zeros(n, dtype=bool)
    starts[0] = True
    starts[1:] = ends[:-1]
    first = np.nonzero(starts)[0]
    toks[first] = vocab.cap_words[ids[first]]
    last = np.nonzero(ends)[0]
    toks[last] = [t + "." for t in toks[last]]
    return [" ".join(toks[offsets[i]:offsets[i + 1]])
            for i in range(len(offsets) - 1)]


# ---------------------------------------------------------------------------
# files
# ---------------------------------------------------------------------------

def write_parquet_docs(texts: list[str], doc_ids: np.ndarray, out_dir: str,
                       n_files: int) -> list[str]:
    """(doc_id, text) parquet files with contiguous ascending doc ranges,
    written with pyarrow (the shape a bulk load reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(texts), n_files + 1).astype(int)
    paths = []
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        tab = pa.table({
            "doc_id": pa.array(doc_ids[lo:hi], pa.int64()),
            "text": pa.array(texts[lo:hi], pa.string()),
        })
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(tab, path)
        paths.append(path)
    return paths


_CRLF = b"\r\n"


def _warc_record(rec_type: str, payload: bytes, headers: list[tuple[str, str]]
                 ) -> bytes:
    h = [("WARC-Type", rec_type)] + headers + [
        ("Content-Length", str(len(payload)))]
    head = b"WARC/1.0" + _CRLF + _CRLF.join(
        f"{k}: {v}".encode() for k, v in h) + _CRLF + _CRLF
    return head + payload + _CRLF + _CRLF


def _gz(raw: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(raw) + c.flush()


def html_page(rng: np.random.Generator, title: str, text: str) -> bytes:
    """A page whose extracted body text tokenizes like `text`: paragraphs,
    headings and list items of the text, plus head, script, style and
    inline-tag noise that extraction must drop."""
    words = text.split(" ")
    parts = []
    i = 0
    while i < len(words):
        n = int(rng.integers(20, 70))
        chunk = words[i:i + n]
        i += n
        kind = rng.random()
        if kind < 0.15:
            parts.append("<h2>" + " ".join(chunk) + "</h2>")
        elif kind < 0.3:
            parts.append("<ul><li>" + " ".join(chunk) + "</li></ul>")
        else:
            j = int(rng.integers(0, len(chunk)))
            chunk = list(chunk)
            chunk[j] = f'<a href="/p/{j}">{chunk[j]}</a>'
            parts.append('<p class="c">' + " ".join(chunk) + "</p>")
        if rng.random() < 0.1:
            parts.append("<script>var n = " + str(i) + "; track(n);</script>")
    return (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
        f"<title>{title}</title>"
        "<style>p { margin: 0 }</style></head>\n<body>\n"
        + "\n".join(parts)
        + "\n</body></html>\n"
    ).encode("utf-8")


def write_warc_files(corpus: Corpus, rng: np.random.Generator, out_dir: str,
                     n_files: int) -> list[str]:
    """gzip-per-record WARC 1.0 files: a warcinfo head, then per page an
    optional 'request' record and the HTTP 'response' record."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, len(corpus), n_files + 1).astype(int)
    base = _dt.datetime(2024, 3, 1)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"crawl-{f:05d}.warc.gz")
        with open(path, "wb") as fh:
            fh.write(_gz(_warc_record(
                "warcinfo", b"software: perfbench\r\nformat: WARC 1.0\r\n",
                [("WARC-Date", "2024-03-01T00:00:00Z"),
                 ("Content-Type", "application/warc-fields")])))
            for d in range(bounds[f], bounds[f + 1]):
                url = f"http://site{d % 977}.example/page/{d}"
                date = (base + _dt.timedelta(seconds=int(d) * 7)).strftime(
                    "%Y-%m-%dT%H:%M:%SZ")
                if rng.random() < 0.1:
                    req = (f"GET /page/{d} HTTP/1.1\r\nHost: site{d % 977}"
                           ".example\r\n\r\n").encode()
                    fh.write(_gz(_warc_record("request", req, [
                        ("WARC-Date", date), ("WARC-Target-URI", url),
                        ("Content-Type", "application/http; msgtype=request"),
                    ])))
                body = html_page(rng, f"Page {d}", corpus.texts[d])
                http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                        b"charset=UTF-8\r\nContent-Length: "
                        + str(len(body)).encode() + b"\r\n\r\n" + body)
                fh.write(_gz(_warc_record("response", http, [
                    ("WARC-Date", date),
                    ("WARC-Record-ID", f"<urn:uuid:page-{d}>"),
                    ("WARC-Target-URI", url),
                    ("Content-Type", "application/http; msgtype=response"),
                ])))
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# query logs
# ---------------------------------------------------------------------------

def filtered_doc_tokens(corpus: Corpus, i: int) -> list[str]:
    """Doc i's tokens after stop-word removal (the indexed stream)."""
    ids = corpus.doc_ids(i)
    return [corpus.vocab.words[t] for t in ids if t < corpus.vocab.n_words]


def disjoint_term_queries(corpus: Corpus, rng: np.random.Generator,
                          n: int) -> list[tuple[str, list[str]]]:
    """n (mode, terms) queries: 1-3-term OR and 2-term AND, terms taken
    from one random doc each (so AND has hits), and no term used twice in
    the log, so every query of a cold pass reads only unread postings."""
    used: set[str] = set()
    out = []
    while len(out) < n:
        toks = [t for t in dict.fromkeys(
            filtered_doc_tokens(corpus, int(rng.integers(0, len(corpus)))))
            if t not in used]
        if len(toks) < 3:
            continue
        mode = "AND" if rng.random() < 0.35 else "OR"
        k = 2 if mode == "AND" else int(rng.integers(1, 4))
        pick = [toks[j] for j in rng.choice(len(toks), k, replace=False)]
        used.update(pick)
        out.append((mode, pick))
    return out


def search_log(corpus: Corpus, rng: np.random.Generator, n_per_class: int
               ) -> dict[str, list]:
    """QueryParser strings per class plus (mode, terms) fan-out queries."""
    def doc_toks():
        while True:
            toks = filtered_doc_tokens(
                corpus, int(rng.integers(0, len(corpus))))
            if len(set(toks)) >= 4:
                return toks

    def pick(toks, k):
        u = list(dict.fromkeys(toks))
        return [u[j] for j in rng.choice(len(u), k, replace=False)]

    log: dict[str, list] = {c: [] for c in
                            ("term", "and", "or", "phrase", "prefix",
                             "fuzzy", "wand")}
    for _ in range(n_per_class):
        log["term"].append(pick(doc_toks(), 1)[0])
        a, b = pick(doc_toks(), 2)
        log["and"].append(f"+{a} +{b}")
        log["or"].append(" ".join(pick(doc_toks(), 3)))
        toks = doc_toks()
        while True:
            j = int(rng.integers(0, len(toks) - 1))
            if toks[j] != toks[j + 1]:
                break
        log["phrase"].append(f'"{toks[j]} {toks[j + 1]}"')
        w = pick(doc_toks(), 1)[0]
        log["prefix"].append(w[:3] + "*")
        w = pick(doc_toks(), 1)[0]
        if rng.random() < 0.5:  # a one-letter typo
            j = int(rng.integers(0, len(w)))
            w = w[:j] + str(rng.choice(_VOWS + _CONS)) + w[j + 1:]
        log["fuzzy"].append(f"{w}~0.7")
        toks = doc_toks()
        k = int(rng.integers(1, 4))
        log["wand"].append(("OR", pick(toks, k)))
    return log


def dedup_corpus(vocab: Vocab, rng: np.random.Generator, n_docs: int,
                 mean_len: int, twin_rate: float
                 ) -> tuple[list[int], list[str], list[tuple[int, int]]]:
    """Docs plus planted near-duplicate twins. A twin copies its source's
    tokens, drops a random 5-25% span and substitutes a few words, so its
    word-3-gram Jaccard with the source is high but not 1. Returns
    (doc_ids, texts, twin_pairs) with pairs as (source_id, twin_id)."""
    base = Corpus(vocab, rng, n_docs, mean_len)
    ids = list(range(n_docs))
    texts = list(base.texts)
    twins = []
    n_twins = int(n_docs * twin_rate)
    for src in rng.choice(n_docs, n_twins, replace=False):
        words = texts[src].split(" ")
        n = len(words)
        cut = int(n * rng.uniform(0.05, 0.25))
        at = int(rng.integers(0, n - cut + 1))
        words = words[:at] + words[at + cut:]
        for j in rng.choice(len(words), max(1, len(words) // 50),
                            replace=False):
            words[j] = vocab.words[int(rng.integers(0, vocab.n_words))]
        tid = n_docs + len(twins)
        ids.append(tid)
        texts.append(" ".join(words))
        twins.append((int(src), tid))
    return ids, texts, twins
