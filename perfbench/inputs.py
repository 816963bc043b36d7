"""Seeded, benchmark-owned inputs.

Every input the program sees is written here, during set-up, as plain
files: CDC workloads get parquet WAL segments in the engine's
``EVENT_SCHEMA`` layout, corpus_build gets one documents parquet file.
Nothing is generated inside a timed window, and the same seed always
writes the same bytes.

This module imports no Spark, so the set-up cost it adds is the cost
of numpy + pyarrow alone.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z
LANGS = np.array(["en", "de", "fr", "es", "zz", "pt"])
LANG_P = np.array([0.40, 0.15, 0.10, 0.10, 0.15, 0.10])

# parquet layout of EVENT_SCHEMA (qwatch_spark/schema.py); the engine
# reads the feed through that explicit schema, never an inferred one
EVENT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=True),
        pa.field("html", pa.binary(), nullable=True),
        pa.field("lang", pa.string(), nullable=True),
        pa.field("source", pa.string(), nullable=True),
        pa.field("epoch_hint", pa.int32(), nullable=True),
    ]
)

# realistic-vocabulary word list: function words at Zipf-like weights
# plus a content vocabulary, so extracted text, quality scores and
# word-set Jaccard behave like prose rather than a 31-word toy
_FUNCTION_WORDS = (
    "the of and a to in is was for on that with as by at from it this be "
    "are or an which were have has not but had their its also more been "
    "der und die le et les el y los"
).split()


def _vocabulary(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 11, size=n)
    words = {"".join(rng.choice(letters, size=int(k))) for k in lens}
    return np.array(sorted(words))


def _word_sampler(rng: np.random.Generator):
    """(words, probabilities): function words carry ~40% of tokens,
    content words follow a Zipf-like tail."""
    vocab = _vocabulary(rng)
    fw = np.array(_FUNCTION_WORDS)
    fw_p = 1.0 / np.arange(1, len(fw) + 1)
    cw_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    p = np.concatenate([0.4 * fw_p / fw_p.sum(), 0.6 * cw_p / cw_p.sum()])
    return np.concatenate([fw, vocab]), p


def _paragraphs(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    words, p = _word_sampler(rng)
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.choice(words, size=int(lens.sum()), p=p)
    out, at = [], 0
    for k in lens:
        out.append(" ".join(flat[at : at + k]) + ".")
        at += k
    return out


# ---------------------------------------------------------------- CDC feed


@dataclasses.dataclass(frozen=True)
class FeedShape:
    """Shape parameters of a CDC feed (recorded in BENCHMARK.json)."""

    n_domains: int  # key space = n_domains * pages_per_domain urls
    pages_per_domain: int
    hot_share: float  # share of events on domain 0
    delete_share: float
    jitter_s: int  # warc_ts = base + seq + U[-jitter_s, jitter_s]
    invalid_url_share: float  # events whose url fails valid_url


class FeedWriter:
    """Writes WAL segments with a globally increasing seq.

    Segment k of a seed is a pure function of (seed, k, its size), so a
    workload can write the same feed in any order of calls."""

    def __init__(self, seed: int, shape: FeedShape):
        self.seed = int(seed)
        self.shape = shape
        rng = np.random.default_rng([self.seed, 0])
        self._paras = pa.array(_paragraphs(rng, 2048, 20, 60), pa.string())
        self.seq = 0

    def segment(self, k: int, n: int, epoch_hint: int) -> pa.Table:
        s = self.shape
        rng = np.random.default_rng([self.seed, 1, k])
        seq = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        hot = rng.random(n) < s.hot_share
        dom = np.where(hot, 0, rng.integers(1, s.n_domains, size=n))
        page = rng.integers(0, s.pages_per_domain, size=n)
        u = rng.random(n)
        op = np.where(u < s.delete_share, "D", np.where(u < 0.5, "I", "U"))
        is_del = op == "D"
        jitter = rng.integers(-s.jitter_s, s.jitter_s + 1, size=n)
        ts_us = (BASE_EPOCH_S + seq + jitter) * 1_000_000
        lang = rng.choice(LANGS, size=n, p=LANG_P)
        bad = rng.random(n) < s.invalid_url_share
        para = rng.integers(0, len(self._paras), size=n)
        # vectorized in Arrow: a Python loop here cost ~7 s per 1M events
        # on a 4-core host
        seq_s = pc.cast(pa.array(seq), pa.string())
        dom_s = pc.cast(pa.array(dom), pa.string())
        page_s = pc.cast(pa.array(page), pa.string())
        scheme = pa.array(np.where(bad, "ftp", "https"))
        url = pc.binary_join_element_wise(
            scheme, "://d", dom_s, ".example.com/p/", page_s, ""
        )
        html = pc.binary_join_element_wise(
            "<html><head><title>Page ", page_s, " of d", dom_s,
            "</title><style>p{margin:0}</style></head><body><h1>d", dom_s, "/",
            page_s, "</h1><p>", self._paras.take(pa.array(para)),
            "</p><p>Revision ", seq_s, " of ", url,
            ".</p><script>var rev=", seq_s, ";</script></body></html>", "",
        )
        dels = pa.array(is_del)
        return pa.table(
            {
                "seq": pa.array(seq, pa.int64()),
                "op": pa.array(op, pa.string()),
                "url": url,
                "warc_ts": pa.array(ts_us, pa.timestamp("us")),
                "html": pc.if_else(dels, pa.scalar(None, pa.binary()),
                                   pc.cast(html, pa.binary())),
                "lang": pc.if_else(dels, pa.scalar(None, pa.string()),
                                   pa.array(lang, pa.string())),
                "source": pa.array(np.full(n, f"feed-{k % 4}"), pa.string()),
                "epoch_hint": pa.array(np.full(n, epoch_hint, np.int32)),
            },
            schema=EVENT_ARROW_SCHEMA,
        )

    def write(self, path: str, k: int, n: int, epoch_hint: int) -> int:
        """Write segment k (n events) to `path`; returns its byte size."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(self.segment(k, n, epoch_hint), path, compression="snappy")
        return os.path.getsize(path)


# ------------------------------------------------------------------ corpus


@dataclasses.dataclass(frozen=True)
class CorpusShape:
    n_docs: int
    exact_groups: int  # planted groups of byte-identical docs
    exact_group_size: int
    near_groups: int  # planted groups of near-duplicate docs
    near_group_size: int
    near_edit_share: float  # share of words replaced in a near copy


def write_corpus(path: str, seed: int, shape: CorpusShape) -> dict:
    """Documents parquet (doc_id, text, lang) with planted duplicate
    groups. Returns the plant record: exact groups as doc-id lists and
    the planted near pairs (each copy paired with its group's source)."""
    rng = np.random.default_rng([int(seed), 7])
    words, p = _word_sampler(rng)
    n = shape.n_docs
    lens = rng.integers(60, 400, size=n)
    flat = rng.choice(words, size=int(lens.sum()), p=p)
    docs, at = [], 0
    for k in lens:
        docs.append(list(flat[at : at + k]))
        at += k
    ids = rng.permutation(n)  # planted members land on random ids
    cursor = 0
    exact, near_pairs = [], []
    for _ in range(shape.exact_groups):
        grp = [int(x) for x in ids[cursor : cursor + shape.exact_group_size]]
        cursor += shape.exact_group_size
        for m in grp[1:]:
            docs[m] = list(docs[grp[0]])
        exact.append(sorted(grp))
    for _ in range(shape.near_groups):
        grp = [int(x) for x in ids[cursor : cursor + shape.near_group_size]]
        cursor += shape.near_group_size
        src = docs[grp[0]]
        for m in grp[1:]:
            cp = list(src)
            n_edit = max(1, int(len(cp) * shape.near_edit_share))
            for j in rng.choice(len(cp), size=n_edit, replace=False):
                cp[int(j)] = str(rng.choice(words, p=p))
            docs[m] = cp
            near_pairs.append(tuple(sorted((grp[0], m))))
    lang = rng.choice(LANGS[:4], size=n, p=[0.55, 0.2, 0.15, 0.10])
    # ~5% untagged docs exercise the lang fallback
    untagged = rng.random(n) < 0.05
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array([" ".join(d) for d in docs], pa.string()),
            "lang": pa.array(
                [None if untagged[i] else str(lang[i]) for i in range(n)],
                pa.string(),
            ),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return {"exact_groups": exact, "near_pairs": near_pairs,
            "bytes": os.path.getsize(path)}
