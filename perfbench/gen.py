"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy: the program under test only ever sees
the generated frames, and the checks recompute expected answers from
the same arrays (``SeriesOracle``, ``Corpus.planted``).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

EPOCH0 = dt.datetime(2026, 1, 5)  # a Monday; all series timestamps are UTC-naive
BATCH_S = 6 * 3600
DAY_S = 86_400


def to_dt(epoch_s: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=int(epoch_s))


def epoch(ts: dt.datetime) -> int:
    return int((ts - dt.datetime(1970, 1, 1)).total_seconds())


# ----------------------------------------------------------------------
# Time series
# ----------------------------------------------------------------------


@dataclass(frozen=True)
class SeriesSpec:
    """Traffic dimensions of the time-series store.

    ``spacing_s`` bounds the points per (stream, bucket): a day bucket
    holds ``86400 / spacing_s`` points, which must stay under 5,000
    because the time-mean merge column sums epoch microseconds in a
    long and overflows past ~5,219 points of a 2026 timestamp."""

    hosts: int = 4
    metrics_per_host: int = 4
    live_hosts: int = 2
    live_metrics_per_host: int = 2
    spacing_s: int = 60
    history_days: int = 1

    def __post_init__(self):
        if DAY_S // self.spacing_s >= 5_000:
            raise ValueError("spacing too dense: a day bucket would overflow t_sum_micros")

    @property
    def points_per_batch(self) -> int:
        return BATCH_S // self.spacing_s


@dataclass
class StreamKey:
    host: str
    metric: str
    index: int
    live: bool

    @property
    def tags(self) -> dict:
        return {"host": self.host, "metric": self.metric}


def series_streams(spec: SeriesSpec) -> list[StreamKey]:
    """Batch-fed streams first, then the live (append_multiple-fed) ones."""
    out = []
    for h in range(spec.hosts):
        for m in range(spec.metrics_per_host):
            out.append(StreamKey(f"host{h:02d}", f"m{m}", len(out), False))
    for h in range(spec.live_hosts):
        for m in range(spec.live_metrics_per_host):
            out.append(StreamKey(f"edge{h:02d}", f"m{m}", len(out), True))
    return out


def batch_points(seed: int, spec: SeriesSpec, stream: StreamKey, start_s: int, n_batches: int = 1):
    """Points of one batch-fed stream over ``n_batches`` 6-hour batches
    from ``start_s``: (epoch seconds int64, values float64).

    Each stream has its own phase offset inside the spacing so streams
    are not aligned; values are a seeded random walk plus a daily wave,
    rounded to 3 decimals so they are exact in decimal(38,9)."""
    n = spec.points_per_batch * n_batches
    phase = (stream.index * 7) % spec.spacing_s
    ts = start_s + phase + spec.spacing_s * np.arange(n, dtype=np.int64)
    rng = np.random.default_rng([seed, stream.index, start_s])
    level = 50.0 + 10.0 * (stream.index % 4)
    wave = 5.0 * np.sin(2 * np.pi * (ts % DAY_S) / DAY_S)
    vals = np.round(level + wave + np.cumsum(rng.normal(0.0, 0.5, n)), 3)
    return ts, vals


def live_points(seed: int, stream: StreamKey, start_s: int, n: int):
    """``n`` fresh 1-second-spaced points for a live stream."""
    ts = start_s + np.arange(n, dtype=np.int64)
    rng = np.random.default_rng([seed, stream.index, start_s, 1])
    return ts, np.round(rng.uniform(0.0, 100.0, n), 3)


class SeriesOracle:
    """Every point the benchmark appended, per stream, for recomputing
    rollups and range aggregates with NumPy."""

    def __init__(self):
        self._chunks: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {}
        self._cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def add(self, stream_id: str, ts: np.ndarray, vals: np.ndarray) -> None:
        self._chunks.setdefault(stream_id, []).append((ts, vals))
        self._cache.pop(stream_id, None)

    def points(self, stream_id: str) -> tuple[np.ndarray, np.ndarray]:
        if stream_id not in self._cache:
            chunks = self._chunks.get(stream_id, [])
            ts = np.concatenate([c[0] for c in chunks]) if chunks else np.zeros(0, np.int64)
            vs = np.concatenate([c[1] for c in chunks]) if chunks else np.zeros(0)
            order = np.argsort(ts, kind="stable")
            self._cache[stream_id] = (ts[order], vs[order])
        return self._cache[stream_id]

    def window(self, stream_id: str, lo_s: int, hi_s: int):
        """Points with lo_s <= ts < hi_s."""
        ts, vs = self.points(stream_id)
        a, b = np.searchsorted(ts, lo_s, "left"), np.searchsorted(ts, hi_s, "left")
        return ts[a:b], vs[a:b]

    def aggregate(self, stream_id: str, lo_s: int, hi_s: int) -> dict | None:
        _, vs = self.window(stream_id, lo_s, hi_s)
        if len(vs) == 0:
            return None
        return {"count": len(vs), "sum": float(vs.sum()), "min": float(vs.min()), "max": float(vs.max())}

    def buckets(self, stream_id: str, lo_s: int, hi_s: int, width_s: int) -> dict[int, dict]:
        """Rollup buckets (count/sum/min/max) of width ``width_s`` over [lo_s, hi_s)."""
        ts, vs = self.window(stream_id, lo_s, hi_s)
        out: dict[int, dict] = {}
        if len(ts) == 0:
            return out
        keys = (ts // width_s) * width_s
        starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
        ends = np.r_[starts[1:], len(keys)]
        for a, b in zip(starts, ends):
            seg = vs[a:b]
            out[int(keys[a])] = {
                "count": int(b - a), "sum": float(seg.sum()),
                "min": float(seg.min()), "max": float(seg.max()),
            }
        return out


# ----------------------------------------------------------------------
# Corpus
# ----------------------------------------------------------------------

_SYLLABLES = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"] + ["qu", "th", "sh", "ch"]
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it", "on", "with"]


@dataclass(frozen=True)
class CorpusSpec:
    """Traffic dimensions of one corpus shard.

    Duplicate share = (exact + near + boilerplate) / docs; it sets how
    hot the LSH band buckets get. Near-duplicates replace
    ``near_edit_share`` of a source doc's words; the boilerplate
    cluster is one template with a varying counter."""

    docs: int = 600
    exact_dups: int = 48
    near_dups: int = 48
    near_edit_share: float = 0.04
    boilerplate: int = 30
    junk: int = 24
    vocab: int = 4000
    dim: int = 64
    emb_groups: int = 40
    emb_group_size: int = 3


def scaled(spec: CorpusSpec, factor: float) -> CorpusSpec:
    """The same shard shape with every count scaled by ``factor``."""
    import dataclasses

    counts = ("docs", "exact_dups", "near_dups", "boilerplate", "junk", "emb_groups")
    return dataclasses.replace(spec, **{k: max(2, int(getattr(spec, k) * factor)) for k in counts})


@dataclass
class Corpus:
    doc_ids: np.ndarray
    texts: list[str]
    vec_ids: np.ndarray
    vectors: np.ndarray
    #: planted structure, kept aside for the checks only
    junk: set[int] = field(default_factory=set)
    exact_groups: list[list[int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    boilerplate: list[int] = field(default_factory=list)
    emb_groups: list[list[int]] = field(default_factory=list)


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return sorted(words)


def make_corpus(seed: int, spec: CorpusSpec, shard: int) -> Corpus:
    """One shard of a synthetic corpus with planted duplicates.

    Doc ids are unique across shards (shard * 10**6 + i), so ids never
    collide if shards are unioned. Duplicates are planted with higher
    ids than their sources, so the lowest-id keeper is the source."""
    rng = np.random.default_rng([seed, shard, 11])
    vocab = _vocab(np.random.default_rng([seed, 7]), spec.vocab)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    base_n = spec.docs - spec.exact_dups - spec.near_dups - spec.boilerplate - spec.junk
    if base_n <= spec.exact_dups or base_n <= spec.near_dups:
        raise ValueError("corpus too small for the planted duplicates")
    id0 = shard * 1_000_000
    texts: list[str] = []
    corpus = Corpus(np.zeros(0), [], np.zeros(0), np.zeros((0, spec.dim)))

    def doc_words() -> list[str]:
        n = int(rng.integers(60, 140))
        words = list(rng.choice(vocab, size=n, p=zipf))
        for pos in rng.choice(n, size=max(1, n // 8), replace=False):
            words[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return words

    base_words = [doc_words() for _ in range(base_n)]
    texts.extend(" ".join(w) for w in base_words)
    # exact copies: same text up to case and whitespace (doc_fingerprint normalizes both)
    for src in rng.choice(base_n, size=spec.exact_dups, replace=False):
        copy = "  ".join(base_words[src]).upper() if rng.random() < 0.5 else " ".join(base_words[src]) + " "
        corpus.exact_groups.append([id0 + int(src), id0 + len(texts)])
        texts.append(copy)
    # edited near-duplicates
    for src in rng.choice(base_n, size=spec.near_dups, replace=False):
        words = list(base_words[src])
        n_edit = max(1, int(len(words) * spec.near_edit_share))
        for pos in rng.choice(len(words), size=n_edit, replace=False):
            words[pos] = vocab[int(rng.integers(len(vocab)))]
        corpus.near_pairs.append((id0 + int(src), id0 + len(texts)))
        texts.append(" ".join(words))
    # one boilerplate cluster: a template that differs only in a counter
    template = " ".join(doc_words())
    for k in range(spec.boilerplate):
        corpus.boilerplate.append(id0 + len(texts))
        texts.append(f"{template} page {k + 1} of {spec.boilerplate}")
    # junk the quality filter must drop: short, punctuation-dense
    for _ in range(spec.junk):
        corpus.junk.add(id0 + len(texts))
        toks = rng.choice(vocab, size=int(rng.integers(3, 8)))
        texts.append(" ".join(f"{t}!!{'#' * 3}??" for t in toks))
    corpus.doc_ids = id0 + np.arange(len(texts), dtype=np.int64)
    corpus.texts = texts

    # embeddings: random unit vectors plus planted near-duplicate groups
    n_vec = spec.docs
    vecs = rng.normal(size=(n_vec, spec.dim))
    n_planted = spec.emb_groups * (spec.emb_group_size - 1)
    base_vec = n_vec - n_planted
    pos = base_vec
    for src in rng.choice(base_vec, size=spec.emb_groups, replace=False):
        group = [id0 + int(src)]
        for _ in range(spec.emb_group_size - 1):
            vecs[pos] = vecs[src] + rng.normal(0.0, 0.02, spec.dim) * np.linalg.norm(vecs[src]) / np.sqrt(spec.dim)
            group.append(id0 + pos)
            pos += 1
        corpus.emb_groups.append(group)
    corpus.vectors = np.round(vecs / np.linalg.norm(vecs, axis=1, keepdims=True), 6)
    corpus.vec_ids = id0 + np.arange(n_vec, dtype=np.int64)
    return corpus
