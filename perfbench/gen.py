"""Seeded input generation for the workloads.

Everything the engine sees is made here from ``--seed``; the same seed
gives byte-identical inputs. Nothing in this module imports the engine:
the query vectors are recomputed with an independent twin of the
engine's hash pseudo-embedder (FIXTURES.md: ``vec(text)[i]`` from
``sha256(text || i)``, L2-normalised, float32), so the numpy oracle
does not trust the code it checks. ``workloads.py`` checks on every
``ingest_upsert`` read that the engine's ``embed_query_text`` agrees
bit for bit.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from functools import cached_property

import numpy as np

DIM = 768            # reference config.py:20,31
LEAF_ROWS = 500      # reference config.py:37 (leaf_node_embedding_count)
MAX_TOKENS = 2042    # reference config.py:57 (the ingest token gate)
N_LABELS = 3
CROWDS_PER_GROUP = 8
CROWD_CAP = 2


def hash_embed(text: str, dim: int = DIM) -> np.ndarray:
    """Twin of the engine's hash pseudo-embedder (float32, unit norm)."""
    n_blocks = (dim + 3) // 4
    buf = b"".join(
        hashlib.sha256(f"{text}||{i}".encode("utf-8")).digest()
        for i in range(n_blocks)
    )
    vals = np.frombuffer(buf, dtype="<u8")[:dim].astype(np.float64)
    raw = vals / float(1 << 63) - 1.0
    norm = np.linalg.norm(raw)
    if norm > 0:
        raw = raw / norm
    return raw.astype(np.float32)


def data_point_id(doc_id) -> str:
    """Twin of the ingest surrogate key: sha256 of the id string."""
    return hashlib.sha256(str(doc_id).encode("utf-8")).hexdigest()


# ---------------------------------------------------------------- serving


@dataclass
class Query:
    request_id: int
    text: str
    anchor: int
    label: int | None  # None = plain; else label restrict + crowding cap


@dataclass
class ServingCorpus:
    vectors: np.ndarray   # (n, DIM) float32, unit norm
    labels: np.ndarray    # (n,) int32
    crowds: np.ndarray    # (n,) object (str)
    anchor_texts: list[str]
    anchor_vecs: np.ndarray  # (n_anchors, DIM) float32

    @property
    def n(self) -> int:
        return self.vectors.shape[0]

    @cached_property
    def vectors64(self) -> np.ndarray:
        return self.vectors.astype(np.float64)


def serving_corpus(seed: int, n: int, group: int = 50,
                   noise_cos: float = 0.8) -> ServingCorpus:
    """``n`` clustered unit vectors: ``n // group`` anchor texts, each
    anchor's embedding surrounded by ``group`` noisy copies (cosine to
    the anchor about ``noise_cos``). A query is an anchor text, so its
    exact top-10 sits in its group; a ``label`` restrict column and a
    ``crowd`` column (``CROWDS_PER_GROUP`` crowds per group) ride
    along."""
    rng = np.random.default_rng([seed, 1])
    n_anchors = n // group
    texts = [f"topic {seed} {i}" for i in range(n_anchors)]
    anchors = np.stack([hash_embed(t) for t in texts])
    sigma = np.sqrt((1.0 / noise_cos ** 2 - 1.0) / DIM)
    grp = np.repeat(np.arange(n_anchors), group)
    vecs = anchors[grp] + rng.standard_normal(
        (grp.size, DIM), dtype=np.float32
    ) * np.float32(sigma)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, grp.size).astype(np.int32)
    crowd_j = rng.integers(0, CROWDS_PER_GROUP, grp.size)
    crowds = np.array(
        [f"c{g}-{j}" for g, j in zip(grp, crowd_j)], dtype=object
    )
    return ServingCorpus(
        vectors=vecs.astype(np.float32), labels=labels, crowds=crowds,
        anchor_texts=texts, anchor_vecs=anchors,
    )


def title_of(vec_id: int) -> str:
    return f"doc {vec_id}"


def query_stream(seed: int, corpus: ServingCorpus, stream: int = 2):
    """Endless independent queries: every third is restricted (label +
    crowding cap), the rest plain; anchors drawn uniformly."""
    rng = np.random.default_rng([seed, stream])
    n_anchors = len(corpus.anchor_texts)
    i = 0
    while True:
        a = int(rng.integers(0, n_anchors))
        label = int(rng.integers(0, N_LABELS)) if i % 3 == 2 else None
        yield Query(i, corpus.anchor_texts[a], a, label)
        i += 1


def batch_windows(seed: int, corpus: ServingCorpus, window: int,
                  stream: int = 3):
    """Endless windows of ``window`` distinct anchors each; every third
    window carries one label restrict plus the crowding cap for all its
    queries (``query_batch`` takes one restrict per call)."""
    rng = np.random.default_rng([seed, stream])
    n_anchors = len(corpus.anchor_texts)
    if window > n_anchors:
        raise ValueError(f"window {window} > {n_anchors} distinct anchors")
    rid = 0
    w = 0
    while True:
        label = int(rng.integers(0, N_LABELS)) if w % 3 == 2 else None
        win = []
        for a in rng.permutation(n_anchors)[:window]:
            win.append(Query(rid, corpus.anchor_texts[int(a)], int(a), label))
            rid += 1
        yield win
        w += 1


# ----------------------------------------------------------------- ingest

_VOCAB = [
    "vector", "index", "leaf", "query", "shard", "replica", "merge",
    "table", "commit", "token", "embedding", "cluster", "restrict",
    "crowd", "score", "rank", "batch", "stream", "spark", "arrow",
    "parquet", "bucket", "snapshot", "version", "centroid", "codebook",
    "probe", "rerank", "hydrate", "metadata", "document", "corpus",
    "refresh", "latency", "window", "ingest", "upsert", "delete",
]


@dataclass
class Doc:
    doc_id: int
    text: str

    @property
    def over_gate(self) -> bool:
        # a text is a lead tag (four tokens) and lowercase words (one
        # token each); lengths are drawn far from the gate, so counting
        # words decides the same as the engine's token count
        return len(self.text.split(" ")) > MAX_TOKENS


@dataclass
class Tick:
    docs: list[Doc]
    new_keys: list[int] = field(default_factory=list)
    changed_keys: list[int] = field(default_factory=list)
    dup_keys: list[int] = field(default_factory=list)
    distinct_ratio: float = 0.0  # contents not live before the tick / docs


class DocGenerator:
    """Seeded document corpus plus upsert ticks, with the expected
    live state (doc_id -> latest accepted text) kept alongside."""

    def __init__(self, seed: int, over_gate_share: float = 0.05):
        self.rng = np.random.default_rng([seed, 4])
        self.seed = seed
        self.over_gate_share = over_gate_share
        self.next_id = 0
        self.live: dict[int, str] = {}   # accepted docs only
        self.rejected: set[int] = set()  # ids never accepted
        self.n_text = 0

    def _text(self) -> str:
        self.n_text += 1
        over = self.rng.random() < self.over_gate_share
        n_words = (
            int(self.rng.integers(MAX_TOKENS + 1, MAX_TOKENS + 200))
            if over else int(self.rng.integers(20, 80))
        )
        words = self.rng.choice(_VOCAB, size=n_words)
        # a unique lead word keeps every generated text distinct
        return f"d{self.seed}x{self.n_text} " + " ".join(words)

    def _accept(self, doc: Doc) -> None:
        if doc.over_gate:
            if doc.doc_id not in self.live:
                self.rejected.add(doc.doc_id)
            return  # a rejected update leaves the old text live
        self.live[doc.doc_id] = doc.text
        self.rejected.discard(doc.doc_id)

    def _new(self, text: str | None = None) -> Doc:
        doc = Doc(self.next_id, text if text is not None else self._text())
        self.next_id += 1
        return doc

    def corpus(self, n: int) -> list[Doc]:
        docs = [self._new() for _ in range(n)]
        for d in docs:
            self._accept(d)
        return docs

    def tick(self, size: int) -> Tick:
        """``size`` docs: 40% new keys, 30% changed texts of live keys,
        20% unchanged re-ingests, 10% new keys duplicating a live text.
        Every key appears once per tick."""
        n_changed = int(size * 0.3)
        n_same = int(size * 0.2)
        n_dup = int(size * 0.1)
        n_new = size - n_changed - n_same - n_dup
        live_ids = np.array(sorted(self.live), dtype=np.int64)
        picks = self.rng.choice(
            live_ids, size=n_changed + n_same + n_dup, replace=False
        )
        t = Tick(docs=[])
        for i in range(n_new):
            d = self._new()
            t.docs.append(d)
            t.new_keys.append(d.doc_id)
        for i in picks[:n_changed]:
            t.docs.append(Doc(int(i), self._text()))
            t.changed_keys.append(int(i))
        for i in picks[n_changed:n_changed + n_same]:
            t.docs.append(Doc(int(i), self.live[int(i)]))
        for i in picks[n_changed + n_same:]:
            d = self._new(self.live[int(i)])
            t.docs.append(d)
            t.dup_keys.append(d.doc_id)
        before = set(self.live.values())
        t.distinct_ratio = len({d.text for d in t.docs} - before) / size
        for d in t.docs:
            self._accept(d)
        return t
