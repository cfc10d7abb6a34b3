"""Numpy oracle and answer checks.

Every check is a pure function over plain Python values and returns a
list of violation strings (empty = correct), so ``selftest.py`` can
plant one violation of each kind without a Spark session.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from gen import CROWD_CAP, ServingCorpus, hash_embed, title_of

SCORE_TOL = 1e-9  # engine scores are float64 folds over float32 values


@dataclass
class Answer:
    """One query's result rows, in rank order as returned."""
    ranks: list[int]
    ids: list
    scores: list[float]
    hydrated: list  # the hydrated metadata column, per row


def answer_from_rows(rows, id_field: str, hydrate_field: str) -> Answer:
    rows = sorted(rows, key=lambda r: r["rank"])
    return Answer(
        ranks=[int(r["rank"]) for r in rows],
        ids=[r[id_field] for r in rows],
        scores=[float(r["score"]) for r in rows],
        hydrated=[r[hydrate_field] for r in rows],
    )


def exact_topk(corpus: ServingCorpus, qmat: np.ndarray, k: int,
               label: int | None) -> list[list[int]]:
    """Exact top-k ids per query row of ``qmat`` by inner product, with
    the engine's tie-break (score desc, id asc); with ``label`` set, the
    label restrict and then the per-crowd cap apply before the top-k
    cut."""
    ids = np.arange(corpus.n)
    vecs = corpus.vectors64
    if label is not None:
        keep = corpus.labels == label
        ids, vecs = ids[keep], vecs[keep]
    scores = np.atleast_2d(qmat).astype(np.float64) @ vecs.T
    # rows below the m-th best score cannot reach the top k (the crowd
    # cap drops at most all but CROWD_CAP rows of each crowd)
    m = min(len(ids) - 1, 32 * k)
    out = []
    for s in scores:
        cut = np.partition(s, len(s) - 1 - m)[len(s) - 1 - m]
        cand = np.nonzero(s >= cut)[0]
        order = cand[np.lexsort((ids[cand], -s[cand]))]
        top, per_crowd = [], {}
        for j in order:
            c = corpus.crowds[ids[j]]
            if label is None or per_crowd.get(c, 0) < CROWD_CAP:
                per_crowd[c] = per_crowd.get(c, 0) + 1
                top.append(int(ids[j]))
                if len(top) == k:
                    break
        if len(top) < k and len(cand) < len(ids):
            raise ValueError("exact top-k candidate cut too small")
        out.append(top)
    return out


def check_serving_answer(corpus: ServingCorpus, qvec: np.ndarray,
                         ans: Answer, k: int,
                         label: int | None) -> list[str]:
    """Shape, restrict, crowding, hydration and score checks of one
    served answer against the generated corpus."""
    bad = []
    n = len(ans.ranks)
    if not 1 <= n <= k:
        bad.append(f"{n} rows for k={k}")
    if ans.ranks != list(range(1, n + 1)):
        bad.append(f"ranks {ans.ranks} do not run 1..{n}")
    if any(b > a for a, b in zip(ans.scores, ans.scores[1:])):
        bad.append("scores increase down the ranks")
    if len(set(ans.ids)) != n:
        bad.append("duplicate neighbor ids")
    for i, s, h in zip(ans.ids, ans.scores, ans.hydrated):
        if not (isinstance(i, (int, np.integer)) and 0 <= i < corpus.n):
            bad.append(f"unknown id {i!r}")
            continue
        want = float(corpus.vectors64[i] @ qvec)
        if abs(want - s) > SCORE_TOL:
            bad.append(f"id {i} scored {s!r}, exact {want!r}")
        if h != title_of(i):
            bad.append(f"id {i} hydrated {h!r}")
        if label is not None and corpus.labels[i] != label:
            bad.append(f"id {i} has label {corpus.labels[i]} != {label}")
    if label is not None:
        crowds: dict = {}
        for i in ans.ids:
            if isinstance(i, (int, np.integer)) and 0 <= i < corpus.n:
                c = corpus.crowds[i]
                crowds[c] = crowds.get(c, 0) + 1
        over = {c: m for c, m in crowds.items() if m > CROWD_CAP}
        if over:
            bad.append(f"crowding cap {CROWD_CAP} exceeded: {over}")
    return bad


def recall(ans: Answer, exact: list[int]) -> float:
    return len(set(ans.ids) & set(exact)) / len(exact)


def check_recall_floor(value: float, floor: float) -> list[str]:
    if not value >= floor:
        return [f"recall_at_10 {value:.4f} below the floor {floor}"]
    return []


def check_embedding(text: str, got) -> list[str]:
    """The engine's query embedding equals the oracle's independent
    twin of the hash embedder, bit for bit."""
    if not np.array_equal(np.asarray(got, np.float32), hash_embed(text)):
        return [f"embed_query_text({text[:40]!r}...) differs from the "
                "oracle"]
    return []


# ----------------------------------------------------------------- ingest


def sha_text(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def check_live_keys(got_keys: list[str], counts: dict[str, int],
                    live: dict[int, str], rejected: set[int],
                    key_of) -> list[str]:
    """After a tick: the vectors table's key set is exactly the
    expected live keys (re-ingest idempotent, no duplicates), every
    other table holds one row per live key, and no rejected doc's key
    is present."""
    bad = []
    want = {key_of(i) for i in live}
    got = set(got_keys)
    if len(got_keys) != len(got):
        bad.append(f"{len(got_keys) - len(got)} duplicate live keys")
    if got != want:
        bad.append(
            f"live keys {len(got)} != expected {len(want)} "
            f"({len(got - want)} extra, {len(want - got)} missing)"
        )
    for table, c in counts.items():
        if c != len(want):
            bad.append(f"{table} holds {c} rows, expected {len(want)}")
    leaked = got & {key_of(i) for i in rejected}
    if leaked:
        bad.append(f"{len(leaked)} rejected keys are live")
    return bad


def check_upsert_read(ans: Answer, key: str, text: str,
                      same_text_keys: set[str],
                      rejected_keys: set[str]) -> list[str]:
    """A query with a live doc's latest text: rank 1 is a doc with
    exactly that text (score 1 -- duplicate-text keys tie and break on
    id), ``key`` itself is among the tied rows, every row hydrates,
    and no rejected key is served. ``hydrated`` carries
    ``sha256(content)``."""
    bad = []
    if not ans.ranks or ans.ranks != list(range(1, len(ans.ranks) + 1)):
        return [f"ranks {ans.ranks} do not run 1..n"]
    if any(b > a for a, b in zip(ans.scores, ans.scores[1:])):
        bad.append("scores increase down the ranks")
    if ans.ids[0] not in same_text_keys or abs(ans.scores[0] - 1.0) > 1e-6:
        bad.append(f"rank 1 is {ans.ids[0]} at {ans.scores[0]!r}, "
                   "not a doc with the query's text")
    top = [i for i, s in zip(ans.ids, ans.scores)
           if abs(s - ans.scores[0]) <= 1e-12]
    if key not in top:
        bad.append(f"upserted key {key} not served at rank 1")
    want_sha = sha_text(text)
    for i, h in zip(ans.ids, ans.hydrated):
        if h is None:
            bad.append(f"key {i} not hydrated")
        elif i in same_text_keys and h != want_sha:
            bad.append(f"key {i} serves a stale text")
    leaked = set(ans.ids) & rejected_keys
    if leaked:
        bad.append(f"rejected keys served: {sorted(leaked)}")
    return bad
