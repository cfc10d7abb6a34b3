"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Plants one violation of each kind into otherwise correct answers and
asserts that the checks in ``checks.py`` catch every one, and that the
correct answers pass. Needs numpy only (no Spark session). Exits 1 and
names each miss.
"""

from __future__ import annotations

import copy
import itertools
import sys

import numpy as np

import checks
import gen

K = 10


def _serving_case():
    corpus = gen.serving_corpus(seed=7, n=1000)
    q = list(itertools.islice(gen.query_stream(7, corpus), 3))[2]
    assert q.label is not None
    qvec = corpus.anchor_vecs[q.anchor].astype(np.float64)
    ids = checks.exact_topk(corpus, qvec, K, q.label)[0]
    scores = [float(corpus.vectors[i].astype(np.float64) @ qvec)
              for i in ids]
    good = checks.Answer(
        ranks=list(range(1, K + 1)), ids=list(ids), scores=scores,
        hydrated=[gen.title_of(i) for i in ids],
    )
    return corpus, qvec, q.label, good


def _serving_plants(corpus, qvec, label, good):
    """(kind, mutated answer) pairs, one per violation kind."""
    out = []

    a = copy.deepcopy(good)
    a.ranks[3] = 5
    out.append(("rank gap", a))

    a = copy.deepcopy(good)
    a.scores[4], a.scores[5] = a.scores[5], a.scores[4] + 0.5
    out.append(("score increases down the ranks", a))

    other = next(i for i in range(corpus.n)
                 if corpus.labels[i] != label and i not in good.ids)
    a = copy.deepcopy(good)
    a.ids[-1] = other
    a.hydrated[-1] = gen.title_of(other)
    a.scores[-1] = min(a.scores[-2], float(
        corpus.vectors[other].astype(np.float64) @ qvec))
    out.append(("restrict allow-list", a))

    c0 = corpus.crowds[good.ids[0]]
    same = [i for i in range(corpus.n)
            if corpus.crowds[i] == c0 and corpus.labels[i] == label
            and i not in good.ids]
    a = copy.deepcopy(good)
    for slot, i in zip((-1, -2), same[:2]):
        a.ids[slot] = i
        a.hydrated[slot] = gen.title_of(i)
    a.scores = sorted(
        (float(corpus.vectors[i].astype(np.float64) @ qvec)
         for i in a.ids), reverse=True)
    a.ids = [i for _, i in sorted(
        zip(a.scores, a.ids), key=lambda t: -t[0])]
    a.hydrated = [gen.title_of(i) for i in a.ids]
    out.append(("crowding cap", a))

    a = copy.deepcopy(good)
    a.hydrated[2] = None
    out.append(("metadata not hydrated", a))

    a = copy.deepcopy(good)
    a.scores[0] += 1e-3
    out.append(("score differs from the exact dot product", a))

    a = copy.deepcopy(good)
    a.ids[1] = a.ids[0]
    a.hydrated[1] = a.hydrated[0]
    a.scores[1] = a.scores[0]
    out.append(("duplicate id", a))

    a = copy.deepcopy(good)
    a.ranks, a.ids, a.scores, a.hydrated = [], [], [], []
    out.append(("empty answer", a))
    return out


def _ingest_case():
    g = gen.DocGenerator(seed=7, over_gate_share=0.2)
    g.corpus(60)
    tick = g.tick(20)
    keys = [gen.data_point_id(i) for i in g.live]
    counts = {"codes": len(g.live), "metadata": len(g.live)}
    return g, tick, keys, counts


def main() -> int:
    missed = []

    corpus, qvec, label, good = _serving_case()
    if checks.check_serving_answer(corpus, qvec, good, K, label):
        missed.append("correct serving answer was flagged")
    for kind, bad in _serving_plants(corpus, qvec, label, good):
        if not checks.check_serving_answer(corpus, qvec, bad, K, label):
            missed.append(kind)
    exact = checks.exact_topk(corpus, qvec, K, label)[0]
    if checks.recall(good, exact) != 1.0 or checks.check_recall_floor(
            checks.recall(good, exact), 0.9):
        missed.append("correct recall was flagged")
    if not checks.check_recall_floor(0.85, 0.9):
        missed.append("recall below the floor")

    g, tick, keys, counts = _ingest_case()
    key_of = gen.data_point_id
    if not g.rejected:
        missed.append("generator planted no over-gate doc")
    if checks.check_live_keys(keys, counts, g.live, g.rejected, key_of):
        missed.append("correct live state was flagged")
    plants = {
        "live key count (a key missing)": (keys[1:], counts),
        "live key count (re-ingest duplicated a key)":
            (keys + keys[:1], counts),
        "row count of another table": (
            keys, dict(counts, metadata=counts["metadata"] + 1)),
        "rejected doc is live": (
            keys + [key_of(next(iter(g.rejected)))], counts),
    }
    for kind, (k, c) in plants.items():
        if not checks.check_live_keys(k, c, g.live, g.rejected, key_of):
            missed.append(kind)

    doc = tick.changed_keys[0] if tick.changed_keys[0] in g.live else \
        tick.new_keys[0]
    text = g.live[doc]
    key = key_of(doc)
    others = [key_of(i) for i in g.live if g.live[i] != text][:K - 1]
    sha = checks.sha_text(text)
    good_read = checks.Answer(
        ranks=list(range(1, K + 1)), ids=[key] + others,
        scores=[1.0] + [0.1 - 0.01 * j for j in range(K - 1)],
        hydrated=[sha] + ["x"] * (K - 1),
    )
    rejected_keys = {key_of(i) for i in g.rejected}
    if checks.check_upsert_read(good_read, key, text, {key},
                                rejected_keys):
        missed.append("correct upsert read was flagged")
    stale = copy.deepcopy(good_read)
    stale.hydrated[0] = checks.sha_text(text + " old")
    not_first = copy.deepcopy(good_read)
    not_first.ids[0], not_first.ids[1] = not_first.ids[1], not_first.ids[0]
    leak = copy.deepcopy(good_read)
    leak.ids[-1] = next(iter(rejected_keys))
    for kind, bad in (("changed key serves a stale text", stale),
                      ("upserted doc not at rank 1", not_first),
                      ("rejected doc served", leak)):
        if not checks.check_upsert_read(bad, key, text, {key},
                                        rejected_keys):
            missed.append(kind)

    text = "a query text"
    vec = gen.hash_embed(text)
    if checks.check_embedding(text, vec.tolist()):
        missed.append("correct query embedding was flagged")
    vec[7] = np.nextafter(vec[7], np.float32(2))
    if not checks.check_embedding(text, vec.tolist()):
        missed.append("query embedding one ulp off")

    if missed:
        print("selftest: checks missed: " + "; ".join(missed))
        return 1
    print("selftest: every planted violation was caught")
    return 0


if __name__ == "__main__":
    sys.exit(main())
