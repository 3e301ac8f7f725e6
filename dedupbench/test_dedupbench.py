"""Self-tests of the benchmark's reference and failure accounting.

Run from the checkout root (no Spark needed):

    python -m pytest dedupbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

from inputs import batch_corpus, trickle_corpus  # noqa: E402
from reference import Reference, components, score, tally  # noqa: E402

K, THRESHOLD = 8, 0.8


def _reference(docs) -> Reference:
    # row positions stand in for engine doc ids
    contents = dict(enumerate(docs.content))
    return Reference(contents, docs.groups, K, THRESHOLD)


def test_truth_matches_engine_exact_truth_on_tiny_corpus():
    """Planted-group pairs scored in pure Python equal the engine's
    all-pairs exact truth: no pair outside the planted groups reaches the
    threshold, and no planted pair is scored differently."""
    from probminhash_spark.corpus import exact_truth

    for seed in (1, 2):
        docs = batch_corpus(seed, 80, 0.5)
        ref = _reference(docs)
        pairs, _ = exact_truth(docs.content, "char", K, THRESHOLD)
        engine = {(int(a), int(b)) for a, b in zip(pairs.id_l, pairs.id_r)}
        assert ref.truth == engine
        assert len(ref.truth) > 10
        for a, b, j in zip(pairs.id_l, pairs.id_r, pairs.j_exact):
            assert abs(ref.j(int(a), int(b)) - j) < 1e-12


def test_trickle_truth_matches_engine_exact_truth():
    from probminhash_spark.corpus import exact_truth

    t = trickle_corpus(3, 150, 2, 20)
    # re-ingested rows repeat a history row; keep the first of each key
    first: dict[tuple, int] = {}
    for i in range(len(t.docs)):
        first.setdefault((t.docs.repo[i], t.docs.path[i], t.docs.commit[i]), i)
    rows = sorted(first.values())
    ref = Reference(
        {i: t.docs.content[i] for i in rows},
        [[first[(t.docs.repo[i], t.docs.path[i], t.docs.commit[i])] for i in g] for g in t.docs.groups],
        K,
        THRESHOLD,
    )
    pairs, _ = exact_truth([t.docs.content[i] for i in rows], "char", K, THRESHOLD)
    engine = {(rows[int(a)], rows[int(b)]) for a, b in zip(pairs.id_l, pairs.id_r)}
    assert ref.truth == engine


def test_removing_one_edge_lowers_recall_and_fails_the_op():
    docs = batch_corpus(4, 120, 0.3)
    ref = _reference(docs)
    scope = set(ref.contents)
    edges = set(ref.truth)
    clusters = components(scope, edges)
    perfect = score(ref, edges, clusters, scope)
    assert perfect["edge_recall"] == perfect["edge_precision"] == 1.0
    assert perfect["cluster_agreement"] == 1.0

    dropped = sorted(edges)[0]
    broken = score(ref, edges - {dropped}, clusters, scope)
    assert broken["edge_recall"] < 1.0
    assert broken["edge_recall"] == (len(edges) - 1) / len(edges)

    results = [
        {"problems": []},
        {"problems": [f"edge_recall={broken['edge_recall']:.4f}"]},
        {"problems": ["RuntimeError()"], "error": True},
    ]
    assert tally(results, 2) == (6, 3)


def test_false_edge_lowers_precision_and_a_split_cluster_lowers_agreement():
    docs = batch_corpus(5, 120, 0.3)
    ref = _reference(docs)
    scope = set(ref.contents)
    grouped = {d for g in docs.groups for d in g}
    a, b = sorted(scope - grouped)[:2]  # two unrelated documents
    edges = set(ref.truth) | {(a, b)}
    s = score(ref, edges, components(scope, edges), scope)
    assert s["edge_recall"] == 1.0
    assert s["edge_precision"] == (len(edges) - 1) / len(edges)
    assert s["cluster_agreement"] == (len(scope) - 2) / len(scope)


def test_generators_are_seeded():
    assert batch_corpus(7, 50, 0.2).content == batch_corpus(7, 50, 0.2).content
    assert batch_corpus(7, 50, 0.2).content != batch_corpus(8, 50, 0.2).content
    t1, t2 = trickle_corpus(7, 100, 2, 10), trickle_corpus(7, 100, 2, 10)
    assert t1.files == t2.files and t1.docs.content == t2.docs.content
