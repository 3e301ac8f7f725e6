"""Engine-independent reference for the dedup outputs.

Truth pairs are the planted-group pairs whose Jaccard similarity over byte
k-gram sets is at least the threshold, computed here in pure Python (no
numpy, no engine kernels).  Emitted pairs outside the planted groups are
scored with the same function, so a false edge between unrelated documents
lowers precision instead of passing unseen.
"""

from __future__ import annotations

from itertools import combinations


def kgram_set(text: str, k: int) -> frozenset[bytes]:
    """Distinct byte k-grams of the UTF-8 text; a text shorter than ``k``
    bytes is one whole-content gram, as in the engine's char shingling."""
    b = text.encode("utf-8", "surrogatepass")
    if len(b) < k:
        return frozenset([b])
    return frozenset(b[i : i + k] for i in range(len(b) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 1.0


class Reference:
    """Truth over documents identified by engine doc id.

    ``contents`` maps doc id to text; ``groups`` lists planted groups as doc
    ids.  Rows that repeat a key (re-ingests) share one id and one entry.
    """

    def __init__(self, contents: dict[int, str], groups: list[list[int]], k: int, threshold: float):
        self.contents = contents
        self.k = k
        self.threshold = threshold
        self._sets: dict[int, frozenset] = {}
        self.truth: set[tuple[int, int]] = set()
        for members in groups:
            for a, b in combinations(sorted(set(members)), 2):
                if self.j(a, b) >= threshold:
                    self.truth.add((a, b))

    def _set(self, doc_id: int) -> frozenset:
        s = self._sets.get(doc_id)
        if s is None:
            s = self._sets[doc_id] = kgram_set(self.contents[doc_id], self.k)
        return s

    def j(self, a: int, b: int) -> float:
        return jaccard(self._set(a), self._set(b))

    def components(self, ids) -> dict[int, int]:
        """doc id -> smallest id of its connected component under the truth
        pairs, for every id in ``ids``."""
        return components(ids, self.truth)


def components(ids, pairs) -> dict[int, int]:
    """Union-find labels: doc id -> smallest member id of its component."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def _members(labels: dict[int, int]) -> dict[int, frozenset]:
    """doc id -> the set of doc ids sharing its label."""
    groups: dict[int, set] = {}
    for doc, label in labels.items():
        groups.setdefault(label, set()).add(doc)
    frozen = {label: frozenset(g) for label, g in groups.items()}
    return {doc: frozen[label] for doc, label in labels.items()}


RATIOS = ("edge_recall", "edge_precision", "cluster_agreement")


def worst_scores(ok: list[dict]) -> dict[str, float]:
    """Each correctness ratio at the worst checked op of a run."""
    return {k: min(r["score"].get(k, 0.0) for r in ok) for k in RATIOS}


def tally(results: list[dict], ops_per_result: int) -> tuple[int, int]:
    """(attempted, failed) op counts.  Each result covers
    ``ops_per_result`` ops; an errored result fails all of them, a result
    whose output check found problems fails one.  Nothing is dropped."""
    attempted = ops_per_result * len(results)
    failed = sum(
        ops_per_result if r.get("error") else (1 if r["problems"] else 0) for r in results
    )
    return attempted, failed


def score(
    ref: Reference,
    edges: set[tuple[int, int]],
    clusters: dict[int, int],
    scope: set[int],
) -> dict[str, float | int]:
    """Compare engine output with the reference on the documents in
    ``scope`` (every document for a batch run, the trickle for a drain).

    ``edges`` are emitted (id_l, id_r) pairs with id_l < id_r; ``clusters``
    maps doc id to the engine's cluster label for every known document.
    Returns recall over truth pairs touching the scope, precision over
    emitted edges touching it, and the share of scoped documents whose
    cluster has exactly the reference component's members.
    """
    truth = {p for p in ref.truth if p[0] in scope or p[1] in scope}
    emitted = {p for p in edges if p[0] in scope or p[1] in scope}
    found = len(truth & emitted)
    good = sum(1 for a, b in emitted if ref.j(a, b) >= ref.threshold)
    engine_members = _members(clusters)
    ref_members = _members(ref.components(clusters.keys()))
    agree = sum(1 for d in scope if engine_members[d] == ref_members[d])
    return {
        "truth_pairs": len(truth),
        "emitted_edges": len(emitted),
        "edge_recall": found / len(truth) if truth else 1.0,
        "edge_precision": good / len(emitted) if emitted else 1.0,
        "cluster_agreement": agree / len(scope) if scope else 1.0,
    }
