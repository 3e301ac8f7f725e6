"""Seeded input generator for the dedup benchmark.

Owned by the benchmark so that a change to ``probminhash_spark/corpus.py``
cannot change what is measured.  Documents look like small source files:
each draws most of its tokens from a document-local identifier vocabulary
(so unrelated documents share almost no byte 8-grams) plus shared keywords.
Planted groups hold a base document, exact copies and near-copies made by
substituting and deleting a fraction of tokens.

Every document carries a unique (repo, path, commit) key, except re-ingests
in a trickle, which repeat a history document's key and content exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

LANGS = ("py", "rs", "java", "c", "go")
KEYWORDS = (
    "def fn class struct impl return if else for while match let mut pub "
    "import use static void int float bool true false none null self new try "
    "except catch finally raise throw async await yield const enum trait"
).split()
# member edit rates inside a planted group: member 0 is the base, member 1
# an exact copy, later members near-copies on both sides of the J threshold
EDIT_RATES = (0.0, 0.0, 0.02, 0.05, 0.10)
# trickle copies: exact (J = 1) or 5% token edits, whose byte 8-gram J stays
# below 0.72 yet collides in some LSH band almost always, so each trickle
# carries the same shares of true pairs and of sub-threshold candidates
COPY_RATES = (0.0, 0.05)
TRICKLE_GROUP_RATES = (0.0, 0.0, 0.0, 0.05)


@dataclass
class Docs:
    """Column lists of one generated document set plus its planted groups
    (each group is a list of row positions)."""

    repo: list[str] = field(default_factory=list)
    path: list[str] = field(default_factory=list)
    commit: list[str] = field(default_factory=list)
    lang: list[str] = field(default_factory=list)
    content: list[str] = field(default_factory=list)
    groups: list[list[int]] = field(default_factory=list)

    def __len__(self) -> int:
        return len(self.content)

    def add(self, rng: np.random.Generator, tag: str, text: str) -> int:
        i = len(self.content)
        self.repo.append(f"org/repo-{int(rng.integers(0, 500)):04d}")
        self.path.append(f"src/{tag}/f{i:06d}.{LANGS[i % len(LANGS)]}")
        self.commit.append(f"{int(rng.integers(0, 2**62)):016x}")
        self.lang.append(LANGS[i % len(LANGS)])
        self.content.append(text)
        return i

    def add_row(self, row: tuple) -> int:
        """Append an exact (repo, path, commit, lang, content) row."""
        for col, v in zip((self.repo, self.path, self.commit, self.lang, self.content), row):
            col.append(v)
        return len(self.content) - 1

    def row(self, i: int) -> tuple:
        return (self.repo[i], self.path[i], self.commit[i], self.lang[i], self.content[i])

    def pandas(self, rows: list[int] | None = None):
        import pandas as pd

        idx = range(len(self)) if rows is None else rows
        return pd.DataFrame(
            [self.row(i) for i in idx],
            columns=["repo", "path", "commit", "lang", "content"],
        )


class TextMaker:
    """Token-level document and near-copy generator for one seed."""

    def __init__(self, rng: np.random.Generator, pool_size: int = 40_000):
        self.rng = rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(4, 10, size=pool_size)
        chars = rng.choice(letters, size=int(lens.sum()))
        cuts = np.cumsum(lens)[:-1]
        self.pool = np.array(
            ["".join(w) for w in np.split(chars, cuts)], dtype=object
        )
        self.keywords = np.array(KEYWORDS, dtype=object)

    def tokens(self, n: int) -> np.ndarray:
        local = self.rng.choice(self.pool, size=max(12, n // 6), replace=False)
        ranks = np.arange(1, local.size + 1, dtype=np.float64)
        p_local = 1.0 / (ranks + 2.0)
        p_local *= 0.8 / p_local.sum()
        p_kw = np.full(self.keywords.size, 0.2 / self.keywords.size)
        vocab = np.concatenate([local, self.keywords])
        return self.rng.choice(vocab, size=n, p=np.concatenate([p_local, p_kw]))

    def mutate(self, toks: np.ndarray, rate: float) -> np.ndarray:
        if rate <= 0.0:
            return toks
        out = toks.copy()
        sub = self.rng.random(out.size) < rate
        out[sub] = self.rng.choice(self.pool, size=int(sub.sum()))
        return out[self.rng.random(out.size) >= rate / 4]

    @staticmethod
    def render(toks: np.ndarray) -> str:
        return "\n".join(" ".join(toks[i : i + 10]) for i in range(0, toks.size, 10))


def add_group(
    docs: Docs,
    maker: TextMaker,
    tag: str,
    size: int,
    n_tokens: int,
    rates: tuple[float, ...] = EDIT_RATES,
) -> list[int]:
    """Plant one group of ``size`` documents around a fresh base."""
    base = maker.tokens(n_tokens)
    members = []
    for m in range(size):
        rate = rates[min(m, len(rates) - 1)]
        members.append(docs.add(maker.rng, tag, maker.render(maker.mutate(base, rate))))
    docs.groups.append(members)
    return members


def batch_corpus(seed: int, n_docs: int, dup_share: float) -> Docs:
    """Dup-light batch corpus: ``dup_share`` of the documents sit in planted
    groups of 2-5 members, the rest are unrelated; 120-600 tokens each."""
    rng = np.random.default_rng(seed)
    maker = TextMaker(rng)
    docs = Docs()
    n_dup = int(n_docs * dup_share)
    while len(docs) < n_dup:
        size = min(int(rng.integers(2, 6)), max(2, n_dup - len(docs)))
        add_group(docs, maker, "grp", size, int(rng.integers(120, 600)))
    while len(docs) < n_docs:
        docs.add(rng, "bg", maker.render(maker.tokens(int(rng.integers(120, 600)))))
    return docs


@dataclass
class Trickle:
    """History documents plus trickle files (each a list of row positions
    into the same :class:`Docs`)."""

    docs: Docs
    history: list[int]
    files: list[list[int]]


def trickle_corpus(
    seed: int, n_history: int, n_files: int, docs_per_file: int
) -> Trickle:
    """History with planted groups, then a trickle mixing fixed shares of:
    exact copies and near-copies (new keys) of history documents, edit
    rates cycling through ``COPY_RATES``; re-ingests (same key and content)
    of history documents; groups of four planted inside the trickle; and
    fresh documents.  Fixed shares keep the mix the same for every seed."""
    rng = np.random.default_rng(seed)
    maker = TextMaker(rng)
    docs = Docs()
    while len(docs) < n_history // 7:
        add_group(docs, maker, "hgrp", int(rng.integers(2, 5)), int(rng.integers(120, 600)))
    while len(docs) < n_history:
        docs.add(rng, "hbg", maker.render(maker.tokens(int(rng.integers(120, 600)))))
    history = list(range(len(docs)))
    # copies and re-ingests come from ungrouped history documents, so each
    # adds exactly one planted pair and the mix is the same for every seed
    ungrouped = np.array(sorted(set(history) - {i for g in docs.groups for i in g}))

    n_trickle = n_files * docs_per_file
    n_copies, n_reingest, n_groups = n_trickle // 5, n_trickle // 12, n_trickle // 28
    sources = rng.choice(ungrouped, size=n_copies + n_reingest, replace=False).tolist()
    trickle: list[int] = []
    for c, src in enumerate(sources[:n_copies]):
        toks = np.array(docs.content[src].split(), dtype=object)
        rate = COPY_RATES[c % len(COPY_RATES)]
        trickle.append(docs.add(rng, "tcopy", maker.render(maker.mutate(toks, rate))))
        docs.groups.append([src, trickle[-1]])
    for src in sources[n_copies:]:
        trickle.append(docs.add_row(docs.row(src)))
        docs.groups.append([src, trickle[-1]])
    for _ in range(n_groups):
        trickle += add_group(
            docs, maker, "tgrp", 4, int(rng.integers(120, 600)), TRICKLE_GROUP_RATES
        )
    while len(trickle) < n_trickle:
        trickle.append(
            docs.add(rng, "tbg", maker.render(maker.tokens(int(rng.integers(120, 600)))))
        )
    rng.shuffle(trickle)
    files = [trickle[f * docs_per_file : (f + 1) * docs_per_file] for f in range(n_files)]
    return Trickle(docs, history, files)
