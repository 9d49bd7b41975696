"""Seeded input corpora for the linkage benchmark.

Every workload is a pure function of ``(seed, size)``: it returns the pages
the pipeline reads (``url``, ``text``, ``lang``) and, for each page, the
ground-truth entity it belongs to. Pages whose truth label is ``None`` are
singletons. The program under test only ever sees the pages.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass
class Corpus:
    urls: list[str]
    texts: list[str]
    langs: list[str]
    truth: list[object]  # entity label per page; None = singleton

    def __len__(self) -> int:
        return len(self.urls)


def dup_clusters(seed: int, n_pages: int, distractor_share: float = 0.2) -> Corpus:
    """Near-duplicate entity clusters of 3-10 pages plus distractors
    (``datagen.generate_pages``), sharing 4-token opener prefixes.

    Exactly ``n_pages`` pages: the first entity pages and the first
    distractors the generator makes, so every seed gives the same size.
    All pages are moved onto one host, so that block is always split by
    ``salt_mega_blocks``; the cap then drops members once the host has more
    than about 16 × 64 pages.
    """
    from entity_linking_spark.datagen import generate_pages

    n_distract = int(n_pages * distractor_share)
    # at least 3 entity pages and 1.5 distractors per entity
    pages, _ = generate_pages(n_entities=n_pages // 3 + 1, seed=seed)
    pages = (
        [p for p in pages if p.entity_id >= 0][: n_pages - n_distract]
        + [p for p in pages if p.entity_id < 0][:n_distract]
    )
    return Corpus(
        urls=[
            "https://portal.example.com/" + p.url.split("/", 3)[3] for p in pages
        ],
        texts=[p.text for p in pages],
        langs=[p.lang for p in pages],
        truth=[p.entity_id if p.entity_id >= 0 else None for p in pages],
    )


def _drift_vocab(size: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return [
        "".join(letters[(k // 26**j) % 26] for j in range(3)) + "ex"
        for k in range(size)
    ]


def drift_chain(
    seed: int, n_chains: int, chain_len: int, window: int = 40, stride: int = 2
) -> Corpus:
    """Chains of pages, each a ``window``-token window sliding by
    ``stride`` over its chain's own seeded token stream. Neighbouring pages
    are near-duplicates while the chain's ends share nothing, so each chain
    is one long-diameter component. Every page has its own host."""
    rng = random.Random(seed)
    vocab = _drift_vocab(4000)
    urls, texts, truth = [], [], []
    for c in range(n_chains):
        stream = rng.choices(vocab, k=window + stride * (chain_len - 1))
        for p in range(chain_len):
            urls.append(f"https://c{c}p{p}.drift.example.org/page")
            texts.append(" ".join(stream[p * stride: p * stride + window]))
            truth.append(c)
    return Corpus(
        urls=urls, texts=texts, langs=["en"] * len(urls), truth=truth
    )
