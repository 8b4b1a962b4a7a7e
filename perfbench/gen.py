"""Seeded page generator with recorded duplicate truth.

Every page is drawn from one Zipf vocabulary (``VOCAB_SIZE`` words, exponent
``ZIPF_S``), so unrelated pages share common words but almost never share a
4-word shingle, a 16-word span or a SimHash fingerprint. Duplicates exist only
where the generator injects them, and each injection is recorded:

* ``truth``: the injected duplicate pairs ``(source_url, copy_url)``;
  ``dup_recall`` is the share of them the engine puts together.
* ``clusters``: the injected duplicate clusters. ``check_edges`` bounds each
  tier's edge count by them, so an edge explosion on a generated input fails
  as a generator error before it can show up as a timing.

The same seed always gives the same pages, in the same order.
"""

from __future__ import annotations

import dataclasses
import math
import os

import numpy as np

VOCAB_SIZE = 30_000
ZIPF_S = 1.05
_HOSTS = 64

_WORDS = np.array([f"w{i}" for i in range(VOCAB_SIZE)], dtype=object)
_ZIPF_P = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()


@dataclasses.dataclass
class Corpus:
    urls: list[str]
    texts: list[str]
    truth: list[tuple[str, str]]
    clusters: list[list[str]]

    def __post_init__(self) -> None:
        if len(set(self.urls)) != len(self.urls):
            raise ValueError("generated urls are not unique")
        if len(self.texts) != len(self.urls):
            raise ValueError("one text per url required")

    @property
    def closure_pairs(self) -> int:
        """Pairs inside the injected clusters: what a tier may find."""
        return sum(math.comb(len(c), 2) for c in self.clusters)

    @property
    def spanning_pairs(self) -> int:
        """Fewest edges that connect every injected cluster."""
        return sum(len(c) - 1 for c in self.clusters)


def check_edges(corpus: Corpus, tier: str, n_edges: int) -> None:
    """Raise unless ``tier`` found about as many edges as were injected.
    ``tier`` is one tier, or several joined by ``+`` for their merged edges.

    Every tier may find at most the pairs inside injected clusters, plus a
    little slack for chance collisions; the minhash tier must also find
    almost every cluster's spanning edges."""
    hi = 1.1 * corpus.closure_pairs + len(corpus.urls) / 100
    lo = 0.9 * corpus.spanning_pairs if tier == "minhash" else 0
    if not lo <= n_edges <= hi:
        raise ValueError(
            f"{tier} tier found {n_edges} edges; the injected truth allows "
            f"{lo:.0f}..{hi:.0f}: the generated input is degenerate"
        )


class _Builder:
    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.urls: list[str] = []
        self.tokens: list[np.ndarray] = []
        self.truth: list[tuple[str, str]] = []
        self.clusters: list[list[str]] = []

    def words(self, n: int) -> np.ndarray:
        return self.rng.choice(VOCAB_SIZE, size=n, p=_ZIPF_P)

    def lengths(self, n: int, mean: float, sd: float, lo: int, hi: int) -> np.ndarray:
        return np.clip(self.rng.normal(mean, sd, n).round(), lo, hi).astype(int)

    def add(self, toks: np.ndarray) -> str:
        host = int(self.rng.integers(_HOSTS))
        url = f"https://site{host}.example/p/{int(self.rng.integers(1 << 48)):012x}"
        self.urls.append(url)
        self.tokens.append(toks)
        return url

    def drop(self, toks: np.ndarray, rate: float | None = None, k: int = 0) -> np.ndarray:
        """A near-duplicate edit: drop each token with probability ``rate``,
        or exactly ``k`` tokens at random positions."""
        if rate is not None:
            return toks[self.rng.random(len(toks)) >= rate]
        keep = np.ones(len(toks), dtype=bool)
        keep[self.rng.choice(len(toks), size=k, replace=False)] = False
        return toks[keep]

    def cluster(self, urls: list[str], pairs: list[tuple[str, str]]) -> None:
        self.clusters.append(urls)
        self.truth.extend(pairs)

    def chain(self, toks: np.ndarray, depth: int, **edit) -> None:
        """A -> B -> C ...: each link is an edit of the previous one, so the
        ends can be far apart while every link is a duplicate pair."""
        urls = [self.add(toks)]
        for _ in range(depth):
            toks = self.drop(toks, **edit)
            urls.append(self.add(toks))
        self.cluster(urls, list(zip(urls, urls[1:])))

    def copies(self, toks: np.ndarray, n: int) -> None:
        src = self.add(toks)
        urls = [src] + [self.add(toks) for _ in range(n)]
        self.cluster(urls, [(src, u) for u in urls[1:]])

    def plan(self, n_pages: int, kinds: dict[str, tuple[float, int]]) -> list[str]:
        """Source kinds in fixed numbers, in seeded order. ``kinds`` maps a
        kind to (share of sources, pages per source); single pages fill the
        rest up to ``n_pages``. Every seed gets the same duplicate structure,
        so seeds vary the content and not the amount of work."""
        n_sources = n_pages / (1 + sum(share * (pages - 1) for share, pages in kinds.values()))
        order = [kind for kind, (share, _) in kinds.items() for _ in range(round(share * n_sources))]
        order += ["single"] * (n_pages - sum(kinds[k][1] for k in order))
        self.rng.shuffle(order)
        return order

    def corpus(self) -> Corpus:
        order = self.rng.permutation(len(self.urls))
        return Corpus(
            urls=[self.urls[i] for i in order],
            texts=[" ".join(_WORDS[self.tokens[i]]) for i in order],
            truth=self.truth,
            clusters=self.clusters,
        )


def crawl_pages(seed: int, n_pages: int) -> Corpus:
    """Long crawl pages (about 430 tokens) with a low duplicate rate: 2% of
    sources get an exact copy, 3% a near-duplicate (3% of tokens dropped)
    and 1% a 3-page near-duplicate chain."""
    b = _Builder(seed)
    order = b.plan(n_pages, {"copy": (0.02, 2), "near": (0.03, 2), "chain": (0.01, 3)})
    for kind, n in zip(order, b.lengths(len(order), 430, 70, 200, 700)):
        toks = b.words(n)
        if kind == "copy":
            b.copies(toks, 1)
        elif kind == "near":
            b.chain(toks, 1, rate=0.03)
        elif kind == "chain":
            b.chain(toks, 2, rate=0.03)
        else:
            b.add(toks)
    return b.corpus()


def boilerplate_pages(
    seed: int, n_pages: int, template_sizes: tuple[int, ...]
) -> Corpus:
    """Short pages (about 60 tokens) with heavy duplicate structure:

    * template clusters: a shared 40-token body plus a unique 5-15 token
      tail per member, so all members are near-duplicates that share the
      body's LSH buckets, 16-token spans and most of their band keys. The
      largest template sets the hottest bucket size;
    * exact copies: 2% of the other sources get one identical copy, 2% two;
    * 1.5% of them start a near-duplicate chain of depth 10, one token
      dropped per link, whose
      ends are no longer duplicates: connected components needs several
      rounds to join them."""
    b = _Builder(seed)
    for size in template_sizes:
        body = b.words(40)
        urls = [
            b.add(np.concatenate([body, b.words(int(b.rng.integers(5, 16)))]))
            for _ in range(size)
        ]
        b.cluster(urls, [(urls[0], u) for u in urls[1:]])
    order = b.plan(n_pages - len(b.urls),
                   {"copy1": (0.02, 2), "copy2": (0.02, 3), "chain": (0.015, 11)})
    for kind, n in zip(order, b.lengths(len(order), 60, 15, 30, 100)):
        toks = b.words(n)
        if kind == "copy1":
            b.copies(toks, 1)
        elif kind == "copy2":
            b.copies(toks, 2)
        elif kind == "chain":
            b.chain(toks, 10, k=1)
        else:
            b.add(toks)
    return b.corpus()


def write_pages(corpus: Corpus, out_dir: str, n_files: int) -> list[str]:
    """Write the pages as ``n_files`` parquet files of about equal size in
    the pages table schema (url, warc_ts, html, text, lang); returns the
    file paths in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = len(corpus.urls)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        table = pa.table(
            {
                "url": pa.array(corpus.urls[lo:hi], pa.string()),
                "warc_ts": pa.array(
                    np.full(hi - lo, 1_704_067_200_000_000, dtype="int64"),
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.nulls(hi - lo, pa.binary()),
                "text": pa.array(corpus.texts[lo:hi], pa.string()),
                "lang": pa.array(["en"] * (hi - lo), pa.string()),
            }
        )
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths
