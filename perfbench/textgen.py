"""Seeded text and duplicate-plan model, shared by the input generator
and the Python-worker fakes. Imports only numpy, so a fresh worker
process loads it quickly.

Text model: a Zipf(1.1) vocabulary of random words whose top ranks are
common English stopwords (so Gopher's stopword rule fires the way it
does on real text). A line is words until it reaches 60 bytes, ending
in a period, so every line is 60-72 bytes.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")
LINE_MIN_BYTES = 60
#: ``chunk_documents`` max_bytes for rag: two 60-byte lines never fit,
#: so every chunk is exactly one line and the truth needs no chunker.
RAG_CHUNK_BYTES = 120
JUNK_LINE = "Accept the cookie policy to continue reading"


@dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload; ``tiny()`` is the size of the tests."""

    vocab: int = 10_000
    # rag
    rag_docs: int = 1_200
    rag_files: int = 8
    rag_topics: int = 32
    dim: int = 64
    rag_queries: int = 64
    # curate
    archives: int = 100
    depth: int = 4
    # memory
    users: int = 300
    events: int = 20_000
    stream_files: int = 3
    stream_rows: int = 400
    days: int = 14
    #: timed reads per pass, by workload
    reads: tuple[tuple[str, int], ...] = (("rag", 4), ("curate", 0), ("memory", 6))

    def reads_of(self, workload: str) -> int:
        return dict(self.reads)[workload]

    @staticmethod
    def tiny() -> "Sizes":
        return Sizes(
            # few topics: two probed IVF clusters must hold >= 10 chunks
            vocab=2_000, rag_docs=60, rag_files=2, rag_topics=4, rag_queries=8,
            archives=12, depth=4, users=30, events=1_500, stream_files=2, stream_rows=50, days=4,
            reads=(("rag", 1), ("curate", 0), ("memory", 6)),
        )


def _rng(seed: int, *key: int | str) -> np.random.Generator:
    words = [seed] + [int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) for k in key]
    return np.random.default_rng(words)


class TextModel:
    """Seeded Zipf vocabulary; cheap to rebuild in every worker process."""

    def __init__(self, seed: int, n_words: int):
        rng = _rng(seed, "vocab")
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words: list[str] = list(STOPWORDS)
        seen = set(words)
        while len(words) < n_words:
            w = "".join(letters[rng.integers(26, size=int(rng.integers(3, 10)))])
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        p = 1.0 / np.arange(1, n_words + 1) ** 1.1
        self.cdf = np.cumsum(p / p.sum())

    def line(self, rng: np.random.Generator, lead: str | None = None) -> str:
        out = [lead] if lead else []
        size = len(lead) if lead else -1
        # 30 draws always reach 60 bytes: every word is >= 1 byte + a space
        picks = np.searchsorted(self.cdf, rng.random(30) * self.cdf[-1])
        for k in picks:
            if size >= LINE_MIN_BYTES - 1:
                break
            w = self.words[k]
            out.append(w)
            size += len(w) + 1
        return " ".join(out) + "."

    def doc(self, rng: np.random.Generator, n_lines: int, lead: str | None = None) -> str:
        return "\n".join(self.line(rng, lead) for _ in range(n_lines))


def rag_centers(seed: int, topics: int, dim: int) -> np.ndarray:
    c = _rng(seed, "centers").normal(size=(topics, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def page_url(doc_id: int) -> str:
    return f"page://{doc_id}"


class CuratePlan:
    """Which doc is a copy of which. Doc ``i`` is page ``i % depth`` of
    archive ``i // depth``. Planted classes (shares of all docs):

    - 8% exact copies of an earlier original;
    - 8% near copies (one token replaced, Jaccard ~0.98);
    - 5% low-quality pages (no stopwords) that the Gopher gate drops;
    - one chain of 8 docs, each one token away from the previous, so
      connected components needs several rounds.

    Rebuilt from the seed in every worker by the page fetcher.
    """

    def __init__(self, seed: int, sizes):
        self.seed, self.n = seed, sizes.archives * sizes.depth
        self.depth = sizes.depth
        self.tm = TextModel(seed, sizes.vocab)
        rng = _rng(seed, "plan")
        kind = rng.choice(4, size=self.n, p=[0.79, 0.08, 0.08, 0.05])
        kind[: max(2, self.n // 20)] = 0  # early docs are originals to copy from
        self.kind = kind  # 0 original, 1 exact, 2 near, 3 low quality
        originals = np.flatnonzero(kind == 0)
        self.source = np.arange(self.n)
        for i in np.flatnonzero((kind == 1) | (kind == 2)):
            earlier = originals[originals < i]
            self.source[i] = int(earlier[rng.integers(len(earlier))])
        chain_len = min(8, self.n // 4)
        start = int(rng.integers(self.n // 2, self.n - chain_len + 1))
        self.chain = list(range(start, start + chain_len))
        self.kind[self.chain] = 0
        for a, b in zip(self.chain, self.chain[1:]):
            self.kind[b], self.source[b] = 2, a
        # nothing copies from a chain member except its successor
        for i in np.flatnonzero((self.kind == 1) | (self.kind == 2)):
            if self.source[i] in self.chain and i not in self.chain:
                self.kind[i], self.source[i] = 0, i
        self._cache: dict[int, str] = {}

    def text(self, i: int) -> str:
        if i in self._cache:
            return self._cache[i]
        rng = _rng(self.seed, "doc", i)
        k = int(self.kind[i])
        if k == 1:
            t = self.text(int(self.source[i]))
        elif k == 2:
            words = self.text(int(self.source[i])).split(" ")
            j = int(rng.integers(len(words)))
            words[j] = f"zz{i}" + ("." if words[j].endswith(".") else "")
            t = " ".join(words)
        elif k == 3:
            t = "\n".join(
                " ".join(f"#{int(x)}" for x in rng.integers(1000, 9999, size=12))
                for _ in range(4)
            )
        else:
            lines = [self.tm.line(rng) for _ in range(int(rng.integers(6, 11)))]
            lines.insert(int(rng.integers(len(lines))), JUNK_LINE)
            t = "\n".join(lines)
        self._cache[i] = t
        return t

    def dup_classes(self) -> dict[int, list[int]]:
        """Exact classes: representative -> members (size >= 2)."""
        out: dict[int, list[int]] = {}
        for i in np.flatnonzero(self.kind == 1):
            out.setdefault(int(self.source[i]), [int(self.source[i])]).append(int(i))
        return out

    def planted_dups(self) -> list[int]:
        """Docs a perfect deduper removes: exact and near copies."""
        return [int(i) for i in np.flatnonzero((self.kind == 1) | (self.kind == 2))]
