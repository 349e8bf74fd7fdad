"""Module-level stand-ins for external services, picklable to Python
workers: an embedding provider and a paginated page archive. Both are
pure functions of their constructor arguments and input, so a retried
task returns the same bytes."""

from __future__ import annotations

import functools
import hashlib

import numpy as np

from textgen import CuratePlan, page_url, rag_centers


class ClusteredProvider:
    """Embedding 'model': a chunk whose first token is ``k<t>`` maps to
    topic t's unit center plus Gaussian noise seeded by the chunk text
    (a Gaussian mixture, the regime where IVF recall is meaningful)."""

    def __init__(self, seed: int, topics: int, dim: int, sigma: float = 0.08):
        self.seed, self.topics, self.dim, self.sigma = seed, topics, dim, sigma

    def __call__(self, texts: list[str]) -> list[list[float]]:
        centers = _centers(self.seed, self.topics, self.dim)
        out = []
        for t in texts:
            head = t.split(" ", 1)[0]
            topic = int(head[1:]) % self.topics if head[1:].isdigit() else 0
            h = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
            noise = np.random.default_rng(h).normal(size=self.dim)
            out.append((centers[topic] + self.sigma * noise).tolist())
        return out


@functools.lru_cache(maxsize=4)
def _centers(seed: int, topics: int, dim: int) -> np.ndarray:
    return rag_centers(seed, topics, dim)


class PageFetcher:
    """``fetcher(url) -> (status, body, next_url)`` over the seeded page
    archives of ``textgen.CuratePlan``: page p of an archive links to page
    p+1 until the archive's depth is reached."""

    def __init__(self, seed: int, sizes):
        self.seed, self.sizes = seed, sizes

    def __call__(self, url: str) -> tuple[int, str, str | None]:
        plan = _plan(self.seed, self.sizes)
        i = int(url.rsplit("/", 1)[1])
        nxt = page_url(i + 1) if (i + 1) % plan.depth else None
        return 200, plan.text(i), nxt


@functools.lru_cache(maxsize=4)
def _plan(seed: int, sizes):
    return CuratePlan(seed, sizes)
