"""Boilerplate removal: main-content extraction from web pages.

``html_to_text`` (functions/htmltext.py) keeps EVERYTHING a browser
would render — navigation menus, cookie banners, footers, related-link
rails. A pretraining corpus wants the article, not the chrome; this is
the jusText/Boilerpipe-family step every crawl-curation pipeline runs
between HTML extraction and quality scoring.

Approach (simplified jusText, zero dependencies, deterministic):

1. Re-tokenize the page into BLOCKS at block-element boundaries using
   the same stdlib HTML tokenizer as ``html_to_text``, tracking per
   block the rendered text, the characters emitted inside ``<a>``
   (link density is the strongest single boilerplate signal), whether
   the block sits inside structural chrome (``nav``/``footer``/
   ``aside``/``form``), and whether it is a heading.
2. Classify: a block is GOOD when it has at least ``min_good`` chars,
   link density at most ``max_link_density``, and is not chrome.
   Mid-length blocks are NEAR; everything else is BAD.
3. Context pass: NEAR blocks and headings are kept when adjacent to a
   kept block (classic jusText neighborhood rule — short paragraphs
   inside an article survive, isolated menu stubs don't).

The result is a heuristic, and honestly so: the per-block signals and
thresholds are exposed, and the crawl stage (operators/crawl.py)
reports kept/total block counts
and the boilerplate ratio so a corpus-level monitor can flag pages
where the classifier collapses (all-BAD or all-GOOD extremes).
"""

from __future__ import annotations

from html.parser import HTMLParser

from .htmltext import _BLOCK, _SKIP_CONTENT, normalize_extracted

_CHROME = {"nav", "footer", "aside", "form", "fieldset"}
_HEADINGS = {"h1", "h2", "h3", "h4", "h5", "h6"}


class _BlockExtractor(HTMLParser):
    """Tokenize into rendered-text blocks with boilerplate signals."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self._link = 0
        self._chrome = 0
        self._heading = 0
        self._parts: list[str] = []
        self._link_chars = 0
        self._block_heading = False
        self.blocks: list[dict] = []

    def _flush(self) -> None:
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append(
                {
                    "text": text,
                    "link_chars": min(self._link_chars, len(text)),
                    "chrome": self._chrome > 0,
                    "heading": self._block_heading,
                }
            )
        self._parts = []
        self._link_chars = 0
        self._block_heading = False

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_CONTENT:
            self._skip += 1
        if tag == "a":
            self._link += 1
        if tag in _BLOCK:
            self._flush()
            if tag in _CHROME:
                self._chrome += 1
            if tag in _HEADINGS:
                self._heading += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_CONTENT and self._skip:
            self._skip -= 1
        if tag == "a" and self._link:
            self._link -= 1
        if tag in _BLOCK:
            if tag in _HEADINGS and self._heading:
                self._block_heading = True
            self._flush()
            if tag in _CHROME and self._chrome:
                self._chrome -= 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in _BLOCK:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip:
            return
        self._parts.append(data)
        if self._link:
            self._link_chars += len(data)
        if self._heading:
            self._block_heading = True

    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass


def extract_blocks(html: str) -> list[dict]:
    """The signal table step 1 produces; exposed for tests/monitors."""
    p = _BlockExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        pass  # keep whatever blocks parsed — truncated HTML is routine
    p._flush()
    return p.blocks


def classify_blocks(
    blocks: list[dict],
    min_good: int = 80,
    min_near: int = 25,
    max_link_density: float = 0.33,
) -> list[str]:
    """'good' / 'near' / 'bad' per block, then the neighborhood pass."""
    labels = []
    for b in blocks:
        n = len(b["text"])
        density = b["link_chars"] / n if n else 1.0
        if b["chrome"] or density > max_link_density:
            labels.append("bad")
        elif n >= min_good:
            labels.append("good")
        elif n >= min_near or b["heading"]:
            labels.append("near")
        else:
            labels.append("bad")
    # neighborhood: near/heading blocks survive next to good ones
    kept = ["good" == l for l in labels]
    for i, label in enumerate(labels):
        if label != "near":
            continue
        prev_good = any(
            labels[j] == "good" for j in range(max(0, i - 2), i)
        )
        next_good = any(
            labels[j] == "good" for j in range(i + 1, min(len(labels), i + 3))
        )
        kept[i] = prev_good or next_good
    return ["kept" if k else "dropped" for k in kept]


def extract_main_text(
    html: str,
    min_good: int = 80,
    min_near: int = 25,
    max_link_density: float = 0.33,
) -> tuple[str, int, int]:
    """Returns (main_text, blocks_kept, blocks_total)."""
    blocks = extract_blocks(html)
    verdicts = classify_blocks(blocks, min_good, min_near, max_link_density)
    kept = [b["text"] for b, v in zip(blocks, verdicts) if v == "kept"]
    return normalize_extracted("\n".join(kept)), len(kept), len(blocks)
