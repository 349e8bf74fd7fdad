"""Boilerplate removal (functions/boilerplate.py): block signals and
jusText-style classification + neighborhood rule. The Spark stage with
its monitor columns runs inside the crawl pipeline
(tests/test_crawl_pipeline.py)."""

from __future__ import annotations

from debgpt7_8_with_vectordb_spark.functions.boilerplate import (
    classify_blocks,
    extract_blocks,
    extract_main_text,
)

ARTICLE = " ".join(["Sentence number %d of the article body." % i for i in range(8)])

PAGE = f"""
<html><head><title>Site</title><script>menu()</script></head><body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/news">News</a></li></ul></nav>
<div class="cookie">Accept cookies</div>
<main>
  <h1>The Article Title</h1>
  <p>{ARTICLE}</p>
  <p>Short follow-up paragraph with real words.</p>
  <p>{ARTICLE.replace('article', 'second paragraph')}</p>
</main>
<aside><a href="/x">Related one</a> <a href="/y">Related two</a></aside>
<footer>&copy; 2024 Example Corp. <a href="/tos">Terms</a></footer>
</body></html>
"""


def test_block_signals():
    blocks = extract_blocks(PAGE)
    nav = [b for b in blocks if "Home" in b["text"]]
    assert nav and nav[0]["chrome"] and nav[0]["link_chars"] > 0
    title = [b for b in blocks if b["text"] == "The Article Title"]
    assert title and title[0]["heading"] and not title[0]["chrome"]
    body = [b for b in blocks if "Sentence number 0" in b["text"]]
    assert body and body[0]["link_chars"] == 0


def test_main_text_keeps_article_drops_chrome():
    text, kept, total = extract_main_text(PAGE)
    assert "Sentence number 0 of the article body." in text
    assert "second paragraph body" in text
    # neighborhood rule: the short paragraph between two good ones stays
    assert "Short follow-up paragraph" in text
    # the title heading adjacent to the article stays
    assert "The Article Title" in text
    # chrome is gone
    for junk in ("Home", "Accept cookies", "Related one", "Example Corp"):
        assert junk not in text, junk
    assert 0 < kept < total


def test_isolated_short_blocks_drop():
    html = "<p>tiny</p><p>also tiny</p><div><a href='/'>linkfarm</a></div>"
    text, kept, total = extract_main_text(html)
    assert text == "" and kept == 0 and total >= 2


def test_classifier_link_density():
    blocks = [
        {"text": "x" * 200, "link_chars": 0, "chrome": False, "heading": False},
        {"text": "x" * 200, "link_chars": 150, "chrome": False, "heading": False},
    ]
    assert classify_blocks(blocks) == ["kept", "dropped"]


def test_truncated_html_is_tolerated():
    text, kept, total = extract_main_text(PAGE[: len(PAGE) // 2])
    assert "Sentence number 0" in text
