"""Debian-surface source prefixes — the reference's remaining S21
routing rows (reader.py:842-1032): ``bts:`` / ``archwiki:`` /
``buildd:`` / ``google:`` / ``ldo:`` / ``policy:`` / ``devref:`` /
``nm:`` / ``sbuild:``. Each is a thin URL-construction (or local-file)
specialization that emits the standard ``(path, content)`` documents
DataFrame, so the registry reaches FULL prefix parity with the
reference's dispatch table.

Network seams: this container has no network, so fetching goes through
module-level injectable seams (``set_fetcher`` — ``url -> (status,
body)``; ``set_searcher`` for google) exactly like sources/fanout. The
default fetcher uses stdlib urllib at runtime and raises cleanly
offline; tests inject deterministic fakes. Multi-URL sources (google
results, ldo threads) fan the fetch out through fanout.fetch_urls —
the S15/S16 distributed shape — rather than a driver thread pool.

Content handling mirrors the reference where it has semantics worth
keeping: BTS pages strip HTML and, for ``src:`` package pages,
truncate at the trailing 'Options' block (reader.py:553-583); sbuild
logs slice the Build..Changes region between the sbuild banner tables
(reader.py:256-283); policy/devref split on the plain-text manuals'
underline separators ('***'/'==='/'---' with dotted section numbers,
policy.py:23-137) — re-implemented as a single scan that emits every
section row at once instead of the reference's per-index line walk.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..functions.htmltext import html_to_text
from .registry import register_source

Fetcher = Callable[[str], tuple[int, str]]


def _urllib_fetch(url: str) -> tuple[int, str]:
    import urllib.request

    with urllib.request.urlopen(url, timeout=60) as resp:  # pragma: no cover
        return resp.status, resp.read().decode("utf-8", "replace")


_FETCHER: Fetcher = _urllib_fetch
_SEARCHER: Callable[[str], list[str]] | None = None


def set_fetcher(fn: Fetcher) -> None:
    """Inject the transport (tests: deterministic fake; production:
    requests/urllib with retries)."""
    global _FETCHER
    _FETCHER = fn


def set_searcher(fn: Callable[[str], list[str]]) -> None:
    """Inject the web-search seam for ``google:`` (query -> URLs)."""
    global _SEARCHER
    _SEARCHER = fn


def _one_doc(spark: SparkSession, path: str, content: str) -> DataFrame:
    return spark.createDataFrame(
        [(path, content)], "path string, content string"
    )


# ---------------------------------------------------------------------------
# single-page fetch sources
# ---------------------------------------------------------------------------


@register_source("bts")
def read_bts(spark: SparkSession, spec: str) -> DataFrame:
    """S14: Debian bug-tracker page -> text (reference reader.py:553-583,
    842-857). ``bts:NNNN`` is a bug page; ``bts:src:pkg`` is a package
    index whose trailing 'Options' chrome is cut."""
    status, body = _FETCHER(f"https://bugs.debian.org/{spec}")
    if status != 200:
        return spark.createDataFrame([], "path string, content string")
    lines = [ln.strip() for ln in html_to_text(body).split("\n")]
    if spec.startswith("src:") and "Options" in lines:
        lines = lines[: lines.index("Options")]
    return _one_doc(spark, f"bts:{spec}", "\n".join(lines))


@register_source("archwiki")
def read_archwiki(spark: SparkSession, page: str) -> DataFrame:
    """S17 sibling (reference reader.py:740-755)."""
    status, body = _FETCHER(f"https://wiki.archlinux.org/title/{page}")
    if status != 200:
        return spark.createDataFrame([], "path string, content string")
    text = "\n".join(x.rstrip() for x in html_to_text(body).split("\n"))
    return _one_doc(spark, f"archwiki:{page}", text)


@register_source("buildd")
def read_buildd(spark: SparkSession, pkg: str) -> DataFrame:
    """S17: buildd status page for one package (reader.py:758-765)."""
    status, body = _FETCHER(
        f"https://buildd.debian.org/status/package.php?p={pkg}"
    )
    if status != 200:
        return spark.createDataFrame([], "path string, content string")
    text = "\n".join(x.rstrip() for x in html_to_text(body).split("\n"))
    return _one_doc(spark, f"buildd:{pkg}", text)


# ---------------------------------------------------------------------------
# fan-out fetch sources (distributed through fanout.fetch_urls)
# ---------------------------------------------------------------------------


def _fetch_many(spark: SparkSession, urls: list[str]) -> DataFrame:
    from .fanout import fetch_urls

    if not urls:
        return spark.createDataFrame([], "path string, content string")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    fetched = fetch_urls(df, _FETCHER)
    import pandas as pd
    import pyspark.sql.functions as F

    ok = fetched.filter(F.col("status") == 200).select("url", "content")

    def strip(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "path": pdf["url"],
                    "content": [
                        None if h is None else html_to_text(h)
                        for h in pdf["content"]
                    ],
                }
            )

    return ok.mapInPandas(strip, "path string, content string")


@register_source("google")
def read_google(spark: SparkSession, query: str) -> DataFrame:
    """S16 web-search fan-out (reader.py:725-737, 943-952): search seam
    yields URLs, the fetch+strip runs distributed."""
    if _SEARCHER is None:
        raise RuntimeError(
            "google: needs a search seam — call sources.debian.set_searcher"
        )
    return _fetch_many(spark, _SEARCHER(query))


def expand_ldo_spec(spec: str) -> list[str]:
    """The reference's ``list/year/month`` expansion syntax
    (reader.py:603-641): ','-lists on every part, ':'-ranges on
    year/month, bare ':' month = all twelve."""
    name, year, month = spec.split("/")
    names = name.split(",") if "," in name else [name]
    if ":" in year:
        y0, y1 = year.split(":")
        years = [str(y) for y in range(int(y0), int(y1) + 1)]
    else:
        years = year.split(",") if "," in year else [year]
    if month == ":":
        months = [f"{m:02d}" for m in range(1, 13)]
    elif ":" in month:
        m0, m1 = month.split(":")
        months = [f"{m:02d}" for m in range(int(m0), int(m1) + 1)]
    else:
        months = month.split(",") if "," in month else [month]
    return [
        f"{n}/{y}/{m}" for n in names for y in years for m in months
    ]


_MSG_LINK = re.compile(r"href=[\"'](msg\d+\.html)[\"']", re.I)
_NEXT_PAGE = re.compile(
    r"href=[\"']([^\"']+)[\"'][^>]*>\s*next page", re.I
)


@register_source("ldo")
def read_ldo(spark: SparkSession, spec: str) -> DataFrame:
    """S15: lists.debian.org thread fan-out (reader.py:593-661,
    953-961): expand the list/year/month spec, walk each month's
    thread-index pages (following 'next page' links), then fetch every
    message distributed."""
    msg_urls: list[str] = []
    for comb in expand_ldo_spec(spec):
        index = "threads.html"
        while index:
            status, body = _FETCHER(
                f"https://lists.debian.org/{comb}/{index}"
            )
            if status != 200:
                break
            msg_urls += [
                f"https://lists.debian.org/{comb}/{m}"
                for m in _MSG_LINK.findall(body)
            ]
            nxt = _NEXT_PAGE.search(body)
            index = nxt.group(1) if nxt else None
    return _fetch_many(spark, msg_urls)


# ---------------------------------------------------------------------------
# sectioned manuals (S18: policy / devref)
# ---------------------------------------------------------------------------

POLICY_URL = "https://www.debian.org/doc/debian-policy/policy.txt"
DEVREF_URL = (
    "https://www.debian.org/doc/manuals/developers-reference/"
    "developers-reference.en.txt"
)

def split_manual_sections(text: str) -> list[tuple[str, str]]:
    """One scan over a plain-text manual whose section headers are
    underlined with '***'/'==='/'---' and start with a dotted number
    ('4.9. Title'). Returns ``(index, body)`` pairs where each body
    spans its header line through the line before the next separator of
    the SAME level — the reference's per-index retrieval semantics
    (policy.py:86-118) produced by a single pass instead of one walk
    per index."""
    lines = [x.rstrip() for x in text.split("\n")]
    heads: list[tuple[int, str, int]] = []  # (line_no of header, idx, level)
    for i in range(1, len(lines)):
        sep = lines[i][:3]
        if sep in ("***", "===", "---") and lines[i].startswith(sep):
            token = lines[i - 1].split(" ")[0]
            if token.endswith("."):
                level = {"***": 1, "===": 2, "---": 3}[sep]
                heads.append((i - 1, token.rstrip("."), level))
    out = []
    for n, (start, idx, level) in enumerate(heads):
        end = len(lines)
        for start2, _idx2, level2 in heads[n + 1 :]:
            if level2 == level:
                end = start2
                break
        out.append((idx, "\n".join(lines[start:end]).rstrip()))
    return out


def _read_manual(
    spark: SparkSession, url: str, label: str, rest: str
) -> DataFrame:
    status, body = _FETCHER(url)
    if status != 200:
        return spark.createDataFrame([], "path string, content string")
    if rest == "all":
        return _one_doc(spark, f"{label}:all", body)
    sections = split_manual_sections(body)
    if rest:
        matches = [(i, b) for i, b in sections if i == rest]
        if not matches:
            raise KeyError(f"{label} has no section {rest!r}")
        return _one_doc(spark, f"{label}:{rest}", matches[0][1])
    return spark.createDataFrame(
        [(f"{label}:{i}", b) for i, b in sections],
        "path string, content string",
    )


@register_source("policy")
def read_policy(spark: SparkSession, rest: str) -> DataFrame:
    """S18 (reader.py:969-999): ``policy:`` -> every section as a row,
    ``policy:4.9`` -> that section, ``policy:all`` -> the whole text."""
    return _read_manual(spark, POLICY_URL, "policy", rest)


@register_source("devref")
def read_devref(spark: SparkSession, rest: str) -> DataFrame:
    """S18 sibling (reader.py:909-942)."""
    return _read_manual(spark, DEVREF_URL, "devref", rest)


# ---------------------------------------------------------------------------
# local sources (nm templates, sbuild logs)
# ---------------------------------------------------------------------------

#: S20 template registry — inject the real nm-templates mapping with
#: set_nm_templates; a tiny placeholder set keeps dispatch testable
#: (the reference vendors the Debian NM question texts; vendoring them
#: here would add data, not capability)
_NM_TEMPLATES: dict[str, str] = {
    "pp1": "placeholder: philosophy & procedures part 1",
    "ts1": "placeholder: tasks & skills part 1",
}


def set_nm_templates(mapping: dict[str, str]) -> None:
    global _NM_TEMPLATES
    _NM_TEMPLATES = dict(mapping)


@register_source("nm")
def read_nm(spark: SparkSession, key: str) -> DataFrame:
    """S20 (reader.py:875-908): template lookup by question key."""
    return _one_doc(spark, f"nm:{key}", _NM_TEMPLATES[key])


_BUILD_BANNER = re.compile(r"\+-+\+\n\| Build +\|\n\+-+\+", re.S)
_CHANGES_BANNER = re.compile(r"\+-+\+\n\| Changes +\|\n\+-+\+", re.S)


@register_source("sbuild")
def read_sbuild(spark: SparkSession, rest: str) -> DataFrame:
    """S19 (reader.py:289-307, 1000-1009): newest ``*.build`` log (or an
    explicit path), sliced to the Build..Changes region between the
    sbuild banner tables when present."""
    import glob as globmod

    if rest:
        path = rest
    else:
        candidates = globmod.glob("../*.build") or globmod.glob("*.build")
        if not candidates:
            raise FileNotFoundError("no *.build log found")
        path = max(candidates, key=os.path.getmtime)
    with open(path, encoding="utf-8", errors="replace") as fh:
        text = fh.read()
    # slice from the Build banner to the Changes banner when present,
    # else to end-of-text (truncated/failed logs have no Changes table
    # — reference reader.py extract_build_changes slices to EOF there)
    m = _BUILD_BANNER.search(text)
    if m:
        end = _CHANGES_BANNER.search(text, m.end())
        text = text[m.end():end.start()] if end else text[m.end():]
    return _one_doc(spark, f"sbuild:{path}", text)


# ---------------------------------------------------------------------------
# bare URLs (reference reader.py:834-841: file:// http:// https:// specs
# route to read_url) — registered under their scheme so the registry's
# prefix split lands here; `rest` arrives without the scheme
# ---------------------------------------------------------------------------


def _read_url_doc(spark: SparkSession, url: str) -> DataFrame:
    status, body = _FETCHER(url)
    if status != 200:
        return spark.createDataFrame([], "path string, content string")
    head = body.lstrip()[:256].lower()
    if head.startswith("<") or "<html" in head:
        body = html_to_text(body)
    return _one_doc(spark, url, body)


@register_source("http")
def read_http(spark: SparkSession, rest: str) -> DataFrame:
    """S11 bare-URL spec: ``http://...`` (the registry hands us
    ``//...``). HTML bodies reduce to text; anything else passes raw."""
    return _read_url_doc(spark, f"http:{rest}")


@register_source("https")
def read_https(spark: SparkSession, rest: str) -> DataFrame:
    return _read_url_doc(spark, f"https:{rest}")


@register_source("file")
def read_file_url(spark: SparkSession, rest: str) -> DataFrame:
    """``file://`` spec -> the plain path source (``file:///abs`` hands
    ``///abs``; dropping the empty-authority slashes leaves ``/abs``)."""
    from . import readers  # noqa: F401 — ensure "path" is registered
    from .registry import _SOURCES

    return _SOURCES["path"](spark, rest[2:] if rest.startswith("//") else rest)
