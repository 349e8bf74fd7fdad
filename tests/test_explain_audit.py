"""PLANS.md splicing in tools/explain_audit.py: an audit of some queries
rewrites only their sections and no-broadcast lines. No Spark needed."""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools import explain_audit  # noqa: E402


def _section(name: str, body: str) -> str:
    return f"## {name}\n\n**verdict:** CLEAN\n\n```\n{body}\n```\n"


def test_splice_keeps_every_other_byte():
    text = (ROOT / "PLANS.md").read_text()
    assert explain_audit.splice(text, {}, {}) == text
    names = [ln[3:] for ln in text.splitlines() if ln.startswith("## ")]
    first, last = names[0], names[-1]
    out = explain_audit.splice(
        text,
        {first: _section(first, "X"), "zz_new": _section("zz_new", "Y")},
        {last: f"- {last}: FLAGGED", "zz_new": "- zz_new: CLEAN"},
    )
    old_sec = text[text.index(f"## {first}\n") :].split("\n## ", 1)[0]
    expected = text.replace(old_sec, _section(first, "X"), 1)
    marker = explain_audit._NB_MARKER
    expected = expected.replace(marker, "\n" + _section("zz_new", "Y") + marker)
    nb_old = next(ln for ln in text.splitlines() if ln.startswith(f"- {last}: "))
    expected = expected.replace(nb_old, f"- {last}: FLAGGED")
    assert out == expected.rstrip("\n") + "\n- zz_new: CLEAN\n"


def test_splice_into_skeleton_is_the_full_document():
    sk = explain_audit._SKELETON.format(sf_dir="D")
    sections = {n: _section(n, n.upper()) for n in ("a", "b")}
    out = explain_audit.splice(sk, sections, {n: f"- {n}: CLEAN" for n in sections})
    head, tail = out.split(explain_audit._NB_MARKER)
    assert head.endswith("declared as such.\n\n" + "\n".join(sections.values()))
    assert tail.endswith("nested loop.\n\n- a: CLEAN\n- b: CLEAN\n")
    assert explain_audit.splice(out, {}, {}) == out
