"""bench.py stdout must survive the driver's ~2000-byte tail window.

Round 4's 93-query JSON line overflowed it and BENCH_r04.json recorded
"parsed": null (VERDICT r4 "What's wrong" #2). These tests pin the
budgeted-line contract: the line always parses, always fits, always
carries every r1-anchor query, and small catalogs pass through whole.
"""

import json
import sys

import bench

sys.path.insert(0, "tools")
from calib_probe import _parse_nprobes  # noqa: E402


def _payload(times):
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": 0.1,
        "runs_per_query": 2,
        "agg": "min",
        "n_queries": len(times),
        "detail": "BENCH_DETAIL.json",
        # the real stdout extras — the budget test must price them in
        "rebased": dict(bench._REBASE_FALLBACK),
        "vs_anchor_median": 0.574,
        "vs_anchor_calib_median": 0.574,
        "breaches_raw": [],
        "breaches_calib": [],
        "quiet": True,
        "calib_sec": 12.345,
        "calib_sec_pre": 12.345,
        "calib_sec_post": 12.345,
    }


def test_full_headline_fits_budget():
    # worst realistic case: every headline query present, 3dp values
    times = {n: 12.345 for n in bench.HEADLINE}
    line = bench._budgeted_line(_payload(times))
    assert len(line) <= bench._STDOUT_BUDGET
    parsed = json.loads(line)
    assert parsed["n_queries"] == len(bench.HEADLINE)
    assert parsed["detail"] == "BENCH_DETAIL.json"


def test_anchor_queries_always_survive():
    times = {n: 12.345 for n in bench.HEADLINE}
    kept = json.loads(bench._budgeted_line(_payload(times)))["queries"]
    for name in bench._R1_ANCHOR:
        assert name in kept, f"r1 anchor {name} dropped from stdout line"


def test_small_catalog_passes_whole():
    times = {"a": 1.0, "b": 2.0}
    kept = json.loads(bench._budgeted_line(_payload(times)))["queries"]
    assert kept == times


def test_anchor_names_are_headline_names():
    missing = [n for n in bench._R1_ANCHOR if n not in bench.HEADLINE]
    assert missing == []


def test_anchor_matches_r1_record():
    """The anchor must be EXACTLY the r1 bench's query set when the
    record exists (a hand-maintained list drifted — round 5)."""
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "BENCH_r01.json")
    if not os.path.exists(path):
        return
    r1 = set(json.load(open(path))["parsed"]["queries"])
    assert set(bench._R1_ANCHOR) == r1
    assert set(bench._R1_FALLBACK) == r1  # keep the fallback honest too


def test_budget_invariants_hold_for_any_catalog():
    """Property: for ANY query-name set, the stdout line fits the
    budget and every anchor present in the times survives."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = st.lists(
        st.text(
            alphabet="abcdefghijklmnopqrstuvwxyz_",
            min_size=1,
            max_size=40,
        ),
        max_size=300,
        unique=True,
    )

    @settings(max_examples=50, deadline=None)
    @given(names=names, anchor_times=st.booleans())
    def prop(names, anchor_times):
        times = {n: 1.234 for n in names}
        if anchor_times:
            for n in bench._R1_ANCHOR:
                times[n] = 0.5
        line = bench._budgeted_line(_payload(times))
        parsed = json.loads(line)
        kept = parsed["queries"]
        anchors_present = [n for n in bench._R1_ANCHOR if n in times]
        assert all(n in kept for n in anchors_present)
        # budget holds whenever there is anything non-anchor to drop;
        # an anchor-only (or tiny) set passes through whole by design
        if len(kept) > len(anchors_present):
            assert len(line.encode()) <= bench._STDOUT_BUDGET
        assert parsed["n_queries"] == len(times)

    prop()


def test_rebase_map_lives_in_baseline_json():
    """VERDICT r8 #5: the anchor rebase map is machine-readable in
    BASELINE.json, bench.py reads it from there, and the in-code
    fallback stays in sync."""
    import os

    path = os.path.join(os.path.dirname(bench.__file__), "BASELINE.json")
    recorded = json.load(open(path)).get("anchor_rebase", {})
    recorded = {k: v for k, v in recorded.items() if not k.startswith("_")}
    loaded = bench.load_rebase_map()
    assert loaded == recorded
    assert loaded == bench._REBASE_FALLBACK
    # every rebased query must exist in the headline set
    assert all(q in bench.HEADLINE for q in loaded)


def test_anchors_resolve_through_rebase_map():
    """A rebased query anchors at its rebase round (or later), never at
    an earlier round whose semantics differ; an un-rebased query
    anchors at its FIRST recorded round."""
    import os

    if not os.path.exists(
        os.path.join(os.path.dirname(bench.__file__), "BENCH_r01.json")
    ):
        return
    anchors = bench.resolve_anchors(
        ["html_strip", "topk_retrieval", "no_such_query"]
    )
    rebase = bench.load_rebase_map()
    hs = anchors["html_strip"]
    assert int(hs["round"][1:]) >= int(rebase["html_strip"][1:])
    assert anchors["topk_retrieval"]["round"] == "r1"
    assert "no_such_query" not in anchors
    for a in anchors.values():
        assert a["sec"] > 0


def test_anchor_tables_stripped_from_stdout_line():
    payload = _payload({"a": 1.0})
    payload["anchors"] = {"a": {"sec": 1.0, "round": "r1", "calib": 0.7}}
    payload["vs_anchor"] = {"a": 1.0}
    payload["vs_anchor_calib"] = {"a": 1.0}
    payload["vs_anchor_median"] = 1.0
    parsed = json.loads(bench._budgeted_line(payload))
    assert "anchors" not in parsed and "vs_anchor" not in parsed
    assert "vs_anchor_calib" not in parsed
    assert parsed["vs_anchor_median"] == 1.0
    # the calib-normalized median and the breach lists (the 2x contract
    # gate — VERDICT r11 #1) must SURVIVE on the stdout line
    assert parsed["vs_anchor_calib_median"] == 0.574
    assert parsed["breaches_raw"] == [] and parsed["breaches_calib"] == []


def test_anchor_calib_lives_in_baseline_json():
    """VERDICT r11 #1: anchor-era machine speed is machine-readable in
    BASELINE.json; r10+ entries must equal the calib_sec recorded on
    those rounds' own BENCH lines, and every round a resolved anchor
    can point at must have an entry (so the normalized gate never
    silently skips a query)."""
    import os

    calib = bench.load_anchor_calib()
    assert calib, "anchor_calib map missing from BASELINE.json"
    for rnd in ("r10", "r11"):
        path = os.path.join(
            os.path.dirname(bench.__file__), f"BENCH_r{int(rnd[1:]):02d}.json"
        )
        if not os.path.exists(path):
            continue
        recorded = json.load(open(path))["parsed"]["calib_sec"]
        assert calib[rnd] == recorded, f"{rnd}: stamped {calib[rnd]} != recorded {recorded}"
    if os.path.exists(
        os.path.join(os.path.dirname(bench.__file__), "BENCH_r01.json")
    ):
        anchors = bench.resolve_anchors(bench.HEADLINE)
        missing = sorted(
            {a["round"] for a in anchors.values()} - set(calib)
        )
        assert missing == [], f"anchor rounds without a calib entry: {missing}"
        # and resolve_anchors must have stamped the calib through
        assert all("calib" in a for a in anchors.values())


def test_calib_normalization_math():
    """vs_calib = raw * anchor_calib / current_calib; queries without
    an anchor calib drop out of the normalized table (still raw)."""
    anchors = {
        "fast_box_anchor": {"sec": 1.0, "round": "r9", "calib": 0.6},
        "same_box_anchor": {"sec": 1.0, "round": "r10", "calib": 1.2},
        "no_calib_anchor": {"sec": 1.0, "round": "r3"},
    }
    raw = {"fast_box_anchor": 2.08, "same_box_anchor": 2.08,
           "no_calib_anchor": 2.08}
    norm = bench.normalize_vs_anchor(raw, anchors, calib_sec=1.2)
    # anchor box was 2x faster: a 2.08x raw wall is 1.04x normalized
    assert norm["fast_box_anchor"] == 1.04
    # same-speed box: normalization is identity
    assert norm["same_box_anchor"] == 2.08
    assert "no_calib_anchor" not in norm
    # degenerate current calib -> no normalized table (never divide by 0)
    assert bench.normalize_vs_anchor(raw, anchors, 0.0) == {}


def test_calib_pair_survives_on_stdout_line():
    """VERDICT r12 #2: the pre/post calib probes are the quietness
    proof — they must survive the byte budget on the recorded line."""
    parsed = json.loads(bench._budgeted_line(_payload({"a": 1.0})))
    assert parsed["calib_sec_pre"] == 12.345
    assert parsed["calib_sec_post"] == 12.345
    assert parsed["calib_sec"] == 12.345


def test_calib_quiet_verdict():
    # agreeing probes, no session best -> quiet
    assert bench.calib_quiet_verdict(0.7, 0.75, None)
    # >25% disagreement (box shifted mid-sweep) -> not quiet
    assert not bench.calib_quiet_verdict(0.7, 0.9, None)
    assert not bench.calib_quiet_verdict(1.719, 0.95, None)
    # uniformly degraded box vs the session-best probe -> not quiet
    assert not bench.calib_quiet_verdict(1.0, 1.05, 0.7)
    # within 1.2x of session best -> quiet
    assert bench.calib_quiet_verdict(0.8, 0.82, 0.7)
    # degenerate probes never pass
    assert not bench.calib_quiet_verdict(0.0, 0.7, None)
    assert not bench.calib_quiet_verdict(-1.0, -1.0, 0.7)


def test_long_breach_lists_truncate_within_budget():
    """A degraded-box run can breach dozens of queries raw; the stdout
    line must STILL fit the driver tail (round-4 parsed:null cliff) —
    breach lists truncate tail-first with true counts preserved."""
    times = {n: 12.345 for n in bench.HEADLINE}
    p = _payload(times)
    p["breaches_raw"] = sorted(bench.HEADLINE)[:30]
    p["breaches_calib"] = sorted(bench.HEADLINE)[:25]
    line = bench._budgeted_line(p)
    assert len(line.encode()) <= bench._STDOUT_BUDGET
    parsed = json.loads(line)
    # anchors still survive, counts are honest, prefix order preserved
    for name in bench._R1_ANCHOR:
        assert name in parsed["queries"]
    assert parsed["breaches_raw_n"] == 30
    # raw-first truncation: the calib contract list survives whole
    # whenever trimming raw alone fits the budget (self-review r13)
    assert parsed["breaches_calib"] == sorted(bench.HEADLINE)[:25]
    assert "breaches_calib_n" not in parsed
    assert parsed["breaches_raw"] == sorted(bench.HEADLINE)[: len(parsed["breaches_raw"])]
    # empty/short lists stay untouched, no _n keys added
    clean = json.loads(bench._budgeted_line(_payload(times)))
    assert "breaches_raw_n" not in clean and clean["breaches_raw"] == []


def test_calib_contract_list_survives_raw_truncation():
    """Self-review r13: breaches_calib is the 2x contract — the
    truncation must exhaust the raw (context) list before touching it."""
    times = {n: 12.345 for n in bench.HEADLINE}
    p = _payload(times)
    p["breaches_raw"] = sorted(bench.HEADLINE)          # all 100+
    p["breaches_calib"] = sorted(bench.HEADLINE)[:3]    # short contract
    parsed = json.loads(bench._budgeted_line(p))
    assert parsed["breaches_calib"] == sorted(bench.HEADLINE)[:3]
    assert "breaches_calib_n" not in parsed  # untouched, no count key
    assert parsed["breaches_raw_n"] == len(bench.HEADLINE)
    assert len(parsed["breaches_raw"]) < len(bench.HEADLINE)


def test_budget_measured_in_bytes_not_chars():
    """A multibyte payload value must not slip past the budget via a
    char count (the driver tail is a byte window)."""
    times = {n: 12.345 for n in bench.HEADLINE}
    p = _payload(times)
    p["sf"] = "ø" * 400  # 400 chars, 800 bytes
    line = bench._budgeted_line(p)
    assert len(line.encode()) <= bench._STDOUT_BUDGET or json.loads(
        line
    )["queries"].keys() == {n for n in bench._R1_ANCHOR}


# ---------------------------------------------------------------- calib_probe argv


def test_calib_probe_argv_parse(capsys):
    assert _parse_nprobes(["calib_probe.py"]) == 3
    assert _parse_nprobes(["calib_probe.py", "7"]) == 7
    assert _parse_nprobes(["calib_probe.py", "0"]) == 1
    # non-numeric: default + usage note, no ValueError
    assert _parse_nprobes(["calib_probe.py", "fast"]) == 3
    err = capsys.readouterr().err
    assert "usage" in err and "'fast'" in err


# ---------------------------------------------------------------- budget overflow warning


def test_budgeted_line_warns_when_floor_exceeds_budget(capsys):
    # a future payload key large enough that the anchor floor + drained
    # breach lists can never fit: the overflow must be VISIBLE
    times = {n: 1.0 for n in bench._R1_ANCHOR}
    payload = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": times,
        "sf": 0.1,
        "breaches_raw": ["x:9.99"] * 3,
        "breaches_calib": ["x:9.99"] * 3,
        "future_giant_key": "y" * (bench._STDOUT_BUDGET + 100),
    }
    line = bench._budgeted_line(payload)
    err = capsys.readouterr().err
    assert "exceeds" in err and str(bench._STDOUT_BUDGET) in err
    # the line itself is still valid JSON with the anchors intact
    parsed = json.loads(line)
    assert set(bench._R1_ANCHOR) <= set(parsed["queries"])
    # breach lists were drained before the warning fired, with true
    # counts preserved
    assert parsed["breaches_raw"] == [] and parsed["breaches_raw_n"] == 3


def test_budgeted_line_quiet_when_fits(capsys):
    line = bench._budgeted_line(
        {
            "metric": "headline_queries_total_wall",
            "value": 1.0,
            "unit": "sec",
            "queries": {"a": 1.0},
            "sf": 0.1,
        }
    )
    assert json.loads(line)["queries"] == {"a": 1.0}
    assert capsys.readouterr().err == ""
