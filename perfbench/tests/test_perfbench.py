"""The benchmark's own tests: one traced pass of each workload at tiny
size with every output check on, span accounting, seeded determinism and
the status-store metric parser.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import shutil
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

import run  # noqa: E402

run._setup_env()

import gen  # noqa: E402
from spans import Tracer, parse_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

LAYER_SPANS = {
    "serve": {"chunker", "embedding.provider", "embedding.index_build", "ann.build",
              "tables.load", "ann.probe", "retrieval.provenance", "retrieval.exact",
              "ingestion", "streaming", "mapreduce.tree", "mapreduce.compact",
              *(f"history.{p}" for p in gen.HISTORY_PLANS)},
    "curate": {"fanout.fetch", "quality", "dedup.lsh_keep", "dedup.clusters", "graph.cc",
               "binpack", "sinks.write"},
}


@pytest.fixture(scope="module")
def spark():
    session = run.Run(None).start(traced_conf=True)
    yield session
    run.stop_spark(session)


@pytest.fixture
def work():
    path = run.WORK / "test"
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_pass_checks_and_span_accounting(spark, work, name):
    tracer = Tracer(spark, enabled=True)
    wl = WORKLOADS[name](spark, tracer, 7, gen.Sizes.tiny(), str(work))
    wl.generate()
    restore = wl.wrap_graph() if hasattr(wl, "wrap_graph") else (lambda: None)
    pdir = work / "pass"
    pdir.mkdir(parents=True)
    try:
        with tracer.pass_span(0):
            out = wl.run_pass(str(pdir), 0)
        out.pass_id = 0
        problems = wl.check(out, traced=True) + tracer.harvest(0)
    finally:
        restore()
        run.wl_close(wl)
    assert problems == []
    assert out.ops > 0 and len(out.read_ms) == wl.reads

    rows = tracer.pass_rows(0)
    assert LAYER_SPANS[name] <= {r["name"] for r in rows}
    (root,) = [r for r in rows if r["parent"] is None]
    assert all(r["self_s"] >= 0 for r in rows)
    assert sum(r["self_s"] for r in rows) <= root["end"] - root["start"] + 1e-6
    assert sum(r["engine"]["jobs"] for r in rows) > 0


def _digest(path: Path) -> str:
    h = hashlib.md5()
    for f in sorted(path.rglob("*.parquet")):
        h.update(f.read_bytes())
    return h.hexdigest()


def test_same_seed_same_inputs(work):
    sizes = gen.Sizes.tiny()
    a = gen.make_memory(3, sizes, str(work / "a"))
    b = gen.make_memory(3, sizes, str(work / "b"))
    assert a.truth == b.truth and a.conv_md5 == b.conv_md5
    assert _digest(work / "a") == _digest(work / "b")
    c = gen.make_memory(4, sizes, str(work / "c"))
    assert _digest(work / "c") != _digest(work / "a")
    r1, r2 = gen.make_rag(3, sizes, str(work / "r1")), gen.make_rag(3, sizes, str(work / "r2"))
    assert (r1.truth_ids == r2.truth_ids).all()
    p1, p2 = gen.make_curate(3, sizes), gen.make_curate(3, sizes)
    assert [p1.plan.text(i) for i in range(p1.n_docs)] == [p2.plan.text(i) for i in range(p2.n_docs)]


@pytest.mark.parametrize(
    "text, value",
    [
        ("0 ms", 0.0),
        ("1,000", 1000.0),
        ("total (min, med, max (stageId: taskId))\n8.8 KiB (2.2 KiB, 2.2 KiB, 2.2 KiB (stage 3.0: task 7))", 8.8 * 1024),
        ("total (min, med, max (stageId: taskId))\n1.3 s (171 ms, 366 ms, 372 ms (stage 3.0: task 5))", 1300.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)
