"""Long-run benchmark of the engine: one seeded workload per run.

    python3 perfbench/run.py --workload {serve,curate} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. A run is one batch job on a fresh
session: set-up (``setup_s``) starts the Spark session on
``local[<cpus>]`` and generates the seeded inputs; then exactly one full
pass of the workload runs, timed, and its outputs are checked against
the generator's truth (a failed check counts in ``failed`` and makes the
result incorrect). The pass pays the fresh JVM's class loading, code
generation and Python-worker start, as a scheduled job on a new session
does. A second, warm pass does not fit the time budget: the benchmark
is sized for 48 runs within 57 minutes, about 70 s a run, on a shared
4-core host, where session start plus the cold first pass already take
40-65 s. ``--seconds`` is accepted for the common benchmark interface;
one pass lasts longer than it.

End-to-end metrics (``--trace 0``): ``pass_s`` is the pass wall time;
``ingest_rows_per_s`` is input rows over the time of the pass's write
steps (everything before the read loops). Printed and stamped but not
in the result line: ``query_p50_ms``, ``query_p90_ms`` and
``queries_per_s`` of the closed read loops (one client, next read after
the previous returns), answer quality (``recall_at_10``,
``dedup_recall``), ``failed_frac`` and ``peak_rss_mb`` (VmHWM of the
driver JVM plus this process). A serve pass makes only 10 reads (curate
none), small jobs whose latency swings up to 2x with the CPU time a
shared host steals, so their run-to-run spread is too wide to bound;
the reads still count in ``pass_s``. Peak RSS follows when the JVM's
collector grows the heap: over ten seeds it spread 0.16-0.25 (IQR over
median), too wide to bound.

``--trace 1`` runs the same pass traced and reports its per-layer
metrics; ``trace.overhead_s`` is the time the tracer itself spent
inside the pass. Traced spans, with each layer's self time and engine
breakdown, are written to ``.perfbench_work/traces/``.

Stdout: one line per metric, a JSON line stamped with the inputs and
the environment, and last the result JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

#: name -> unit, better; the order is the report order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "ingest_rows_per_s": ("rows/s", "higher"),
}

#: per-layer metric -> (span name, aggregation, unit). "s": summed self
#: time per pass; "ms": median self time of one call.
SPAN_METRICS = {
    "tables.load_ms": ("tables.load", "ms"),
    "fanout.fetch_s": ("fanout.fetch", "s"),
    "quality.s": ("quality", "s"),
    "dedup.lsh_keep_s": ("dedup.lsh_keep", "s"),
    "dedup.clusters_s": ("dedup.clusters", "s"),
    "graph.cc_s": ("graph.cc", "s"),
    "chunker.s": ("chunker", "s"),
    "embedding.provider_s": ("embedding.provider", "s"),
    "embedding.index_build_s": ("embedding.index_build", "s"),
    "ann.build_s": ("ann.build", "s"),
    "ann.probe_ms": ("ann.probe", "ms"),
    "retrieval.provenance_ms": ("retrieval.provenance", "ms"),
    "retrieval.exact_ms": ("retrieval.exact", "ms"),
    "binpack.s": ("binpack", "s"),
    "sinks.write_s": ("sinks.write", "s"),
    "ingestion.s": ("ingestion", "s"),
    "mapreduce.tree_s": ("mapreduce.tree", "s"),
    "mapreduce.compact_s": ("mapreduce.compact", "s"),
    **{f"history.{p}_ms": (f"history.{p}", "ms") for p in (
        "history_limit", "last_n_window", "latest_event",
        "sessionize_events", "event_funnel", "retention_cohorts",
    )},
}
COUNTERS = {
    "tables.plan_memo_hits": "count",
    "tables.plan_memo_misses": "count",
    "fanout.rounds": "count",
    "quality.rows_kept_frac": "ratio",
    "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "ratio",
    "dedup.recall": "ratio",
    "graph.rounds": "count",
    "artifacts.hits": "count",
    "artifacts.misses": "count",
    "chunker.chunks_per_doc": "ratio",
    "embedding.index_bytes_per_input_byte": "ratio",
    "ann.rows_scored_per_result": "ratio",
    "ann.recall_at_10": "ratio",
    "binpack.fill_ratio": "ratio",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.files": "count",
    "streaming.batches": "count",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "mapreduce.tree_rounds": "count",
    "mapreduce.compact_rounds": "count",
    "mapreduce.jobs_per_round": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
#: engine breakdown in the result line: every field for the layers an
#: optimisation most likely targets, a few fields for the next ones.
#: The span file holds the full breakdown of every layer.
ENGINE_LAYERS = ("embedding", "ann", "dedup", "graph", "fanout")
ENGINE_EXTRA = tuple(
    f"{layer}.{f}"
    for layer in ("mapreduce", "sinks", "history", "streaming")
    for f in ("jobs", "driver_idle_ms")
)


def per_layer_names() -> dict[str, str]:
    from spans import ENGINE_FIELDS

    names = {m: ("ms" if agg == "ms" else "s") for m, (_, agg) in SPAN_METRICS.items()}
    names.update(COUNTERS)
    for layer in ENGINE_LAYERS:
        for f in ENGINE_FIELDS:
            names[f"{layer}.{f}"] = _engine_unit(f)
    for name in ENGINE_EXTRA:
        names[name] = _engine_unit(name.split(".")[1])
    return names


def _engine_unit(f: str) -> str:
    return "ms" if f.endswith("_ms") else "bytes" if "bytes" in f else "count"


def _setup_env() -> None:
    """Before the JVM starts: Python workers import the package and the
    benchmark modules by absolute path (not via the current directory),
    and every temporary file stays inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), str(HERE)]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    for p in reversed(paths):
        if p not in sys.path:
            sys.path.insert(0, p)


def _spark_confs(traced: bool) -> dict[str, str]:
    tmp = WORK / "tmp"
    confs = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job, stage and SQL execution of the run in the
        # status stores so spans can be attributed after each pass
        confs.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    return confs


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, start time) of every process in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(d)] = (int(fields[1]), fields[0], fields[19])
    return table


def _descendants(pid: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live process below ``pid``."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for p, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(p)
    found, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            found.add((c, table[c][2]))
            todo.append(c)
    return found


def _wait_gone(procs: set[tuple[int, str]], timeout: float) -> set[tuple[int, str]]:
    """Poll until none of ``procs`` runs (a zombie or a reused pid counts
    as gone); return those still running after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        table = _proc_table()
        alive = {(p, s) for p, s in procs
                 if p in table and table[p][2] == s and table[p][1] != "Z"}
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and end its JVM and every process the JVM
    started (the Python worker daemon and its workers), waiting for each.

    ``spark.stop()`` alone leaves the JVM to exit after this process
    does, and the JVM's shutdown hooks and the orphaned workers can
    outlive it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    jvm_pid = proc.pid if proc else sc._jvm.java.lang.ProcessHandle.current().pid()
    procs = _descendants(jvm_pid)
    try:
        spark.stop()
    finally:
        procs |= _descendants(jvm_pid)
        gateway.shutdown()
        type(sc)._gateway = type(sc)._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        left = _wait_gone(procs, 30)
        for pid, _ in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(left, 30)


def _commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        f = ROOT / ".git" / ref[5:]
        return f.read_text().strip() if f.exists() else None
    return ref


class Run:
    def __init__(self, args):
        self.args = args
        self.failures: list[str] = []
        self.attempted = 0

    def start(self, traced_conf: bool):
        from debgpt7_8_with_vectordb_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        return get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus,
                         extra_confs=_spark_confs(traced_conf))

    def one_pass(self, wl, tracer, pass_no: int, traced: bool):
        pdir = self.work / f"pass-{pass_no}"
        pdir.mkdir(parents=True)
        tracer.enabled = traced
        t = time.perf_counter()
        with tracer.pass_span(pass_no):
            out = wl.run_pass(str(pdir), pass_no)
        out.pass_id = pass_no
        wall = time.perf_counter() - t
        fails = wl.check(out, traced)
        if traced:
            fails += tracer.harvest(pass_no)
        shutil.rmtree(pdir)
        shutil.rmtree(self.work / "artifacts", ignore_errors=True)
        self.attempted += out.ops
        self.failures += [f"pass {pass_no}: {f}" for f in fails]
        return wall, out

    def main(self) -> int:
        args = self.args
        _setup_env()
        import debgpt7_8_with_vectordb_spark  # noqa: F401  fail fast without the package
        import workloads  # noqa: F401  imported before the set-up clock starts

        # one work directory per workload: a run that crashed leaves its
        # inputs behind, and the next run of the workload removes them
        self.work = WORK / args.workload
        shutil.rmtree(self.work, ignore_errors=True)

        t = time.perf_counter()
        spark = self.start(bool(args.trace))
        try:
            metrics, result = self.measure(spark, t, time.perf_counter())
        finally:
            stop_spark(spark)
            shutil.rmtree(self.work, ignore_errors=True)

        for name, (value, unit) in metrics.items():
            print(f"{args.workload:7s} {name:40s} {value:14.4f} {unit}")
        print(f"{args.workload:7s} {'failed_frac':40s} {result['failed_frac']:14.4f} ratio")
        for f in self.failures[:20]:
            print(f"FAILED {f}")
        print(json.dumps(result))
        print(json.dumps({
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0

    def measure(self, spark, t: float, t_session: float) -> tuple[dict, dict]:
        """The rest of set-up (the session started at ``t`` and was up at
        ``t_session``), then the timed pass; returns the metrics and the
        stamped result."""
        import gen
        from spans import Tracer, layer_totals
        from workloads import WORKLOADS

        args, traced = self.args, bool(self.args.trace)
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, gen.Sizes(), str(self.work))
        rows = wl.generate()
        setup_s = time.perf_counter() - t
        restore_graph = wl.wrap_graph() if traced and hasattr(wl, "wrap_graph") else (lambda: None)
        try:
            wall, out = self.one_pass(wl, tracer, 0, traced)
        finally:
            restore_graph()
            wl_close(wl)

        result = {
            "workload": args.workload, "seed": args.seed, "inputs": rows, "traced": traced,
            "reads": len(out.read_ms), "cpus": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master, "spark": spark.version,
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "commit": _commit(),
            "setup_parts": {"session_s": round(t_session - t, 3), "generate_s": round(t + setup_s - t_session, 3)},
            "failed_frac": len(self.failures) / max(1, self.attempted),
        }
        if traced:
            metrics = self.per_layer(tracer, out, wall, layer_totals)
            trace_dir = WORK / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            path = trace_dir / f"{args.workload}-seed{args.seed}.json"
            path.write_text(json.dumps({"result": result, "spans": [s.row() for s in tracer.spans]}))
            self.print_layers(tracer, out, layer_totals)
            result["trace_file"] = str(path.relative_to(ROOT))
            return metrics, result
        # printed and stamped, not in the result line: read latency is
        # too noisy to bound (see above), and answer quality is a
        # property of the seed's inputs, not of speed
        read_ms, unbounded = out.read_ms, {}
        if read_ms:
            unbounded = {
                "query_p50_ms": (statistics.median(read_ms), "ms"),
                "query_p90_ms": (statistics.quantiles(read_ms, n=10, method="inclusive")[-1], "ms"),
                "queries_per_s": (len(read_ms) / (sum(read_ms) / 1e3), "1/s"),
            }
        for name, key in (("recall_at_10", "ann.recall_at_10"), ("dedup_recall", "dedup.recall")):
            if key in out.counters:
                unbounded[name] = (out.counters[key], "ratio")
        unbounded["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
        for name, (value, unit) in unbounded.items():
            result[name] = value
            print(f"{args.workload:7s} {name:40s} {value:14.4f} {unit}")
        metrics = {
            "setup_s": setup_s,
            "pass_s": wall,
            "ingest_rows_per_s": out.ingest_rows / out.ingest_s,
        }
        return {k: (v, END_TO_END[k][0]) for k, v in metrics.items()}, result

    def per_layer(self, tracer, out, wall: float, layer_totals) -> dict:
        from spans import ENGINE_FIELDS

        values: dict[str, float] = dict(out.counters)
        rows = tracer.pass_rows(out.pass_id)
        by_name: dict[str, list[float]] = {}
        for r in rows:
            by_name.setdefault(r["name"], []).append(r["self_s"])
        for m, (span, agg) in SPAN_METRICS.items():
            xs = by_name.get(span, [])
            if xs:
                values[m] = statistics.median(xs) * 1e3 if agg == "ms" else sum(xs)
        totals = layer_totals(rows)
        for layer, t in totals.items():
            for f in ENGINE_FIELDS:
                values[f"{layer}.{f}"] = t[f]
        mr = totals.get("mapreduce")
        rounds = values.get("mapreduce.tree_rounds", 0) + values.get("mapreduce.compact_rounds", 0)
        if mr and rounds:
            values["mapreduce.jobs_per_round"] = mr["jobs"] / rounds
        values["trace.pass_s"] = wall
        values["trace.overhead_s"] = tracer.overhead_s
        return {name: (values.get(name, 0.0), unit) for name, unit in per_layer_names().items()}

    def print_layers(self, tracer, out, layer_totals) -> None:
        """One row per layer of the traced pass: self time and the engine
        breakdown."""
        rows = tracer.pass_rows(out.pass_id)
        for layer, t in sorted(layer_totals(rows).items()):
            cells = " ".join(f"{k}={v:.0f}" for k, v in t.items() if k not in ("self_s", "calls"))
            print(f"layer {layer:12s} calls={t['calls']:4d} self_s={t['self_s']:.4f} {cells}")


def wl_close(wl) -> None:
    close = getattr(wl, "close", None)
    if close:
        close()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return Run(p.parse_args(argv)).main()


if __name__ == "__main__":
    sys.exit(main())
