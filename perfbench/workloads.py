"""The workloads. Each pass drives the package only through its public
functions; ``run_pass`` is the timed workload script and ``check``
validates its outputs against the generator's truth afterwards.

- serve: rag's steps, then memory's, in one pass.
  - rag: chunk -> provider embed -> bulk index write -> IVF build, then
    a closed loop of reads (IVF probe -> provenance join).
  - memory: stamp + write an event log -> streaming index build ->
    closed loop over the six history plans -> tree and compact reduce
    of one conversation.
- curate: paginated fetch -> C4/Gopher quality -> LSH keep + duplicate
  clusters -> chunk-and-pack -> corpus sink.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Observation, Window

import gen
from debgpt7_8_with_vectordb_spark import tables
from debgpt7_8_with_vectordb_spark.operators import (
    ann,
    binpack,
    chunker,
    embedding,
    graph,
    ingestion,
    mapreduce,
    quality_rules,
    retrieval,
)
from debgpt7_8_with_vectordb_spark.plans import QUERIES
from debgpt7_8_with_vectordb_spark.sinks import write_corpus
from debgpt7_8_with_vectordb_spark.sources import fanout
from debgpt7_8_with_vectordb_spark.streaming import sessionize
from fakes import PageFetcher

NPROBE = 2
EXACT_PER_PASS = 1
PACK_CHUNK_BYTES, PACK_GROUP_BYTES = 256, 1024
COMPACT_GROUP_BYTES = 4096


@dataclass
class PassOut:
    """What one pass did: timings, the reads' latencies, counters for
    the per-layer report, and the outputs ``check`` validates."""

    pass_id: int = 0
    ingest_s: float = 0.0
    ingest_rows: int = 0
    read_ms: list[float] = field(default_factory=list)
    ops: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def _count() -> F.Column:
    return F.count(F.lit(1)).alias("n")


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class PlanMemo:
    """Counts plan-memo hits of the ``tables`` readers from outside: a
    hit is the same plan object returned for the same path again."""

    def __init__(self):
        self.last: dict[str, object] = {}
        self.hits = self.misses = 0

    def note(self, path: str, plan) -> None:
        if self.last.get(path) is plan:
            self.hits += 1
        else:
            self.misses += 1
        self.last[path] = plan


class Workload:
    name = ""

    def __init__(self, spark, tracer, seed: int, sizes: gen.Sizes, work: str):
        self.spark, self.tracer, self.seed, self.sizes = spark, tracer, seed, sizes
        self.work = work
        #: timed reads per pass
        self.reads = sizes.reads_of(self.name)
        self.inputs_dir = os.path.join(work, "inputs")

    def generate(self) -> dict:
        """Write the seeded inputs; returns row counts and input bytes."""
        raise NotImplementedError

    def run_pass(self, pdir: str, pass_no: int) -> PassOut:
        raise NotImplementedError

    def check(self, out: PassOut, traced: bool) -> list[str]:
        """Failures of the pass's output checks (one string each)."""
        raise NotImplementedError

    def _timed_read(self, out: PassOut, fn) -> object:
        t = time.perf_counter()
        res = fn()
        out.read_ms.append((time.perf_counter() - t) * 1e3)
        out.ops += 1
        return res


class Rag(Workload):
    name = "rag"

    def generate(self) -> dict:
        self.inp = gen.make_rag(self.seed, self.sizes, self.inputs_dir)
        i = self.inp
        return {"docs": i.n_docs, "chunks": i.n_chunks, "queries": len(i.queries),
                "input_bytes": i.input_bytes}

    def run_pass(self, pdir: str, pass_no: int) -> PassOut:
        spark, span, inp, dim = self.spark, self.tracer.span, self.inp, self.sizes.dim
        out = PassOut(ingest_rows=inp.n_docs)
        t0 = time.perf_counter()
        with span("chunker"):
            obs = Observation("chunks")
            chunks = (
                chunker.chunk_documents(spark.read.parquet(inp.docs_path), gen.RAG_CHUNK_BYTES)
                .withColumn("vec_id", F.col("doc_id") * 100 + F.col("start"))
                .observe(obs, _count())
                .localCheckpoint(eager=True)
            )
        with span("embedding.provider"):
            emb = embedding.provider_embed(
                chunks.select("vec_id", "content"), inp.provider, dim
            ).localCheckpoint(eager=True)
        idx_path = os.path.join(pdir, "bulk_index")
        with span("embedding.index_build"):
            embedding.bulk_index_build(
                chunks, idx_path, dim=dim, id_col="vec_id", text_col="content"
            )
        with span("ann.build"):
            indexed, centroids = ann.build_ivf_index(
                emb, self.sizes.rag_topics, id_col="vec_id", vec_col="vector", seed=self.seed
            )
        out.ingest_s = time.perf_counter() - t0
        out.ops += 4
        with span("tables.load"):
            base = tables.read_parquet_plan_cached(spark, inp.docs_path)
        nq = len(inp.queries)
        qidx = [(pass_no * self.reads + i) % nq for i in range(self.reads)]

        def read(q):
            with span("ann.probe"):
                top = ann.probe_ivf(indexed, centroids, q, NPROBE, 10)
            with span("retrieval.provenance"):
                top = top.withColumn("doc_id", F.expr("id div 100"))
                prov = retrieval.resolve_provenance(top, base, "doc_id", "doc_id")
                return prov.select("id", "score", base["doc_id"], "source").collect()

        hits = [self._timed_read(out, lambda qi=qi: read(inp.queries[qi].tolist())) for qi in qidx]
        exact = []
        for qi in qidx[:EXACT_PER_PASS]:
            with span("retrieval.exact"):
                scored = retrieval.score_against_query(
                    emb, inp.queries[qi].tolist(), id_col="vec_id", vec_col="vector"
                )
                exact.append(retrieval.topk(scored, 10).collect())
        out.ops += len(exact)
        out.outputs = dict(
            n_chunks=obs.get["n"], idx_path=idx_path, indexed=indexed,
            centroids=centroids, qidx=qidx, hits=hits, exact=exact,
        )
        return out

    def check(self, out: PassOut, traced: bool) -> list[str]:
        o, inp, fails = out.outputs, self.inp, []
        n_index = self.spark.read.parquet(o["idx_path"]).count()
        if not o["n_chunks"] == n_index == o["indexed"].count() == inp.n_chunks:
            fails.append(f"index rows {n_index}/{o['n_chunks']} != chunks {inp.n_chunks}")
        for qi, rows in zip(o["qidx"], o["exact"]):
            if not _same_topk(rows, "vec_id", inp.truth_ids[qi], inp.truth_scores[qi]):
                fails.append(f"exact top-10 of query {qi} differs from numpy truth")
        recall = []
        for qi, top in zip(o["qidx"], o["hits"]):
            ids = [r["id"] for r in top]
            if len(ids) != 10 or any(r["source"] != f"doc://{r['id'] // 100}" for r in top):
                fails.append(f"read of query {qi}: {len(ids)} hits or wrong provenance")
            recall.append(len(set(ids) & set(inp.truth_ids[qi].tolist())) / 10)
        sizes = dict(o["indexed"].groupBy("cluster_id").count().collect())
        scored = [
            sum(sizes.get(c, 0) for c in ann.select_probes(o["centroids"], inp.queries[qi].tolist(), NPROBE))
            for qi in o["qidx"]
        ]
        out.counters.update({
            "chunker.chunks_per_doc": o["n_chunks"] / inp.n_docs,
            "embedding.index_bytes_per_input_byte": _du(o["idx_path"]) / inp.input_bytes,
            "ann.rows_scored_per_result": float(np.mean(scored)) / 10,
            "ann.recall_at_10": float(np.mean(recall)),
        })
        return fails


def _same_topk(rows, id_col, ids, scores) -> bool:
    """Engine top-k equals the truth; positions may swap only between
    scores within one rounding unit (last-ulp drift at a 6 dp edge)."""
    got = [(r[id_col], r["score"]) for r in rows]
    if [g[0] for g in got] == ids.tolist():
        return True
    return len(got) == len(ids) and all(
        abs(g[1] - s) <= 1.01e-6 for g, s in zip(got, scores)
    ) and set(g[0] for g in got[:-1]) <= set(ids.tolist())


class ArtifactCounter:
    """Points the package's /tmp artifact caches into the run's work
    directory and counts cache hits and misses from outside: a lookup
    is a hit when its path already holds a finished artifact."""

    def __init__(self, root: str):
        from debgpt7_8_with_vectordb_spark.operators import artifacts

        self.root, self.hits, self.misses = root, 0, 0
        self._mod, self._orig = artifacts, artifacts.corpus_cache_path

        def lookup(src_file, tag, root, ext=""):
            if root.startswith("/tmp/"):
                root = os.path.join(self.root, os.path.basename(root))
            path = self._orig(src_file, tag, root, ext)
            done = os.path.exists(path if ext else os.path.join(path, "_SUCCESS"))
            self.hits += done
            self.misses += not done
            return path

        artifacts.corpus_cache_path = lookup

    def close(self) -> None:
        self._mod.corpus_cache_path = self._orig


class Curate(Workload):
    name = "curate"

    def generate(self) -> dict:
        self.inp = gen.make_curate(self.seed, self.sizes)
        self.fetcher = PageFetcher(self.seed, self.sizes)
        plan = self.inp.plan
        self.exact = plan.dup_classes()
        self.planted = set(plan.planted_dups())
        self.artifacts = ArtifactCounter(os.path.join(self.work, "artifacts"))
        self.cc_rounds = []
        return {"docs": plan.n, "planted_dups": len(self.planted),
                "exact_classes": len(self.exact), "input_bytes": self.inp.input_bytes}

    def close(self) -> None:
        self.artifacts.close()

    def run_pass(self, pdir: str, pass_no: int) -> PassOut:
        spark, span, inp = self.spark, self.tracer.span, self.inp
        out = PassOut(ingest_rows=inp.n_docs)
        hits0, miss0 = self.artifacts.hits, self.artifacts.misses
        t0 = time.perf_counter()
        with span("fanout.fetch"):
            seeds = spark.range(self.sizes.archives).select(
                F.concat(F.lit("page://"), (F.col("id") * self.sizes.depth).cast("string")).alias("url")
            )
            fetched = fanout.fetch_paginated(seeds, self.fetcher, max_pages=self.sizes.depth + 1)
        docs = fetched.select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"),
            F.col("content").alias("text"),
            F.col("url").alias("source"),
        ).withColumn("lang", F.when(F.col("doc_id") % 4 == 0, "de").otherwise("en"))
        docs_path = os.path.join(pdir, "documents.parquet")
        with span("quality"):
            o_in, o_out = Observation("in"), Observation("out")
            cleaned = quality_rules.c4_clean_lines(docs.observe(o_in, _count()))
            kept = quality_rules.gopher_quality_filter(
                cleaned.select("doc_id", "text", "lang", "source")
            ).observe(o_out, _count())
            kept.write.parquet(docs_path)
        with span("dedup.lsh_keep"):
            keep = QUERIES["dedup_lsh_keep"](spark, pdir).localCheckpoint(eager=True)
        with span("dedup.clusters"):
            clusters = QUERIES["dedup_clusters"](spark, pdir).localCheckpoint(eager=True)
        survivors = spark.read.parquet(docs_path).join(
            keep.filter("keep").select("doc_id"), "doc_id"
        )
        with span("binpack"):
            o_pack = Observation("pack")
            packed = (
                binpack.chunk_and_pack(survivors, PACK_CHUNK_BYTES, PACK_GROUP_BYTES)
                .observe(o_pack, _count(), F.sum("group_bytes").alias("bytes"))
                .localCheckpoint(eager=True)
            )
        corpus = os.path.join(pdir, "corpus")
        with span("sinks.write"):
            per_doc = packed.groupBy("doc_id").agg(F.count("*").alias("n_packs"))
            manifest = write_corpus(survivors.join(per_doc, "doc_id", "left"), corpus)
        out.ingest_s = time.perf_counter() - t0
        out.ops += 6
        out.counters.update({
            "artifacts.hits": self.artifacts.hits - hits0,
            "artifacts.misses": self.artifacts.misses - miss0,
        })
        out.outputs = dict(
            fetched=fetched, docs_path=docs_path, keep=keep, clusters=clusters,
            n_in=o_in.get["n"], n_kept=o_out.get["n"], pack=o_pack.get, corpus=corpus,
            manifest=manifest,
        )
        return out

    def check(self, out: PassOut, traced: bool) -> list[str]:
        o, plan, fails = out.outputs, self.inp.plan, []
        depths = o["fetched"].groupBy().agg(F.count("*"), F.countDistinct("depth")).first()
        if depths[0] != plan.n:
            fails.append(f"fetched {depths[0]} pages, expected {plan.n}")
        survivors = {r[0] for r in o["keep"].filter("keep").select("doc_id").collect()}
        for rep, members in self.exact.items():
            if len(survivors.intersection(members)) > 1:
                fails.append(f"exact class {rep} has {len(survivors.intersection(members))} survivors")
        labels = dict(o["clusters"].select("doc_id", "cluster_id").collect())
        for rep, members in self.exact.items():
            if len({labels.get(m) for m in members}) != 1:
                fails.append(f"exact class {rep} split across clusters")
        if o["manifest"]["n_rows"] != len(survivors):
            fails.append(f"manifest n_rows {o['manifest']['n_rows']} != survivors {len(survivors)}")
        kept = {r[0] for r in self.spark.read.parquet(o["docs_path"]).select("doc_id").collect()}
        planted = self.planted & kept
        removed = len(planted - survivors)
        pack = o["pack"]
        out.counters.update({
            "fanout.rounds": depths[1],
            "quality.rows_kept_frac": o["n_kept"] / o["n_in"],
            "dedup.recall": removed / len(planted) if planted else 1.0,
            "binpack.fill_ratio": pack["bytes"] / (pack["n"] * PACK_GROUP_BYTES),
            "sinks.bytes_per_input_byte": _du(o["corpus"]) / self.inp.input_bytes,
            "sinks.files": o["manifest"]["n_shards"],
        })
        if traced:
            pdir = os.path.dirname(o["docs_path"])
            cand = QUERIES["dedup_minhash_lsh"](self.spark, pdir).count()
            verified = QUERIES["dedup_minhash_verified"](self.spark, pdir).count()
            out.counters["dedup.candidate_pairs"] = cand
            out.counters["dedup.verified_frac"] = verified / cand if cand else 0.0
            out.counters["graph.rounds"] = self.cc_rounds[-1] if self.cc_rounds else 0
        return fails

    def wrap_graph(self):
        """Traced runs: connected_components (called inside the
        dedup_clusters plan) gets its own span and reports its rounds."""
        orig = graph.connected_components

        def traced(*a, **kw):
            with self.tracer.span("graph.cc"):
                labels, rounds = orig(*a, **kw)
            self.cc_rounds.append(rounds)
            return labels, rounds

        graph.connected_components = traced
        return lambda: setattr(graph, "connected_components", orig)


def embed_events(batch):
    """foreachBatch embedder of the streaming index build."""
    return batch.select(
        "event_id", "user_id",
        embedding.hash_embed_expr(F.coalesce(F.col("props"), F.lit("")), 16).alias("vector"),
    )


def _history_rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


class Memory(Workload):
    name = "memory"

    def generate(self) -> dict:
        self.inp = gen.make_memory(self.seed, self.sizes, self.inputs_dir)
        self.memo = PlanMemo()
        i = self.inp
        return {"events": i.n_events, "stream_events": i.n_stream,
                "input_bytes": i.input_bytes}

    def run_pass(self, pdir: str, pass_no: int) -> PassOut:
        spark, span, inp = self.spark, self.tracer.span, self.inp
        out = PassOut(ingest_rows=inp.n_events + inp.n_stream)
        t0 = time.perf_counter()
        with span("ingestion"):
            stamped = ingestion.stamp_ingestion_ids(spark.read.parquet(inp.log_path))
            stamped.write.parquet(os.path.join(pdir, "events.parquet"))
        index = os.path.join(pdir, "stream_index")
        with span("streaming"):
            events = sessionize.stream_events_from_dir(spark, inp.stream_dir, max_files_per_trigger=1)
            q = sessionize.incremental_index_build(
                events, embed_events, index, os.path.join(pdir, "stream_ckpt")
            )
            self.tracer.alias(str(q.runId))
            q.awaitTermination()
        out.ingest_s = time.perf_counter() - t0
        out.ops += 2
        progress = [p for p in q.recentProgress if p.numInputRows > 0]

        def read(plan_name):
            with span("tables.load"):
                plan = tables.load_table(spark, pdir, "events")
            self.memo.note(pdir, plan)
            with span(f"history.{plan_name}"):
                return QUERIES[plan_name](spark, pdir).collect()

        names = [gen.HISTORY_PLANS[i % len(gen.HISTORY_PLANS)] for i in range(self.reads)]
        got = [self._timed_read(out, lambda n=n: read(n)) for n in names]
        ev = tables.load_table(spark, pdir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        chunks = ev.filter(
            (F.col("user_id") == inp.conv_user) & (F.col("event_type") == "message")
        ).select(
            F.col("user_id").alias("doc_id"),
            F.row_number().over(w).alias("start"),
            F.col("props").alias("content"),
        )
        mapped = mapreduce.map_phase(chunks)
        digest = F.md5(F.col("val").cast("binary"))
        with span("mapreduce.tree"):
            final, tree_rounds = mapreduce.tree_reduce(mapped)
            tree_md5 = final.select(digest).first()[0]
        with span("mapreduce.compact"):
            final, compact_rounds = mapreduce.compact_reduce(mapped, COMPACT_GROUP_BYTES)
            compact_md5 = final.select(digest).first()[0]
        out.ops += 2
        out.counters.update({
            "streaming.batches": len(progress),
            "streaming.planning_ms": sum(p.durationMs.get("queryPlanning", 0) for p in progress),
            "streaming.add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in progress),
            "mapreduce.tree_rounds": tree_rounds,
            "mapreduce.compact_rounds": compact_rounds,
        })
        out.outputs = dict(
            index=index, names=names, got=got, tree_md5=tree_md5, compact_md5=compact_md5,
            n_stream=sum(p.numInputRows for p in progress),
        )
        return out

    def check(self, out: PassOut, traced: bool) -> list[str]:
        o, inp, fails = out.outputs, self.inp, []
        n_index = sessionize.read_index(self.spark, o["index"]).count()
        if not n_index == o["n_stream"] == inp.n_stream:
            fails.append(f"stream index rows {n_index}, streamed {o['n_stream']}, want {inp.n_stream}")
        for name, rows in zip(o["names"], o["got"]):
            if _history_rows(rows) != inp.truth[name]:
                fails.append(f"{name}: {len(rows)} rows differ from pandas")
        for kind in ("tree", "compact"):
            if o[f"{kind}_md5"] != inp.conv_md5:
                fails.append(f"{kind}_reduce digest differs from truth")
        if traced:
            out.counters["tables.plan_memo_hits"] = self.memo.hits
            out.counters["tables.plan_memo_misses"] = self.memo.misses
        self.memo.hits = self.memo.misses = 0
        return fails


class Serve(Workload):
    """rag's steps, then memory's, in one pass. Both serve reads; one
    session for the two pays session start and the fresh JVM's cold
    costs once, which keeps a run within the time budget."""

    name = "serve"

    def __init__(self, spark, tracer, seed: int, sizes: gen.Sizes, work: str):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.parts = [cls(spark, tracer, seed, sizes, os.path.join(work, cls.name)) for cls in (Rag, Memory)]
        self.reads = sum(p.reads for p in self.parts)

    def generate(self) -> dict:
        return {p.name: p.generate() for p in self.parts}

    def run_pass(self, pdir: str, pass_no: int) -> PassOut:
        out = PassOut()
        for p in self.parts:
            sub = os.path.join(pdir, p.name)
            os.makedirs(sub)
            o = p.run_pass(sub, pass_no)
            out.ingest_s += o.ingest_s
            out.ingest_rows += o.ingest_rows
            out.read_ms += o.read_ms
            out.ops += o.ops
            out.outputs[p.name] = o
        return out

    def check(self, out: PassOut, traced: bool) -> list[str]:
        fails = []
        for p in self.parts:
            o = out.outputs[p.name]
            fails += [f"{p.name}: {f}" for f in p.check(o, traced)]
            out.counters.update(o.counters)
        return fails


WORKLOADS = {w.name: w for w in (Serve, Curate)}
