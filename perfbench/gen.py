"""Seeded input generators and their ground truth.

Every input of a run is a pure function of ``(seed, Sizes)``: the same
seed gives byte-identical parquet files and the same truth. The truth is
computed here with numpy/pandas, independently of the engine, and is
what the per-pass output checks compare against.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fakes import ClusteredProvider
from textgen import RAG_CHUNK_BYTES, CuratePlan, Sizes, TextModel, _rng, rag_centers

__all__ = ["RAG_CHUNK_BYTES", "Sizes"]


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
    return os.path.getsize(path)


# --------------------------------------------------------------- rag


@dataclass
class RagInputs:
    docs_path: str
    n_docs: int
    n_chunks: int
    input_bytes: int
    queries: np.ndarray  # (q, dim), unit rows
    truth_ids: np.ndarray  # (q, 10) exact top-10 vec ids
    truth_scores: np.ndarray  # (q, 10) cosine rounded to 6 dp
    provider: object = field(repr=False)


def vec_id(doc_id: int, line: int) -> int:
    return doc_id * 100 + line


def make_rag(seed: int, sizes: Sizes, out_dir: str) -> RagInputs:
    """Docs whose every line starts with the doc's topic keyword; the
    provider maps a chunk to its topic's Gaussian-mixture center plus
    text-seeded noise, so the embeddings are clustered like real ones."""
    tm = TextModel(seed, sizes.vocab)
    rng = _rng(seed, "rag")
    rows, chunk_ids, chunk_texts = [], [], []
    for d in range(sizes.rag_docs):
        topic = int(rng.integers(sizes.rag_topics))
        lines = [tm.line(rng, f"k{topic}") for _ in range(int(rng.integers(3, 9)))]
        rows.append((d, "\n".join(lines), "en", f"doc://{d}"))
        for i, ln in enumerate(lines):
            chunk_ids.append(vec_id(d, i))
            chunk_texts.append(ln)
    docs = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    # several part files, so the pass's first stage has a task per core
    path = os.path.join(out_dir, "docs")
    for k, part in enumerate(np.array_split(docs, sizes.rag_files)):
        _write(part, os.path.join(path, f"part-{k}.parquet"))

    provider = ClusteredProvider(seed, sizes.rag_topics, sizes.dim)
    emb = np.asarray(provider(chunk_texts), dtype=np.float64)[:, : sizes.dim]
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    centers = rag_centers(seed, sizes.rag_topics, sizes.dim)
    qrng = _rng(seed, "queries")
    pick = qrng.integers(sizes.rag_topics, size=sizes.rag_queries)
    q = centers[pick] + 0.15 * qrng.normal(size=(sizes.rag_queries, sizes.dim))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    ids = np.asarray(chunk_ids, dtype=np.int64)
    scores = np.round(q @ emb.T, 6)
    t_ids = np.empty((len(q), 10), dtype=np.int64)
    t_sc = np.empty((len(q), 10))
    for i in range(len(q)):
        order = np.lexsort((ids, -scores[i]))[:10]  # score desc, id asc
        t_ids[i], t_sc[i] = ids[order], scores[i][order]
    return RagInputs(
        path, len(docs), len(ids), int(docs["text"].str.len().sum()), q, t_ids, t_sc, provider
    )


# ------------------------------------------------------------ curate


@dataclass
class CurateInputs:
    plan: CuratePlan
    n_docs: int
    input_bytes: int


def make_curate(seed: int, sizes: Sizes) -> CurateInputs:
    """The pages themselves are served by ``fakes.PageFetcher``; the
    archive roots are ``page_url(a * depth)``."""
    plan = CuratePlan(seed, sizes)
    nbytes = sum(len(plan.text(i).encode()) for i in range(plan.n))
    return CurateInputs(plan, plan.n, nbytes)


# ------------------------------------------------------------ memory

FUNNEL = ("signup", "click", "purchase")
HISTORY_PLANS = (
    "history_limit",
    "last_n_window",
    "latest_event",
    "sessionize_events",
    "event_funnel",
    "retention_cohorts",
)
#: history_limit's fixed conversation
HISTORY_USER = 5


@dataclass
class MemoryInputs:
    log_path: str
    stream_dir: str
    n_events: int
    n_stream: int
    input_bytes: int
    conv_user: int
    truth: dict[str, list[tuple]]
    conv_md5: str


_EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("ns")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def _events(rng, tm, n, first_id, users, t0, span_s) -> pd.DataFrame:
    p = 1.0 / np.arange(1, users + 1) ** 1.1
    uid = rng.choice(users, size=n, p=p / p.sum()).astype(np.int64)
    etype = rng.choice(
        np.array(("message",) + FUNNEL), size=n, p=[0.7, 0.1, 0.12, 0.08]
    )
    ts = t0 + np.sort(rng.integers(0, span_s, size=n))
    props = [tm.line(rng) if e == "message" else "" for e in etype]
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pd.to_datetime(ts, unit="s"),
            "user_id": uid,
            "event_type": etype,
            "value": np.round(rng.random(n) * 100, 2),
            "props": props,
        }
    )


def make_memory(seed: int, sizes: Sizes, out_dir: str) -> MemoryInputs:
    tm = TextModel(seed, sizes.vocab)
    rng = _rng(seed, "events")
    t0 = 1_767_225_600  # 2026-01-01T00:00:00Z
    log = _events(rng, tm, sizes.events, 0, sizes.users, t0, sizes.days * 86_400)
    log_path = os.path.join(out_dir, "log", "part-0.parquet")
    nbytes = _write(log, log_path, _EVENTS_SCHEMA)
    stream_dir = os.path.join(out_dir, "stream")
    n_stream = 0
    for f in range(sizes.stream_files):
        new = _events(
            rng, tm, sizes.stream_rows, sizes.events + n_stream, sizes.users,
            t0 + sizes.days * 86_400 + f * 3_600, 3_600,
        )
        nbytes += _write(new, os.path.join(stream_dir, f"part-{f}.parquet"), _EVENTS_SCHEMA)
        n_stream += len(new)
    msgs = log[log.event_type == "message"]
    conv_user = int(msgs.user_id.value_counts().idxmax())
    conv = msgs[msgs.user_id == conv_user].sort_values(["ts", "event_id"])
    joined = "\n".join(m[::2] for m in conv.props)  # map_phase echo, rate 2
    return MemoryInputs(
        os.path.dirname(log_path), stream_dir, len(log), n_stream, nbytes, conv_user,
        history_truth(log), hashlib.md5(joined.encode()).hexdigest(),
    )


def _py(v):
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        return v.item()
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(tuple(_py(v) for v in r) for r in df.itertuples(index=False))


def history_truth(ev: pd.DataFrame) -> dict[str, list[tuple]]:
    """pandas answers of the six registered history plans."""
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    out: dict[str, list[tuple]] = {}
    u = ev[ev.user_id == HISTORY_USER].head(200)
    out["history_limit"] = _rows(u[["event_id", "ts", "event_type"]])
    desc = ev.sort_values(["user_id", "ts", "event_id"], ascending=[True, False, False])
    rnk = desc.groupby("user_id").cumcount() + 1
    last = desc.assign(rnk=rnk)[rnk <= 20]
    out["last_n_window"] = _rows(last[["user_id", "event_id", "ts", "rnk"]])
    out["latest_event"] = _rows(last[last.rnk == 1][["user_id", "event_id", "ts"]])
    gap = ev.groupby("user_id").ts.diff()
    start = (gap.isna() | (gap > pd.Timedelta(hours=1))).astype(int)
    sess = ev.assign(session_id=start.groupby(ev.user_id).cumsum())
    agg = sess.groupby(["user_id", "session_id"]).agg(
        n_events=("ts", "size"), session_start=("ts", "min"), session_end=("ts", "max")
    ).reset_index()
    out["sessionize_events"] = _rows(agg)
    t1 = ev[ev.event_type == FUNNEL[0]].groupby("user_id").ts.min()
    c = ev[ev.event_type == FUNNEL[1]].join(t1.rename("t1"), on="user_id", how="inner")
    t2 = c[c.ts > c.t1].groupby("user_id").ts.min()
    p = ev[ev.event_type == FUNNEL[2]].join(t2.rename("t2"), on="user_id", how="inner")
    t3 = p[p.ts > p.t2].groupby("user_id").ts.min()
    out["event_funnel"] = _rows(
        pd.DataFrame(
            {"stage": [1, 2, 3], "event_type": list(FUNNEL), "users": [len(t1), len(t2), len(t3)]}
        )
    )
    day = ev.ts.dt.floor("D")
    cohort = day.groupby(ev.user_id).min().rename("cohort")
    act = pd.DataFrame({"user_id": ev.user_id, "day": day}).drop_duplicates()
    act = act.join(cohort, on="user_id")
    act["off"] = (act.day - act.cohort).dt.days
    ret = act.groupby(["cohort", "off"]).user_id.nunique().reset_index()
    ret["cohort"] = [d.date() for d in ret.cohort]
    out["retention_cohorts"] = _rows(ret)
    return out
