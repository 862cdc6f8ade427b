"""Seeded benchmark inputs, landed once per (size, seed) under the work
directory and reused by later runs with the same key.

- The tokenized-sequence table follows the engine's ``synth_sequences``
  (8 geometrically skewed sources).
- The late batch corrects some rows of a two-day window and adds new rows
  in it.
- The ``events``/``documents``/``embeddings`` tables for the query mix
  follow the shapes of the repo's sf0.01 test tables (see TESTDATA.md),
  drawn with numpy from the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

START = "2024-01-01"
VOCAB = 50_257
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
         ("de", 0.14))
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def sequences(root: str, rows: int, span_days: int, seed: int) -> str:
    """The tokenized-sequence table in the shape of the engine's
    ``synth_sequences`` (doc_id, tokens, n_tok, source, ts): n_tok uniform
    in [1, 256], ts uniform whole seconds over the span, and 8 sources
    geometrically skewed (source_00 holds ~50% of rows, source_01 ~25%,
    ..., the last source the remainder). Drawn with numpy rather than
    Spark: a Spark generator costs ~10 s of cold-JVM time per run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"seq_r{rows}_d{span_days}_s{seed}")
    if _done(path):
        return path
    rng = np.random.default_rng([seed, 0])
    n_sources = 8
    u = rng.integers(0, 1 << n_sources, rows)
    # source_k takes u in [2^(S-1-k), 2^(S-k)); the last also takes [0, 2)
    k = np.minimum(n_sources - 1, n_sources - 1 - np.floor(
        np.log2(np.maximum(u, 1))).astype(int))
    n_tok = rng.integers(1, 257, rows).astype(np.int32)
    offsets = rng.integers(0, span_days * 86400, rows)
    ts = np.datetime64(START, "us") + offsets.astype("timedelta64[s]")
    flat = rng.integers(0, VOCAB, int(n_tok.sum()), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        np.concatenate(([0], np.cumsum(n_tok))).astype(np.int32), flat)
    table = pa.table({
        "doc_id": pa.array([f"doc-{i:012d}" for i in range(rows)]),
        "tokens": tokens,
        "n_tok": pa.array(n_tok),
        "source": pa.array([f"source_{j:02d}" for j in k]),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def late_window(span_days: int, seed: int) -> tuple[str, str]:
    """First and last day of the two-day window the late batch touches,
    chosen from the seed away from the edges of the span."""
    rng = np.random.default_rng([seed, 1])
    d0 = dt.date.fromisoformat(START) + dt.timedelta(
        days=int(rng.integers(1, max(2, span_days - 2))))
    return d0.isoformat(), (d0 + dt.timedelta(days=1)).isoformat()


def late_batch(root: str, seq_path: str, rows: int, span_days: int,
               seed: int) -> str:
    """Corrections (same doc_id and ts, new n_tok) of 2% of the window's
    rows plus ``rows // 100`` new documents inside the window."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"late_r{rows}_d{span_days}_s{seed}")
    if _done(path):
        return path
    lo, hi = late_window(span_days, seed)
    rng = np.random.default_rng([seed, 4])
    seqs = read_sequences(seq_path)
    day = seqs["ts"].dt.floor("D")
    window = seqs[(day >= pd.Timestamp(lo)) & (day <= pd.Timestamp(hi))]
    fixed = window.iloc[np.flatnonzero(rng.random(len(window)) < 0.02)]
    fixed = fixed.assign(n_tok=rng.integers(1, 257, len(fixed)))
    n_new = max(1, rows // 100)
    new = pd.DataFrame({
        "doc_id": [f"late-{i:012d}" for i in range(n_new)],
        "n_tok": rng.integers(1, 257, n_new),
        "source": [f"source_{k:02d}" for k in rng.integers(0, 8, n_new)],
        "ts": pd.Timestamp(lo) + pd.to_timedelta(
            rng.integers(0, 2 * 86400, n_new), unit="s"),
    })
    late = pd.concat([fixed, new], ignore_index=True)
    n_tok = late["n_tok"].to_numpy(dtype=np.int32)
    table = pa.table({
        "doc_id": pa.array(late["doc_id"], pa.string()),
        "tokens": pa.array([np.zeros(n, np.int32) for n in n_tok],
                           pa.list_(pa.int32())),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(late["source"], pa.string()),
        "ts": pa.array(late["ts"].astype("datetime64[us]"),
                       pa.timestamp("us")),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


def read_sequences(path: str):
    """(doc_id, n_tok, source, ts) of a landed sequence table, in pandas."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["doc_id", "n_tok", "source", "ts"]
                         ).to_pandas()


def merge_late(seqs, late):
    """The raw rows after the late batch is upserted: per doc_id the late
    row wins, as in ``ingest_late``."""
    import pandas as pd

    keep = seqs[~seqs["doc_id"].isin(late["doc_id"])]
    return pd.concat([keep, late[seqs.columns]], ignore_index=True)


def query_tables(root: str, seed: int, events: int = 10_000,
                 documents: int = 500, embeddings: int = 500) -> str:
    """Write events/documents/embeddings parquet tables; returns the dir
    (the ``sf_dir`` the entry queries and their oracle SQL read)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"tables_e{events}_d{documents}_v{embeddings}"
                              f"_s{seed}")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng([seed, 2])

    t0 = np.datetime64(START, "us")
    span_us = 30 * 86400 * 10**6
    ts = t0 + np.sort(rng.integers(0, span_us, events)).astype("timedelta64[us]")
    ev = pd.DataFrame({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, events * 3 // 200), events),
        "event_type": rng.choice(EVENT_TYPES, events),
        "value": np.round(rng.exponential(50.0, events), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, events)],
    })
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                   os.path.join(path, "events.parquet"))

    texts: list[str] = []
    for i in range(documents):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n)))
    langs, probs = zip(*LANGS)
    docs = pd.DataFrame({
        "doc_id": np.arange(documents, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, documents, p=probs),
        "source": [f"src{i % 20}" for i in range(documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(path, "documents.parquet"))

    vecs = rng.standard_normal((embeddings, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, embeddings).astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
    open(marker, "w").close()
    return path
