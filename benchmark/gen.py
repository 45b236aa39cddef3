"""Seeded benchmark inputs: the transcripts corpus and each workload's
query stream.

The corpus follows the statistics of ``sources.synth.transcripts_spark``
(Zipfian conversation lengths capped at 40 turns, 5-60 Zipfian vocabulary
words per turn, ~5% empty turns, ~30% of turns with a tokenizer-edge
noise token, ~10% tool turns) but is generated here with vectorized numpy
and written with pyarrow, so making the inputs needs no Spark session and
adds nothing to the engine's set-up time. The engine receives only the
parquet file and the query strings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from searchengine_spark.sources.synth import vocab

NOISE = ["...", "42", "7x", "--", "café", "naïve", "!!", "(9)",
         "pneumonoultramicroscopicsilicovolcanoconiosis", "„“"]
TOOLS = ["bash", "search", "editor"]
BASE_TS = dt.datetime(2026, 1, 1)
SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def corpus_table(seed: int, n_convs: int) -> pa.Table:
    """The transcripts corpus for ``seed`` (deterministic)."""
    rng = np.random.default_rng([seed, 0])
    words = vocab()
    conv_lens = np.minimum(1 + rng.zipf(2.0, n_convs), 40)
    n = int(conv_lens.sum())
    conv = np.repeat(np.arange(n_convs), conv_lens)
    turn = np.arange(n) - np.repeat(np.cumsum(conv_lens) - conv_lens, conv_lens)
    n_words = rng.integers(5, 61, n)
    ranks = np.minimum(rng.zipf(1.3, int(n_words.sum())) - 1, len(words) - 1)
    drawn = [words[r] for r in ranks.tolist()]
    empty = rng.random(n) < 0.05
    noisy = rng.random(n) < 0.30
    noise_pick = rng.integers(0, len(NOISE), n)
    toolish = rng.random(n) < 0.10

    texts, off = [], 0
    for i, k in enumerate(n_words.tolist()):
        ws = drawn[off:off + k]
        off += k
        if empty[i]:
            texts.append("" if turn[i] % 2 == 0 else "   ")
            continue
        if noisy[i]:
            ws = ws[:k // 2] + [NOISE[noise_pick[i]]] + ws[k // 2:]
        texts.append(" ".join(ws))
    roles = np.where(toolish, "tool", np.where(turn % 2 == 0, "user", "assistant"))
    tools = [TOOLS[t % 3] if tool else None
             for t, tool in zip(turn.tolist(), toolish.tolist())]
    ts = np.datetime64(BASE_TS, "us") + (
        conv * 3600 + turn * 30).astype("timedelta64[s]")
    return pa.table({
        "conv_id": [f"conv{c:010d}" for c in conv.tolist()],
        "turn_idx": turn.astype(np.int32),
        "role": roles.tolist(),
        "text": texts,
        "tool": tools,
        "ts": ts,
    }, schema=SCHEMA)


def write_corpus(path: str, seed: int, n_convs: int) -> dict:
    """Write the corpus parquet; return its size facts (``corpus.*``)."""
    table = corpus_table(seed, n_convs)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)
    text_bytes = sum(len(t.encode("utf-8"))
                     for t in table.column("text").to_pylist())
    return {"corpus.turns": table.num_rows, "corpus.text_bytes": text_bytes}


def corpus_rows(path: str) -> list[tuple]:
    """(conv_id, turn_idx, text) rows, the oracle's input."""
    t = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def zipf_ranks(rng, n: int, n_words: int, a: float = 1.3) -> np.ndarray:
    """``n`` vocabulary ranks from a Zipf(``a``) law truncated to the
    vocabulary, stratified: one draw from each of ``n`` equal-probability
    slices of the distribution, shuffled. Every seed gets nearly the same
    mix of head and tail terms, so the query cost mix, and with it the
    medians, differ little between seeds."""
    cdf = np.cumsum(1.0 / np.arange(1, n_words + 1) ** a)
    u = (np.arange(n) + rng.random(n)) / n * cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, u), n_words - 1)
    rng.shuffle(ranks)
    return ranks


def serve_stream(seed: int, n: int) -> list[tuple[str, str]]:
    """``(mode, query)`` pairs, alternating ``wand`` and ``term``. Query
    ``i`` has ``1 + (i // 2) % 4`` terms, so both modes see every length
    equally often; terms have Zipfian vocabulary ranks, so head terms
    recur (the engine's df memo sees repeats). Ranks are stratified per
    block of 8 queries, so any prefix of the stream has the same mix."""
    rng = np.random.default_rng([seed, 1])
    words = vocab()
    lengths = [1, 1, 2, 2, 3, 3, 4, 4]
    out = []
    while len(out) < n:
        ranks = zipf_ranks(rng, sum(lengths), len(words)).tolist()
        for i, k in enumerate(lengths):
            out.append(("wand" if i % 2 == 0 else "term",
                        " ".join(words[r] for r in ranks[:k])))
            ranks = ranks[k:]
    return out[:n]
