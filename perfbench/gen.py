"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here imports the engine, so a change
to the program can never change a workload.  Every generator is a pure
function of ``(seed, size)`` built on ``numpy.random.default_rng`` and is
cached on disk under a key of generator version, seed and size; bumping
``GEN_VERSION`` invalidates every cached input.

Tables are written with pyarrow.  Timestamps are UTC-adjusted microsecond
columns, so Spark reads them as TIMESTAMP and DuckDB as TIMESTAMPTZ; both
compare on epoch microseconds.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

# 2024-01-01T00:00:00Z in epoch microseconds
EPOCH_US = 1_704_067_200_000_000
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "browser", "python", "calculator")

# fixed token pool: plain words plus the shapes the tokenizer and shape
# functions branch on (numbers, versions, money, percents, CamelCase, caps,
# unicode dashes, a soft hyphen, punctuation)
_SPECIAL = (
    "42", "3:15", "$1,234", "56%", "v2.7.1", "CamelCase", "WORDS", "Spark",
    "some—strange", "unicode–dashes", "soft­hyphen", "!", "?",
    "...", ",", "(", ")", "e-mail", "x86_64", "2024-01-01", "O'Neil",
)
_SYLLABLES = ("ka", "lo", "mi", "ne", "su", "ta", "vo", "ri", "an", "el",
              "or", "us", "zy", "qu", "be", "do")


def _word_pool() -> tuple[str, ...]:
    rng = np.random.default_rng(20241)
    words = set()
    while len(words) < 1500:
        k = int(rng.integers(1, 4))
        words.add("".join(_SYLLABLES[int(i)] for i in rng.integers(0, 16, k)))
    pool = sorted(words)
    # capitalised variants give the shape vocabulary a second common shape
    pool += [w.capitalize() for w in pool[:200]]
    pool += _SPECIAL
    # Zipf ranks follow a shuffled order, not the alphabetical one
    return tuple(pool[int(i)] for i in rng.permutation(len(pool)))


WORDS = _word_pool()

# near-dup corpus vocabulary: 31 words, like the engine's testdata corpus
DOC_VOCAB = (
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "query", "agg", "table", "hash", "vector",
    "join", "shuffle", "cache", "disk", "memory", "core", "task", "stage",
    "plan", "row", "group", "filter", "merge", "read", "write",
)


def _zipf_probs(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


_WORD_P = _zipf_probs(len(WORDS), 1.05)


def cache_path(root: str, name: str, seed: int, size: int) -> str:
    return os.path.join(root, f"{name}-v{GEN_VERSION}-s{seed}-n{size}")


def cached(root: str, name: str, seed: int, size: int, build) -> tuple[str, float]:
    """Build ``name`` into its cache dir once; returns (path, build seconds).

    ``build(tmp_dir, rng)`` writes the files; the dir is renamed into place
    only when complete, so an interrupted build is never read.
    """
    path = cache_path(root, name, seed, size)
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, np.random.default_rng([GEN_VERSION, seed, size, len(name)]))
    os.replace(tmp, path)
    return path, time.perf_counter() - t0


# --- transcripts + entity state ----------------------------------------------


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(3, 25, n)
    idx = rng.choice(len(WORDS), size=int(lens.sum()), p=_WORD_P)
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(WORDS[j] for j in idx[offs[i]:offs[i + 1]]) for i in range(n)]


def transcripts(rng, n_turns: int, state_per_turn: float, zipf_hot: int = 0):
    """(turns, state) arrow tables with about ``n_turns`` turns.

    Conversations hold ~10 turns; with ``zipf_hot`` > 0 the first
    ``zipf_hot`` conversations are Zipf-hot (hundreds of turns each).
    Turn gaps are 80% short (1-120 s) and 20% long (2000-7200 s), so
    sessions split at the 30-minute gap.  State rows per conversation are
    ``state_per_turn`` x turns: 10% before the first turn, 10% exactly on a
    turn's ts (tie), 10% after the last turn (leakage probe), the rest
    inside the conversation.  State ts are unique within a conversation.
    """
    n_convs = max(1, n_turns // 10)
    sizes = np.maximum(2, rng.poisson(10, n_convs))
    if zipf_hot:
        hot = (n_turns * 0.25 * _zipf_probs(zipf_hot, 1.0)).astype(np.int64)
        sizes[:zipf_hot] = np.maximum(sizes[:zipf_hot], hot)
    n = int(sizes.sum())
    conv_of = np.repeat(np.arange(n_convs), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn_idx = np.arange(n) - np.repeat(starts, sizes)
    long_gap = rng.random(n) < 0.2
    gaps = np.where(
        long_gap, rng.uniform(2000, 7200, n), rng.uniform(1, 120, n)
    )
    gaps_us = (gaps * 1e6).astype(np.int64)
    conv_start = EPOCH_US + rng.integers(0, 86400 * 30, n_convs) * 1_000_000
    cum = np.cumsum(gaps_us)
    cum_at_start = np.repeat(cum[starts] - gaps_us[starts], sizes)
    ts = np.repeat(conv_start, sizes) + (cum - cum_at_start)
    conv_ids = np.array([f"conv{c:07d}" for c in range(n_convs)], dtype=object)
    role_i = turn_idx % 3
    role = [None if r else ROLES[k] for k, r in zip(role_i, rng.random(n) < 0.15)]
    tool_pick = rng.integers(0, len(TOOLS), n)
    tool = [TOOLS[k] if r else None for k, r in zip(tool_pick, rng.random(n) < 0.2)]
    turns = pa.table(
        {
            "conv_id": pa.array(conv_ids[conv_of], pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": pa.array(_texts(rng, n), pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )

    n_state = np.maximum(1, np.round(sizes * state_per_turn)).astype(np.int64)
    s_conv = np.repeat(np.arange(n_convs), n_state)
    m = len(s_conv)
    first = ts[starts]
    last = ts[starts + sizes - 1]
    mode = rng.random(m)
    span = np.maximum(last - first, 1)[s_conv]
    inside = first[s_conv] + (rng.random(m) * span).astype(np.int64)
    before = first[s_conv] - rng.integers(10, 1000, m) * 1_000_000
    after = last[s_conv] + rng.integers(10, 1000, m) * 1_000_000
    tie = ts[starts[s_conv] + (rng.random(m) * sizes[s_conv]).astype(np.int64)]
    s_ts = np.select(
        [mode < 0.1, mode < 0.2, mode < 0.3], [before, tie, after], inside
    )
    # unique (conv, ts): drop repeats, then number each conv's rows by ts
    order = np.lexsort((s_ts, s_conv))
    s_conv, s_ts = s_conv[order], s_ts[order]
    keep = np.ones(len(s_ts), bool)
    keep[1:] = (s_conv[1:] != s_conv[:-1]) | (s_ts[1:] != s_ts[:-1])
    s_conv, s_ts = s_conv[keep], s_ts[keep]
    first_row = np.ones(len(s_conv), bool)
    first_row[1:] = s_conv[1:] != s_conv[:-1]
    grp_start = np.maximum.accumulate(np.where(first_row, np.arange(len(s_conv)), 0))
    # state values are k/1000 with 1000 <= k < 10^6: exact in both engines
    value = rng.integers(1000, 1_000_000, len(s_conv)) / 1000.0
    state = pa.table(
        {
            "entity_id": pa.array(conv_ids[s_conv], pa.string()),
            "ts": pa.array(s_ts, pa.timestamp("us", tz="UTC")),
            "state_seq": pa.array(np.arange(len(s_conv)) - grp_start, pa.int32()),
            "state": pa.array(value, pa.float64()),
        }
    )
    return turns, state


def bucket_of(conv_ids: pa.Array, n_buckets: int) -> np.ndarray:
    """Stable bucket per conversation: its numeric suffix mod n_buckets."""
    nums = np.array([int(c[4:]) for c in conv_ids.to_pylist()], dtype=np.int64)
    return nums % n_buckets


def write_transcripts(out: str, turns: pa.Table, state: pa.Table, files: int) -> None:
    for name, tbl in (("transcripts", turns), ("entity_state", state)):
        os.makedirs(f"{out}/{name}")
        step = -(-tbl.num_rows // files)
        for i in range(files):
            pq.write_table(tbl.slice(i * step, step), f"{out}/{name}/part-{i:03d}.parquet")


def write_bucketed(out: str, turns: pa.Table, state: pa.Table, n_buckets: int) -> None:
    """Hive-partitioned by conv-id bucket: <table>/bucket=<b>/part.parquet."""
    for name, tbl, col in (
        ("transcripts", turns, "conv_id"),
        ("entity_state", state, "entity_id"),
    ):
        b = bucket_of(tbl.column(col).combine_chunks(), n_buckets)
        for k in range(n_buckets):
            d = f"{out}/{name}/bucket={k:02d}"
            os.makedirs(d)
            idx = np.nonzero(b == k)[0]
            pq.write_table(tbl.take(pa.array(idx)), f"{d}/part-000.parquet")


# --- near-duplicate document corpus --------------------------------------------


def documents(rng, n_docs: int) -> pa.Table:
    """(doc_id long, text string): ~54 words/doc over a 31-word vocabulary
    with an exponential word distribution; after each doc, with
    probability 0.026, a near-copy (1 word in 12 replaced) follows, so ~5%
    of docs sit in a planted near-duplicate pair."""
    ids, texts = [], []
    doc_id = 0
    while doc_id < n_docs:
        n = max(10, int(rng.normal(54, 12)))
        w = np.minimum(rng.exponential(1 / 0.12, n).astype(np.int64), 30)
        words = [DOC_VOCAB[k] for k in w]
        ids.append(doc_id)
        texts.append(" ".join(words))
        doc_id += 1
        if rng.random() < 0.026 and doc_id < n_docs:
            w2 = list(words)
            for _ in range(max(1, n // 12)):
                w2[int(rng.integers(0, n))] = DOC_VOCAB[int(rng.integers(0, 31))]
            ids.append(doc_id)
            texts.append(" ".join(w2))
            doc_id += 1
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})


# --- streaming chunks ------------------------------------------------------------

STREAM_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("is_state", pa.int32()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("seq", pa.int64()),
        ("value", pa.float64()),
    ]
)


def stream_chunks(rng, n_chunks: int, chunk_rows: int, n_convs: int = 400,
                  chunk_span_s: float = 600.0) -> list[pa.Table]:
    """Time-ordered chunks of a union-tagged turn/state stream.

    Rows are 60% turns and 40% state updates over ``n_convs`` mildly
    Zipf-skewed conversations; each chunk spans ``chunk_span_s`` of event
    time.  3% of rows are delivered one or two chunks late (out of order
    by at most ~20 minutes), well inside the operator's 2-hour watermark,
    so no row is dropped.  Event times are strictly increasing, so no two
    rows share a ts.
    """
    n = n_chunks * chunk_rows
    gaps = rng.integers(1, int(2 * chunk_span_s * 1e6 / chunk_rows), n)
    ts = EPOCH_US + np.cumsum(gaps)
    conv = rng.choice(n_convs, size=n, p=_zipf_probs(n_convs, 0.8))
    is_state = (rng.random(n) < 0.4).astype(np.int32)
    # per (conv, kind) running sequence numbers
    key = conv * 2 + is_state
    order = np.argsort(key, kind="stable")
    sk = key[order]
    first = np.ones(n, bool)
    first[1:] = sk[1:] != sk[:-1]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    seq = np.empty(n, np.int64)
    seq[order] = np.arange(n) - grp_start
    value = np.where(is_state == 1, rng.integers(1000, 1_000_000, n) / 1000.0, 0.0)
    chunk = np.minimum((ts - EPOCH_US) // int(chunk_span_s * 1e6), n_chunks - 1)
    late = rng.random(n) < 0.03
    chunk = np.minimum(chunk + late * rng.integers(1, 3, n), n_chunks - 1)
    conv_ids = np.array([f"sconv{c:05d}" for c in range(n_convs)], dtype=object)
    out = []
    for k in range(n_chunks):
        idx = np.nonzero(chunk == k)[0]
        out.append(
            pa.table(
                {
                    "conv_id": pa.array(conv_ids[conv[idx]], pa.string()),
                    "is_state": pa.array(is_state[idx], pa.int32()),
                    "ts": pa.array(ts[idx], pa.timestamp("us", tz="UTC")),
                    "seq": pa.array(seq[idx], pa.int64()),
                    "value": pa.array(value[idx], pa.float64()),
                },
                schema=STREAM_SCHEMA,
            )
        )
    return out
