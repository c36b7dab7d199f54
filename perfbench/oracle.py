"""Correctness oracles, independent of the Spark code under test.

* As-of + sessionize + forward-fill + lag/lead: one DuckDB query (``ASOF
  JOIN`` and window SQL) over the generated parquet inputs.
* Token counts: Python ``re`` with the tokenizer's documented pattern.
* Near-duplicate pairs: an exact DuckDB shingle self-join (every pair that
  shares a shingle is verified); clusters: union-find over those pairs.
* Streaming as-of: the batch DuckDB ``ASOF JOIN`` over the chunks fed.
* Feature blobs: the engine's single-turn pure path (``textfns`` +
  ``turn_feature_matrix``), compared allclose on sampled turns.
"""

from __future__ import annotations

import json
import os
import re
import zlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import EPOCH_US

MAX_SEQ = 32
EMB_DIM = 16
SESSION_GAP_US = 1_800_000_000
_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def token_counts(texts: list[str]) -> np.ndarray:
    return np.array([min(len(_TOKEN_RE.findall(t)), MAX_SEQ) for t in texts], np.int64)


PIT_SQL = """
WITH t AS (SELECT conv_id, turn_idx, role, text, tool, ts FROM read_parquet({turns})),
s AS (SELECT entity_id AS conv_id, ts, state FROM read_parquet({state})),
a AS (
  SELECT t.*, s.state, n.n_tok
  FROM t ASOF LEFT JOIN s ON t.conv_id = s.conv_id AND t.ts >= s.ts
  JOIN ntok n ON n.conv_id = t.conv_id AND n.turn_idx = t.turn_idx
),
g AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap}
                 THEN 1 ELSE 0 END AS is_new
  FROM a WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
)
SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us, state, n_tok,
  CAST(sum(is_new) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
       AS BIGINT) AS session_id,
  last_value(role IGNORE NULLS) OVER o AS role_ffill,
  last_value(tool IGNORE NULLS) OVER o AS tool_ffill,
  lag(n_tok) OVER k AS n_tok_lag1, lead(n_tok) OVER k AS n_tok_lead1,
  lag(state) OVER k AS state_lag1, lead(state) OVER k AS state_lead1
FROM g
WINDOW o AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       k AS (PARTITION BY conv_id ORDER BY turn_idx)
ORDER BY conv_id, turn_idx
"""


def pit_oracle(con, turns_glob: str, state_glob: str) -> pa.Table:
    """Per-turn expected as-of state, session id, ffills and lag/leads."""
    base = con.execute(
        f"SELECT conv_id, turn_idx, text FROM read_parquet('{turns_glob}')"
    ).arrow()
    ntok = pa.table(
        {
            "conv_id": base.column("conv_id"),
            "turn_idx": base.column("turn_idx"),
            "n_tok": token_counts(base.column("text").to_pylist()),
        }
    )
    con.register("ntok", ntok)
    sql = PIT_SQL.format(
        turns=f"'{turns_glob}'", state=f"'{state_glob}'", gap=SESSION_GAP_US
    )
    out = con.execute(sql).arrow()
    con.unregister("ntok")
    return out


def _crc(s) -> int:
    return 0 if s is None else zlib.crc32(s.encode("utf-8"))


def pure_turn(text: str):
    """(normalized text, [(token, start, end)]) by the single-turn pure path."""
    from deep_ner_spark import textfns

    norm = textfns.normalize_text(text)
    return norm, textfns.tokenize_with_bounds(norm)


def backfill_expected(oracle: pa.Table) -> dict:
    """Expected consuming aggregate + fitted shape vocabulary for the
    featurized pipeline output, from the oracle and the pure path."""
    from deep_ner_spark import textfns

    cols = oracle.to_pydict()
    agg = dict.fromkeys(
        ("n", "conv", "turn", "ts", "sess", "role", "tool", "ntok", "lag", "lead",
         "norm", "toks", "starts", "ends", "feat_bytes", "state_k", "state_n"), 0
    )
    shape_counts: dict[str, int] = {}
    for i in range(oracle.num_rows):
        norm, triples = pure_turn(cols["text"][i])
        toks = [t for t, _, _ in triples]
        for t in toks:
            sh = textfns.shape_of_string(t)
            if sh:
                shape_counts[sh] = shape_counts.get(sh, 0) + 1
        agg["n"] += 1
        agg["conv"] += _crc(cols["conv_id"][i])
        agg["turn"] += cols["turn_idx"][i]
        agg["ts"] += cols["ts_us"][i] - EPOCH_US
        agg["sess"] += cols["session_id"][i]
        agg["role"] += _crc(cols["role_ffill"][i])
        agg["tool"] += _crc(cols["tool_ffill"][i])
        agg["ntok"] += min(len(toks), MAX_SEQ)
        agg["lag"] += cols["n_tok_lag1"][i] or 0
        agg["lead"] += cols["n_tok_lead1"][i] or 0
        agg["norm"] += _crc(norm)
        agg["toks"] += _crc("\x1f".join(toks))
        agg["starts"] += sum(s for _, s, _ in triples)
        agg["ends"] += sum(e for _, _, e in triples)
        if cols["state"][i] is not None:
            agg["state_k"] += round(cols["state"][i] * 1000)
            agg["state_n"] += 1
    vocab = sorted(s for s, c in shape_counts.items() if c >= 3)
    width = (
        EMB_DIM + len(vocab) + 3
        + len(textfns.UNIVERSAL_POS_TAGS) + len(textfns.UNIVERSAL_DEPENDENCIES)
    )
    agg["feat_bytes"] = agg["ntok"] * width * 4
    return {"agg": agg, "vocab": vocab, "width": width}


def check_features(rows, texts: dict, vocab) -> int:
    """Number of sampled output rows whose tokens, bounds or feature matrix
    differ from the single-turn pure path (allclose for the matrix)."""
    from deep_ner_spark import textfns
    from deep_ner_spark.operators.features import turn_feature_matrix

    bad = 0
    for r in rows:
        norm, triples = pure_turn(texts[(r["conv_id"], r["turn_idx"])])
        toks = [t for t, _, _ in triples]
        shapes = [textfns.shape_of_string(t) for t in toks]
        tags = [textfns.heuristic_pos_dep(t, i) for i, t in enumerate(toks)]
        want = turn_feature_matrix(
            toks, shapes, [p for p, _ in tags], [d for _, d in tags],
            vocab, MAX_SEQ, EMB_DIM,
        )
        n = min(len(toks), MAX_SEQ)
        got = np.frombuffer(r["features"], dtype="<f4")
        ok = (
            r["norm_text"] == norm
            and list(r["tokens"]) == toks
            and list(r["starts"]) == [s for _, s, _ in triples]
            and list(r["ends"]) == [e for _, _, e in triples]
            and got.size == n * want.shape[1]
            and np.allclose(got.reshape(n, -1), want[:n])
        )
        bad += not ok
    return bad


# --- near-duplicate pairs and clusters -----------------------------------------

JACCARD_SQL = """
WITH d AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM read_parquet('{docs}')),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d WHERE len(w) >= 3)
),
sz AS (SELECT doc_id, count(*) AS size FROM sh GROUP BY doc_id),
it AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY ALL
)
SELECT id_a, id_b, inter, sa.size AS size_a, sb.size AS size_b
FROM it JOIN sz sa ON sa.doc_id = it.id_a JOIN sz sb ON sb.doc_id = it.id_b
WHERE 2 * inter >= sa.size + sb.size - inter
ORDER BY id_a, id_b
"""


def jaccard_oracle(con, docs_glob: str) -> pa.Table:
    """Exact pairs with 3-gram Jaccard >= 0.5 (2 * inter >= union): the
    full shingle self-join counts the intersection of every pair that
    shares a shingle, with no candidate filter to get wrong."""
    return con.execute(JACCARD_SQL.format(docs=docs_glob)).arrow()


def clusters(doc_ids, pairs: pa.Table) -> dict[int, tuple[int, int]]:
    """doc id -> (cluster id = component min id, cluster size)."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.column("id_a").to_pylist(), pairs.column("id_b").to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    root = {d: find(d) for d in parent}
    size: dict[int, int] = {}
    for r in root.values():
        size[r] = size.get(r, 0) + 1
    return {d: (r, size[r]) for d, r in root.items()}


# --- streaming --------------------------------------------------------------------

STREAM_SQL = """
WITH r AS (SELECT * FROM read_parquet({files})),
t AS (SELECT * FROM r WHERE is_state = 0),
s AS (SELECT * FROM r WHERE is_state = 1)
SELECT t.conv_id, t.seq AS turn_seq, epoch_us(t.ts) AS ts_us, s.value AS state_value
FROM t ASOF LEFT JOIN s ON t.conv_id = s.conv_id AND t.ts >= s.ts
"""


def stream_oracle(con, files: list[str]) -> set:
    lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    return set(con.execute(STREAM_SQL.format(files=lst)).fetchall())


# --- cache helpers ------------------------------------------------------------------


def cached_table(path: str, build) -> pa.Table:
    if os.path.exists(path):
        return pq.read_table(path)
    tbl = build()
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return tbl


def cached_json(path: str, build) -> dict:
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    obj = build()
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)
    return obj
