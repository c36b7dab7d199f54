"""End-to-end parity: the Spark pipeline reproduces the reference feature
pipeline (normalize -> tokenize -> shapes -> vocab -> one-hot -> labels ->
as-of state) allclose at every (entity x timestamp)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deep_ner_spark import datagen, textfns
from deep_ner_spark.operators.features import (
    fit_classes_list,
    turn_feature_matrix,
)
from deep_ner_spark.operators.labeling import label_tokens_colocated
from deep_ner_spark.operators.tokens import token_table, tokenize_turns
from deep_ner_spark.pipeline import featurize_transcripts

MAX_SEQ = 32
EMB = 8


@pytest.fixture(scope="module")
def data(spark):
    t, s, st = datagen.gen_transcripts(n_convs=10, mean_turns=8, seed=11)
    return (
        spark.createDataFrame(t),
        spark.createDataFrame(s),
        spark.createDataFrame(st),
        t,
        s,
        st,
    )


def reference_vocab(t):
    """Shapes vocabulary computed the reference way (elmo_ner.py:418-421,492-500)."""
    counts = {}
    for text in t["text"]:
        for tok in textfns.tokenize(textfns.normalize_text(text)):
            sh = textfns.shape_of_string(tok)
            if sh:
                counts[sh] = counts.get(sh, 0) + 1
    return tuple(s for s in sorted(counts) if counts[s] >= 3)


def reference_matrix(toks, vocab, max_seq_length, emb_dim):
    """Padded [max_seq_length, F] matrix of one tokenized turn, built by
    the pure reference functions."""
    tags = [textfns.heuristic_pos_dep(x, i) for i, x in enumerate(toks)]
    return turn_feature_matrix(
        toks,
        [textfns.shape_of_string(x) for x in toks],
        [p for p, _ in tags],
        [d for _, d in tags],
        vocab,
        max_seq_length,
        emb_dim,
    )


def test_fit_shape_vocab_from_text_equals_tokenized_fit(data, spark):
    """The count-only fit pass (the flagship's vocab source) must produce
    the exact vocabulary of the reference computation (tokenize every
    normalized turn, count non-empty shapes, keep frequency >= 3)."""
    from deep_ner_spark.operators.features import fit_shape_vocab_from_text

    tdf, _, _, t, _, _ = data
    assert fit_shape_vocab_from_text(tdf) == reference_vocab(t)


def test_classes_list_parity(data, spark):
    _, sdf, _, _, s, _ = data
    assert fit_classes_list(sdf) == tuple(sorted(s["ne_type"].unique()))


def test_per_turn_text_equality_and_feature_parity(data, spark):
    """Per-turn text equality under stable ordering + allclose features."""
    tdf, _, stdf, t, _, st = data
    out, vocab = featurize_transcripts(
        tdf, stdf, max_seq_length=MAX_SEQ, emb_dim=EMB
    )
    rows = {(r["conv_id"], r["turn_idx"]): r for r in out.collect()}
    assert len(rows) == len(t)

    want_vocab = reference_vocab(t)
    assert vocab == want_vocab

    for _, turn in t.iterrows():
        r = rows[(turn.conv_id, turn.turn_idx)]
        norm = textfns.normalize_text(turn.text)
        assert r["norm_text"] == norm  # per-turn text equality (input_hint)
        triples = textfns.tokenize_with_bounds(norm)
        toks = [x for x, _, _ in triples]
        assert r["tokens"] == toks
        want = reference_matrix(toks, want_vocab, MAX_SEQ, EMB)
        from deep_ner_spark.operators.features import decode_feature_matrix

        got = decode_feature_matrix(r["features"], r["feature_width"])
        n = min(len(toks), MAX_SEQ)
        # engine emits ragged (real-token rows); reference pads with zeros
        assert got.shape == (n, want.shape[1])
        assert np.allclose(got, want[:n]), (turn.conv_id, turn.turn_idx)
        assert np.allclose(want[n:], 0.0)


def test_lag_lead_counts_consistent(data, spark):
    """The JVM-side regexp token count (used for the slim-phase lag/lead)
    must equal the pinned tokenizer's count on every turn."""
    tdf, _, stdf, t, _, _ = data
    out, _ = featurize_transcripts(tdf, stdf, max_seq_length=MAX_SEQ, emb_dim=4)
    rows = {(r["conv_id"], r["turn_idx"]): r for r in out.collect()}
    for (conv, tidx), r in rows.items():
        n_exact = min(len(textfns.tokenize(textfns.normalize_text(
            t[(t.conv_id == conv) & (t.turn_idx == tidx)].iloc[0]["text"]))), MAX_SEQ)
        assert r["n_tokens"] == n_exact
        prev = rows.get((conv, tidx - 1))
        if prev is not None:
            assert r["n_tokens_lag1"] == prev["n_tokens"]


def test_asof_state_no_leakage_in_pipeline(data, spark):
    tdf, _, stdf, t, _, st = data
    out, _ = featurize_transcripts(tdf, stdf, max_seq_length=8, emb_dim=4)
    got = {
        (r["conv_id"], r["turn_idx"]): (tuple(r["state"]) if r["state"] else None)
        for r in out.collect()
    }
    st2 = st.rename(columns={"entity_id": "conv_id"})
    for _, turn in t.iterrows():
        cand = st2[(st2.conv_id == turn.conv_id) & (st2.ts <= turn.ts)]
        want = (
            tuple(cand.sort_values(["ts", "state_seq"]).iloc[-1]["state"])
            if len(cand)
            else None
        )
        assert got[(turn.conv_id, turn.turn_idx)] == want


def test_labeling_colocated_matches_reference(data, spark):
    tdf, sdf, _, t, s, _ = data
    classes = tuple(sorted(s["ne_type"].unique()))
    toks = tokenize_turns(tdf)
    lab = label_tokens_colocated(toks, sdf, classes)
    got = {(r["conv_id"], r["turn_idx"]): r["labels"] for r in lab.collect()}
    for (conv, tidx), grp in s.groupby(["conv_id", "turn_idx"]):
        text = textfns.normalize_text(
            t[(t.conv_id == conv) & (t.turn_idx == tidx)].iloc[0]["text"]
        )
        bounds = [(a, b) for _, a, b in textfns.tokenize_with_bounds(text)]
        ner = {}
        for _, row in grp.iterrows():
            ner.setdefault(row.ne_type, []).append((row.start, row.end))
        paint, i2c = textfns.paint_entity_chars(len(text), classes, ner)
        want = textfns.token_labels(bounds, paint, i2c, len(bounds)).tolist()
        assert got[(conv, tidx)] == want, (conv, tidx)
    # spans actually cover the phrases they claim
    tok_tbl = token_table(toks)
    assert tok_tbl.count() > 0


def test_entity_spans_slice_to_phrases(data, spark):
    _, _, _, t, s, _ = data
    merged = s.merge(t, on=["conv_id", "turn_idx"])
    phrases = {p for ps in datagen.ENTITY_PHRASES.values() for p in ps}
    for _, row in merged.iterrows():
        assert row.text[row.start:row.end] in phrases


def test_arrow_featurize_fn_matches_pure_reference():
    """The mapInArrow featurize body (zero-copy binary column, chunked
    output batches, bounded per-task vector table) must emit, for every
    turn, exactly the real-token rows of the pure ``turn_feature_matrix``
    bit for bit, plus the tokens and bounds of ``tokenize_with_bounds``.
    The edge corpus covers None/empty texts, truncation past
    max_seq_length, Unicode punctuation and a passthrough column;
    ``chunk_rows=2`` forces mid-batch splits, and ``cache_max_entries=2``
    forces a table reset between chunks across repeated calls (rows
    recomputed, not stale)."""
    import pyarrow as pa

    from deep_ner_spark.operators.features import make_fused_featurize_arrow_fn

    vocab = ("a", "A", "Aa", "D")
    texts = [
        "alpha beta 42 CamelCase",
        None,
        "",
        "x " * 40,  # truncates past max_seq_length=8
        "Gamma—delta v2.7, ok?",
    ]
    rb = pa.RecordBatch.from_arrays(
        [pa.array(["meta"] * len(texts)), pa.array(texts)],
        names=["other", "norm_text"],
    )
    for cap in (None, 2):
        fn = make_fused_featurize_arrow_fn(
            vocab, 8, emb_dim=4, chunk_rows=2, cache_max_entries=cap
        )
        for _ in range(3):
            got = pa.Table.from_batches(list(fn(iter([rb])))).to_pylist()
            assert [r["other"] for r in got] == ["meta"] * len(texts)
            for text, r in zip(texts, got):
                triples = textfns.tokenize_with_bounds(text or "")
                toks = [t for t, _, _ in triples]
                assert r["tokens"] == toks, (cap, text)
                assert r["starts"] == [s for _, s, _ in triples], (cap, text)
                assert r["ends"] == [e for _, _, e in triples], (cap, text)
                want = reference_matrix(toks, vocab, 8, 4)
                n = min(len(toks), 8)
                assert r["features"] == want[:n].tobytes(), (cap, text)


def test_arrow_featurize_cache_cap_resets_without_changing_output():
    """A capped arrow fn emits byte-identical features to an uncapped one
    across repeated calls."""
    import pyarrow as pa

    from deep_ner_spark.operators.features import make_fused_featurize_arrow_fn

    vocab = ("a", "A", "D")
    texts = ["alpha beta 42", "Gamma delta", "x1 y2 z3 alpha", "", "beta 42"]
    rb = pa.RecordBatch.from_arrays([pa.array(texts)], names=["norm_text"])
    free = make_fused_featurize_arrow_fn(vocab, 8, emb_dim=4)
    ref = pa.Table.from_batches(list(free(iter([rb])))).to_pandas()
    capped = make_fused_featurize_arrow_fn(vocab, 8, emb_dim=4, cache_max_entries=2)
    for _ in range(3):
        got = pa.Table.from_batches(list(capped(iter([rb])))).to_pandas()
        assert [bytes(x) for x in got["features"]] == [
            bytes(x) for x in ref["features"]
        ]
