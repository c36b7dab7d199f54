"""The traced run: per-layer metrics for every engine layer.

After the untraced loop, the Spark context restarts with the event log on
(same JVM) and the workload's loop runs again, one top-level span per op.
Then every layer is called in isolation under its own span: on the
workload's own inputs where it has them, otherwise on a small probe input
generated from the same seed.  Spans set the job group, so the event log
folds per span; plans and streaming progress are read from the engine's
own objects.

Layers are named after modules.  ``windows`` shares its stage with
``asof``, so it is measured as the increment of an (as-of + windows) span
over an as-of-only span; ``featurize`` runs over a pre-materialized slim
frame so its span holds the Python/Arrow boundary alone.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import trace
from perfbench.host import log, tree_usage
from perfbench.oracle import EMB_DIM, MAX_SEQ
from perfbench.workloads import (
    WORKLOADS, NearDup, PitBackfill, PitUnits, Sample, StreamAsof, asof_only,
    closed_loop, read_transcripts, slim_agg, slim_chain,
)

G_LAYERS = ("fit", "featurize", "asof", "windows", "jaccard", "components")
# G minus spill_bytes and gc_s, which read 0 at these input sizes (a metric
# that always reads 0 says nothing); the report line still carries both
G_KEPT = tuple(k for k in trace.GENERIC if k not in ("spill_bytes", "gc_s"))
TEXTFNS = ("normalize_us", "tokenize_us", "shape_us", "pos_dep_us", "embed_us", "matrix_us")
STREAM = ("add_batch_s", "state_commit_s", "state_update_s", "planning_s",
          "wal_commit_s", "state_rows", "state_bytes")

UNITS = {
    "wall_s": "s", "self_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "records_out": "count",
    "jobs": "count", "task_skew": "ratio",
}
BETTER = {"records_out": "higher"}

PER_LAYER: dict[str, tuple[str, str]] = {"session.start_s": ("s", "lower")}
PER_LAYER.update({f"textfns.{k}": ("us", "lower") for k in TEXTFNS})
for _layer in G_LAYERS:
    PER_LAYER.update(
        {f"{_layer}.{k}": (UNITS[k], BETTER.get(k, "lower")) for k in G_KEPT}
    )
PER_LAYER.update({
    "featurize.out_bytes_per_turn": ("bytes", "lower"),
    "featurize.cpu_per_turn_us": ("us", "lower"),
    "featurize.boundary_overhead": ("ratio", "lower"),
    "asof.exchanges": ("count", "lower"),
    "windows.exchanges": ("count", "lower"),
    "pipeline.exchanges": ("count", "lower"),
    "pipeline.python_evals": ("count", "lower"),
    "pipeline.input_bytes": ("bytes", "lower"),
    "pipeline.wall_s": ("s", "lower"),
    "checkpoint.write_s": ("s", "lower"),
    "checkpoint.lineage_s": ("s", "lower"),
    "checkpoint.append_s": ("s", "lower"),
    "checkpoint.jobs_per_unit": ("count", "lower"),
    "checkpoint.bytes_per_unit": ("bytes", "lower"),
    "checkpoint.unit_s": ("s", "lower"),
    "jaccard.candidates": ("count", "lower"),
    "jaccard.pairs_per_candidate": ("ratio", "higher"),
    "components.rounds": ("count", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
})
PER_LAYER.update({f"stream.{k}": ("s" if k.endswith("_s") else (
    "count" if k == "state_rows" else "bytes"), "lower") for k in STREAM})

TOP_SPAN = {"pit_backfill": "pipeline", "pit_units": "checkpoint",
            "near_dup": "dedup", "stream_asof": "stream"}
PROBE_SIZES = {"pit_backfill": 3_000, "pit_units": 2_000, "near_dup": 600,
               "stream_asof": 300}


def _probe(env, name, **attrs):
    wl = WORKLOADS[name](env)
    wl.size = PROBE_SIZES[name]
    for k, v in attrs.items():
        setattr(wl, k, v)
    wl.prepare()
    wl.start()
    return wl


def _run_ops(tracer, span, wl, n):
    samples = []
    for _ in range(n):
        with tracer.span(span):
            samples += wl.op()
    return samples


def textfns_bench(texts, vocab, repeats=3) -> dict:
    """Single-thread kernels in this process, microseconds per turn (median of repeats)."""
    from deep_ner_spark import textfns
    from deep_ner_spark.operators.features import turn_feature_matrix

    norms = [textfns.normalize_text(t) for t in texts]
    toks = [textfns.tokenize(n)[:MAX_SEQ] for n in norms]
    shapes = [[textfns.shape_of_string(x) for x in ts] for ts in toks]
    tags = [[textfns.heuristic_pos_dep(x, i) for i, x in enumerate(ts)] for ts in toks]
    kernels = {
        "normalize_us": lambda: [textfns.normalize_text(t) for t in texts],
        "tokenize_us": lambda: [textfns.tokenize_with_bounds(n) for n in norms],
        "shape_us": lambda: [[textfns.shape_of_string(x) for x in ts] for ts in toks],
        "pos_dep_us": lambda: [
            [textfns.heuristic_pos_dep(x, i) for i, x in enumerate(ts)] for ts in toks
        ],
        "embed_us": lambda: [[textfns.hash_embedding(x, EMB_DIM) for x in ts] for ts in toks],
        "matrix_us": lambda: [
            turn_feature_matrix(ts, sh, [p for p, _ in tg], [d for _, d in tg],
                                vocab, MAX_SEQ, EMB_DIM)
            for ts, sh, tg in zip(toks, shapes, tags)
        ],
    }
    out = {}
    for name, fn in kernels.items():
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) / len(texts) * 1e6
    return out


def _checkpoint_job_kind(plan: str) -> str:
    """write / lineage / append / other, from a checkpoint job's SQL plan."""
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "append" if "/checkpoint" in plan else "write"
    if "crc32" in plan:
        return "lineage"
    return "other"


def _stream_metrics(progress: list[dict]) -> dict:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        return {f"stream.{k}": 0.0 for k in STREAM} | {"stream.rows_dropped_late": 0}

    def med(fn):
        return statistics.median(fn(p) for p in data)

    def op(p):
        return (p.get("stateOperators") or [{}])[0]

    last = op(data[-1])
    return {
        "stream.add_batch_s": med(lambda p: p["durationMs"].get("addBatch", 0)) / 1e3,
        "stream.state_commit_s": med(lambda p: op(p).get("commitTimeMs", 0)) / 1e3,
        "stream.state_update_s": med(lambda p: op(p).get("allUpdatesTimeMs", 0)) / 1e3,
        "stream.planning_s": med(lambda p: p["durationMs"].get("queryPlanning", 0)) / 1e3,
        "stream.wal_commit_s": med(lambda p: p["durationMs"].get("walCommit", 0)) / 1e3,
        "stream.state_rows": last.get("numRowsTotal", 0),
        "stream.state_bytes": last.get("memoryUsedBytes", 0),
        "stream.rows_dropped_late": sum(
            op(p).get("numRowsDroppedByWatermark", 0) for p in progress
        ),
        "stream.batches": len(data),
    }


def _progress(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _transcript_layers(env, tracer, wl, out, extra):
    """fit, asof, windows, featurize, textfns and the pipeline plan."""
    from pyspark.sql import functions as F

    from deep_ner_spark.operators.features import featurize_fused, fit_shape_vocab_from_text

    spark = env.spark
    tw = wl if isinstance(wl, (PitBackfill, PitUnits)) else _probe(env, "pit_backfill")
    if isinstance(tw, PitUnits):
        turns, state = read_transcripts(
            spark, f"{tw.path}/transcripts", f"{tw.path}/entity_state"
        )
    else:
        turns, state = tw.turns, tw.state
    pw = tw if isinstance(tw, PitBackfill) else _probe(env, "pit_backfill")
    if pw is not wl:
        extra += _run_ops(tracer, "pipeline", pw, 1)
    nodes = trace.plan_nodes(pw.last_agg_df)
    out["pipeline.exchanges"] = trace.count_nodes(nodes, "Exchange")
    out["pipeline.python_evals"] = trace.count_nodes(nodes, *trace.PYTHON_NODES)
    out["pipeline.turns"] = pw.n_turns

    with tracer.span("fit"):
        vocab = tuple(fit_shape_vocab_from_text(turns))
    with tracer.span("asof"):
        a_df = slim_agg(asof_only(turns, state))
        a_df.collect()
    with tracer.span("asof+windows"):
        w_df = slim_agg(slim_chain(turns, state))
        w_df.collect()
    out["asof.exchanges"] = trace.count_nodes(trace.plan_nodes(a_df), "Exchange")
    out["windows.exchanges"] = (
        trace.count_nodes(trace.plan_nodes(w_df), "Exchange") - out["asof.exchanges"]
    )

    # featurize alone: over the slim phase materialized beforehand
    slim_path = os.path.join(env.work, "slim")
    slim_chain(turns, state).write.mode("overwrite").parquet(slim_path)
    slim = spark.read.parquet(slim_path)
    cpu0 = tree_usage(env.jvm_pid)[1]
    with tracer.span("featurize"):
        feats = featurize_fused(slim, vocab, MAX_SEQ, EMB_DIM)
        n, blob_bytes = feats.select(
            F.count("*"), F.sum(F.length("features")), F.sum(F.crc32("norm_text")),
            F.sum(F.size("tokens")), F.sum(F.size("starts")), F.sum(F.size("ends")),
            F.sum("n_tokens"), F.max("feature_width"),
        ).collect()[0][:2]
    cpu_us = (tree_usage(env.jvm_pid)[1] - cpu0) / max(n, 1) * 1e6
    tb = textfns_bench(tw.texts, vocab)
    out.update({f"textfns.{k}": v for k, v in tb.items()})
    out["featurize.out_bytes_per_turn"] = blob_bytes / max(n, 1)
    out["featurize.cpu_per_turn_us"] = cpu_us
    out["featurize.boundary_overhead"] = cpu_us / sum(tb.values())
    out["transcript_layer_turns"] = tw.n_turns


def _checkpoint_layer(env, tracer, wl, extra) -> int:
    """Runs a probe backfill pass unless ``wl`` is pit_units; returns units run."""
    cw = wl if isinstance(wl, PitUnits) else _probe(env, "pit_units", n_buckets=2)
    if cw is not wl:
        cw.begin_measure()
        extra += _run_ops(tracer, "checkpoint", cw, 1)
    return len(cw.pass_walls) * len(cw.units)


def _dedup_layers(env, tracer, wl, out, extra):
    """jaccard pairs, then connected components over the materialized pairs."""
    from deep_ner_spark.operators.dedup import connected_components, jaccard_pairs

    dw = wl if isinstance(wl, NearDup) else _probe(env, "near_dup")
    with tracer.span("jaccard"):
        jp = jaccard_pairs(dw.docs, "doc_id", "text", n=3, threshold=0.5)
        pairs = jp.collect()
    extra.append(_sample_ok(len(pairs) == dw.expected_pairs))
    # every candidate passes through the verify joins, whose widest
    # output is the candidate count
    cand = max([r for n, r in trace.plan_nodes(jp) if n.endswith("Join")] or [0])
    out["jaccard.candidates"] = cand
    out["jaccard.pairs_per_candidate"] = len(pairs) / cand if cand else 0.0
    pairs_df = env.spark.createDataFrame(
        [(r["id_a"], r["id_b"]) for r in pairs], "id_a long, id_b long"
    )
    with tracer.span("components"):
        cc = connected_components(pairs_df, dw.docs.select("doc_id"), "doc_id").collect()
    extra.append(_sample_ok(
        len(cc) == len(dw.expected)
        and all(dw.expected[r["doc_id"]][0] == r["cluster_id"] for r in cc)
    ))


def _stream_layer(env, tracer, wl, out, extra):
    if isinstance(wl, StreamAsof):
        progress = _progress(wl.query)
    else:
        sw = _probe(env, "stream_asof", n_chunks=2)
        sw.begin_measure()
        extra += _run_ops(tracer, "stream", sw, 2)
        progress = _progress(sw.query)
        _, bad = sw.close_query()
        extra.append(_sample_ok(bad == 0))
    out.update(_stream_metrics(progress))


def _fold(tracer, groups, sql_plans, units_done, out):
    """Event-log totals per span name -> G per layer, checkpoint split, rounds."""
    folded = {name: trace.fold_spans(tracer, groups, name)
              for name in ("fit", "featurize", "asof", "asof+windows", "jaccard",
                           "components", "pipeline", "checkpoint")}
    # windows share as-of's stage: their time is the increment over the
    # as-of-only span; volumes, jobs and skew are the shared stage's own
    both = folded["asof+windows"]
    folded["windows"] = dict(both) | {
        k: both[k] - folded["asof"][k] for k in ("wall_s", "self_s", "task_cpu_s", "gc_s")
    }
    for layer in G_LAYERS:
        for k in trace.GENERIC:
            out[f"{layer}.{k}"] = folded[layer][k]
    pipe = folded["pipeline"]
    out["pipeline.input_bytes"] = pipe["input_bytes"] / max(pipe["n_spans"], 1)
    out["pipeline.wall_s"] = pipe["wall_s"] / max(pipe["n_spans"], 1)

    split = dict.fromkeys(("write", "lineage", "append", "other"), 0.0)
    ck_jobs = ck_bytes = 0
    round_sql = set()
    for sp in tracer.spans:
        g = groups.get(sp["id"])
        if not g:
            continue
        if sp["name"] == "checkpoint":
            ck_jobs += g["jobs"]
            ck_bytes += g["output_bytes"]
            for job in g["job_call_sites"]:
                kind = _checkpoint_job_kind(sql_plans.get(job["sql_id"], ""))
                split[kind] += job.get("wall_s", 0.0)
        elif sp["name"] == "components":
            # one label-sum convergence aggregate per hash-min round
            round_sql |= {
                j["sql_id"] for j in g["job_call_sites"]
                if "decimal(38,0)" in sql_plans.get(j["sql_id"], "")
            }
    units_done = max(units_done, 1)
    out.update({f"checkpoint.{k}_s": v / units_done for k, v in split.items()})
    out.update({
        "checkpoint.jobs_per_unit": ck_jobs / units_done,
        "checkpoint.bytes_per_unit": ck_bytes / units_done,
        "checkpoint.unit_s": folded["checkpoint"]["wall_s"] / units_done,
        "components.rounds": len(round_sql),
    })


def traced_run(env, wl, seconds: float, untraced_items_per_s: float):
    """Returns (per-layer metrics, ops attempted, ops failed)."""
    ev_dir = os.path.join(env.work, "eventlog")
    env.stop_spark()
    env.start_spark(ev_dir)
    tracer = trace.Tracer(env.spark.sparkContext, f"{wl.name}-{env.seed}")
    wl.start()
    wl.op()  # warm the restarted context, untraced
    wl.begin_measure()
    samples, wall, _ = closed_loop(wl, seconds, tracer, TOP_SPAN[wl.name])
    out = {
        "trace.overhead": untraced_items_per_s / wl.summary(samples),
        "trace.span_coverage": sum(s["end"] - s["start"] for s in tracer.spans) / wall,
        "session.start_s": env.report["setup"]["start_s"],
    }
    extra: list = []
    log("perfbench: trace: loop done")
    _transcript_layers(env, tracer, wl, out, extra)
    log("perfbench: trace: transcript layers done")
    units_done = _checkpoint_layer(env, tracer, wl, extra)
    log("perfbench: trace: checkpoint done")
    _dedup_layers(env, tracer, wl, out, extra)
    log("perfbench: trace: dedup done")
    _stream_layer(env, tracer, wl, out, extra)
    log("perfbench: trace: stream done")
    # the loop's own post-checks (e.g. the stream flush) before the log closes
    chk_attempted, chk_failed = wl.check()
    env.stop_spark()
    groups, sql_plans = trace.parse_event_log(trace.event_log_files(ev_dir))
    _fold(tracer, groups, sql_plans, units_done, out)
    env.report["spans"] = tracer.spans
    attempted = len(samples) + len(extra) + chk_attempted
    failed = sum(not s.ok for s in samples + extra) + chk_failed
    return out, attempted, failed


def _sample_ok(ok: bool):
    return Sample(0.0, 0, bool(ok))
