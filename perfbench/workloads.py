"""The four workloads and the calls into each engine layer.

Each workload generates its inputs from the seed (:mod:`perfbench.gen`),
computes its oracle once per input (:mod:`perfbench.oracle`), and runs
closed-loop: one pass, unit, or micro-batch in flight at a time.  A
workload's ``op()`` returns :class:`Sample` records; ``check()`` verifies
outputs that can only be checked after the loop.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen, oracle
from perfbench.host import log
from perfbench.oracle import EMB_DIM, MAX_SEQ

CHECKSUM_COLS = ["conv_id", "turn_idx", "state", "session_id"]


@dataclass
class Sample:
    seconds: float
    items: int
    ok: bool


# --- engine calls shared by workloads and layer probes ------------------------------


def read_transcripts(spark, turns_path: str, state_path: str):
    t = spark.read.parquet(turns_path)
    s = spark.read.parquet(state_path)
    # a hive-partitioned root carries its bucket column; the engine never sees it
    return t.drop("bucket"), s.drop("bucket")


def asof_only(turns, state):
    from deep_ner_spark.operators.asof import asof_join

    return asof_join(
        turns,
        state.withColumnRenamed("entity_id", "conv_id").select(
            "conv_id", "ts", "state_seq", "state"
        ),
        key_cols=["conv_id"],
        ts_col="ts",
        state_cols=["state"],
        seq_col="turn_idx",
        state_seq_col="state_seq",
    )


def slim_chain(turns, state):
    """as-of -> sessionize -> forward-fill -> lag/lead: the slim phase."""
    from deep_ner_spark.operators.windows import forward_fill, lag_lead, sessionize

    out = asof_only(turns, state)
    out = sessionize(out, ["conv_id"], "ts", 1800.0, order_cols=["turn_idx"])
    out = forward_fill(out, ["conv_id"], ["turn_idx"], ["role", "tool"])
    return lag_lead(out, ["conv_id"], ["turn_idx"], ["state"], offsets=(1,))


def _lsum(col):
    return F.sum(F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x))


def _ts_sum():
    return F.sum(F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(gen.EPOCH_US))


def pipeline_agg(out):
    """Consuming aggregate over EVERY output column of featurize_transcripts:
    a column left out lets Catalyst prune the stage that made it."""
    return out.select(
        F.count("*").alias("n"),
        F.sum(F.crc32("conv_id")).alias("conv"),
        F.sum("turn_idx").alias("turn"),
        _ts_sum().alias("ts"),
        F.sum("session_id").alias("sess"),
        F.sum(F.crc32("role_ffill")).alias("role"),
        F.sum(F.crc32("tool_ffill")).alias("tool"),
        F.sum("n_tokens").alias("ntok"),
        F.sum("n_tokens_lag1").alias("lag"),
        F.sum("n_tokens_lead1").alias("lead"),
        F.sum(F.crc32("norm_text")).alias("norm"),
        F.sum(F.crc32(F.concat_ws("\x1f", "tokens"))).alias("toks"),
        _lsum("starts").alias("starts"),
        _lsum("ends").alias("ends"),
        F.sum(F.length("features")).alias("feat_bytes"),
        F.max("feature_width").alias("width"),
        F.sum(F.round(F.col("state") * 1000).cast("long")).alias("state_k"),
        F.count("state").alias("state_n"),
    )


def slim_agg(out):
    """Consuming aggregate over every column of the slim phase (as-of
    only when ``out`` has no window columns)."""
    cols = set(out.columns)
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.crc32("conv_id")).alias("conv"),
        F.sum("turn_idx").alias("turn"),
        _ts_sum().alias("ts"),
        F.sum(F.crc32("text")).alias("text"),
        F.sum(F.crc32("role")).alias("role"),
        F.sum(F.crc32("tool")).alias("tool"),
        F.sum(F.round(F.col("state") * 1000).cast("long")).alias("state_k"),
        F.count("state").alias("state_n"),
    ]
    if "session_id" in cols:
        aggs += [
            F.sum("session_id").alias("sess"),
            F.sum(F.crc32("role_ffill")).alias("role_ffill"),
            F.sum(F.crc32("tool_ffill")).alias("tool_ffill"),
            F.sum(F.round(F.col("state_lag1") * 1000).cast("long")).alias("lag"),
            F.sum(F.round(F.col("state_lead1") * 1000).cast("long")).alias("lead"),
        ]
    return out.select(*aggs)


def featurize(turns, state, vocab=None):
    from deep_ner_spark.pipeline import featurize_transcripts

    return featurize_transcripts(
        turns, state, vocab=vocab, max_seq_length=MAX_SEQ, emb_dim=EMB_DIM,
        state_seq_col="state_seq",
    )


# --- workloads ---------------------------------------------------------------------


class Workload:
    name = ""
    items = ""  # what items_per_s counts
    size = 0

    def __init__(self, env):
        self.env = env
        self.gen_s = 0.0
        self.oracle_s = 0.0

    def prepare(self) -> None:
        """Generate inputs and oracle (cached); runs before any Spark session."""

    def start(self) -> None:
        """Bind inputs to the current Spark session."""

    def op(self) -> list[Sample]:
        raise NotImplementedError

    def end_session(self) -> None:
        """Release session-bound state before the Spark context stops."""

    def begin_measure(self) -> None:
        """Reset per-loop accounting once warm-up is over."""

    def check(self) -> tuple[int, int]:
        """(extra checks attempted, failed) made after the measured loop."""
        return 0, 0

    def summary(self, samples: list[Sample]) -> float:
        """items_per_s over the closed loop."""
        raise NotImplementedError

    def close(self) -> None:
        pass


def text_sample(orc, seed: int, n: int = 500) -> list[str]:
    texts = orc.column("text").to_pylist()
    return random.Random(seed).sample(texts, min(n, len(texts)))


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class PitBackfill(Workload):
    """Bulk featurize backfill: one featurize_transcripts pass per op."""

    name = "pit_backfill"
    items = "turns"
    size = 20_000
    state_per_turn = 1 / 3

    def prepare(self):
        env = self.env

        def build(out, rng):
            turns, state = gen.transcripts(rng, self.size, self.state_per_turn)
            gen.write_transcripts(out, turns, state, files=2 * env.cores)

        self.path, self.gen_s = gen.cached(env.cache, self.name, env.seed, self.size, build)
        t0 = time.perf_counter()
        orc = oracle.cached_table(
            f"{self.path}/oracle.parquet",
            lambda: oracle.pit_oracle(
                env.con, f"{self.path}/transcripts/*.parquet",
                f"{self.path}/entity_state/*.parquet",
            ),
        )
        self.expected = oracle.cached_json(
            f"{self.path}/expected.json", lambda: oracle.backfill_expected(orc)
        )
        self.oracle_s = time.perf_counter() - t0
        self.n_turns = orc.num_rows
        self.texts = text_sample(orc, env.seed)
        rng = random.Random(env.seed)
        convs = sorted(set(orc.column("conv_id").to_pylist()))
        self.sample_convs = rng.sample(convs, min(12, len(convs)))
        keep = set(self.sample_convs)
        self.sample_texts = {
            (c, t): x
            for c, t, x in zip(
                orc.column("conv_id").to_pylist(),
                orc.column("turn_idx").to_pylist(),
                orc.column("text").to_pylist(),
            )
            if c in keep
        }

    def start(self):
        self.turns, self.state = read_transcripts(
            self.env.spark, f"{self.path}/transcripts", f"{self.path}/entity_state"
        )

    def run_once(self):
        out, vocab = featurize(self.turns, self.state)
        agg = pipeline_agg(out)
        row = agg.collect()[0].asDict()
        self.last_agg_df = agg
        return row, vocab

    def op(self):
        (row, vocab), dt = _timed(self.run_once)
        exp = self.expected
        ok = list(vocab) == exp["vocab"] and row.pop("width") == exp["width"]
        ok = ok and all(row[k] == v for k, v in exp["agg"].items())
        return [Sample(dt, row["n"], ok)]

    def check(self):
        # every op already matched the vocabulary; featurizing only the
        # sampled conversations with it yields their exact output rows
        vocab = tuple(self.expected["vocab"])
        out, _ = featurize(
            self.turns.where(F.col("conv_id").isin(self.sample_convs)),
            self.state.where(F.col("entity_id").isin(self.sample_convs)),
            vocab,
        )
        rows = out.collect()
        bad = oracle.check_features(rows, self.sample_texts, vocab)
        self.env.report["feature_sample_turns"] = len(rows)
        self.env.report["feature_sample_bad"] = bad
        ok = bad == 0 and len(rows) == len(self.sample_texts)
        return 1, int(not ok)

    def summary(self, samples):
        return self.n_turns / statistics.median(s.seconds for s in samples)


class PitUnits(Workload):
    """Resumable slim backfill over conv-id bucket units."""

    name = "pit_units"
    items = "turns"
    size = 12_000
    state_per_turn = 3.0
    n_buckets = 8

    def prepare(self):
        env = self.env

        def build(out, rng):
            turns, state = gen.transcripts(rng, self.size, self.state_per_turn, zipf_hot=6)
            gen.write_bucketed(out, turns, state, self.n_buckets)

        self.path, self.gen_s = gen.cached(
            env.cache, f"{self.name}_b{self.n_buckets}", env.seed, self.size, build
        )
        t0 = time.perf_counter()
        self.oracle_path = f"{self.path}/oracle.parquet"
        orc = oracle.cached_table(
            self.oracle_path,
            lambda: oracle.pit_oracle(
                env.con, f"{self.path}/transcripts/*/*.parquet",
                f"{self.path}/entity_state/*/*.parquet",
            ),
        )
        self.oracle_s = time.perf_counter() - t0
        self.n_turns = orc.num_rows
        self.texts = text_sample(orc, env.seed)
        self.units = [f"{b:02d}" for b in range(self.n_buckets)]
        self.passes = 0
        self.pass_walls: list[float] = []

    def start(self):
        self.spark = self.env.spark

    def begin_measure(self):
        self.pass_walls = []

    def run_unit(self, unit):
        self.unit_starts.append(time.perf_counter())
        turns, state = read_transcripts(
            self.spark,
            f"{self.path}/transcripts/bucket={unit}",
            f"{self.path}/entity_state/bucket={unit}",
        )
        return slim_chain(turns, state)

    def run_pass(self):
        from deep_ner_spark.plans.checkpoint import CheckpointTable, resumable_backfill

        self.passes += 1
        base = os.path.join(self.env.work, f"units-{self.passes}")
        self.unit_starts: list[float] = []
        t0 = time.perf_counter()
        done = resumable_backfill(
            self.spark,
            self.units,
            self.run_unit,
            f"{base}/out",
            CheckpointTable(self.spark, f"{base}/checkpoint"),
            run_id=f"pass-{self.passes}",
            checksum_cols=CHECKSUM_COLS,
            ts_col="ts",
        )
        t1 = time.perf_counter()
        return base, done, t0, t1

    def op(self):
        base, done, t0, t1 = self.run_pass()
        self.pass_walls.append(t1 - t0)
        ends = self.unit_starts[1:] + [t1]
        bad = self.verify(base, done)
        shutil.rmtree(base, ignore_errors=True)
        sizes = self.unit_sizes()
        return [
            Sample(e - s, sizes[u], u not in bad)
            for u, s, e in zip(done, self.unit_starts, ends)
        ]

    def unit_sizes(self) -> dict:
        if not hasattr(self, "_sizes"):
            rows = self.env.con.execute(
                f"SELECT bucket, count(*) FROM read_parquet("
                f"'{self.path}/transcripts/*/*.parquet', hive_partitioning=true) "
                f"GROUP BY bucket"
            ).fetchall()
            self._sizes = {f"{int(b):02d}": n for b, n in rows}
        return self._sizes

    def verify(self, base: str, done: list) -> set:
        """Units whose written rows or lineage record differ from the oracle."""
        con = self.env.con
        cols = ("conv_id, turn_idx, state, session_id, role_ffill, tool_ffill, "
                "state_lag1, state_lead1")
        diff = con.execute(
            f"""
            WITH o AS (SELECT {cols}, epoch_us(ts) AS ts_us FROM
                       read_parquet('{base}/out/*/*.parquet')),
                 e AS (SELECT {cols}, ts_us FROM read_parquet('{self.oracle_path}'))
            SELECT DISTINCT conv_id FROM ((SELECT * FROM o EXCEPT ALL SELECT * FROM e)
                                          UNION ALL
                                          (SELECT * FROM e EXCEPT ALL SELECT * FROM o))
            """
        ).fetchall()
        bad = {f"{int(c[4:]) % self.n_buckets:02d}" for (c,) in diff}
        lineage = dict(
            con.execute(
                f"SELECT unit, row_count FROM read_parquet('{base}/checkpoint/*.parquet')"
            ).fetchall()
        )
        sizes = self.unit_sizes()
        bad |= {u for u in self.units if lineage.get(u) != sizes.get(u)}
        bad |= set(self.units) - set(done)
        return bad

    def summary(self, samples):
        return self.n_turns * len(self.pass_walls) / sum(self.pass_walls)


class NearDup(Workload):
    """dup_clusters over a generated near-duplicate document corpus."""

    name = "near_dup"
    items = "docs"
    size = 2_500

    def prepare(self):
        env = self.env

        def build(out, rng):
            docs = gen.documents(rng, self.size)
            os.makedirs(f"{out}/documents")
            step = -(-docs.num_rows // (2 * env.cores))
            for i in range(2 * env.cores):
                pq.write_table(docs.slice(i * step, step), f"{out}/documents/part-{i:03d}.parquet")

        self.path, self.gen_s = gen.cached(env.cache, self.name, env.seed, self.size, build)
        t0 = time.perf_counter()
        pairs = oracle.cached_table(
            f"{self.path}/pairs.parquet",
            lambda: oracle.jaccard_oracle(env.con, f"{self.path}/documents/*.parquet"),
        )
        self.expected_pairs = pairs.num_rows
        ids = env.con.execute(
            f"SELECT doc_id FROM read_parquet('{self.path}/documents/*.parquet')"
        ).fetchall()
        self.expected = oracle.clusters([i for (i,) in ids], pairs)
        self.oracle_s = time.perf_counter() - t0

    def start(self):
        self.docs = self.env.spark.read.parquet(f"{self.path}/documents")

    def run_once(self):
        from deep_ner_spark.operators.dedup import dup_clusters

        return dup_clusters(self.docs, "doc_id", "text", n=3, threshold=0.5).collect()

    def op(self):
        rows, dt = _timed(self.run_once)
        exp = self.expected
        ok = len(rows) == len(exp) and all(
            exp.get(r["doc_id"]) == (r["cluster_id"], r["cluster_size"])
            and r["is_canonical"] == int(r["doc_id"] == r["cluster_id"])
            for r in rows
        )
        return [Sample(dt, len(rows), ok)]

    def summary(self, samples):
        return len(self.expected) / statistics.median(s.seconds for s in samples)


STREAM_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("is_state", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class StreamAsof(Workload):
    """streaming_asof_attach over a file source fed one chunk at a time."""

    name = "stream_asof"
    items = "turns"
    size = 2_000  # rows per chunk
    n_chunks = 48

    def prepare(self):
        env = self.env

        def build(out, rng):
            for i, tbl in enumerate(gen.stream_chunks(rng, self.n_chunks, self.size)):
                pq.write_table(tbl, f"{out}/chunk-{i:04d}.parquet")

        self.path, self.gen_s = gen.cached(
            env.cache, f"{self.name}_c{self.n_chunks}", env.seed, self.size, build
        )
        self.chunks = [f"{self.path}/chunk-{i:04d}.parquet" for i in range(self.n_chunks)]
        self.turns_in = [
            pq.read_table(c, columns=["is_state"]).column("is_state").to_pylist().count(0)
            for c in self.chunks
        ]
        self.queries = 0
        self.query = None

    def start(self):
        self.spark = self.env.spark

    def open_query(self):
        from deep_ner_spark.streaming.asof import streaming_asof_attach

        self.queries += 1
        q = f"perfbench_stream_{self.queries}"
        self.src = os.path.join(self.env.work, f"{q}_src")
        os.makedirs(self.src)
        src = self.spark.readStream.schema(STREAM_SPARK_SCHEMA).parquet(self.src)
        self.query = (
            streaming_asof_attach(src)
            .writeStream.format("memory")
            .queryName(q)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(self.env.work, f"{q}_ckpt"))
            .start()
        )
        self.query_name = q
        self.fed: list[int] = []
        self.next_chunk = 0

    def feed(self, tbl_path: str) -> None:
        name = os.path.basename(tbl_path)
        tmp = os.path.join(self.env.work, f".{name}")
        shutil.copyfile(tbl_path, tmp)
        os.replace(tmp, os.path.join(self.src, name))
        self.query.processAllAvailable()

    def op(self):
        if self.query is None or self.next_chunk >= self.n_chunks:
            self.close_query()
            self.open_query()
        k = self.next_chunk
        _, dt = _timed(lambda: self.feed(self.chunks[k]))
        self.fed.append(k)
        self.next_chunk += 1
        return [Sample(dt, self.turns_in[k], True)]

    def flush_and_check(self) -> int:
        """Advance the watermark past every fed turn, then compare the sink
        with the batch as-of oracle; returns the number of fed chunks
        holding a wrong or missing turn."""
        last_ts = max(
            int(pq.read_table(self.chunks[k], columns=["ts"]).column("ts")
                .cast(pa.int64()).to_numpy().max())
            for k in self.fed
        )
        sentinel = pa.table(
            {
                "conv_id": ["~sentinel"], "is_state": [1],
                "ts": pa.array([last_ts + 86400 * 10**6], pa.timestamp("us", tz="UTC")),
                "seq": [0], "value": [0.0],
            },
            schema=gen.STREAM_SCHEMA,
        )
        path = os.path.join(self.env.work, f"sentinel-{self.queries}.parquet")
        pq.write_table(sentinel, path)
        self.feed(path)
        expected = oracle.stream_oracle(self.env.con, [self.chunks[k] for k in self.fed])
        deadline = time.monotonic() + 60
        table = self.query_name
        while time.monotonic() < deadline:
            n = self.spark.sql(f"SELECT count(*) AS n FROM {table}").collect()[0]["n"]
            if n >= len(expected):
                break
            time.sleep(0.2)
        got = {
            (r[0], r[1], r[2], r[3])
            for r in self.spark.sql(
                f"SELECT conv_id, turn_seq, ts_us, state_value FROM {table}"
            ).collect()
        }
        wrong = (expected - got) | (got - expected)
        if not wrong:
            return 0
        bad_keys = {(c, s) for c, s, _, _ in wrong}
        bad = 0
        for k in self.fed:
            t = pq.read_table(self.chunks[k]).to_pydict()
            if any(
                (c, s) in bad_keys
                for c, st, s in zip(t["conv_id"], t["is_state"], t["seq"])
                if st == 0
            ):
                bad += 1
        return bad

    def close_query(self):
        if self.query is not None:
            bad = self.flush_and_check() if self.fed else 0
            self.env.report.setdefault("stream_bad_chunks", 0)
            self.env.report["stream_bad_chunks"] += bad
            self.env.report.setdefault("stream_checked_chunks", 0)
            self.env.report["stream_checked_chunks"] += len(self.fed)
            self.query.stop()
            self.query = None
            return len(self.fed), bad
        return 0, 0

    def end_session(self):
        self.close_query()

    def begin_measure(self):
        self.env.report["stream_bad_chunks"] = 0
        self.env.report["stream_checked_chunks"] = 0

    def check(self):
        # every fed chunk was counted as an attempted op already; a chunk
        # with a wrong turn becomes a failure here
        _, bad = self.close_query()
        return 0, bad

    def summary(self, samples):
        return sum(s.items for s in samples) / sum(s.seconds for s in samples)

    def close(self):
        if self.query is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (PitBackfill, PitUnits, NearDup, StreamAsof)}


def guarded_op(wl):
    """One op; an op that raises counts as one failed sample."""
    t0 = time.perf_counter()
    try:
        return wl.op()
    except Exception:  # noqa: BLE001 - the loop must go on and report it
        log("perfbench: op failed\n" + traceback.format_exc())
        return [Sample(time.perf_counter() - t0, 0, False)]


def closed_loop(wl, seconds: float, tracer=None, span_name=None, sampler=None):
    """Ops back to back until ``seconds`` have passed; with a sampler, also
    the peak resident MB seen during each op."""
    samples, peaks = [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        if sampler:
            sampler.mark()
        if tracer:
            with tracer.span(span_name):
                samples += guarded_op(wl)
        else:
            samples += guarded_op(wl)
        if sampler:
            peaks.append(sampler.mark())
    return samples, time.perf_counter() - t0, peaks

