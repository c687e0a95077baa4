"""The two closed-loop workloads: one client, one operation at a time.

Each workload's inputs are generated from the seed (in the oracle process,
so the generator's memory is not the Spark driver's). Operations are dealt in
decks with a fixed mix, so every run measures the same mix; a run ends after
a whole deck once the engine time reaches the run length and at least
``min_ops`` operations ran. Every result is
checked against DuckDB. ``step`` returns one ``OpSample`` per operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from check import Canonical
from inputs import INGEST_SQL, STREAM_SQL, FrameStream, StatementStream

#: Tables each sql_mix template reads; their row counts are the input rows
#: of ``rows_per_s``.
TEMPLATE_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier_volume": ("customer", "orders", "lineitem", "supplier"),
    "window_top3_orders_per_customer": ("orders",),
    "events_hourly": ("events",),
    "json_props_avg": ("events",),
    "cosine_top20_pairs": ("embeddings",),
    "spark_flag_quantity": ("lineitem",),
    "spark_priority_rank": ("orders",),
    "recursive_cte_reachability": ("nation",),
    "recursive_cte_hierarchy": ("part",),
}

#: curation entries ("bench-heavy" catalog pipeline entries) -> the operator
#: family whose body does the work.
CURATION = (
    ("dedup_near_minhash", "dedup"),
    ("crawl_curation_chain", "text"),
    ("fuzzy_join_parts", "joins"),
    ("ann_lsh_top10", "similarity"),
    ("dsir_importance_resample", "sampling"),
)

STREAM_FILES_KEPT = 4


@dataclass
class OpSample:
    latency_s: float
    cpu_s: float  # CPU time of the engine's processes during the operation
    cold: bool
    rows: float
    ok: bool
    kind: str = "op"  # "drain" samples are reported apart from operations


def _mismatch(ctx, got: Canonical, expected: Canonical, what: str) -> bool:
    reason = got.mismatch(expected)
    if reason is not None:
        ctx.log(f"MISMATCH {what}: {reason}")
    return reason is None


class SqlMix:
    """Statements through ``Engine.sql`` then ``Result.to_pandas``, mixed
    with pandas round-trips: a frame through ``Engine.register``, a join or
    aggregate against the fixtures and ``to_pandas``. Every few frames are
    also appended to a parquet stream that is drained through
    ``Engine.register_stream`` and ``Result.drain``; drains are reported
    apart from the operations."""

    name = "sql_mix"
    scale = "sf0.01"
    near_dup_share = 0.0
    nominal_op_s = 0.5
    deck = StatementStream.deck_size + FrameStream.deck_size
    min_ops = deck

    def __init__(self, seed: int):
        self.seed = seed

    def start(self, ctx) -> None:
        from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

        self.rng = np.random.default_rng(self.seed)
        self.statements = StatementStream(self.seed)
        self.frames = FrameStream(self.seed, ctx.row_counts["orders"], ctx.row_counts["customer"])
        self.seen: set[str] = set()
        self.cards: list[bool] = []  # True = a statement, False = a frame
        self.stream_dir = os.path.join(ctx.tmp, "stream")
        os.makedirs(self.stream_dir)
        self.stream_files: list[str] = []
        self.stream_schema = StructType([
            StructField("tag", StringType()), StructField("amount", DoubleType()),
            StructField("ckey", LongType()),
        ])
        ctx.info.update({
            "repeat_share": round(self.statements.repeat_share, 3),
            "null_share": round(self.frames.null_share, 4),
            "append_every": self.frames.append_every,
        })
        self._warm_up(ctx)

    def _warm_up(self, ctx) -> None:
        """Run each statement template and each frame query once, untimed and
        untraced, so the first run of a plan in the JVM (class loading, JIT)
        lands on no measured operation. Warm-up results are checked too."""
        warm_frames = FrameStream([self.seed, 1], ctx.row_counts["orders"], ctx.row_counts["customer"])
        frames = {}
        for _ in range(FrameStream.deck_size):
            frame, kind, _ = warm_frames.next()
            frames.setdefault(kind, frame.head(200))
        enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
        try:
            samples = [s for st in self.statements.warmup() for s in self._statement(ctx, -1, st)]
            for kind, frame in frames.items():
                samples += self._frame(ctx, -1, (frame, kind, False))
        finally:
            ctx.tracer.enabled = enabled
        if not all(s.ok for s in samples):
            raise RuntimeError("a warm-up operation returned a wrong result")

    def step(self, ctx, index: int) -> list[OpSample]:
        if not self.cards:
            self.cards = [True] * StatementStream.deck_size + [False] * FrameStream.deck_size
            self.rng.shuffle(self.cards)
        if self.cards.pop():
            return self._statement(ctx, index)
        return self._frame(ctx, index)

    def _statement(self, ctx, index: int, st=None) -> list[OpSample]:
        st = st or self.statements.next()
        cold = st.text not in self.seen
        self.seen.add(st.text)
        tr = ctx.tracer
        with tr.operation(f"op-{index:05d}", st.template) as op:
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            with tr.span("engine.sql"):
                res = ctx.engine.sql(st.text, dialect=st.dialect)
            with tr.span("engine.to_pandas"):
                pdf = res.to_pandas()
            latency = time.perf_counter() - t0
            cpu = ctx.cpu_s() - c0
        tr.plan_phases(op, res.df)
        if op is not None:
            op.add("engine.result_rows", len(pdf))
        ok = _mismatch(ctx, Canonical.of_pandas(pdf), ctx.oracle.run(st.text), st.template)
        rows = sum(ctx.row_counts.get(t, 0) for t in TEMPLATE_TABLES[st.template])
        return [OpSample(latency, cpu, cold, rows, ok)]

    def _frame(self, ctx, index: int, dealt=None) -> list[OpSample]:
        frame, kind, append = dealt or self.frames.next()
        sql = INGEST_SQL[kind]
        cold = f"ingest_{kind}" not in self.seen
        self.seen.add(f"ingest_{kind}")
        tr = ctx.tracer
        with tr.operation(f"op-{index:05d}", f"ingest_{kind}") as op:
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            with tr.span("engine.register"):
                ctx.engine.register("ingest", frame)
            with tr.span("engine.sql"):
                res = ctx.engine.sql(sql, dialect="duckdb")
            with tr.span("engine.to_pandas"):
                pdf = res.to_pandas()
            latency = time.perf_counter() - t0
            cpu = ctx.cpu_s() - c0
        tr.plan_phases(op, res.df)
        if op is not None:
            op.add("engine.result_rows", len(pdf))
        ok = _mismatch(ctx, Canonical.of_pandas(pdf),
                       ctx.oracle.run(sql, tables={"ingest": frame}), f"ingest_{kind}")
        samples = [OpSample(latency, cpu, cold, len(frame) + len(pdf), ok)]
        if append:
            samples.append(self._drain(ctx, index, frame))
        return samples

    def _drain(self, ctx, index: int, frame) -> OpSample:
        path = os.path.join(self.stream_dir, f"part-{index:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(frame[["tag", "amount", "ckey"]], preserve_index=False), path)
        self.stream_files.append(path)
        while len(self.stream_files) > STREAM_FILES_KEPT:
            os.remove(self.stream_files.pop(0))
        tr = ctx.tracer
        with tr.operation(f"drain-{index:05d}", "drain") as op:
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            with tr.span("engine.register_stream"):
                ctx.engine.register_stream(
                    "ingest_stream",
                    ctx.spark.readStream.schema(self.stream_schema).parquet(self.stream_dir))
            with tr.span("engine.drain"):
                res = ctx.engine.sql(STREAM_SQL).drain()
            with tr.span("engine.to_pandas"):
                pdf = res.to_pandas()
            latency = time.perf_counter() - t0
            cpu = ctx.cpu_s() - c0
        if op is not None:
            op.add("engine.result_rows", len(pdf))
        ok = _mismatch(ctx, Canonical.of_pandas(pdf),
                       ctx.oracle.run(STREAM_SQL, tables={"ingest_stream": list(self.stream_files)}),
                       "drain")
        return OpSample(latency, cpu, False, 0, ok, kind="drain")


class Curation:
    """The bench-heavy pipeline entries over a near-duplicate corpus, each
    through ``QuerySpec.build`` then ``collect``. One operation is one pass
    over the five entries; the first pass is the cold one. A run makes two
    passes (on a shared 4-core host a warm pass took 15-23 s, a cold one
    25-36 s);
    more would not fit the benchmark's time budget. Each entry runs as its
    own traced operation, so layers are attributed per entry."""

    name = "curation"
    scale = "corpus"
    nominal_op_s = 12.0
    deck = 1
    min_ops = 2

    def __init__(self, seed: int):
        self.seed = seed
        # the seed sets the near-duplicate share of documents and embeddings
        self.near_dup_share = 0.05 + 0.1 * ((seed * 2654435761) % 1000) / 1000

    def start(self, ctx) -> None:
        self.specs = [(ctx.catalog[name], family) for name, family in CURATION]
        self.expected = {spec.name: ctx.oracle.run(spec.oracle) for spec, _ in self.specs}
        ctx.info["near_dup_share"] = round(self.near_dup_share, 4)

    def step(self, ctx, index: int) -> list[OpSample]:
        entries = [self._entry(ctx, index, spec, family) for spec, family in self.specs]
        latency = sum(lat for lat, _, _ in entries)
        cpu = sum(c for _, c, _ in entries)
        ok = all(entry_ok for _, _, entry_ok in entries)
        # a pass reads the whole corpus once
        return [OpSample(latency, cpu, index == 0, ctx.row_counts["documents"], ok)]

    def _entry(self, ctx, index: int, spec, family: str) -> tuple[float, float, bool]:
        tr = ctx.tracer
        with tr.operation(f"op-{index:05d}-{spec.name}", spec.name) as op:
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            with tr.span(f"operators.{family}"):
                with tr.span("queries.build"):
                    df = spec.build(ctx.spark, ctx.fixture_dir)
                with tr.span("spark.collect"):
                    rows = df.collect()
            latency = time.perf_counter() - t0
            cpu = ctx.cpu_s() - c0
        tr.plan_phases(op, df)
        if op is not None:
            op.add("engine.result_rows", len(rows))
        got = Canonical(df.columns, [tuple(r) for r in rows])
        return latency, cpu, _mismatch(ctx, got, self.expected[spec.name], spec.name)


WORKLOADS = {w.name: w for w in (SqlMix, Curation)}
