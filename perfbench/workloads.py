"""The two workloads, ``dashboard`` and ``jobs`` (made of the pipeline,
stream and corpus parts). Each is a closed loop driven from this process.

A workload is built in three steps that :mod:`run` times separately:
``prepare`` writes the inputs the warm-up needs (input generation is
excluded from set-up time), ``warmup`` runs one untimed operation on a
live session, ``run`` loops timed operations for the requested seconds.
``verify`` then checks every output against its DuckDB reference,
outside the timed region.

Operations call the engine through module attributes
(``io.load(...)``, ``queryspec.evaluate(...)``), so the traced run's
wrappers (see :mod:`spans`) see every call.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import shutil
import threading
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import check
import gen
import sparkstats

CORPUS_QUERIES = ("dedup_minhash_lsh", "text_quality_features", "ann_brute_topk")
_GROUPS = itertools.count()  # one Spark job group per traced operation


class Engine:
    """The engine's modules, imported once the session exists."""

    def __init__(self) -> None:
        from ts_data_pipeline_spark import io, registry
        from ts_data_pipeline_spark.operators import trades, window_agg
        from ts_data_pipeline_spark.plans import queryspec
        from ts_data_pipeline_spark.queries import flagship, telemetry
        from ts_data_pipeline_spark.queries.streaming import TRADE_VALUE_SCHEMA
        from ts_data_pipeline_spark.streaming import kafka_io, windowed

        self.io, self.registry, self.trades, self.window_agg = io, registry, trades, window_agg
        self.queryspec, self.flagship, self.telemetry = queryspec, flagship, telemetry
        self.kafka_io, self.windowed = kafka_io, windowed
        self.trade_value_schema = TRADE_VALUE_SCHEMA

    def instrument(self, tracer) -> None:
        """Wrap each layer's public functions for the traced run."""
        for owner, attr, name in (
            (self.io, "load", "io.load"),
            (self.telemetry, "events_as_parameter_values", "telemetry.events_as_parameter_values"),
            (self.telemetry, "events_as_event_model", "telemetry.events_as_event_model"),
            (self.queryspec, "evaluate", "queryspec.evaluate"),
            (self.queryspec, "evaluate_events", "queryspec.evaluate_events"),
            (self.trades, "events_as_option_trades", "trades.events_as_option_trades"),
            (self.window_agg, "option_window_agg", "window_agg.option_window_agg"),
            (self.kafka_io, "to_kafka_json", "kafka_io.to_kafka_json"),
            (self.kafka_io, "from_kafka_json", "kafka_io.from_kafka_json"),
            (self.windowed, "parquet_stream", "windowed.parquet_stream"),
            (self.windowed, "streaming_option_window_agg", "windowed.streaming_option_window_agg"),
        ):
            tracer.wrap(owner, attr, name, counter="io.load_calls" if name == "io.load" else None)


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.work = os.path.join(ctx.work, self.name)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.ops: list[dict] = []
        self.sizes: dict = {}
        self._lock = threading.Lock()

    # Engine modules and the session are attached by run.py after
    # get_spark returns.
    eng: Engine
    spark = None

    def attach(self, eng, spark) -> None:
        self.eng, self.spark = eng, spark

    def rng_for(self, i: int) -> np.random.Generator:
        """Inputs of operation i depend only on (seed, i), not on how many
        operations ran before it."""
        return np.random.default_rng([self.ctx.seed, i])

    def layer_ops(self) -> list[dict]:
        """The operations whose spans give the per-layer metrics."""
        return self.ops

    def run_op(self, build, execute, *, rows_in: int, table_bytes: int, traced: bool, **attrs) -> dict:
        tracer, sc = self.ctx.tracer, self.spark.sparkContext
        op = {"rows_in": rows_in, "table_bytes": table_bytes, "traced": traced, **attrs}
        if traced:
            group = f"op{next(_GROUPS)}"
            sc.setJobGroup(group, "")
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.op("op") as tid:
                    op["trace"] = tid
                    with tracer.span("driver.build"):
                        df = build()
                    with tracer.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec"):
                        op["result"] = execute(df)
            else:
                op["result"] = execute(build())
            op["error"] = None
        except Exception as e:  # counted in error_rate, kept in the sample
            op["error"] = f"{type(e).__name__}: {' '.join(str(e).split())[:300]}"
        op["latency_s"] = time.perf_counter() - t0
        if traced:
            stats = sparkstats.exec_metrics(sc, group)
            for k, v in stats.items():
                tracer.set_count(op["trace"], k, v)
            wall_ms = op["latency_s"] * 1000.0
            tracer.set_count(op["trace"], "exec.busy_share", stats["exec.run_ms"] / (wall_ms * self.ctx.cores))
            tracer.set_count(op["trace"], "exec.scan_share", stats["exec.input_bytes"] / max(table_bytes, 1))
        with self._lock:
            self.ops.append(op)
        return op

    def window_s(self) -> float:
        return sum(o["latency_s"] for o in self.ops)

    #: Untimed operations after the first, before timing starts: the
    #: JVM is still compiling hot code after one operation.
    extra_warmup = 0

    def warmup(self) -> None:
        """One untimed operation, the end of set-up."""
        self.step(0)
        self.warm_ops = [self.ops.pop()]

    def warm_more(self) -> None:
        for i in range(1, 1 + self.extra_warmup):
            self.step(i)
        self.warm_ops += self.ops
        self.ops = []

    def checked_ops(self) -> list[dict]:
        """Every operation run, warm-up included, is checked."""
        return self.warm_ops + self.ops

    def stop(self) -> None:
        pass

    @classmethod
    def scaled(cls, factor: float) -> dict:
        return {k: max(int(v * factor), 1) for k, v in cls.SIZES.items()}


# ---------------------------------------------------------------------
# dashboard
# ---------------------------------------------------------------------

class Dashboard(Workload):
    """Two clients sending seeded QuerySpec / EventQuerySpec requests
    against one Telemetry table; each sends its next request when the
    previous one returns."""

    name = "dashboard"
    clients = 2
    extra_warmup = 2
    SIZES = {"events": 500_000}

    def __init__(self, ctx, events: int) -> None:
        super().__init__(ctx)
        self.n_events, self.days = events, 30

    def prepare(self) -> None:
        table = gen.events_table(
            self.rng, self.n_events, gen.EPOCH_2024_US, self.days * gen.DAY_US,
            n_streams=2000, hostile_share=0.01,
        )
        self.path = gen.write_table(table, self.work, "events", row_group_size=32_768)
        self.table_bytes = os.path.getsize(self.path)
        self.ts = table.column("ts").cast("int64").to_numpy()
        sample = table.column("user_id").to_numpy()[self.rng.integers(0, table.num_rows, 5000)]
        self.specs = gen.dashboard_specs(self.rng, 4000, self.days, sample)
        self.ctx.log.add("dashboard.events", table)
        for s in self.specs:
            self.ctx.log.add_obj("dashboard.request", s)
        self.sizes = {"events": self.n_events, "days": self.days, "clients": self.clients,
                      "row_groups": pq.ParquetFile(self.path).metadata.num_row_groups}
        self._next = 0

    def _to_spec(self, s: dict):
        qs = self.eng.queryspec
        tags = [qs.TagFilter(*t) for t in s["tags"]]
        if s["kind"] == "events":
            return qs.EventQuerySpec(
                event_ids=s["event_ids"], aggregation=s["agg"], interval=s["interval"],
                interpolation=s["interp"], from_ts=s["from"], to_ts=s["to"],
                stream_ids=s["streams"], include_levels=s["include"],
                exclude_levels=s["exclude"], tag_filters=tags, group_by_tags=s["group_tags"],
            )
        return qs.QuerySpec(
            numeric_aggregations=[qs.NumericAggregation(*a) for a in s["numeric"]],
            string_aggregations=[qs.StringAggregation(*a) for a in s["string"]],
            from_ts=s["from"], to_ts=s["to"], stream_ids=s["streams"], tag_filters=tags,
            group_by_time=qs.GroupByTime(*s["gbt"]) if s["gbt"] else None,
            group_by_tags=s["group_tags"],
            orderings=[qs.Ordering(*o) for o in s["order"]],
            paging=qs.Paging(*s["page"]) if s["page"] else None,
        )

    def _rows_in_range(self, s: dict) -> int:
        lo, hi = (
            (np.datetime64(s[k]).astype("datetime64[us]").astype(np.int64)) for k in ("from", "to")
        )
        return int(np.searchsorted(self.ts, hi) - np.searchsorted(self.ts, lo))

    def request(self, idx: int) -> dict:
        s = self.specs[idx % len(self.specs)]
        spec = self._to_spec(s)
        eng, spark, d = self.eng, self.spark, self.work

        def build():
            ev = eng.io.load(spark, d, "events")
            if s["kind"] == "events":
                return eng.queryspec.evaluate_events(eng.telemetry.events_as_event_model(ev), spec)
            return eng.queryspec.evaluate(eng.telemetry.events_as_parameter_values(ev), spec)

        return self.run_op(
            build, lambda df: df.toPandas(), rows_in=self._rows_in_range(s),
            table_bytes=self.table_bytes, traced=self.ctx.trace,
            spec=idx % len(self.specs), kind=s["kind"], hostile=s["hostile"],
        )

    def step(self, i: int) -> None:
        """Warm-up requests come from the far end of the request list."""
        self.request(len(self.specs) - 1 - i)

    #: Whole cycles of slots timed at least, whatever ``seconds`` says:
    #: resampling one run's requests, the median of 40 spread about half
    #: as much as that of 20.
    min_cycles = 2

    def run(self, seconds: float) -> None:
        """Clients stop taking requests once ``seconds`` have passed, at the
        end of a whole cycle of slots (at least ``min_cycles``), so every
        run times the same mix."""
        deadline = time.monotonic() + seconds
        t0 = time.perf_counter()

        def client() -> None:
            while True:
                with self._lock:
                    idx = self._next
                    if (idx >= self.min_cycles * gen.CYCLE and idx % gen.CYCLE == 0
                            and time.monotonic() >= deadline):
                        return
                    self._next += 1
                self.request(idx)

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self._window = time.perf_counter() - t0

    def window_s(self) -> float:
        return self._window

    def verify(self) -> None:
        con = duckdb.connect()
        con.execute(f"CREATE TABLE events AS SELECT * FROM read_parquet('{self.path}')")
        tel = self.eng.telemetry
        con.execute(f"CREATE TABLE pv_rows AS {tel.PV_SQL}")
        con.execute(f"CREATE TABLE ev_rows AS {tel.EV_SQL}")
        qs = self.eng.queryspec
        for op in self.checked_ops():
            if op["error"]:
                continue
            s = self.specs[op["spec"]]
            if s["kind"] == "events":
                want = con.execute(check.event_oracle_sql(s, "SELECT * FROM ev_rows")).df()
            else:
                spec = dataclasses.replace(self._to_spec(s), orderings=[], paging=None)
                want = con.execute(qs.oracle_sql(spec, "SELECT * FROM pv_rows")).df()
                if s["order"]:
                    want = check.spark_order(want, s["order"], s["page"])
            err = check.mismatch(op["result"], want, ordered=bool(s.get("order")))
            op["error"] = err and f"request {op['spec']}: {err}"
            op["result"] = None
        con.close()


# ---------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------

class Pipeline(Workload):
    """Trading-day jobs: load, enrich, the option-trades topic hop
    (to/from Kafka JSON), the windowed aggregate, Kafka JSON again, and
    a parquet write to a fresh sink."""

    name = "pipeline"

    def __init__(self, ctx, events: int) -> None:
        super().__init__(ctx)
        self.n_events = events
        self.sizes = {"events_per_day": events, "trading_day_hours": 6.5}

    def _day(self, i: int) -> str:
        d = os.path.join(self.work, f"day{i}")
        start = gen.EPOCH_2024_US + i * gen.DAY_US + int(9.5 * 3600e6)
        table = gen.events_table(
            self.rng_for(i), self.n_events, start, int(6.5 * 3600e6), n_streams=2000,
            first_id=i * self.n_events, shuffle=False,
        )
        gen.write_table(table, d, "events", row_group_size=65_536)
        self.ctx.log.add("pipeline.events", table)
        return d

    def prepare(self) -> None:
        self.pending = self._day(0)

    def step(self, i: int) -> None:
        d = self.pending if i == 0 else self._day(i)
        eng, spark = self.eng, self.spark
        sink = os.path.join(d, "sink")
        schema = eng.trade_value_schema

        def build():
            enriched = eng.trades.events_as_option_trades(eng.io.load(spark, d, "events"))
            wire = eng.kafka_io.to_kafka_json(
                enriched, key_col="osym", value_cols=[f.name for f in schema.fields], ts_col="ts"
            )
            trades = eng.kafka_io.from_kafka_json(wire, schema, ts_field="ts")
            agg = eng.window_agg.option_window_agg(trades)
            return eng.kafka_io.to_kafka_json(agg, key_col="osym", ts_col="window_start")

        self.run_op(
            build, lambda df: df.write.mode("error").parquet(sink),
            rows_in=self.n_events, table_bytes=os.path.getsize(os.path.join(d, "events.parquet")),
            traced=self.ctx.trace, dir=d, kind="pipeline",
        )

    def verify(self) -> None:
        """Decode the sink's Kafka JSON back to columns in DuckDB and
        compare with the reference over the day file."""
        shape = {"osym": "BIGINT", "window_start": "BIGINT", "window_end": "TIMESTAMPTZ",
                 "trade_count": "BIGINT"}
        for stem, *_ in self.eng.window_agg.accumulator_names():
            shape.update({f"{stem}_vol": "BIGINT", f"{stem}_prem": "DOUBLE"})
        cols = ", ".join(
            "make_timestamp(v.window_start * 1000) AS window_start" if c == "window_start" else f"v.{c} AS {c}"
            for c in shape
        )
        ref = self.eng.window_agg.option_window_agg_sql(self.eng.flagship.TRADES_SQL)
        for op in self.checked_ops():
            d = op["dir"]
            if not op["error"]:
                con = duckdb.connect()
                con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
                con.execute(f"CREATE VIEW sink AS SELECT * FROM read_parquet('{d}/sink/*.parquet')")
                con.execute(f"CREATE TABLE got AS SELECT key, json_transform(value, '{json.dumps(shape)}') AS v FROM sink")
                bad_keys = con.execute(
                    "SELECT count(*) FROM got WHERE key IS DISTINCT FROM CAST(v.osym AS VARCHAR)"
                ).fetchone()[0]
                if bad_keys:
                    op["error"] = f"{bad_keys} Kafka keys differ from osym"
                else:
                    got = con.execute(f"SELECT {cols} FROM got").df()
                    op["error"] = check.mismatch(got, con.execute(ref).df())
                con.close()
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------

class Stream(Workload):
    """The flagship as a Structured Streaming query over a parquet file
    source: land one chunk, wait for processAllAvailable, land the next."""

    name = "stream"
    grace_ms = 1000  # the watermark delay of streaming_option_window_agg
    chunk_minutes = 10

    def __init__(self, ctx, events: int) -> None:
        super().__init__(ctx)
        self.n_events, self.chunk_us = events, self.chunk_minutes * 60_000_000
        self.sizes = {"events_per_chunk": events, "chunk_minutes": self.chunk_minutes}
        self.src = os.path.join(self.work, "in")
        self.sink = os.path.join(self.work, "sink")
        self.snapshots: list[tuple[set, int]] = []
        self.max_ts_us = 0
        self._progress_ts: set[str] = set()
        self._seen_jobs: set[int] = set()

    def _chunk(self, i: int) -> str:
        """Chunk i covers its own 10 minutes, rows shuffled within it."""
        table = gen.events_table(
            self.rng_for(i), self.n_events, gen.EPOCH_2024_US + i * self.chunk_us, self.chunk_us,
            n_streams=500, first_id=i * self.n_events, shuffle=True,
        )
        self.ctx.log.add("stream.events", table)
        self.max_ts_us = max(self.max_ts_us, int(table.column("ts").cast("int64").to_numpy().max()))
        staged = gen.write_table(table, os.path.join(self.work, "staging"), f"chunk{i:05d}", 65_536)
        return staged

    def prepare(self) -> None:
        os.makedirs(self.src)
        self.pending = self._chunk(0)
        self.schema_path = self.pending

    def _start(self) -> None:
        eng, spark = self.eng, self.spark
        schema = spark.read.parquet(self.schema_path).schema
        events = eng.windowed.parquet_stream(spark, self.src, schema)
        agg = eng.windowed.streaming_option_window_agg(eng.trades.events_as_option_trades(events))
        self.query = (
            agg.writeStream.format("parquet")
            .option("path", self.sink)
            .option("checkpointLocation", os.path.join(self.work, "ckpt"))
            .outputMode("append")
            .start()
        )

    def step(self, i: int) -> None:
        if i == 0:
            self._start()
        self.chunk_op(self.pending if i == 0 else self._chunk(i))

    def chunk_op(self, staged: str) -> None:
        traced = self.ctx.trace
        tracer = self.ctx.tracer
        dest = os.path.join(self.src, os.path.basename(staged))
        op = {"rows_in": self.n_events, "traced": traced, "kind": "stream"}
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.op("op") as tid:
                    op["trace"] = tid
                    with tracer.span("exec"):
                        os.replace(staged, dest)
                        self.query.processAllAvailable()
            else:
                os.replace(staged, dest)
                self.query.processAllAvailable()
            op["error"] = None
        except Exception as e:
            op["error"] = f"{type(e).__name__}: {' '.join(str(e).split())[:300]}"
        op["latency_s"] = time.perf_counter() - t0
        cutoff_ms = self.max_ts_us // 1000 - self.grace_ms
        self.snapshots.append((set(_parquet_files(self.sink)), cutoff_ms))
        op["snapshot"] = len(self.snapshots) - 1
        if traced:
            # Micro-batch jobs run under the query's run id as job group.
            stats = sparkstats.exec_metrics(self.spark.sparkContext, str(self.query.runId), self._seen_jobs)
            stats.update(self._progress(op["latency_s"] * 1000.0))
            stats["exec.busy_share"] = stats["exec.run_ms"] / (op["latency_s"] * 1000.0 * self.ctx.cores)
            for k, v in stats.items():
                tracer.set_count(op["trace"], k, v)
        self.ops.append(op)

    def _progress(self, chunk_ms: float) -> dict[str, float]:
        """Sum the chunk's triggers from the query's recent progress."""
        # A chunk runs a data trigger and then a no-data trigger that
        # advances the watermark; both are counted, each once.
        new = [p for p in self.query.recentProgress if p["timestamp"] not in self._progress_ts]
        self._progress_ts.update(p["timestamp"] for p in new)
        out = {k: 0.0 for k in (
            "stream.triggers_per_chunk", "stream.trigger_ms", "stream.add_batch_ms",
            "stream.query_planning_ms", "stream.wal_commit_ms", "stream.commit_offsets_ms",
            "state.instances", "state.rows_total", "state.rows_updated", "state.rows_removed",
            "state.memory_bytes", "state.commit_ms", "state.updates_ms", "state.removals_ms")}
        for p in new:
            dur = p.get("durationMs", {})
            out["stream.triggers_per_chunk"] += 1
            out["stream.trigger_ms"] += dur.get("triggerExecution", 0)
            out["stream.add_batch_ms"] += dur.get("addBatch", 0)
            out["stream.query_planning_ms"] += dur.get("queryPlanning", 0)
            out["stream.wal_commit_ms"] += dur.get("walCommit", 0)
            out["stream.commit_offsets_ms"] += dur.get("commitOffsets", 0)
            for s in p.get("stateOperators", []):
                out["state.instances"] = max(out["state.instances"], s.get("numStateStoreInstances", 0))
                out["state.rows_total"] = s.get("numRowsTotal", 0)
                out["state.memory_bytes"] = s.get("memoryUsedBytes", 0)
                out["state.rows_updated"] += s.get("numRowsUpdated", 0)
                out["state.rows_removed"] += s.get("numRowsRemoved", 0)
                out["state.commit_ms"] += s.get("commitTimeMs", 0)
                out["state.updates_ms"] += s.get("allUpdatesTimeMs", 0)
                out["state.removals_ms"] += s.get("allRemovalsTimeMs", 0)
        out["stream.trigger_wait_ms"] = max(chunk_ms - out["stream.trigger_ms"], 0.0)
        return out

    def stop(self) -> None:
        q, self.query = getattr(self, "query", None), None
        if q is not None:
            q.stop()

    def verify(self) -> None:
        ref = self.eng.window_agg.option_window_agg_sql(self.eng.flagship.TRADES_SQL)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.src}/*.parquet')")
        con.execute(f"CREATE TABLE want AS {ref}")
        for op in self.checked_ops():
            if op["error"]:
                continue
            files, cutoff_ms = self.snapshots[op["snapshot"]]
            want = con.execute(
                "SELECT * FROM want WHERE window_end <= make_timestamp(? * 1000)", [cutoff_ms]
            ).df()
            # The reference covers every chunk landed by the end; windows
            # the watermark had closed at this point only hold earlier rows.
            if files:
                flist = ", ".join(f"'{f}'" for f in sorted(files))
                got = con.execute(f"SELECT * FROM read_parquet([{flist}])").df()
            else:
                got = want.iloc[0:0]
            op["error"] = check.mismatch(got, want)
        con.close()


def _parquet_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


# ---------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------

class Corpus(Workload):
    """Corpus jobs: operation i runs registered query
    ``CORPUS_QUERIES[i % 3]`` on a shard of its own. The session's caches
    are never cleared."""

    name = "corpus"

    def __init__(self, ctx, docs: int, vectors: int) -> None:
        super().__init__(ctx)
        self.n_docs, self.n_vec = docs, vectors
        self.sizes = {"documents_per_shard": docs, "embeddings_per_shard": vectors,
                      "queries": list(CORPUS_QUERIES)}

    def _shard(self, i: int, query: str) -> tuple[str, int, int]:
        d = os.path.join(self.work, f"shard{i}")
        rng = self.rng_for(i)
        if query == "ann_brute_topk":
            table = gen.embeddings_table(rng, self.n_vec)
            gen.write_table(table, d, "embeddings", 65_536)
            self.ctx.log.add("corpus.embeddings", table)
            return d, table.num_rows, os.path.getsize(os.path.join(d, "embeddings.parquet"))
        table = gen.documents_table(rng, self.n_docs)
        gen.write_table(table, d, "documents", 65_536)
        self.ctx.log.add("corpus.documents", table)
        return d, table.num_rows, os.path.getsize(os.path.join(d, "documents.parquet"))

    def prepare(self) -> None:
        self.pending = self._shard(0, CORPUS_QUERIES[0])

    def step(self, i: int) -> None:
        query = CORPUS_QUERIES[i % len(CORPUS_QUERIES)]
        d, rows, nbytes = self.pending if i == 0 else self._shard(i, query)
        fn = self.eng.registry.all_queries()[query]
        tracer, spark = self.ctx.tracer, self.spark

        def build():
            with tracer.span(f"llmdata.{query}.build"):
                return fn(spark, d)

        def execute(df):
            with tracer.span(f"llmdata.{query}.exec"):
                return df.toPandas()

        op = self.run_op(build, execute, rows_in=rows, table_bytes=nbytes,
                         traced=self.ctx.trace, dir=d, query=query, kind=query)
        if op["traced"]:
            n, b = sparkstats.storage(spark.sparkContext)
            tracer.set_count(op["trace"], "cache.persisted_rdds", n)
            tracer.set_count(op["trace"], "cache.storage_bytes", b)

    def verify(self) -> None:
        oracles = self.eng.registry.all_oracles()
        for op in self.checked_ops():
            d = op["dir"]
            if not op["error"]:
                con = duckdb.connect()
                for t in ("documents", "embeddings"):
                    p = os.path.join(d, f"{t}.parquet")
                    if os.path.exists(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
                op["error"] = check.mismatch(op["result"], con.execute(oracles[op["query"]]).df())
                con.close()
            op["result"] = None
            shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------
# jobs: pipeline, stream and corpus operations in one cycle
# ---------------------------------------------------------------------

class Jobs(Workload):
    """The engine's job families back to back, in a fixed cycle: one
    pipeline day job, one stream chunk, then the three corpus jobs. One
    operation of this workload is one cycle; the warm-up runs a whole
    cycle, so each family starts warm."""

    name = "jobs"
    SIZES = {"pipeline_events": 25_000, "stream_events": 2_500, "docs": 500, "vectors": 500}

    def __init__(self, ctx, pipeline_events: int, stream_events: int, docs: int, vectors: int) -> None:
        super().__init__(ctx)
        self.pipeline = Pipeline(ctx, pipeline_events)
        self.stream = Stream(ctx, stream_events)
        self.corpus = Corpus(ctx, docs, vectors)
        self.parts = (self.pipeline, self.stream, self.corpus)
        self.sizes = {p.name: p.sizes for p in self.parts}

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def attach(self, eng, spark) -> None:
        self.eng, self.spark = eng, spark
        for p in self.parts:
            p.attach(eng, spark)

    def _cycle(self, k: int) -> dict:
        before = [len(p.ops) for p in self.parts]
        self.pipeline.step(k)
        self.stream.step(k)
        for j in range(len(CORPUS_QUERIES)):
            self.corpus.step(len(CORPUS_QUERIES) * k + j)
        ops = [op for p, n in zip(self.parts, before) for op in p.ops[n:]]
        return {"kind": "cycle", "traced": self.ctx.trace, "latency_s": sum(o["latency_s"] for o in ops),
                "rows_in": sum(o["rows_in"] for o in ops)}

    def warmup(self) -> None:
        """The first cycle is the set-up's warm-up operation."""
        self._cycle(0)

    def warm_more(self) -> None:
        for p in self.parts:
            p.warm_ops, p.ops = p.ops, []

    #: A cycle takes longer than a short run; at least two are timed, so
    #: that the median is not one sample.
    min_cycles = 2

    def run(self, seconds: float) -> None:
        def more() -> bool:
            if self.ops and time.perf_counter() > self.ctx.last_start:
                return False  # a slow machine: keep the run inside its time limit
            return self.window_s() < seconds or len(self.ops) < self.min_cycles

        while more():
            self.ops.append(self._cycle(len(self.ops) + 1))

    def layer_ops(self) -> list[dict]:
        return [op for p in self.parts for op in p.ops]

    def checked_ops(self) -> list[dict]:
        return [op for p in self.parts for op in p.checked_ops()]

    def verify(self) -> None:
        for p in self.parts:
            p.verify()

    def stop(self) -> None:
        self.stream.stop()


WORKLOADS = {w.name: w for w in (Dashboard, Jobs)}
