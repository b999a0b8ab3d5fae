"""The benchmark's workloads.

Each workload has four phases, driven by ``run.py``:

* ``stage(ctx, rep)`` — make this repetition's inputs from the seed and
  stage them (repeated; the last repetition's inputs are measured);
* ``warm_up(ctx)`` — run every timed operation once on those inputs,
  so JIT, codegen, the Python workers and the engine's caches are warm;
* ``measure(ctx)`` — the timed region, closed loop, for about
  ``ctx.seconds``; returns a :class:`Measured`;
* ``verify(ctx, m)`` — correctness checks, outside the timed region.

Workloads call only the engine's public functions; spans are recorded
around those calls from here, never inside the engine.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import datagen
from harness import StreamTimeout, await_stream, median, progress_rows, tail

STREAM_TIMEOUT_S = 120.0


@dataclass
class Measured:
    """What the timed region produced: the operation latencies the
    end-to-end metrics are computed from, the committed items and either
    the wall they took or, for a stream, the rate of each micro-batch;
    plus per-phase windows for the trace."""

    items: int = 0
    items_wall_s: float = 0.0
    batch_rates: list[float] = field(default_factory=list)
    latencies_s: list[float] = field(default_factory=list)
    build_s: float = 0.0
    exec_s: float = 0.0
    t0: float = 0.0
    t1: float = 0.0
    windows: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    details: dict = field(default_factory=dict)

    def window(self, name: str, t0: float, t1: float) -> None:
        self.windows.setdefault(name, []).append((t0, t1))


# -- consolidate_serve --------------------------------------------------------


class ConsolidateServe:
    """Drain a backlog of DataRecordEvents into the bucketed snapshot
    store one file per trigger, then serve point lookups and one
    full-snapshot aggregate from it."""

    name = "consolidate_serve"
    n_users = 1500
    n_buckets = 64
    events_per_file = 2000
    backlog_files = 4
    warm_files = 2
    min_lookups = 12
    miss_share = 0.2

    def __init__(self) -> None:
        self.src = ""
        self.schema = None
        self.backlog: list = []
        self.hits: list[int] = []
        self.warm_src = ""

    def _stage(self, ctx, rep: int, tag: str, n_files: int) -> tuple[str, list]:
        rng = np.random.default_rng([ctx.seed, rep, ("warm", "backlog").index(tag)])
        files = datagen.datarecord_events(
            rng, n_files * self.events_per_file, self.n_users, n_files
        )
        src = os.path.join(ctx.work, f"rep{rep}", f"{tag}_src")
        os.makedirs(src)
        for i, t in enumerate(files):
            pq.write_table(t, os.path.join(src, f"part-{i:04d}.parquet"))
        return src, files

    def _drain(self, ctx, src: str, table: str, name: str, m=None):
        from intelligencepipeline_spark.streaming.pipeline import (
            consolidate_to_bucketed_table,
        )

        spark = ctx.spark
        t0 = time.time()
        stream = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = consolidate_to_bucketed_table(
            stream,
            table,
            n_buckets=self.n_buckets,
            checkpoint=table + "_ckpt",
        )
        t1 = time.time()
        await_stream(q, STREAM_TIMEOUT_S, name)
        if m is not None:
            m.build_s += t1 - t0
            m.exec_s += time.time() - t1
        return q

    def _lookup(self, ctx, table: str, key: int) -> tuple[list, float]:
        """One point lookup; returns its rows and the driver-side build
        time (manifest read, file listing, schema) before the collect."""
        from pyspark.sql import functions as F

        from intelligencepipeline_spark.streaming.pipeline import (
            read_bucketed_snapshot,
        )

        t0 = time.time()
        df = read_bucketed_snapshot(ctx.spark, table).filter(F.col("doc_id") == key)
        built = time.time() - t0
        return df.collect(), built

    def _scan(self, ctx, table: str) -> list:
        from pyspark.sql import functions as F

        from intelligencepipeline_spark.streaming.pipeline import (
            read_bucketed_snapshot,
        )

        return (
            read_bucketed_snapshot(ctx.spark, table)
            .agg(
                F.count("*").alias("records"),
                F.sum(F.size("meta")).alias("meta_entries"),
            )
            .collect()
        )

    def stage(self, ctx, rep: int) -> None:
        from intelligencepipeline_spark.schemas import DATARECORD_EVENT_SCHEMA

        self.schema = DATARECORD_EVENT_SCHEMA
        self.warm_src, _ = self._stage(ctx, rep, "warm", self.warm_files)
        self.src, self.backlog = self._stage(ctx, rep, "backlog", self.backlog_files)
        self.hits = sorted(
            {int(k) for t in self.backlog for k in t["doc_id"].to_numpy()}
        )

    def warm_up(self, ctx) -> None:
        table = os.path.join(ctx.work, "warm_table")
        self._drain(ctx, self.warm_src, table, "consolidate_serve warm-up")
        for key in (self.hits[0], self.n_users + 1):
            self._lookup(ctx, table, key)
        self._scan(ctx, table)

    def measure(self, ctx) -> Measured:
        m = Measured()
        table = os.path.join(ctx.work, "table")
        rng = np.random.default_rng([ctx.seed, 99])
        m.t0 = time.time()
        with ctx.tracer.span("streaming.drain"):
            try:
                q = self._drain(ctx, self.src, table, "consolidate_serve drain", m)
            except StreamTimeout as e:
                ctx.ops.fail(str(e), n=self.backlog_files)
                q = None
        t_drain = time.time()
        m.window("drain", m.t0, t_drain)
        if q is not None:
            # One file per trigger: a batch commits one staged file.
            batches = progress_rows(q.recentProgress)
            m.details["batches"] = batches
            m.items = sum(t.num_rows for t in self.backlog[: len(batches)])
            # The first batch writes into an empty table; the rate is
            # taken over the merge batches after it, the store's steady
            # state (the warm-up drain also runs a merge batch).
            m.batch_rates = [
                self.events_per_file / (b["trigger_ms"] / 1000.0) for b in batches[1:]
            ]
            m.details["drain_rate"] = m.items / (t_drain - m.t0)
            ctx.ops.ok(len(batches))
            if len(batches) != self.backlog_files:
                ctx.ops.fail(
                    f"drain ran {len(batches)} batches for {self.backlog_files} files"
                )
        lookups: list[tuple[int, list | None]] = []
        while len(lookups) < self.min_lookups or time.time() - m.t0 < ctx.seconds:
            if rng.random() < self.miss_share:
                key = int(rng.integers(self.n_users, 2 * self.n_users))
            else:
                key = self.hits[int(rng.integers(0, len(self.hits)))]
            t0 = time.time()
            with ctx.tracer.span("snapshot_store.lookup", key=key):
                if ctx.trace:
                    ctx.timed_manifest_read(table)
                try:
                    rows, built = self._lookup(ctx, table, key)
                except Exception as e:  # a failed lookup is counted, not fatal
                    ctx.ops.fail(f"lookup {key}: {e!r}"[:300])
                    rows = None
            t1 = time.time()
            m.window("lookup", t0, t1)
            if rows is not None:
                ctx.ops.ok()
                m.latencies_s.append(t1 - t0)
                m.build_s += built
                m.exec_s += t1 - t0 - built
            lookups.append((key, rows))
        t0 = time.time()
        with ctx.tracer.span("snapshot_store.scan"):
            scan = self._scan(ctx, table)
        m.t1 = time.time()
        m.window("scan", t0, m.t1)
        ctx.ops.ok()
        m.details.update(
            table=table,
            lookups=lookups,
            scan=scan[0].asDict(),
            scan_ms=1000 * (m.t1 - t0),
        )
        return m

    def verify(self, ctx, m: Measured) -> None:
        """The snapshot equals ``consolidate_events`` over the whole
        backlog, row for row (both sides are a few thousand records, so
        they are compared as multisets on the driver); every lookup
        returns exactly the fold's row for its key, and no row for a
        miss."""
        from collections import Counter

        from intelligencepipeline_spark.consolidate import consolidate_events
        from intelligencepipeline_spark.streaming.pipeline import (
            read_bucketed_snapshot,
        )

        spark = ctx.spark
        events = spark.read.schema(self.schema).parquet(self.src)
        expected = [_row_key(r) for r in consolidate_events(events).collect()]
        snap = read_bucketed_snapshot(spark, m.details["table"]).drop("bucket")
        got = [_row_key(r) for r in snap.collect()]
        ctx.ops.check(
            "snapshot equals consolidate_events over the backlog",
            Counter(got) == Counter(expected),
        )
        by_key = {k[0]: k for k in expected}
        bad = [
            k for k, rows in m.details["lookups"]
            if rows is not None
            and [_row_key(r) for r in rows] != ([by_key[k]] if k in by_key else [])
        ]
        ctx.ops.check(f"lookups return the fold's row (wrong keys: {bad[:5]})", not bad)
        scan = m.details["scan"]
        ctx.ops.check(
            "scan aggregate matches the fold",
            scan["records"] == len(by_key)
            and scan["meta_entries"] == sum(len(v[-1]) for v in by_key.values()),
        )


def _row_key(r) -> tuple:
    """A comparable form of one consolidated record (maps are unordered)."""
    meta = sorted(
        (tuple(sorted((m["values"] or {}).items())), m["created_by"])
        for m in (r["meta"] or [])
    )
    reps = tuple(tuple(x) for x in (r["additional_representations"] or []))
    rep = tuple(r["representation"]) if r["representation"] else None
    return (r["doc_id"], r["name"], r["ingest_ts"], rep, reps, tuple(meta))


# -- catalog_core -------------------------------------------------------------


class CatalogCore:
    """Whole passes over a fixed slice of the query catalog on seeded
    fixture tables, each entry's driver-side build timed apart from the
    execution of the frame it returns (noop sink)."""

    name = "catalog_core"
    sf = 0.005
    pass_s = 5.0
    entries = (
        "q1_pricing_summary",
        "consolidation_fold",
        "dedup_exact",
        "minhash_lsh_pairs",
        "cdc_chunk_dedup",
        "engine_streaming_run",
    )

    def __init__(self) -> None:
        self.data_dir = ""
        self.results: dict = {}

    def _pass(self, ctx, m: Measured | None, collect: bool = False) -> None:
        from intelligencepipeline_spark.caching import release_persisted, release_shared
        from intelligencepipeline_spark.queries import QUERIES

        ctx.released += release_persisted() + release_shared()
        for name in self.entries:
            t0 = time.time()
            try:
                with ctx.tracer.span(f"queries.{name}.build"):
                    df = QUERIES[name](ctx.spark, self.data_dir)
                t1 = time.time()
                with ctx.tracer.span(f"queries.{name}.exec"):
                    if collect:
                        self.results[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            except Exception as e:  # one failing entry must not hide the others
                ctx.ops.fail(f"entry {name}: {e!r}"[:300])
                continue
            if m is not None:
                ctx.ops.ok()
                m.build_s += t1 - t0
                m.exec_s += t2 - t1
                m.window(f"{name}.build", t0, t1)
                m.window(f"{name}.exec", t1, t2)
                m.details.setdefault("entries", {}).setdefault(name, []).append(
                    (t1 - t0, t2 - t1)
                )

    def stage(self, ctx, rep: int) -> None:
        self.data_dir = os.path.join(ctx.work, f"rep{rep}", "tables")
        datagen.write_tables(self.data_dir, ctx.seed * 10 + rep, self.sf)

    def warm_up(self, ctx) -> None:
        # The first warm-up pass collects every entry's output over the
        # very inputs the timed passes use; verify() holds those against
        # the DuckDB oracles. One pass leaves the JIT still warming (the
        # next passes get faster), so a second one follows.
        self._pass(ctx, None, collect=True)
        self._pass(ctx, None)

    def measure(self, ctx) -> Measured:
        # A fixed number of whole passes, sized from the time budget: a
        # pass takes about ``pass_s`` on 4 CPUs. Stopping on the clock
        # instead made fast runs do one pass more than slow ones, and
        # the extra, better-warmed pass moved every metric.
        m = Measured()
        passes = max(1, round(ctx.seconds / self.pass_s))
        m.t0 = time.time()
        walls = []
        for n in range(passes):
            t0 = time.time()
            with ctx.tracer.span("queries.pass", n=n):
                self._pass(ctx, m)
            walls.append(time.time() - t0)
        m.t1 = time.time()
        m.items = sum(len(v) for v in m.details.get("entries", {}).values())
        m.items_wall_s = m.t1 - m.t0
        m.details["passes"] = passes
        m.details["pass_s"] = walls
        m.latencies_s = walls
        return m

    def verify(self, ctx, m: Measured) -> None:
        import duckdb

        from intelligencepipeline_spark.oracles import ORACLES

        compare, value_hash = oracle_comparison(ctx.root)

        con = duckdb.connect()
        try:
            for t in os.listdir(self.data_dir):
                if t.endswith(".parquet"):
                    path = os.path.join(self.data_dir, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
            for name in self.entries:
                got = self.results.get(name)
                if got is None:
                    ctx.ops.fail(f"oracle {name}: no output collected")
                    continue
                want = con.execute(ORACLES[name]).df()
                problems = compare(name, got, want)
                if not problems and value_hash(got) != value_hash(want):
                    problems = ["value hashes differ"]
                ctx.ops.check(f"oracle {name}: {problems[:2]}", not problems)
        finally:
            con.close()


def oracle_comparison(root: str):
    """``compare`` and the value hash of ``tools/oracle_check.py``: the
    catalog check uses the very comparison the repository's oracle gate
    applies. That script edits ``sys.path`` at import; it is restored."""
    import importlib.util
    import sys

    path = os.path.join(root, "tools", "oracle_check.py")
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location("_oracle_check", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.compare, mod._value_hash


WORKLOADS = {w.name: w for w in (ConsolidateServe, CatalogCore)}


def summarize(m: Measured) -> dict:
    """End-to-end figures of one timed region."""
    lat = [x * 1000 for x in m.latencies_s]
    tail_v, tail_pct, n = tail(lat)
    if m.batch_rates:
        rate = median(m.batch_rates)
    else:
        rate = m.items / m.items_wall_s if m.items_wall_s else 0.0
    return {
        "items_per_s": rate,
        "latency_p50_ms": median(lat),
        "latency_tail_ms": tail_v,
        "latency_tail_pct": tail_pct,
        "latency_n": n,
    }
