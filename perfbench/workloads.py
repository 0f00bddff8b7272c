"""The benchmark's workloads. Each is a closed loop with one client that
issues a fixed op list (one *pass*) and checks every op's output outside
the timed region.

An op is timed from the moment the client issues it to the moment its
result is in the client's hands: ``QuerySpec.fn`` builds the plan and
``collect()`` executes it and returns the rows, which are then digested and
compared with the DuckDB oracle. Collecting (rather than running a noop
write and collecting again) lets every op's output be checked without
executing it twice. A streaming op is one trigger, from the moment its
file lands in the source directory until the sink has committed.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import oracles
import probes
from stats import digest

# The reference's poll path: dequeue, queue state and health queries.
SYNC_QUEUE = (
    "q01_priority_dequeue", "q02_active_filter", "q03_pending_filter",
    "q04_unacked_fifo", "q05_point_lookup", "q06_in_list", "q07_time_horizon",
    "q08_recency_window", "q09_null_guards", "q10_recent_errors_topk",
    "q11_group_count", "q12_health_snapshot", "q13_fk_enrich_join",
    "q14_latest_wins", "q15_avg_latency_per_key", "q16_conditional_retry",
    "q17_soft_delete", "q50_enqueue_defaults", "q51_dedup_by_id",
    "q52_two_phase_mark", "q53_stale_apps", "q54_ttl_retention",
    "q55_hydration_snapshot", "q56_backlog_alert", "q111_snapshot_diff",
    "q164_rate_limit_admission", "q208_watermark_lag_audit",
)  # fmt: skip

# TPC-H-shaped star queries over lineitem (queries/analytics.py, tpch_extra.py).
STAR = (
    "q19_nation_trade_volume", "q40_pricing_summary", "q41_shipping_priority",
    "q42_local_supplier_volume", "q43_segment_spend", "q44_order_priority_check",
    "q45_percentiles", "q46_pivot", "q47_promo_revenue",
    "q48_returned_item_revenue", "q49_large_volume_customers", "q91_market_share",
    "q92_product_profit", "q93_shipping_delay_priority",
    "q94_customer_order_distribution", "q95_top_supplier",
    "q96_part_supplier_variety", "q97_small_quantity_revenue",
    "q98_disjunctive_revenue", "q99_last_to_ship_suppliers",
    "q273_min_cost_supplier", "q274_nation_trade_flows",
    "q275_important_part_value", "q276_dominant_promo_suppliers",
)  # fmt: skip

# Near-dup pipeline: the cold chain builds the shared signature, candidate
# and label tables (in dependency order); the consumers after it read them.
CORPUS_COLD = ("q82_minhash_bands", "q67_lsh_candidates", "q68_jaccard_verify", "q79_dup_clusters")
CORPUS_WARM = (
    "q112_quality_canonical", "q152_dedup_aware_shards", "q178_cluster_purity",
    "q60_text_stats", "q62_quality_score",
)  # fmt: skip

COMMITTED_ORACLE_QUERIES = SYNC_QUEUE + STAR + CORPUS_COLD + CORPUS_WARM

SYNC_WARMUP_CLIENTS = 4
EVENT_COLS = "event_id, ts, user_id, event_type, value, props"
STREAM_BATCH_SIZE = 500
STREAM_CHUNK_ROWS = 2000  # mean arrivals per trigger, 4x the batch size
STREAM_JITTER = 0.25  # chunk sizes vary by about +-25%, set by the seed
STREAM_WARMUP_TRIGGERS = 3
STREAM_TRIGGERS = 24  # enough for op_tail_s to have ten samples beyond it


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    note: str = ""


@dataclass
class Ctx:
    """What a workload needs: the live session, the run's working copy of
    the fixtures, a scratch directory, the seeded RNG and the tracer."""

    spark: object
    sf_dir: str
    work: str
    rng: random.Random
    tracer: object
    counters: probes.SparkCounters | None = None
    jvm: int | None = None
    op_counts: list[dict] = field(default_factory=list)
    stream: list[dict] = field(default_factory=list)
    next_op: int = 0

    def timed(self, name: str, fn):
        """Run one op under an ``op`` span; (seconds, result, error).
        Counters are read after the clock stops."""
        self.tracer.op = self.next_op
        self.next_op += 1
        cpu0 = self._cpu() if self.counters else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                out, err = fn(), None
        except Exception as e:  # an op that raises is a failed op
            out, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        if self.counters:
            c = self.counters.take()
            jvm, py = self._cpu()
            c.update(jvm_cpu_s=jvm - cpu0[0], pyworker_cpu_s=py - cpu0[1])
            self.op_counts.append(c)
        self.tracer.op = None
        return dt, out, err

    def _cpu(self) -> tuple[float, float]:
        return probes.cpu_s(self.jvm), probes.pyworker_cpu_s(self.jvm)

    def query(self, spec, expected: str | None) -> Op:
        """One registered query, checked against its expected digest
        (unless ``expected`` is None)."""

        def run():
            with self.tracer.span("query.build"):
                df = spec.fn(self.spark, self.sf_dir)
            with self.tracer.span("query.exec"):
                return df.columns, df.collect()

        dt, out, err = self.timed(spec.name, run)
        if err or expected is None:
            return Op(spec.name, dt, not err, err or "")
        got = digest(out[0], [tuple(r) for r in out[1]])
        if got != expected:
            return Op(spec.name, dt, False, f"digest {got} != oracle {expected}")
        return Op(spec.name, dt, True)


class Workload:
    # the driver JVM's initial heap, touched at start: above the heap the
    # workload needs, so the JVM's resident size does not depend on when G1
    # decides to grow it (run.isolate_env)
    jvm_heap_floor = "4g"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        from hive_backend_spark.registry import all_queries

        self.specs = all_queries()

    def warmup(self) -> list[Op]:
        """One untimed pass; its outputs are not checked."""
        return self.run_pass(check=False)

    def run_pass(self, check: bool = True) -> list[Op]:
        raise NotImplementedError


class ReadOnlyQueries(Workload):
    """Registered queries over the unchanged fixtures, checked against the
    committed oracle digests; the seed shuffles the order of each pass."""

    queries: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        from hive_backend_spark.catalog import TABLES

        self.expected = oracles.load_committed(ctx.sf_dir, TABLES)

    def order(self) -> list[str]:
        return self.ctx.rng.sample(self.queries, len(self.queries))

    def run_pass(self, check: bool = True) -> list[Op]:
        return [
            self.ctx.query(self.specs[q], self.expected[q] if check else None)
            for q in self.order()
        ]


class StarAnalytics(ReadOnlyQueries):
    queries = STAR


class CorpusDedup(ReadOnlyQueries):
    """Each pass starts with the shared dedup caches empty: the cold chain
    rebuilds them, the shuffled consumers after it hit them."""

    def order(self) -> list[str]:
        return list(CORPUS_COLD) + self.ctx.rng.sample(CORPUS_WARM, len(CORPUS_WARM))

    def run_pass(self, check: bool = True) -> list[Op]:
        from hive_backend_spark.queries.dedup import clear_bands_cache

        clear_bands_cache()
        return super().run_pass(check)


class SyncQueue(Workload):
    """The poll path on a working copy of the fixtures. A pass runs every
    queue and health query once in seeded order, then two writes to
    ``events`` through ``operators/mutation.py``: a TTL retention rewrite
    whose cutoff advances one hour per pass, and an upsert of the rows
    whose ``event_id % 1000`` equals the pass number, one hour later and
    with ``value + 1``. The first measured pass reads the fixture table and
    is checked against the committed oracle digests; every later pass
    against DuckDB oracles recomputed on the table as the previous writes
    left it, so a read that serves data from before the last write fails
    its check."""

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        from hive_backend_spark.catalog import TABLES

        committed = oracles.load_committed(ctx.sf_dir, TABLES)
        self.fixture_digests = {q: committed[q] for q in SYNC_QUEUE}
        # mutation.py rewrites table directories (write a new one, swap it
        # in, delete the old); the fixture's single file becomes the one
        # part file of such a directory, byte for byte. The warm-up writes
        # to a second such directory.
        self.events = os.path.join(ctx.sf_dir, "events.parquet")
        self.warm_events = os.path.join(ctx.work, "warmup_events.parquet")
        part = os.path.join(ctx.work, "part-00000.parquet")
        os.rename(self.events, part)
        for table in (self.warm_events, self.events):
            os.makedirs(table)
            shutil.copyfile(part, os.path.join(table, "part-00000.parquet"))
        os.remove(part)
        self.round = 0
        with self._duck() as con:
            (self.t_min,) = con.sql("SELECT min(ts) FROM events").fetchone()

    def _duck(self) -> duckdb.DuckDBPyConnection:
        from hive_backend_spark.catalog import TABLES

        return oracles.connect(self.ctx.sf_dir, TABLES)

    def _oracle_digests(self) -> dict[str, str]:
        with self._duck() as con:
            out = {}
            for q in SYNC_QUEUE:
                rel = con.sql(self.specs[q].oracle)
                out[q] = digest(rel.columns, rel.fetchall())
            return out

    def _table_hash(self, con, sql: str) -> tuple:
        return con.sql(
            f"SELECT count(*), sum(hash({EVENT_COLS})) FROM ({sql})"
        ).fetchone()

    def _write(self, name: str, fn, expected_sql: str | None) -> Op:
        """A mutation op, checked (unless ``expected_sql`` is None) by
        comparing the rewritten table with the state DuckDB derives from
        the previous one."""
        if expected_sql is None:
            dt, _out, err = self.ctx.timed(name, fn)
            return Op(name, dt, not err, err or "")
        with self._duck() as con:
            expected = self._table_hash(con, expected_sql)
        dt, _out, err = self.ctx.timed(name, fn)
        if err:
            return Op(name, dt, False, err)
        with self._duck() as con:
            got = self._table_hash(con, "SELECT * FROM events")
        if got != expected:
            return Op(name, dt, False, f"table {got} != expected {expected}")
        return Op(name, dt, True)

    def warmup(self) -> list[Op]:
        """The untimed pass. Its reads are issued by SYNC_WARMUP_CLIENTS
        clients at once: the same plans are compiled and JIT-ed as with one
        client, and set-up takes less time. Its writes go to the warm-up
        copy of ``events``, so the fixture table stays as it is for the
        first measured pass."""
        ops = self._reads({}, clients=SYNC_WARMUP_CLIENTS)
        return ops + self._writes(self.warm_events, 0, check=False)

    def run_pass(self) -> list[Op]:
        r = self.round
        self.round += 1
        expected = self.fixture_digests if r == 0 else self._oracle_digests()
        return self._reads(expected) + self._writes(self.events, r, check=True)

    def _reads(self, expected: dict[str, str], clients: int = 1) -> list[Op]:
        """Every queue and health query once, in seeded order; a query is
        checked when ``expected`` has its digest."""
        order = self.ctx.rng.sample(SYNC_QUEUE, len(SYNC_QUEUE))

        def read(q: str) -> Op:
            return self.ctx.query(self.specs[q], expected.get(q))

        if clients == 1:
            return [read(q) for q in order]
        with ThreadPoolExecutor(clients) as pool:
            return list(pool.map(read, order))

    def _writes(self, table: str, r: int, check: bool) -> list[Op]:
        """Pass ``r``'s retention rewrite and upsert of ``table``."""
        from hive_backend_spark.operators import mutation
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        cutoff = self.t_min.replace(minute=0, second=0, microsecond=0) + timedelta(hours=r + 1)

        def retention():
            with self.ctx.tracer.span("mutation.rewrite"):
                mutation.retention_rewrite(
                    spark, table, "ts", F.lit(str(cutoff)).cast("timestamp")
                )

        ops = [
            self._write(
                "retention_rewrite",
                retention,
                f"SELECT * FROM events WHERE ts >= TIMESTAMP '{cutoff}'" if check else None,
            )
        ]

        name = os.path.basename(table).removesuffix(".parquet")
        batch = os.path.join(self.ctx.work, f"{name}-upsert-{r}.parquet")
        with self._duck() as con:
            con.execute(
                f"COPY (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,"
                f" coalesce(value, 0) + 1 AS value, props FROM events"
                f" WHERE event_id % 1000 = {r % 1000}) TO '{batch}' (FORMAT PARQUET)"
            )
        incoming = spark.read.parquet(batch)

        def upsert():
            with self.ctx.tracer.span("mutation.rewrite"):
                mutation.upsert_latest(spark, table, incoming, ["event_id"], "ts")

        ops.append(
            self._write(
                "upsert_latest",
                upsert,
                (
                    f"SELECT {EVENT_COLS} FROM (SELECT * FROM events UNION ALL"
                    f" SELECT * FROM '{batch}') QUALIFY row_number() OVER"
                    f" (PARTITION BY event_id ORDER BY ts DESC) = 1"
                )
                if check
                else None,
            )
        )
        return ops


class StreamCarryover(Workload):
    """``events`` in ts order, one staged file per trigger, through
    ``run_prioritized_carryover`` with a batch of 500 — a quarter of the
    ~2000 arrivals per trigger, so the backlog grows every trigger. One
    pipeline runs for the whole process: the warm-up pass is its first 3
    triggers (stream start-up included), each measured pass the next 24, so
    a measured trigger meets a backlog of 4.5k rows and more. The input
    cycles through the table, each cycle with ids and times shifted past
    the previous one's. The seed sets the chunk-size jitter. After every
    measured trigger the served ids must equal a sequential top-k replay,
    and the backlog must equal arrivals minus served."""

    jvm_heap_floor = "1g"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.events = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet")).sort_by(
            [("ts", "ascending"), ("event_id", "ascending")]
        )
        ids, ts = self.events.column("event_id"), self.events.column("ts")
        # each cycle through the table shifts ids and times past the last
        # cycle's, so the input never runs out and stays in ts order
        self.id_shift = pc.max(ids).as_py() + 1
        self.ts_shift = pc.max(ts).as_py() - pc.min(ts).as_py() + timedelta(seconds=1)
        root = os.path.join(ctx.work, "stream")
        self.src, self.stage, self.served, self.pending, self.ckpt = (
            os.path.join(root, d) for d in ("src", "stage", "processed", "pending", "ckpt")
        )
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self.offset = 0  # events staged so far
        self.batch = 0  # the next trigger's micro-batch id
        self.backlog: list[tuple] = []  # the replay's pending rows

    def warmup(self) -> list[Op]:
        return self.run_pass(check=False, triggers=STREAM_WARMUP_TRIGGERS)

    def run_pass(self, check: bool = True, triggers: int = STREAM_TRIGGERS) -> list[Op]:
        from hive_backend_spark.streaming.pipeline import run_prioritized_carryover

        ops = []
        for n in self._chunk_sizes(triggers):
            chunk = self._next_events(n)
            t, name = self.batch, f"trigger_{self.batch}"
            self.batch += 1
            before = probes.state_stats(self.pending)
            staged = os.path.join(self.stage, f"batch_{t}.parquet")
            pq.write_table(chunk, staged)

            def trigger():
                os.rename(staged, os.path.join(self.src, f"batch_{t}.parquet"))
                with self.ctx.tracer.span("stream.carryover"):
                    run_prioritized_carryover(
                        self.ctx.spark, self.src, self.served, self.pending, self.ckpt,
                        batch_size=STREAM_BATCH_SIZE,
                    )  # fmt: skip

            dt, _out, err = self.ctx.timed(name, trigger)
            want_served = self._replay(chunk)
            note = self._compare(want_served, t) if check and not err else ""
            self.ctx.stream.append(
                {"backlog_rows": before["rows"], "files": before["files"],
                 "bytes": before["bytes"], "served": STREAM_BATCH_SIZE,
                 "bytes_written": probes.version_bytes(self.pending, t)}
            )  # fmt: skip
            ops.append(Op(name, dt, not (err or note), err or note))
        return ops

    def _next_events(self, n: int) -> pa.Table:
        """The next ``n`` events of the endless, cycled input."""
        parts = []
        while n:
            cycle, at = divmod(self.offset, self.events.num_rows)
            part = self.events.slice(at, n)
            if cycle:
                part = part.set_column(
                    0, "event_id", pc.add(part.column("event_id"), cycle * self.id_shift)
                ).set_column(1, "ts", pc.add(part.column("ts"), cycle * self.ts_shift))
            parts.append(part)
            self.offset += part.num_rows
            n -= part.num_rows
        return pa.concat_tables(parts)

    def _chunk_sizes(self, triggers: int) -> list[int]:
        """Seeded sizes within +-STREAM_JITTER of STREAM_CHUNK_ROWS that sum
        to exactly ``triggers * STREAM_CHUNK_ROWS``: the seed moves the cut
        points, every pass stages the same number of events."""
        weights = [self.ctx.rng.uniform(1 - STREAM_JITTER, 1 + STREAM_JITTER) for _ in range(triggers)]
        scale = triggers * STREAM_CHUNK_ROWS / sum(weights)
        acc, cuts = 0.0, [0]
        for w in weights:
            acc += w
            cuts.append(round(acc * scale))
        return [b - a for a, b in zip(cuts, cuts[1:])]

    def _replay(self, chunk: pa.Table) -> set[int]:
        """One trigger of the sequential replay: serve the top 500 of
        backlog + arrivals (priority 1 for clicks, then oldest, then lowest
        id), keep the rest; returns the served ids."""
        arrivals = [
            (1 if typ == "click" else 0, ts, eid)
            for eid, ts, typ in zip(
                chunk.column("event_id").to_pylist(),
                chunk.column("ts").to_pylist(),
                chunk.column("event_type").to_pylist(),
            )
        ]
        avail = sorted(self.backlog + arrivals, key=lambda r: (-r[0], r[1], r[2]))
        self.backlog = avail[STREAM_BATCH_SIZE:]
        return {r[2] for r in avail[:STREAM_BATCH_SIZE]}

    def _compare(self, want_served: set[int], t: int) -> str:
        """Mismatch note for trigger t's served batch and backlog, or ''."""
        batch_dir = os.path.join(self.served, f"batch_id={t}")
        got_served = set(_ids(batch_dir)) if os.path.isdir(batch_dir) else set()
        if got_served != want_served:
            return f"served ids differ from the replay ({len(got_served)} served)"
        got_backlog = set(_latest_state_ids(self.pending))
        if got_backlog != {r[2] for r in self.backlog}:
            return f"backlog has {len(got_backlog)} ids, replay {len(self.backlog)}"
        return ""


def _ids(path: str) -> list[int]:
    return pq.read_table(path, columns=["id"]).column("id").to_pylist()


def _latest_state_ids(root: str) -> list[int]:
    return [i for f in probes.latest_state_files(root) for i in _ids(f)]


WORKLOADS = {
    "sync_queue": SyncQueue,
    "star_analytics": StarAnalytics,
    "corpus_dedup": CorpusDedup,
    "stream_carryover": StreamCarryover,
}


def copy_fixtures(src: str, dst: str) -> None:
    """The run's working copy: the program reads and rewrites only this."""
    from hive_backend_spark.catalog import TABLES

    os.makedirs(dst)
    for t in TABLES:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
