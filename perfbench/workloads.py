"""The three workloads. Each is a closed loop with one client: the next
operation starts only when the previous one returned.

A workload provides
- ``generate(dir, seed)``: write its inputs (part of set-up);
- ``load(ctx)``: the cold catalog load of those inputs (part of set-up);
- ``warm(ctx)``: untimed passes over the operations, through the same
  code path as the timed ones, until two consecutive passes take times
  within ``WARM_TOLERANCE`` of each other (code generation and the JIT
  have levelled off) or the workload's ``max_warm_passes`` have run;
  returns the pass times;
- ``step(ctx)``: one unit of timed work (a round of queries, a simulated
  day of ticks, a corpus build), repeated until the run's time is up and
  at least ``min_steps`` have run;
- ``check(ctx)``: (operation, problem) pairs from the independent
  references, all computed outside the timed region;
- ``report(ctx)``: end-to-end and per-layer figures.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import gen
import oracles
from stats import percentile, supports

# bench.py's BENCH_QUERIES, pinned here so the benchmark does not move
# when that harness changes.
DASHBOARD_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q6_forecast_revenue", "q8_market_share", "q21_waiting_suppliers",
    "a3_daily_stats", "a3g_keyed_daily_stats", "t1_top1_by_value",
    "a4_distinct_agg", "t2_topk_by_value", "j2_fact_fact_join",
    "j6_asof_join", "w1_topn_per_key", "ts1_tumbling_5min",
    "ts4_ohlcv_resample", "dd2_fingerprint_dedup", "tx3_token_topk",
    "x1_topk_cosine_exact",
)
DASHBOARD_SF = 0.01  # lineitem 60k rows: every query is overhead-bound

TICK_HISTORY_DAYS = 30  # compacted days in bronze before the first tick
TICKS_PER_DAY = 6  # timed ticks per simulated day, one per 4-hour stretch
TICK_REPLAYS_PER_DAY = 2  # timed ticks re-sent once, to be dropped by dedupe

WARM_TOLERANCE = 0.05  # consecutive warm-up passes this close: levelled off

CORPUS_DOCS = 2_000
CORPUS_VECS = 1_000
CORPUS_EXACT_DUP = 0.02
CORPUS_NEAR_DUP = 0.10
CORPUS_BATCHES = 3  # x19 serving batches per build


def warm_until_level(one_pass, max_passes: int) -> list[float]:
    """Run ``one_pass`` until two consecutive passes differ by at most
    WARM_TOLERANCE of the earlier one, or ``max_passes`` have run.
    Returns the pass times."""
    times: list[float] = []
    while len(times) < max_passes:
        t = time.perf_counter()
        one_pass()
        times.append(time.perf_counter() - t)
        if len(times) >= 2 and abs(times[-1] - times[-2]) <= WARM_TOLERANCE * times[-2]:
            break
    return times


def p90(values: list[float]) -> tuple[float | None, str, int]:
    """A p90 report entry: (value, unit, samples); the value is None
    unless at least ten samples lie beyond it."""
    value = percentile(values, 0.9) if supports(len(values), 0.9) else None
    return value, "s", len(values)


def noop(df) -> None:
    """Materialize every column of every row without collecting."""
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """Run-wide state handed to every workload method."""

    def __init__(self, spark, work: str, seed: int, tracer, oplog, snap):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.oplog = oplog
        self.data = ""  # input directory of the current set-up
        self.errors: list[str] = []
        self._snap = snap  # () -> (wall s, CPU s of the process tree)
        self.excluded = [0.0, 0.0]  # wall and CPU s of unmetered sections

    @contextmanager
    def unmetered(self):
        """A section (a correctness check, input landed or generated
        between operations) whose wall and CPU time count neither as
        set-up nor as measured work."""
        before = self._snap()
        try:
            yield
        finally:
            after = self._snap()
            self.excluded[0] += after[0] - before[0]
            self.excluded[1] += after[1] - before[1]

    def timed(self, name: str, fn, *args, key: str | None = None):
        """Run one operation under an op span. An exception counts as a
        failed attempt of ``key`` (default: the op name) and fails the run."""
        try:
            with self.tracer.op(name):
                out = fn(*args)
        except Exception as e:  # the loop goes on; the run will report failure
            self.oplog.record(key or name, False)
            self.errors.append(f"{key or name}: {type(e).__name__}: {e}")
            return None
        self.oplog.record(key or name, True)
        return out


class Dashboard:
    """The reference's dashboard reads plus the TPC-H shapes: 19
    sub-second queries per round, each round in a seed-shuffled order,
    each query materialized through the noop sink. Set-up collects every
    query once and compares it with its DuckDB twin, then runs untimed
    rounds the same way as the timed ones."""

    name = "dashboard_mix"
    op = "dashboard.query"
    min_steps = 2  # two rounds: every query twice
    # after the correctness pass, which runs every query cold, noop rounds
    # level off within a few rounds; two leave run time for two measured
    max_warm_passes = 2

    def __init__(self):
        from etl_project_spark.registry import all_queries

        self.qs = all_queries()
        self.rounds = 0
        self.problems: list[tuple[str, str]] = []

    def generate(self, out_dir: str, seed: int) -> None:
        gen.write_star(out_dir, seed, DASHBOARD_SF)

    def load(self, ctx: Ctx) -> None:
        from etl_project_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(ctx.spark, ctx.data, t).schema

    def _query(self, ctx: Ctx, name: str) -> None:
        with ctx.tracer.span("operators.build"):
            df = self.qs[name](ctx.spark, ctx.data)
        with ctx.tracer.span("operators.execute"):
            noop(df)

    def _round(self, ctx: Ctx, timed: bool) -> None:
        order = list(DASHBOARD_QUERIES)
        random.Random(f"{ctx.seed}-{self.rounds}").shuffle(order)
        self.rounds += 1
        for name in order:
            if timed:
                ctx.timed(self.op, self._query, ctx, name, key=name)
            else:
                self._query(ctx, name)

    def warm(self, ctx: Ctx) -> list[float]:
        """First the correctness pass: every query collected once, the
        queries concurrently to shorten the run, and compared with its
        DuckDB twin (the comparison unmetered). Then untimed noop rounds
        until they level off."""
        collect = lambda name: self.qs[name](ctx.spark, ctx.data).toPandas()
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            results = {name: pool.submit(collect, name) for name in DASHBOARD_QUERIES}
        with ctx.unmetered():
            con = oracles.duck(ctx.data)
            try:
                for name, result in results.items():
                    e = result.exception()
                    if e is not None:
                        self.problems.append((name, f"collect: {type(e).__name__}: {e}"))
                        continue
                    problem = oracles.compare_to_oracle(result.result(), name, con)
                    if problem:
                        self.problems.append((name, problem))
            finally:
                con.close()
        return warm_until_level(lambda: self._round(ctx, False), self.max_warm_passes)

    def step(self, ctx: Ctx) -> None:
        self._round(ctx, True)

    def check(self, ctx: Ctx) -> list[tuple[str, str]]:
        return self.problems

    def report(self, ctx: Ctx):
        lat = ctx.tracer.durations(self.op)
        e2e = {
            "dashboard.qps": (len(lat) / sum(lat), "1/s", len(lat)),
            "dashboard.latency_p50_s": (percentile(lat, 0.5), "s", len(lat)),
            "dashboard.latency_p90_s": p90(lat),
        }
        common = {"items_per_s": e2e["dashboard.qps"][0],
                  "op_latency_p50_s": e2e["dashboard.latency_p50_s"][0]}
        layers = {
            "operators.plan_s": _median(ctx.tracer.durations("operators.build")),
            "operators.exec_s": _median(ctx.tracer.durations("operators.execute")),
        }
        return e2e, common, layers


class Ingest:
    """The reference's write path on its 5-minute cadence. Bronze starts
    with ``TICK_HISTORY_DAYS`` compacted days. Of each simulated day's
    288 slots, ``TICKS_PER_DAY`` go through a timed
    ``ingest_tick(dedupe=True)`` of one bar per coin (limit=1) from
    ``OhlcvRestSource(fetcher=…)``; the others are landed untimed as the
    per-tick files earlier ticks would have left, so each timed tick sees
    the reference's file count for its time of day.
    ``TICK_REPLAYS_PER_DAY`` timed ticks are sent twice, and dedupe must
    drop the second. The day closes with ``export_day`` and
    ``compact_day``, timed together as an operation of its own."""

    name = "ohlcv_ingest"
    op = "ingest.tick"
    min_steps = 1  # one simulated day
    max_warm_passes = 3  # the first pass runs the tick path cold

    def __init__(self):
        self.stream: gen.TickStream | None = None
        self.fetched = 0
        self.appended = 0
        self.exported_days: list[str] = []

    def generate(self, out_dir: str, seed: int) -> None:
        self.stream = gen.TickStream(seed, TICK_HISTORY_DAYS)
        self.stream.write_history(os.path.join(out_dir, "bronze"))

    def load(self, ctx: Ctx) -> None:
        from etl_project_spark.sources.rest import OhlcvRestSource

        tracer = ctx.tracer

        class TracedSource(OhlcvRestSource):
            def fetch_latest(self, *a, **k):
                with tracer.span("sources.fetch"):
                    return super().fetch_latest(*a, **k)

            def to_df(self, *a, **k):
                with tracer.span("sources.to_df"):
                    return super().to_df(*a, **k)

        self.source = TracedSource("benchmark-key", fetcher=self.stream.fetcher)
        self.bronze = os.path.join(ctx.data, "bronze")
        self.gold = os.path.join(ctx.data, "gold")
        ctx.spark.read.parquet(self.bronze).schema

    def _tick(self, ctx: Ctx) -> int:
        from etl_project_spark.ingest.ohlcv import ingest_tick

        return ingest_tick(ctx.spark, self.source, self.bronze, dedupe=True)

    def _timed_tick(self, ctx: Ctx) -> None:
        n = ctx.timed(self.op, self._tick, ctx)
        if n is not None:
            self.fetched += len(gen.COINS)
            self.appended += n

    def _close_day(self, ctx: Ctx, day) -> None:
        from etl_project_spark.ingest.ohlcv import compact_day, export_day

        with ctx.tracer.span("export.export_day"):
            export_day(ctx.spark, self.bronze, self.gold, day)
        with ctx.tracer.span("export.compact_day"):
            compact_day(ctx.spark, self.bronze, day)
        self.exported_days.append(str(day))

    def _land(self, ctx: Ctx, upto: int) -> None:
        with ctx.unmetered():
            self.stream.land(self.bronze, upto)

    def warm(self, ctx: Ctx) -> list[float]:
        """The first live day, untimed: landed up to its last
        ``max_warm_passes`` slots, then a tick per pass until passes level
        off (so the warm ticks scan a full day's files, as late timed
        ticks do), then landed to its end and closed."""
        day_end = self.stream.day_end()
        self._land(ctx, day_end - self.max_warm_passes)

        def one_pass():
            self.stream.next_tick()
            self._tick(ctx)

        times = warm_until_level(one_pass, self.max_warm_passes)
        self._land(ctx, day_end)
        self._close_day(ctx, self.stream.day_of(day_end - 1))
        return times

    def step(self, ctx: Ctx) -> None:
        """One simulated day: its timed ticks, each after landing the
        slots before it, then the timed close."""
        day_end = self.stream.day_end()
        for slot, replay in self.stream.day_plan(TICKS_PER_DAY, TICK_REPLAYS_PER_DAY):
            self._land(ctx, slot)
            self.stream.next_tick()
            self._timed_tick(ctx)
            if replay:
                self._timed_tick(ctx)
        self._land(ctx, day_end)
        ctx.timed("export.day", self._close_day, ctx, self.stream.day_of(day_end - 1))

    def check(self, ctx: Ctx) -> list[tuple[str, str]]:
        return oracles.check_ohlcv(self.stream, self.bronze, self.gold,
                                   self.exported_days)

    def report(self, ctx: Ctx):
        lat = ctx.tracer.durations(self.op)
        days = ctx.tracer.durations("export.day")
        gold_bytes, gold_files, gold_parts = _tree_stats(self.gold)
        gold_bars = (len(self.exported_days) * gen.TickStream.SLOTS_PER_DAY
                     * len(gen.COINS))
        e2e = {
            "ingest.bars_per_s": (self.appended / sum(lat), "1/s", len(lat)),
            "ingest.tick_latency_p50_s": (percentile(lat, 0.5), "s", len(lat)),
            "ingest.tick_latency_p90_s": p90(lat),
            "export.day_s": (_median(days), "s", len(days)),
            "storage.bytes_per_bar": (gold_bytes / gold_bars, "B", gold_bars),
        }
        common = {"items_per_s": self.fetched / sum(lat),
                  "op_latency_p50_s": e2e["ingest.tick_latency_p50_s"][0]}
        layers = {
            "sources.to_df_s": _median(ctx.tracer.durations("sources.to_df")),
            "ingest.bronze_files": float(_tree_stats(self.bronze)[1]),
            "ingest.dup_drop_ratio": self.appended / self.fetched,
            "export.export_day_s": _median(ctx.tracer.durations("export.export_day")),
            "export.compact_day_s": _median(ctx.tracer.durations("export.compact_day")),
            "export.files_per_partition": gold_files / max(gold_parts, 1),
        }
        return e2e, common, layers


class Corpus:
    """The north star's batch corpus pipeline on a fresh seeded corpus per
    build: ``materialize_corpus`` (clean, dedup, pack, partitioned managed
    table), then the registry's ``dd7_dup_clusters`` (MinHash-LSH near-dup
    clusters) and ``x19_ivfpq_serving_topk`` (IVF-PQ top-k, served as
    ``CORPUS_BATCHES`` batches), both collected by the caller. Every
    build's outputs are checked after the timed loop."""

    name = "corpus_build"
    op = "corpus.build"
    min_steps = 1
    max_warm_passes = 3

    def __init__(self):
        from etl_project_spark.registry import all_queries

        self.qs = all_queries()
        self.builds: list[tuple[str, object]] = []  # (corpus dir, outputs)

    def generate(self, out_dir: str, seed: int) -> None:
        gen.write_corpus(out_dir, seed, CORPUS_DOCS, CORPUS_VECS,
                         CORPUS_EXACT_DUP, CORPUS_NEAR_DUP)

    def load(self, ctx: Ctx) -> None:
        from etl_project_spark.catalog import load_table

        for t in ("documents", "embeddings"):
            load_table(ctx.spark, ctx.data, t).schema

    def _build(self, ctx: Ctx, d: str) -> tuple:
        from etl_project_spark.ingest.corpus import materialize_corpus

        with ctx.tracer.span("corpus.materialize"):
            audit = materialize_corpus(ctx.spark, d)
        with ctx.tracer.span("dedup.dd7"):
            clusters = self.qs["dd7_dup_clusters"](ctx.spark, d).collect()
        for _ in range(CORPUS_BATCHES):
            with ctx.tracer.span("similarity.x19"):
                topk = self.qs["x19_ivfpq_serving_topk"](ctx.spark, d).toPandas()
        return audit["n_docs"], clusters, topk

    def _keep(self, ctx: Ctx, d: str, res: tuple | None) -> None:
        """Remember a build's outputs; the landed table is counted now,
        before the next build overwrites it."""
        if res is not None:
            with ctx.unmetered():
                landed = oracles.landed_rows(ctx.spark)
            res = oracles.CorpusOutputs(res[0], landed, *res[1:])
        self.builds.append((d, res))

    def warm(self, ctx: Ctx) -> list[float]:
        return warm_until_level(
            lambda: self._keep(ctx, ctx.data, self._build(ctx, ctx.data)),
            self.max_warm_passes)

    def step(self, ctx: Ctx) -> None:
        d = os.path.join(ctx.work, f"corpus-{len(self.builds)}")
        with ctx.unmetered():
            self.generate(d, ctx.seed * 1000 + len(self.builds))
        self._keep(ctx, d, ctx.timed(self.op, self._build, ctx, d))

    def check(self, ctx: Ctx) -> list[tuple[str, str]]:
        return [(self.op, f"{os.path.basename(d)}: {p}")
                for d, out in self.builds if out is not None
                for p in oracles.check_corpus(d, out)]

    def report(self, ctx: Ctx):
        builds = ctx.tracer.durations(self.op)
        n = len(builds)
        mat = ctx.tracer.durations("corpus.materialize")
        dd7 = ctx.tracer.durations("dedup.dd7")
        x19 = ctx.tracer.durations("similarity.x19")
        e2e = {
            "corpus.docs_per_s": (CORPUS_DOCS / _median(mat), "1/s", len(mat)),
            "neardup.docs_per_s": (CORPUS_DOCS / _median(dd7), "1/s", len(dd7)),
            "ann.batch_latency_p50_s": (percentile(x19, 0.5), "s", len(x19)),
            "corpus.build_s": (_median(builds), "s", n),
        }
        common = {"items_per_s": CORPUS_DOCS * n / sum(builds),
                  "op_latency_p50_s": e2e["corpus.build_s"][0]}
        layers = {
            "corpus.materialize_s": _median(mat),
            "dedup.dd7_s": _median(dd7),
            "similarity.x19_s": _median(x19),
        }
        return e2e, common, layers


WORKLOADS = {w.name: w for w in (Dashboard, Ingest, Corpus)}


def _median(xs: list[float]) -> float:
    return percentile(xs, 0.5) if xs else 0.0


def _tree_stats(root: str) -> tuple[int, int, int]:
    """(bytes, data files, leaf partition directories) under a store."""
    size = files = parts = 0
    for d, _, names in os.walk(root):
        data = [n for n in names if n.endswith(".parquet")]
        if data:
            parts += 1
        for n in data:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return size, files, parts
