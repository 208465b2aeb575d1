"""The reference's two DAGs re-expressed as Spark batch programs
(SURVEY.md §2f, §3 EP1/EP2).

EP1 5-minute ingest (crypto_prices_dag, airflow_dags.py:82-176):
    fetch → normalize → append to the bronze Parquet store, partitioned
    by (period_date, coin). The reference's per-coin task fan-out (O3)
    collapses into one DataFrame with a coin column.

EP2 daily export (crypto_prices_load_to_s3_redshift,
airflow_dags.py:178-314): one day's slice re-written to the gold store.
    Deliberate fixes over the reference (SURVEY.md §7):
    - idempotent dynamic partition overwrite instead of append-duplicates
      (re-running a day replaces it; airflow_dags.py:54's if_exists=append
      duplicated rows on re-run);
    - late rows for a past date are picked up because export re-reads the
      whole partition, not "rows inserted today".

Small-file problem: the reference ingests 1 row/coin/tick
(airflow_dags.py:35 limit=1) — naive translation writes pathological tiny
files. ``compact_day`` is the daily compaction job; the streaming variant
in etl_project_spark.streaming buffers in micro-batches instead.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_project_spark.session import prepare
from etl_project_spark.sources.rest import BAR_SCHEMA, OhlcvRestSource, parse_bar_time

PARTITION_COLS = ("period_date", "coin")


def ingest_tick(
    spark: SparkSession,
    source: OhlcvRestSource,
    bronze_path: str,
    period: str = "5MIN",
    limit: int = 1,
    dedupe: bool = False,
) -> int:
    """One EP1 tick: fetch the latest bar(s) per coin and append to
    bronze. Returns rows written.

    ``dedupe=True`` makes the append idempotent at bar granularity: bars
    whose (coin, time_period_start) key bronze already holds are dropped
    before writing, so a replayed tick (a restarted ``ingest_loop``
    re-running the last uncommitted micro-batch, or a cron double-fire)
    appends nothing the store already has. The existing keys come from
    one scan of only the batch's own (period_date, coin) directories —
    at most 288 per coin-day — collected to the driver and matched
    against the fetched rows there. A new tick therefore runs one scan
    job and one write job; a full replay runs the scan alone and writes
    nothing. The fetched rows are a driver-side list, so the row count
    is their length and the fetch runs exactly once."""
    prepare(spark)
    rows = source.fetch_latest(period=period, limit=limit)
    if dedupe:
        rows = _drop_already_ingested(spark, rows, bronze_path)
    if not rows:
        return 0
    append_bars(source.to_df(spark, rows), bronze_path)
    return len(rows)


def _drop_already_ingested(
    spark: SparkSession, rows: list[dict], bronze_path: str
) -> list[dict]:
    """The fetched rows whose (coin, time_period_start) key is not yet in
    bronze. Reads only the batch's own (period_date, coin) partitions;
    a partition that does not exist has nothing to collide with."""
    keys = [(r["coin"], parse_bar_time(r["time_period_start"])) for r in rows]
    existing = read_partitions(
        spark, bronze_path, [(str(ts.date()), coin) for coin, ts in keys]
    )
    if existing is None:
        return rows
    seen = {
        (r["coin"], r["time_period_start"])
        for r in existing.select("coin", "time_period_start").collect()
    }
    return [r for r, k in zip(rows, keys) if k not in seen]


def read_partitions(
    spark: SparkSession, root: str, partitions: Iterable[tuple[str, ...]]
) -> DataFrame | None:
    """Read only the named partitions of a store partitioned by
    ``PARTITION_COLS``. Each partition is a prefix of their values:
    ``(day,)`` is the whole day, ``(day, coin)`` one coin's directory.

    No job runs to build the DataFrame: ``basePath`` keeps both partition
    columns, the schema is ``BAR_SCHEMA`` rather than inferred, and only
    the named directories are listed, never the store root. Directories
    that do not exist are skipped; ``None`` when none does. Every other
    error, a corrupt file or a denied read, propagates."""
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    names = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    root = root.rstrip("/")
    fs = Path(root).getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    dirs = []
    for part in dict.fromkeys(partitions):
        # values escaped in the path as Spark's partitioned writes do
        d = "/".join(
            [root]
            + [f"{c}={names.escapePathName(v)}" for c, v in zip(PARTITION_COLS, part)]
        )
        if fs.exists(Path(d)):
            dirs.append(d)
    if not dirs:
        return None
    return spark.read.schema(BAR_SCHEMA).option("basePath", root).parquet(*dirs)


def _overwrite_partitions(df: DataFrame, path: str) -> None:
    """Idempotent write: replace exactly the partitions ``df`` holds.
    Dynamic mode is set on this write only, never on the session."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )


def append_bars(df: DataFrame, bronze_path: str) -> None:
    """K1′: append to the partitioned bronze store."""
    df.write.mode("append").partitionBy(*PARTITION_COLS).parquet(bronze_path)


def export_day(
    spark: SparkSession, bronze_path: str, gold_path: str, ds: str | dt.date
) -> int:
    """EP2: re-write one day's slice bronze → gold, idempotently.

    Dynamic partition overwrite = the Spark-native replacement for the
    CSV → S3 → Redshift COPY chain (K2/K3/K4): the partitioned gold
    Parquet *is* the warehouse table. Returns rows exported, counted by
    an ``Observation`` on the write job itself; a day bronze does not
    hold exports nothing and runs no job."""
    prepare(spark)
    day = read_partitions(spark, bronze_path, [(str(ds)[:10],)])
    if day is None:
        return 0
    obs = Observation()
    _overwrite_partitions(day.observe(obs, F.count(F.lit(1)).alias("n")), gold_path)
    return int(obs.get["n"])


def compact_day(
    spark: SparkSession, path: str, ds: str | dt.date, target_files: int = 1
) -> None:
    """Small-file compaction for one day partition (the 5-minute cadence
    writes ~288 tiny files/coin/day): rewrite the partition at
    target_files per coin via repartition, idempotent overwrite. A day
    the store does not hold is left alone."""
    prepare(spark)
    day = read_partitions(spark, path, [(str(ds)[:10],)])
    if day is not None:
        _overwrite_partitions(day.repartition(target_files, "coin"), path)


def fake_bars(
    coins: Iterable[str] = ("bitcoin", "ethereum", "ripple"),
    start: str = "2023-04-26T00:00:00.0000000Z",
    n_bars: int = 12,
    base_price: float = 29000.0,
) -> list[dict]:
    """Deterministic CoinAPI-shaped bars for tests (no network): a bounded
    sawtooth walk on a 5-minute grid, mirroring the payload fields at
    airflow_dags.py:40-43."""
    t0 = dt.datetime.strptime(start[:19], "%Y-%m-%dT%H:%M:%S")
    out = []
    for ci, coin in enumerate(coins):
        price = base_price / (10 ** ci)
        for i in range(n_bars):
            s = t0 + dt.timedelta(minutes=5 * i)
            e = s + dt.timedelta(minutes=5)
            drift = ((i * 7 + ci * 3) % 11 - 5) / 1000.0
            o = price * (1 + drift)
            c = price * (1 + drift / 2)
            fmt = "%Y-%m-%dT%H:%M:%S.0000000Z"
            out.append(
                {
                    "time_period_start": s.strftime(fmt),
                    "time_period_end": e.strftime(fmt),
                    "time_open": (s + dt.timedelta(seconds=1)).strftime(fmt),
                    "time_close": (e - dt.timedelta(seconds=1)).strftime(fmt),
                    "price_open": round(o, 4),
                    "price_high": round(max(o, c) * 1.001, 4),
                    "price_low": round(min(o, c) * 0.999, 4),
                    "price_close": round(c, 4),
                    "volume_traded": round(10 + (i % 5) * 1.5, 4),
                    "trades_count": 100 + i,
                    "coin": coin,
                }
            )
    return out
