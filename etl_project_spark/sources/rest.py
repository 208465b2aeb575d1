"""REST OHLCV source (S1/S2 in SURVEY.md §2a): the reference's CoinAPI
fetch (GET /v1/ohlcv/{symbol}/latest?period_id=5MIN&limit=1 with
X-CoinAPI-Key header, /root/reference/dags/airflow_dags.py:28-43)
re-expressed as (a) a plain driver-side fetch → ``createDataFrame`` with
an explicit schema, and (b) a Spark 4 Python DataSource so
``spark.read.format("coinapi")`` works natively.

The HTTP layer is injectable (``fetcher``) so tests run hermetically; the
normalization (ISO8601 → naive-UTC timestamps, derived period_date,
double prices — the §1 deliberate deviation from the reference's lossy
int DDL at airflow_dags.py:100-103) is shared by both paths.
"""

from __future__ import annotations

import datetime as dt
import json
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

DEFAULT_COINS = {  # reference symbols, airflow_dags.py:156-172
    "bitcoin": "BITSTAMP_SPOT_BTC_USD",
    "ethereum": "BITSTAMP_SPOT_ETH_USD",
    "ripple": "BITSTAMP_SPOT_XRP_USD",
}

# Raw CoinAPI bar payload (string timestamps as received).
RAW_BAR_SCHEMA = StructType(
    [
        StructField("time_period_start", StringType()),
        StructField("time_period_end", StringType()),
        StructField("time_open", StringType()),
        StructField("time_close", StringType()),
        StructField("price_open", DoubleType()),
        StructField("price_high", DoubleType()),
        StructField("price_low", DoubleType()),
        StructField("price_close", DoubleType()),
        StructField("volume_traded", DoubleType()),
        StructField("trades_count", LongType()),
    ]
)

# RAW_BAR_SCHEMA + the coin key. Built as a fresh StructType because
# StructType.add MUTATES the receiver — calling RAW_BAR_SCHEMA.add(...)
# at use sites would append a duplicate `coin` field per call.
BAR_WITH_COIN_SCHEMA = StructType(
    [*RAW_BAR_SCHEMA.fields, StructField("coin", StringType())]
)

_TS_COLS = ("time_period_start", "time_period_end", "time_open", "time_close")

# What ``normalize_bars`` produces, in the column order a read of the
# (period_date, coin)-partitioned bronze and gold stores returns: the data
# columns, then the partition columns. Store readers pass it explicitly,
# so no schema-inference job runs.
BAR_SCHEMA = StructType(
    [
        StructField(f.name, TimestampNTZType()) if f.name in _TS_COLS else f
        for f in RAW_BAR_SCHEMA.fields
    ]
    + [StructField("period_date", DateType()), StructField("coin", StringType())]
)


def default_fetcher(url: str, headers: dict[str, str]) -> list[dict]:
    """Network fetch via requests (import deferred — tests never hit it)."""
    import requests

    resp = requests.get(url, headers=headers, timeout=30)
    resp.raise_for_status()
    return resp.json()


class OhlcvRestSource:
    """Driver-side REST source. Fetches one-or-more latest bars per coin
    and yields a normalized DataFrame ready for the bronze append.

    Matches the reference's request shape (airflow_dags.py:30-39) with the
    key via parameter/conf instead of Airflow Variables (S5)."""

    BASE = "https://rest.coinapi.io/v1/ohlcv"

    def __init__(
        self,
        api_key: str,
        coins: dict[str, str] | None = None,
        fetcher: Callable[[str, dict], list[dict]] | None = None,
    ):
        self.api_key = api_key
        self.coins = coins or DEFAULT_COINS
        self.fetcher = fetcher or default_fetcher

    def fetch_latest(self, period: str = "5MIN", limit: int = 1) -> list[dict]:
        rows: list[dict] = []
        for coin, symbol in self.coins.items():
            url = f"{self.BASE}/{symbol}/latest?period_id={period}&limit={limit}"
            for bar in self.fetcher(url, {"X-CoinAPI-Key": self.api_key}):
                rows.append({**bar, "coin": coin})
        return rows

    def to_df(self, spark: SparkSession, rows: Iterable[dict]) -> DataFrame:
        # Handed over as one Arrow table the rows live in the JVM; a list
        # would be pickled into a Python RDD that every task of the write
        # job unpickles through a Python worker (~0.3 s of a tick's write).
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        table = pa.Table.from_pylist(
            list(rows), schema=to_arrow_schema(BAR_WITH_COIN_SCHEMA)
        )
        return normalize_bars(spark.createDataFrame(table))


def normalize_bars(raw: DataFrame) -> DataFrame:
    """S2/P3/P4 normalization: ISO8601 strings → TIMESTAMP_NTZ (naive UTC,
    matching the reference's tz_convert(None) at airflow_dags.py:45-48),
    derived period_date partition column (airflow_dags.py:49). Prices stay
    double — the reference's int truncation (airflow_dags.py:100-103) is a
    documented bug we do not replicate."""
    out = raw
    for c in _TS_COLS:
        out = out.withColumn(
            c,
            F.to_timestamp_ntz(
                F.regexp_replace(F.col(c), "Z$", ""),
                F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSS"),
            ),
        )
    return out.withColumn("period_date", F.to_date("time_period_start"))


def parse_bar_time(s: str) -> dt.datetime:
    """Driver-side twin of ``normalize_bars``' timestamp parse, for
    matching raw bars against stored keys without a Spark job: the
    naive datetime Spark stores, fraction truncated to microseconds."""
    head, _, frac = s.removesuffix("Z").partition(".")
    return dt.datetime.strptime(head, "%Y-%m-%dT%H:%M:%S").replace(
        microsecond=int(frac[:6].ljust(6, "0"))
    )


# --- Spark 4 Python DataSource wrapper ---------------------------------------

try:
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class CoinApiDataSource(DataSource):
        """``spark.read.format("coinapi").option("api_key", …).load()``.

        One input partition per coin (the reference's per-coin task fan-out
        O3 becomes per-partition parallel fetch). Executors fetch
        independently — the driver never funnels the payload."""

        @classmethod
        def name(cls) -> str:
            return "coinapi"

        def schema(self):
            return BAR_WITH_COIN_SCHEMA

        def reader(self, schema):
            return _CoinApiReader(self.options)

    class _CoinApiReader(DataSourceReader):
        def __init__(self, options):
            self.options = dict(options)

        def partitions(self):
            from pyspark.sql.datasource import InputPartition

            coins = json.loads(
                self.options.get("coins", json.dumps(DEFAULT_COINS))
            )
            return [InputPartition((c, s)) for c, s in sorted(coins.items())]

        def read(self, partition):
            coin, symbol = partition.value
            period = self.options.get("period", "5MIN")
            limit = int(self.options.get("limit", "1"))
            # Hermetic mode: bars injected as a JSON option ({coin: [bar,…]}).
            # Options are plain strings, so they serialize to the executor
            # Python workers where read() actually runs — a fetcher callable
            # wouldn't. Tests use this; production omits it and fetches.
            fixture = self.options.get("fixture_json")
            if fixture is not None:
                bars = json.loads(fixture).get(coin, [])[:limit]
            else:
                src = OhlcvRestSource(self.options.get("api_key", ""))
                url = (
                    f"{src.BASE}/{symbol}/latest?period_id={period}&limit={limit}"
                )
                bars = default_fetcher(url, {"X-CoinAPI-Key": src.api_key})
            for bar in bars:
                yield tuple(
                    bar.get(f.name) for f in RAW_BAR_SCHEMA.fields
                ) + (coin,)

    def register_coinapi_source(spark: SparkSession) -> None:
        spark.dataSource.register(CoinApiDataSource)

except ImportError:  # pragma: no cover - pre-4.0 Spark
    CoinApiDataSource = None

    def register_coinapi_source(spark: SparkSession) -> None:
        raise NotImplementedError("Python DataSource API requires Spark 4")
