"""``market_batch``: the daily archive (§3.2) and preprocessing (§3.3) path
on one generated day of trades and order books.

A round is what the daily batch does for one day:

1. a bounded-offset ``read_kafka_log`` of the day's band and a parse;
2. ``archive_job`` + ``write_partitioned`` by ``(processing_date, code)``;
3. a date-pruned ``read_partitioned`` (the archive also holds the previous
   day's tail, archived once in set-up through steps 1 and 2);
4. ``preprocess_job(block_span="auto", adaptive_asof="auto")``,
   ``market_stats_job`` and ``candle_job``, each output written.

Shuffle, skew and the as-of join do nearly all of the work here. The hot
key carries about 175 order books per 10 s tolerance bucket, above the
engine's adaptive threshold (128), so ``adaptive_asof="auto"`` takes the
interval-adaptive as-of join; its ~7k trades stay below the blocked
cumsum's threshold, so ``block_span="auto"`` keeps the plain cumsum. Rounds
repeat until the measuring time is used, at least one. A round's
latency runs from its start to when the dollar-bar/as-of output is written
(``latency_*``) and to when the stats and candles are written
(``side_latency_*``). Bars and as-of output are checked against DuckDB on
the generator's own copy of the day's events.
"""

from __future__ import annotations

import json
import math
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from .common import Result, finish, measure_rounds, run_generator
from .metrics import BATCH_CALLS
from .trace import JobCounters, Tracer, call_layers, read_event_log, task_skew

#: one session of the day: 10k trades over 20 instruments (one hot), 3x as
#: many order-book snapshots. 20 instruments rather than the stream's 150
#: keep the (date, code) archive listing from swamping a round; a 20-minute
#: session makes the hot key dense enough for the adaptive as-of join.
N_TRADES = 10_000
N_CODES = 20
SESSION_S = 1200
DAY = "2024-01-01"
PREV_DAY = "2023-12-31"
TOPICS = ("upbit_trade", "upbit_orderbook")
BAR_SIZE = 3_000_000.0
TOLERANCE_MS = 10_000

REFERENCE_SQL = f"""
WITH c AS (
  SELECT code, timestamp, sequential_id, trade_price,
         CAST(round(trade_price * trade_volume * 100) AS BIGINT) AS nc,
         sum(CAST(round(trade_price * trade_volume * 100) AS BIGINT)) OVER (
           PARTITION BY code ORDER BY timestamp, sequential_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM trades),
b AS (
  SELECT code, (cum - 1) // {int(BAR_SIZE * 100)} AS bar_num,
         arg_min(trade_price, timestamp::HUGEINT * 1000000000000 + sequential_id) AS open,
         max(trade_price) AS high, min(trade_price) AS low,
         arg_max(trade_price, timestamp::HUGEINT * 1000000000000 + sequential_id) AS close,
         count(*) AS n_trades, sum(nc) / 100.0 AS notional, max(timestamp) AS bar_end_us
  FROM c GROUP BY ALL),
s AS (
  SELECT code, timestamp AS ob_timestamp, arrive_time, bid AS best_bid_price,
         ask AS best_ask_price, best_bid_size, best_ask_size,
         best_bid_size / best_ask_size AS obi
  FROM orderbooks),
j AS (
  SELECT b.*, s.ob_timestamp, s.arrive_time, s.best_bid_price, s.best_ask_price,
         s.best_bid_size, s.best_ask_size, s.obi
  FROM b ASOF LEFT JOIN s ON b.code = s.code AND b.bar_end_us >= s.ob_timestamp)
SELECT code, bar_num, open, high, low, close, n_trades, notional, bar_end_us,
       {", ".join(
           f"CASE WHEN ob_timestamp >= bar_end_us - {TOLERANCE_MS} THEN {c} END AS {c}_r"
           for c in ("ob_timestamp", "arrive_time", "best_bid_price", "best_ask_price",
                     "best_bid_size", "best_ask_size", "obi"))}
FROM j
"""


def reference(truth: Path) -> pd.DataFrame:
    """Dollar bars + as-of join of the day, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("trades", pq.read_table(truth / "upbit_trade.parquet"))
        con.register("orderbooks", pq.read_table(truth / "upbit_orderbook.parquet"))
        return con.sql(REFERENCE_SQL).df()
    finally:
        con.close()


def run(ctx, res: Result) -> None:
    t_setup = time.time()
    data = ctx.work / "data"
    gen = run_generator("batch", ctx.seed, data, "--trades", str(N_TRADES),
                        "--codes", str(N_CODES), "--session-s", str(SESSION_S))
    try:
        spark = ctx.session()
    finally:
        finish(gen)
    manifest = json.loads((data / "manifest.json").read_text())
    offsets = manifest["offsets"]
    # the previous day's tail (the offsets before the band) starts every
    # round's archive
    template = ctx.work / "archive_template"
    prev = {t: ({p: 0 for p in b}, {p: lo for p, (lo, _) in b.items()})
            for t, b in offsets.items()}
    _archive(spark, Tracer(spark, False), data, prev, PREV_DAY, template)
    res.e2e["setup_s"] = time.time() - t_setup

    band = {t: ({p: lo for p, (lo, _) in b.items()}, {p: hi for p, (_, hi) in b.items()})
            for t, b in offsets.items()}
    tracer = Tracer(spark, ctx.trace)
    n_events = sum(manifest["n_events"].values())

    def one_round(r: int) -> tuple[float, float]:
        archive = ctx.work / f"archive_{r}"
        shutil.copytree(template, archive)
        tracer.round = r
        t0 = time.time()
        return t0, _round(spark, tracer, data, band, DAY, archive, ctx.work / f"out_{r}")

    rounds = measure_rounds(res, ctx.seconds, n_events, one_round)
    res.report.update(batch_events_per_s=res.e2e["throughput_per_s"], rounds=rounds,
                      events_per_round=n_events)
    ctx.tracer = tracer

    want = reference(data / "truth")
    for r in range(rounds):
        _check_round(res, ctx.work / f"out_{r}", want, manifest)


def _archive(spark, tracer: Tracer, data: Path, bounds: dict, date: str,
             archive: Path) -> None:
    """Steps 1-2: read the offset ``bounds`` (per topic: the start and end
    offset of each partition), parse, and archive under ``date``."""
    from crypto_market_data_etl_spark.plans import reference_jobs as jobs
    from crypto_market_data_etl_spark.sources.files import write_partitioned
    from crypto_market_data_etl_spark.sources.kafka_mock import read_kafka_log

    for topic, parse in zip(TOPICS, (jobs.parse_trades, jobs.parse_orderbooks)):
        start, end = bounds[topic]
        raw = tracer.call(
            "sources.read_kafka_log",
            lambda: read_kafka_log(spark, str(data / "log" / topic), topic, start, end),
            tag=topic)
        parsed = tracer.call("functions.parse", lambda: parse(raw), tag=topic,
                             inputs=[("sources.read_kafka_log", topic)])
        tracer.call("sources.write_partitioned",
                    lambda: write_partitioned(jobs.archive_job(parsed, date),
                                              str(archive / topic)),
                    inputs=[("functions.parse", topic)])


def _round(spark, tracer: Tracer, data: Path, bounds: dict, date: str, archive: Path,
           out: Path) -> float:
    """One day's batch; returns when the bars/as-of output was written."""
    from crypto_market_data_etl_spark.plans import reference_jobs as jobs
    from crypto_market_data_etl_spark.sources.files import read_partitioned

    _archive(spark, tracer, data, bounds, date, archive)
    day = {}
    for topic in TOPICS:
        day[topic] = tracer.call(
            "sources.read_partitioned",
            lambda: read_partitioned(spark, str(archive / topic), processing_date=date),
            tag=topic)
    trades, obs = day["upbit_trade"], day["upbit_orderbook"]
    def asof_inputs():
        return [tracer.last("operators.dollar_bars"),
                tracer.last("sources.read_partitioned", "upbit_orderbook")]

    # preprocess_job calls these by their names in its own module; it picks
    # one of the two as-of forms from the data
    with tracer.wrapped(jobs, "dollar_bars", "operators.dollar_bars", lambda: [
                tracer.last("sources.read_partitioned", "upbit_trade")]), \
            tracer.wrapped(jobs, "asof_join", "operators.asof_join", asof_inputs,
                           tag="rank"), \
            tracer.wrapped(jobs, "asof_join_adaptive", "operators.asof_join", asof_inputs,
                           tag="adaptive"):
        bars = jobs.preprocess_job(trades, obs, block_span="auto", adaptive_asof="auto")
    bars.write.parquet(str(out / "bars_asof"))
    t_bars = time.time()
    stats = tracer.call("operators.market_stats", lambda: jobs.market_stats_job(obs),
                        inputs=[("sources.read_partitioned", "upbit_orderbook")])
    stats.write.parquet(str(out / "stats"))
    candles = tracer.call("operators.candles", lambda: jobs.candle_job(trades),
                          inputs=[("sources.read_partitioned", "upbit_trade")])
    candles.write.parquet(str(out / "candles"))
    return t_bars


def _check_round(res: Result, out: Path, want: pd.DataFrame, manifest: dict) -> None:
    got = pq.read_table(out / "bars_asof").to_pandas()
    keys = ["code", "bar_num"]
    res.check(len(got) == len(want), f"bars: {len(got)} rows, want {len(want)}")
    m = want.merge(got, on=keys, how="left", suffixes=("", "_got"))
    for c in want.columns:
        if c in keys:
            continue
        if c + "_got" not in m:
            res.check(False, f"bars: column {c} missing")
            continue
        a = m[c].to_numpy(dtype=float, na_value=np.nan)
        b = m[c + "_got"].to_numpy(dtype=float, na_value=np.nan)
        ok = np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)
        res.check(bool(ok.all()), f"bars.{c}: {int((~ok).sum())} rows differ")
    stats = pq.read_table(out / "stats", columns=["code"]).num_rows
    res.check(stats == manifest["n_events"]["upbit_orderbook"],
              f"stats: {stats} rows, want {manifest['n_events']['upbit_orderbook']}")
    candles = pq.read_table(out / "candles", columns=["n_trades"]).to_pandas()
    res.check(int(candles["n_trades"].sum()) == manifest["n_events"]["upbit_trade"],
              "candles lost trades")


def trace_layers(ctx, res: Result) -> None:
    counters = read_event_log(ctx.work / "eventlog")
    res.layers.update(call_layers(ctx.tracer.spans, counters, BATCH_CALLS))
    skew = [task_skew(counters.get(s.sid, JobCounters()),
                      [counters[i.sid] for i in s.inputs if i.sid in counters])
            for _, s in ctx.tracer.spans if s.name == "operators.asof_join"]
    res.layers["operators.asof_join.task_skew"] = max(skew) if skew else math.nan
    # which of the two as-of forms preprocess_job chose from the data
    res.report["asof_form"] = sorted({tag for name, tag in ctx.tracer.outputs
                                      if name == "operators.asof_join"})
