"""``market_stream``: the realtime path (Upbit -> Kafka -> Structured
Streaming), two queries at once over Kafka-shaped file logs.

- candles: ``read_kafka_log_stream`` -> ``parse_trades`` ->
  ``candle_job(streaming=True)`` in update mode;
- OFI: ``parse_orderbooks`` -> ``stateful_ofi_bucketed``.

Both sinks are this module's own ``foreachBatch`` functions: they serialize
each batch with ``to_kafka_value``, collect the values, and record when
they return.

Phases: warm-up triggers (part of set-up); catch-up, where the queries stop,
a backlog is staged, and the restarted queries drain it from their
checkpoints, as a restarted consumer does; then live, an open loop at one
fixed rate. Catch-up measures throughput and live measures the fixed cost
per trigger, so a change that makes triggers bigger or smaller shows as a
gain in one phase and a loss in the other.

Latency is per event: from when its file was due to when the
``foreachBatch`` call that emitted its batch returned. The file source's
commit log ``<checkpoint>/sources/0/<batchId>`` maps batches to files.
"""

from __future__ import annotations

import json
import math
import threading
import time
from pathlib import Path

import numpy as np
import pandas as pd

from .gen import wait_for, write_atomic
from .common import (
    CANDLE_STATE_PARTITIONS,
    OFI_BUCKETS,
    OFI_STATE_PARTITIONS,
    Result,
    finish,
    median,
    quantile,
    run_generator,
)

#: events per second per topic in the live phase; the same on every commit
RATE = 1000
WARMUP_S = 1.0
BACKLOG_S = 16.0
TOPICS = ("upbit_trade", "upbit_orderbook")
PROGRESS_KEYS = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                 "commitOffsets", "latestOffset")
PROGRESS_NAMES = ("trigger_ms", "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
                  "commitOffsets_ms", "latestOffset_ms")


class Sink:
    """foreachBatch sink: serialize each batch with ``to_kafka_value`` and
    hand the values to the driver, the way a producer would publish them;
    a replayed batch replaces its own entry and is counted. Notes when each
    call returned and how long it took."""

    def __init__(self):
        self.values: dict[int, list[str]] = {}
        self.returned: dict[int, float] = {}
        self.took_ms: dict[int, float] = {}
        self.replayed: list[int] = []
        self._lock = threading.Lock()

    def __call__(self, batch_df, batch_id: int) -> None:
        from crypto_market_data_etl_spark.functions.derive import to_kafka_value

        t0 = time.time()
        values = [r.value for r in to_kafka_value(batch_df).collect()]
        t1 = time.time()
        with self._lock:
            if batch_id in self.values:
                self.replayed.append(batch_id)
            self.values[batch_id] = values
            self.took_ms[batch_id] = (t1 - t0) * 1000
            self.returned[batch_id] = t1

    def rows(self) -> pd.DataFrame:
        """Every row emitted, decoded, with the batch that emitted it."""
        with self._lock:
            items = sorted(self.values.items())
        rows = [dict(json.loads(v), batch_id=b) for b, vs in items for v in vs]
        return pd.DataFrame(rows)


def commit_log(checkpoint: Path) -> dict[int, list[str]]:
    """Query batch id -> names of the files it read.

    The file source keeps its own log offsets (``sources/0/<n>``, compacted
    every few entries into ``<n>.compact``; each entry carries its offset
    as ``batchId``), and they fall behind the query's batch ids whenever a
    batch reads no new files. The query's ``offsets/<batchId>`` records the
    source offset each batch ended at, which ties the two together."""
    by_offset: dict[int, set[str]] = {}
    for p in (checkpoint / "sources" / "0").iterdir():
        if p.name.startswith("."):
            continue
        for line in p.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                by_offset.setdefault(e["batchId"], set()).add(Path(e["path"]).name)
    ends = {}
    for p in (checkpoint / "offsets").iterdir():
        if p.name.isdigit():
            ends[int(p.name)] = json.loads(p.read_text().splitlines()[-1])["logOffset"]
    out, prev = {}, -1
    for bid in sorted(ends):
        out[bid] = sorted(f for o in range(prev + 1, ends[bid] + 1)
                          for f in by_offset.get(o, ()))
        prev = ends[bid]
    return out


def event_latencies(batches: dict[int, list[str]], returned: dict[int, float],
                    due: dict[str, float], n_events: dict[str, int]
                    ) -> tuple[list[float], list[float]]:
    """Per-file latency in ms (batch return - file due) with the file's event
    count as its weight; files without a due time (warm-up, backlog) are
    left out."""
    lat, w = [], []
    for bid, files in batches.items():
        for f in files:
            if f in due and bid in returned:
                lat.append((returned[bid] - due[f]) * 1000)
                w.append(n_events[f])
    return lat, w


def _rows_done(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def _wait_rows(queries: dict, want: dict[str, int], deadline: float) -> None:
    while True:
        for name, q in queries.items():
            if q.exception() is not None:
                raise RuntimeError(f"query {name} failed: {q.exception()}")
        if all(_rows_done(queries[k]) >= v for k, v in want.items()):
            return
        if time.time() > deadline:
            raise TimeoutError(f"stream did not drain: want {want}")
        # each poll copies every progress record out of the JVM: poll slowly
        time.sleep(0.1)


def run(ctx, res: Result) -> None:
    t_setup = time.time()
    logs = ctx.work / "log"
    gen = run_generator(
        "stream", ctx.seed, logs, "--rate", str(RATE), "--warmup-s", str(WARMUP_S),
        "--backlog-s", str(BACKLOG_S), "--live-s", str(ctx.seconds),
    )
    try:
        spark = ctx.session()
        _run(ctx, res, spark, logs, gen, t_setup)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()


def _run(ctx, res: Result, spark, logs: Path, gen, t_setup: float) -> None:
    from crypto_market_data_etl_spark.plans.reference_jobs import (
        candle_job,
        parse_orderbooks,
        parse_trades,
    )
    from crypto_market_data_etl_spark.session import state_partitions
    from crypto_market_data_etl_spark.sources.kafka_mock import read_kafka_log_stream
    from crypto_market_data_etl_spark.streaming.stateful import stateful_ofi_bucketed

    deadline = time.time() + 160
    wait_for(logs / "ready", deadline)
    t_ready = time.time()
    manifest = json.loads((logs / "manifest.json").read_text())
    rows = {t: {ph: sum(f["n_events"] for f in manifest
                        if f["topic"] == t and f["phase"] == ph)
                for ph in ("warmup", "backlog", "live")} for t in TOPICS}
    sinks = {"candle": Sink(), "ofi": Sink()}
    ckpt = {k: ctx.work / f"ckpt_{k}" for k in sinks}

    trades = parse_trades(read_kafka_log_stream(spark, str(logs / "upbit_trade")))
    obs = parse_orderbooks(read_kafka_log_stream(spark, str(logs / "upbit_orderbook")))

    def start() -> dict:
        with state_partitions(spark, CANDLE_STATE_PARTITIONS):
            candle = (
                candle_job(trades, streaming=True).writeStream
                .foreachBatch(sinks["candle"])
                .option("checkpointLocation", str(ckpt["candle"]))
                .outputMode("update").queryName("candle").start()
            )
        with state_partitions(spark, OFI_STATE_PARTITIONS):
            ofi = (
                stateful_ofi_bucketed(obs, ts_col="timestamp", n_buckets=OFI_BUCKETS)
                .writeStream.foreachBatch(sinks["ofi"])
                .option("checkpointLocation", str(ckpt["ofi"]))
                .outputMode("append").queryName("ofi").start()
            )
        return {"candle": candle, "ofi": ofi}

    topic_of = {"candle": "upbit_trade", "ofi": "upbit_orderbook"}
    queries = start()
    try:
        _wait_rows(queries, {k: rows[topic_of[k]]["warmup"] for k in queries}, deadline)
        res.e2e["setup_s"] = time.time() - t_setup
        res.report["warmup_s"] = time.time() - t_ready
        # the consumer stops, the backlog builds up, the consumer restarts
        # from its checkpoints and finds all of it in its first trigger
        for q in queries.values():
            q.stop()
        write_atomic(logs / "stage_backlog", b"1")
        wait_for(logs / "backlog_staged", deadline)
        t_restart = time.time()
        queries = start()
        want = {k: rows[topic_of[k]]["backlog"] for k in queries}
        _wait_rows(queries, want, deadline)
        n_catch = {k: len(q.recentProgress) for k, q in queries.items()}

        write_atomic(logs / "go", repr(time.time() + 0.2).encode())
        finish(gen, timeout=max(1.0, deadline - time.time()))
        want = {k: want[k] + rows[topic_of[k]]["live"] for k in queries}
        _wait_rows(queries, want, deadline)
        progress = {k: list(q.recentProgress) for k, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()

    schedule = json.loads((logs / "schedule.json").read_text())
    late = [(f["written"] - f["due"]) * 1000 for f in schedule]
    backlog_names = {f["name"] for f in manifest if f["phase"] == "backlog"}
    files_per_batch = []
    t_caught = 0.0
    for key, prefix in (("candle", "latency"), ("ofi", "side_latency")):
        batches = commit_log(ckpt[key])
        t_caught = max(t_caught, *(sinks[key].returned[b] for b, fs in batches.items()
                                   if backlog_names.intersection(fs)))
        live = [f for f in schedule if f["topic"] == topic_of[key]]
        live_names = {f["name"] for f in live}
        lat, w = event_latencies(
            batches, sinks[key].returned,
            {f["name"]: f["due"] for f in live}, {f["name"]: f["n_events"] for f in live},
        )
        res.e2e[f"{prefix}_p50_ms"] = quantile(lat, 0.5, w)
        res.e2e[f"{prefix}_p90_ms"] = quantile(lat, 0.9, w)
        res.report[f"{key}_latency_p50_ms"] = res.e2e[f"{prefix}_p50_ms"]
        res.report[f"{key}_latency_p90_ms"] = res.e2e[f"{prefix}_p90_ms"]
        res.report[f"{key}_latency_events"] = sum(w)
        live_batches = [b for b, fs in batches.items() if any(f in live_names for f in fs)]
        files_per_batch += [len(batches[b]) for b in live_batches]
        committed = [int(p.name) for p in (ckpt[key] / "commits").iterdir()
                     if p.name.isdigit()]
        for b in committed:
            res.check(b in sinks[key].returned, f"{key} batch {b} never reached the sink")
        for b in sinks[key].replayed:
            res.check(False, f"{key} batch {b} was retried")
        if ctx.trace:
            _progress_layers(res, key, progress[key], n_catch[key], sinks[key],
                             live_batches, rows[topic_of[key]]["backlog"])
    # catch-up runs from the restart to the return of the last batch, of
    # either query, that read a backlog file
    backlog = sum(rows[t]["backlog"] for t in TOPICS)
    res.e2e["throughput_per_s"] = backlog / (t_caught - t_restart)
    res.report["catchup_events_per_s"] = res.e2e["throughput_per_s"]
    res.layers["sources.backlog_files_p90"] = quantile(files_per_batch, 0.9)
    res.layers["generator.late_ms_p99"] = quantile(late, 0.99)
    t_check = time.time()
    _check_outputs(spark, res, logs, sinks)
    res.report["check_s"] = time.time() - t_check


def _progress_layers(res: Result, key: str, progress: list[dict], n_catch: int,
                     sink: Sink, live_batches: list[int], backlog_rows: int) -> None:
    """The per-trigger ``StreamingQueryProgress`` split, p50 over the live
    triggers, and the catch-up rate from the catch-up triggers."""
    live = [p for p in progress[n_catch:] if p["numInputRows"] > 0]
    pre = f"streaming.{key}."
    for src, name in zip(PROGRESS_KEYS, PROGRESS_NAMES):
        res.layers[pre + name] = median([p["durationMs"].get(src, 0) for p in live])
    res.layers[pre + "sink_ms"] = median([sink.took_ms[b] for b in live_batches
                                          if b in sink.took_ms])
    state = [p["stateOperators"][0] for p in live if p["stateOperators"]]
    res.layers[pre + "state_rows"] = median([s["numRowsTotal"] for s in state])
    res.layers[pre + "state_memory_bytes"] = median([s["memoryUsedBytes"] for s in state])
    res.layers[pre + "state_commit_ms"] = median([s["commitTimeMs"] for s in state])
    catch = progress[:n_catch]
    ms = sum(p["durationMs"].get("triggerExecution", 0) for p in catch)
    res.layers[pre + "catchup_rows_per_s"] = backlog_rows / (ms / 1000) if ms else math.nan


def _check_outputs(spark, res: Result, logs: Path, sinks: dict[str, Sink]) -> None:
    """Final streamed candles against batch ``candle_job`` and streamed OFI
    against batch ``with_ofi``, over the same events."""
    from crypto_market_data_etl_spark.operators.ewma import with_ofi
    from crypto_market_data_etl_spark.plans.reference_jobs import (
        candle_job,
        parse_orderbooks,
        parse_trades,
    )
    from crypto_market_data_etl_spark.sources.kafka_mock import read_kafka_log

    trades = parse_trades(read_kafka_log(spark, str(logs / "upbit_trade"), "upbit_trade"))
    want_c = candle_job(trades).toPandas()
    want_c["w_start"] = want_c["w_start"].astype("int64") // 10**6
    got_c = sinks["candle"].rows()
    got_c["w_start"] = pd.to_datetime(got_c["w_start"]).astype("int64") // 10**6
    # update mode re-emits a window on every trigger that touches it; the
    # last emission is the final candle
    got_c = (got_c.sort_values("batch_id", kind="stable")
             .drop_duplicates(["w_start", "code"], keep="last").drop(columns="batch_id"))
    res.check(int(got_c["n_trades"].sum()) == int(want_c["n_trades"].sum()),
              "streamed candles lost trades")
    _compare(res, "candles", got_c, want_c, ["w_start", "code"])

    obs = parse_orderbooks(read_kafka_log(spark, str(logs / "upbit_orderbook"),
                                          "upbit_orderbook"))
    want_o = with_ofi(obs, ["code"], ["timestamp", "arrive_time"]).select(
        "code", "timestamp", "ofi").toPandas()
    got_o = sinks["ofi"].rows().drop(columns="batch_id")
    _compare(res, "ofi", got_o, want_o, ["code", "timestamp"])


def _compare(res: Result, what: str, got, want, keys: list[str]) -> None:
    """Row-for-row comparison on ``keys``; floats within 1e-6 relative."""
    res.check(len(got) == len(want), f"{what}: {len(got)} rows, want {len(want)}")
    m = want.merge(got, on=keys, how="outer", suffixes=("", "_got"), indicator=True)
    res.check(bool((m["_merge"] == "both").all()), f"{what}: keys differ")
    both = m[m["_merge"] == "both"]
    for c in want.columns:
        if c in keys:
            continue
        a, b = both[c].to_numpy(), both[c + "_got"].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            ok = np.isclose(a, b, rtol=1e-6, atol=1e-6, equal_nan=True)
        else:
            ok = a == b
        res.check(bool(np.all(ok)), f"{what}.{c}: {int((~ok).sum())} rows differ")


def trace_layers(ctx, res: Result) -> None:
    """The stream's per-layer figures come from query progress, gathered
    during the pass."""
