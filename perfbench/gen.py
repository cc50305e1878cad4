"""Seeded input generators for the benchmark workloads.

Each generator runs as its own single-threaded process (``python3
perfbench/gen.py <kind> ...``) and hands the engine nothing but files:

- ``stream``: Kafka-shaped parquet files for ``upbit_trade`` and
  ``upbit_orderbook`` (JSON payloads in the ``schemas.py`` layouts). The
  warm-up files are visible at once, the backlog is staged under hidden
  names and made visible on a signal, and the live files are written open
  loop at a fixed rate, each file atomically (hidden name, then rename),
  recording when it was due and when it was written.
- ``batch``: one session of the day for both topics as a 4-partition Kafka
  log, framed by a tail of the previous day before the offset band and by
  later events after it, plus the generator's own typed copy of the band
  that the DuckDB reference reads.
- ``corpus``: a Zipf-shaped corpus with planted near-duplicate clusters,
  low-quality docs and benchmark-contaminated docs, the benchmark items,
  and embeddings for both with planted near-duplicate vectors.

Every byte written depends only on the seed and the sizes, never on the
clock: the live schedule is a list of offsets that the open loop adds to
the start time it is given.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CODES = 150
HOT_FRAC = 0.7
#: 2024-01-01T09:00:00Z, the virtual clock's zero for the stream
BASE_MS = 1_704_099_600_000
DAY_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
STREAM_FILE_MS = 100

KAFKA_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


def codes(n_codes: int = N_CODES) -> list[str]:
    return ["KRW-BTC"] + [f"KRW-C{i:03d}" for i in range(1, n_codes)]


def _code_idx(rng: np.random.Generator, n: int, n_codes: int = N_CODES) -> np.ndarray:
    hot = rng.random(n) < HOT_FRAC
    return np.where(hot, 0, rng.integers(1, n_codes, n))


def _unique_sorted(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` distinct sorted integers in ``[lo, hi)``."""
    if n > hi - lo:
        raise ValueError(f"cannot draw {n} distinct values from {hi - lo}")
    return lo + np.sort(rng.integers(0, hi - lo - n + 1, n)) + np.arange(n)


def _levels(rng: np.random.Generator) -> np.ndarray:
    """Per-code price level: BTC near 9e7 KRW, the rest log-uniform."""
    lv = np.exp(rng.uniform(np.log(50.0), np.log(5e6), N_CODES))
    lv[0] = 9.0e7
    return lv


def _walk(rng: np.random.Generator, code: np.ndarray,
          level: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-code tick random walk in integer ticks (1e-4 of the level)."""
    steps = rng.integers(-1, 2, len(code))
    out = np.empty(len(code), dtype=np.int64)
    for c in np.unique(code):
        m = code == c
        out[m] = 10_000 + np.cumsum(steps[m])
    tick = np.maximum(np.round(level / 10_000, 2), 0.01)
    return out, tick


def trades(rng: np.random.Generator, t_ms: np.ndarray, seq0: int,
           late_frac: float = 0.0, n_codes: int = N_CODES) -> dict:
    """Trade events created at ``t_ms`` (sorted). ``late_frac`` of them carry
    an exchange timestamp 0.5-2.5 s older than their creation (they arrive
    out of order, always well inside a 10 s watermark)."""
    n = len(t_ms)
    code = _code_idx(rng, n, n_codes)
    level = _levels(np.random.default_rng(7))
    ticks, tick = _walk(rng, code, level)
    price = np.round(ticks * tick[code], 2)
    delay = rng.integers(1, 500, n)
    late = rng.random(n) < late_frac
    delay[late] = rng.integers(500, 2500, int(late.sum()))
    ts = t_ms - delay
    prev_close = np.round(10_000 * tick, 2)[code]
    return {
        "code": code,
        "timestamp": ts,
        "trade_timestamp": ts - rng.integers(0, 50, n),
        "trade_price": price,
        "trade_volume": np.round(rng.lognormal(0.0, 1.0, n) * 3e5 / level[code], 8) + 1e-8,
        "ask_bid": np.where(rng.random(n) < 0.5, "BID", "ASK"),
        "prev_closing_price": prev_close,
        "change_price": np.round(price - prev_close, 2),
        "sequential_id": seq0 + np.arange(n, dtype=np.int64),
        "arrive_time": t_ms / 1000.0,
        "create_ms": t_ms,
    }


def orderbooks(rng: np.random.Generator, lo_ms: int, hi_ms: int, n: int,
               n_codes: int = N_CODES) -> dict:
    """Order-book snapshots in ``[lo_ms, hi_ms)``: per code the exchange
    timestamps are distinct and increase with creation time, so the
    previous book of every snapshot is well defined."""
    code = _code_idx(rng, n, n_codes)
    ts = np.empty(n, dtype=np.int64)
    for c in np.unique(code):
        m = code == c
        ts[m] = _unique_sorted(rng, lo_ms, hi_ms, int(m.sum()))
    order = np.argsort(ts, kind="stable")
    code, ts = code[order], ts[order]
    level = _levels(np.random.default_rng(7))
    ticks, tick = _walk(rng, code, level)
    spread = rng.integers(1, 3, n)
    bid = ticks * tick[code]
    ask = (ticks + spread) * tick[code]
    sizes = np.round(rng.lognormal(0.0, 1.0, (n, 2, 5)), 4) + 1e-4
    return {
        "code": code,
        "timestamp": ts,
        "bid": np.round(bid, 2),
        "ask": np.round(ask, 2),
        "tick": tick[code],
        "sizes": sizes,
        "arrive_time": (ts + 1) / 1000.0,
        "create_ms": ts + 1,
    }


def _day(ms: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(ms / 1000))


def _hms(ms: int) -> str:
    return time.strftime("%H:%M:%S", time.gmtime(ms / 1000))


def trade_json(ev: dict, names: list[str]) -> list[bytes]:
    out = []
    for i in range(len(ev["code"])):
        ts = int(ev["timestamp"][i])
        cp = float(ev["change_price"][i])
        out.append(
            (
                '{"type":"trade","code":"%s","timestamp":%d,"trade_date":"%s",'
                '"trade_time":"%s","trade_timestamp":%d,"trade_price":%r,'
                '"trade_volume":%r,"ask_bid":"%s","prev_closing_price":%r,'
                '"change":"%s","change_price":%r,"sequential_id":%d,'
                '"stream_type":"REALTIME","arrive_time":%r}'
                % (
                    names[ev["code"][i]], ts, _day(ts), _hms(ts),
                    int(ev["trade_timestamp"][i]), float(ev["trade_price"][i]),
                    float(ev["trade_volume"][i]), ev["ask_bid"][i],
                    float(ev["prev_closing_price"][i]),
                    "RISE" if cp > 0 else ("FALL" if cp < 0 else "EVEN"), cp,
                    int(ev["sequential_id"][i]), float(ev["arrive_time"][i]),
                )
            ).encode()
        )
    return out


def orderbook_json(ev: dict, names: list[str]) -> list[bytes]:
    out = []
    for i in range(len(ev["code"])):
        sz = ev["sizes"][i]
        bid, ask, tick = float(ev["bid"][i]), float(ev["ask"][i]), float(ev["tick"][i])
        units = ",".join(
            '{"ask_price":%r,"bid_price":%r,"ask_size":%r,"bid_size":%r}'
            % (round(ask + k * tick, 2), round(bid - k * tick, 2),
               float(sz[0, k]), float(sz[1, k]))
            for k in range(5)
        )
        out.append(
            (
                '{"type":"orderbook","code":"%s","timestamp":%d,'
                '"total_ask_size":%r,"total_bid_size":%r,"orderbook_units":[%s],'
                '"stream_type":"REALTIME","level":0,"arrive_time":%r}'
                % (
                    names[ev["code"][i]], int(ev["timestamp"][i]),
                    round(float(sz[0].sum()), 4), round(float(sz[1].sum()), 4),
                    units, float(ev["arrive_time"][i]),
                )
            ).encode()
        )
    return out


def kafka_table(topic: str, keys: list[str], values: list[bytes], create_ms: np.ndarray,
                partition: np.ndarray, offset: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "key": pa.array([k.encode() for k in keys], pa.binary()),
            "value": pa.array(values, pa.binary()),
            "topic": pa.array([topic] * len(values), pa.string()),
            "partition": pa.array(partition, pa.int32()),
            "offset": pa.array(offset, pa.int64()),
            "timestamp": pa.array(np.asarray(create_ms, dtype=np.int64) * 1000,
                                  pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array(np.zeros(len(values), np.int32), pa.int32()),
        },
        schema=KAFKA_SCHEMA,
    )


def parquet_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def write_atomic(path: Path, data: bytes) -> None:
    """Write under a hidden name, then rename: a reader never sees a
    partial file."""
    tmp = path.with_name("." + path.name + ".tmp")
    tmp.write_bytes(data)
    os.replace(tmp, path)


# --------------------------------------------------------------------------
# market_stream
# --------------------------------------------------------------------------

def stream_files(seed: int, rate: int, warmup_s: float, backlog_s: float,
                 live_s: float) -> list[dict]:
    """All stream files in virtual-time order. Virtual ms 0 is the start of
    the live phase; each file holds ``STREAM_FILE_MS`` of events and is due
    at the end of its interval."""
    rng = np.random.default_rng(seed)
    names = codes()
    lo = -int((warmup_s + backlog_s) * 1000)
    hi = int(live_s * 1000)
    n = int(rate * (hi - lo) / 1000)
    files = []
    t_tr = BASE_MS + np.sort(rng.integers(lo, hi, n))
    tr = trades(rng, t_tr, seq0=1, late_frac=0.03)
    ob = orderbooks(rng, BASE_MS + lo, BASE_MS + hi, n)
    for topic, ev, to_json in (("upbit_trade", tr, trade_json),
                               ("upbit_orderbook", ob, orderbook_json)):
        vals = np.array(to_json(ev, names), dtype=object)
        slot = (ev["create_ms"] - BASE_MS - lo) // STREAM_FILE_MS
        n_slots = (hi - lo) // STREAM_FILE_MS
        bounds = np.searchsorted(slot, np.arange(n_slots + 1))
        offset0 = 0
        for s in range(n_slots):
            a, b = bounds[s], bounds[s + 1]
            idx = np.arange(a, b)
            # rows inside a file arrive in no particular order
            idx = idx[rng.permutation(len(idx))]
            v_end = lo + (s + 1) * STREAM_FILE_MS
            phase = ("warmup" if v_end <= lo + warmup_s * 1000
                     else "backlog" if v_end <= 0 else "live")
            tbl = kafka_table(
                topic,
                [names[c] for c in ev["code"][idx]],
                list(vals[idx]),
                ev["create_ms"][idx],
                np.zeros(len(idx), np.int32),
                offset0 + np.arange(len(idx)),
            )
            offset0 += len(idx)
            files.append({
                "topic": topic,
                "name": f"{phase}-{s:05d}.parquet",
                "phase": phase,
                "due_ms": v_end,
                "n_events": int(len(idx)),
                "data": parquet_bytes(tbl),
            })
    return files


def wait_for(path: Path, deadline: float) -> str:
    while not path.exists():
        if time.time() > deadline:
            raise TimeoutError(f"signal {path.name} never arrived")
        time.sleep(0.002)
    return path.read_text()


def run_stream(args: argparse.Namespace) -> None:
    out = Path(args.out)
    files = stream_files(args.seed, args.rate, args.warmup_s, args.backlog_s, args.live_s)
    for topic in ("upbit_trade", "upbit_orderbook"):
        (out / topic).mkdir(parents=True, exist_ok=True)
    manifest = []
    for f in files:
        target = out / f["topic"] / f["name"]
        if f["phase"] == "warmup":
            write_atomic(target, f["data"])
        elif f["phase"] == "backlog":
            target.with_name("." + f["name"]).write_bytes(f["data"])
        manifest.append({k: v for k, v in f.items() if k != "data"})
    (out / "manifest.json").write_text(json.dumps(manifest))
    write_atomic(out / "ready", b"1")
    deadline = time.time() + 150
    wait_for(out / "stage_backlog", deadline)
    for f in files:
        if f["phase"] == "backlog":
            hidden = out / f["topic"] / ("." + f["name"])
            os.replace(hidden, hidden.with_name(f["name"]))
    write_atomic(out / "backlog_staged", b"1")
    go = float(wait_for(out / "go", deadline))
    live = sorted((f for f in files if f["phase"] == "live"), key=lambda f: f["due_ms"])
    schedule = []
    for f in live:
        due = go + f["due_ms"] / 1000.0
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        write_atomic(out / f["topic"] / f["name"], f["data"])
        schedule.append({"topic": f["topic"], "name": f["name"], "due": due,
                         "written": time.time(), "n_events": f["n_events"]})
    write_atomic(out / "schedule.json", json.dumps(schedule).encode())


# --------------------------------------------------------------------------
# market_batch
# --------------------------------------------------------------------------

BATCH_PARTITIONS = 4
#: order-book snapshots per trade (2-5x denser, FIXTURES.md)
OB_RATIO = 3


def batch_events(seed: int, n_trades: int, session_s: int,
                 n_codes: int) -> tuple[dict, dict]:
    """The day's first ``session_s`` seconds, framed by a sixth as long of
    the previous day before it and of later events after it; the frames
    sit outside the offset band."""
    rng = np.random.default_rng(seed)
    frame_s = session_s // 6
    lo = DAY_START_MS - frame_s * 1000
    hi = DAY_START_MS + (session_s + frame_s) * 1000
    n_all = int(n_trades * (session_s + 2 * frame_s) / session_s)
    t_tr = np.sort(rng.integers(lo, hi, n_all))
    tr = trades(rng, t_tr, seq0=1, n_codes=n_codes)
    ob = orderbooks(rng, lo, hi, n_all * OB_RATIO, n_codes)
    return tr, ob


def run_batch(args: argparse.Namespace) -> None:
    out = Path(args.out)
    names = codes(args.codes)
    tr, ob = batch_events(args.seed, args.trades, args.session_s, args.codes)
    band_lo, band_hi = DAY_START_MS, DAY_START_MS + args.session_s * 1000
    offsets, n_events = {}, {}
    for topic, ev, to_json in (("upbit_trade", tr, trade_json),
                               ("upbit_orderbook", ob, orderbook_json)):
        keys = [names[c] for c in ev["code"]]
        part = (ev["code"] % BATCH_PARTITIONS).astype(np.int32)
        # dense per-partition offsets in creation order: the band of the
        # day is a contiguous offset range in every partition
        order = np.lexsort((ev["create_ms"], part))
        off = np.empty(len(part), np.int64)
        for p in range(BATCH_PARTITIONS):
            m = order[part[order] == p]
            off[m] = np.arange(len(m))
        vals = to_json(ev, names)
        in_band = (ev["create_ms"] >= band_lo) & (ev["create_ms"] < band_hi)
        n_events[topic] = int(in_band.sum())
        bounds = {}
        for p in range(BATCH_PARTITIONS):
            mp = part == p
            bounds[str(p)] = [int(off[mp & (ev["create_ms"] < band_lo)].size),
                              int(off[mp & (ev["create_ms"] < band_hi)].size)]
        offsets[topic] = bounds
        for p in range(BATCH_PARTITIONS):
            idx = order[part[order] == p]
            d = out / "log" / topic / f"partition={p}"
            d.mkdir(parents=True, exist_ok=True)
            tbl = kafka_table(topic, [keys[i] for i in idx], [vals[i] for i in idx],
                              ev["create_ms"][idx], part[idx], off[idx]).drop(["partition"])
            pq.write_table(tbl, d / "part-0.parquet", compression="snappy")
        truth = {k: v[in_band] for k, v in ev.items() if k != "sizes"}
        truth["code"] = np.array(names)[truth["code"]]
        if topic == "upbit_orderbook":
            sz = ev["sizes"][in_band]
            truth["best_bid_size"] = sz[:, 1, 0]
            truth["best_ask_size"] = sz[:, 0, 0]
            del truth["tick"]
        else:
            truth["ask_bid"] = truth["ask_bid"].astype(str)
        (out / "truth").mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table(truth), out / "truth" / f"{topic}.parquet")
    (out / "manifest.json").write_text(json.dumps({"offsets": offsets, "n_events": n_events}))


# --------------------------------------------------------------------------
# corpus_curate
# --------------------------------------------------------------------------

STOP = ["the", "a", "of", "and", "data", "value", "to", "in"]
DIM = 64


def _words(prefix: str, n: int) -> list[str]:
    out = []
    for i in range(n):
        s, j = "", i
        for _ in range(3):
            s = chr(97 + j % 26) + s
            j //= 26
        out.append(prefix + s)
    return out


def corpus(seed: int, n_docs: int, n_bench: int) -> dict:
    rng = np.random.default_rng(seed)
    vocab = np.array(_words("m", 2000) + _words("r", 8000))
    mid_p = 1.0 / np.arange(1, 2001) ** 1.1
    mid_p /= mid_p.sum()
    bench_vocab = np.array(_words("zq", 3000))
    langs = np.array(["en", "de", "fr", "es"])
    lang_p = np.array([0.55, 0.2, 0.15, 0.1])

    def body() -> list[str]:
        words = list(vocab[rng.choice(2000, 20, p=mid_p)])
        words += list(vocab[2000 + rng.integers(0, 8000, 2)])
        words += list(rng.choice(STOP, 6))
        rng.shuffle(words)
        return words

    bench = [" ".join(bench_vocab[rng.integers(0, 3000, 12)]) for _ in range(n_bench)]
    texts, kind = [], []
    n_src = n_docs // 20
    while len(texts) < n_docs:
        r = rng.random()
        if r < 0.04:  # low quality: digits and punctuation, no stop words
            texts.append(" ".join(f"{rng.integers(0, 10**6)};{rng.integers(0, 999)}!"
                                  for _ in range(12)))
            kind.append("lowq")
        elif r < 0.05:  # contaminated: a benchmark passage inside a good doc
            w = body()
            item = bench[rng.integers(0, n_bench)].split()
            at = int(rng.integers(0, 6))
            w[10:10] = item[at:at + 6]
            texts.append(" ".join(w))
            kind.append("contam")
        else:
            texts.append(" ".join(body()))
            kind.append("clean")
    # near-duplicate clusters: copies of a source doc with one word changed
    src = rng.choice(np.flatnonzero(np.array(kind) == "clean"), n_src, replace=False)
    pos = rng.choice(np.arange(n_docs), n_src * 2, replace=False)
    pos = pos[~np.isin(pos, src)][: n_src]
    for s, p in zip(src, pos):
        w = texts[s].split()
        w[int(rng.integers(0, len(w)))] = str(vocab[int(rng.integers(0, 2000))])
        texts[p] = " ".join(w)
        kind[p] = "dup"
    centers = rng.standard_normal((64, DIM))
    cell = rng.integers(0, 64, n_docs)
    emb = centers[cell] + 0.35 * rng.standard_normal((n_docs, DIM))
    emb[pos] = emb[src] + 0.01 * rng.standard_normal((len(src), DIM))
    contam_ids = np.flatnonzero(np.array(kind) == "contam")
    q = centers[rng.integers(0, 64, n_bench)] + 0.35 * rng.standard_normal((n_bench, DIM))
    near = contam_ids[: n_bench // 2]
    q[: len(near)] = emb[near] + 0.02 * rng.standard_normal((len(near), DIM))
    return {
        "docs": pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.choice(4, n_docs, p=lang_p)]),
        }),
        "bench": pa.table({
            "doc_id": pa.array(np.arange(n_bench, dtype=np.int64)),
            "text": pa.array(bench),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "embedding": pa.array(list(np.round(emb, 6)), pa.list_(pa.float64())),
        }),
        "bench_embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_bench, dtype=np.int64) + 10**9),
            "embedding": pa.array(list(np.round(q, 6)), pa.list_(pa.float64())),
        }),
        "manifest": {
            "contaminated": [int(i) for i in contam_ids],
            "low_quality": [int(i) for i in np.flatnonzero(np.array(kind) == "lowq")],
        },
    }


def run_corpus(args: argparse.Namespace) -> None:
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    c = corpus(args.seed, args.docs, args.bench)
    for name in ("docs", "bench", "embeddings", "bench_embeddings"):
        pq.write_table(c[name], out / f"{name}.parquet", compression="snappy")
    (out / "manifest.json").write_text(json.dumps(c["manifest"]))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="kind", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--rate", type=int, required=True, help="events/s per topic")
    s.add_argument("--warmup-s", type=float, required=True)
    s.add_argument("--backlog-s", type=float, required=True)
    s.add_argument("--live-s", type=float, required=True)
    b = sub.add_parser("batch")
    b.add_argument("--trades", type=int, required=True)
    b.add_argument("--session-s", type=int, required=True)
    b.add_argument("--codes", type=int, default=N_CODES)
    c = sub.add_parser("corpus")
    c.add_argument("--docs", type=int, required=True)
    c.add_argument("--bench", type=int, required=True)
    for p in (s, b, c):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    {"stream": run_stream, "batch": run_batch, "corpus": run_corpus}[args.kind](args)


if __name__ == "__main__":
    main()
