"""Operator unit tests: as-of join vs pd.merge_asof, dollar bars, EWMA, OFI."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crypto_market_data_etl_spark.operators.asof import (
    asof_join,
    asof_join_adaptive,
    merge_asof_grouped,
)
from crypto_market_data_etl_spark.operators.bars import dollar_bars
from crypto_market_data_etl_spark.operators.blocked import blocked_lag
from crypto_market_data_etl_spark.operators.ewma import (
    ewma_blocked,
    ewma_full,
    ewma_over_window,
    ewma_tail,
    with_ofi,
)


def _random_asof_frames(spark, seed=7, n_left=200, n_right=400):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame(
        {
            "key": rng.integers(0, 3, n_left),
            "lts": rng.integers(0, 10_000, n_left),
            "lval": rng.normal(size=n_left).round(3),
        }
    ).drop_duplicates(["key", "lts"])
    right = pd.DataFrame(
        {
            "key": rng.integers(0, 3, n_right),
            "rts": rng.integers(0, 10_000, n_right),
            "rval": rng.normal(size=n_right).round(3),
        }
    ).drop_duplicates(["key", "rts"])
    return left, right


def _expected_asof(left, right, tol):
    out = []
    for _, lrow in left.iterrows():
        cand = right[
            (right.key == lrow.key)
            & (right.rts <= lrow.lts)
            & (right.rts >= lrow.lts - tol)
        ]
        if cand.empty:
            out.append((lrow.key, lrow.lts, None))
        else:
            best = cand.sort_values("rts").iloc[-1]
            out.append((lrow.key, lrow.lts, best.rts))
    return sorted(out, key=lambda t: (t[0], t[1]))


def test_asof_join_matches_bruteforce(spark):
    left, right = _random_asof_frames(spark)
    tol = 500
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got = asof_join(
        ldf, rdf, on=["key"], left_ts="lts", right_ts="rts", tolerance=tol,
        left_keys=["key", "lts"],
    ).collect()
    got_s = sorted(
        [(r.key, r.lts, r.rts_r) for r in got], key=lambda t: (t[0], t[1])
    )
    assert got_s == _expected_asof(left, right, tol)


def test_merge_asof_grouped_agrees_with_bucketed(spark):
    left, right = _random_asof_frames(spark, seed=11)
    tol = 500
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    a = sorted(
        [
            (r.key, r.lts, r.rts_r)
            for r in asof_join(
                ldf, rdf, ["key"], "lts", "rts", tol, left_keys=["key", "lts"]
            ).collect()
        ]
    )
    b = sorted(
        [
            (r.key, r.lts, r.rts_r)
            for r in merge_asof_grouped(ldf, rdf, ["key"], "lts", "rts", tol).collect()
        ]
    )
    assert a == b


def test_asof_join_adaptive_matches_bruteforce(spark):
    left, right = _random_asof_frames(spark, seed=13)
    tol = 500
    got = asof_join_adaptive(
        spark.createDataFrame(left), spark.createDataFrame(right),
        ["key"], "lts", "rts", tol, right_tiebreak=[],
    ).collect()
    got_s = sorted([(r.key, r.lts, r.rts_r) for r in got], key=lambda t: (t[0], t[1]))
    assert got_s == _expected_asof(left, right, tol)


def test_asof_join_adaptive_tie_and_duplicate_ts(spark):
    # two right rows at the same ts: the tiebreak winner owns the interval
    ldf = spark.createDataFrame([(1, 100)], "key long, lts long")
    rdf = spark.createDataFrame(
        [(1, 90, 7), (1, 90, 9), (1, 50, 1)], "key long, rts long, rid long"
    )
    row = asof_join_adaptive(
        ldf, rdf, ["key"], "lts", "rts", 1000, right_tiebreak=["rid"]
    ).collect()[0]
    assert (row.rts_r, row.rid_r) == (90, 9)


def test_dollar_bars_boundaries(spark):
    # 6 trades of 4.00 each, bar_size 10 -> cum cents 400,800,...,2400;
    # bar = (cum-1)//1000 -> [0,0,1,1,1,2]: the boundary-crossing trade
    # (cum=2000) closes bar 1
    rows = [(1, i, 4.0) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "key long, ts long, price double")
    bars = dollar_bars(
        df, ["key"], "ts", notional_col="price", bar_size=10.0, tiebreak=[]
    ).orderBy("bar_num").collect()
    assert [b.bar_num for b in bars] == [0, 1, 2]
    assert [b.n_trades for b in bars] == [2, 3, 1]
    assert [b.notional for b in bars] == [8.0, 12.0, 4.0]
    assert [b.bar_end_us for b in bars] == [2, 5, 6]


def test_blocked_cumsum_auto_matches_naive(spark):
    from crypto_market_data_etl_spark.operators.bars import blocked_cumsum

    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "key": rng.integers(0, 3, 3000),
            "ts": np.arange(3000) * 7,
            "v": rng.integers(1, 100, 3000),
        }
    )
    df = spark.createDataFrame(pdf)
    naive = blocked_cumsum(df, ["key"], "ts", "v", tiebreak=[])
    auto = blocked_cumsum(
        df, ["key"], "ts", "v", tiebreak=[], block_span="auto",
        target_rows_per_block=100,
    )
    a = {(r.key, r.ts): r.cum for r in naive.collect()}
    b = {(r.key, r.ts): r.cum for r in auto.collect()}
    assert a == b


def test_ewma_full_matches_pandas(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"key": [1] * 50 + [2] * 50, "ts": list(range(50)) * 2,
         "value": rng.normal(size=100)}
    )
    got = (
        ewma_full(spark.createDataFrame(pdf), ["key"], ["ts"], "value")
        .orderBy("key", "ts")
        .toPandas()
    )
    for k in (1, 2):
        expected = (
            pdf[pdf.key == k].sort_values("ts")["value"]
            .ewm(alpha=0.8, adjust=False).mean().to_numpy()
        )
        np.testing.assert_allclose(
            got[got.key == k]["ewma"].to_numpy(), expected, rtol=1e-12
        )


def test_ewma_tail_matches_pandas_tail(spark):
    rng = np.random.default_rng(4)
    pdf = pd.DataFrame({"key": [1] * 100, "ts": range(100), "value": rng.normal(size=100)})
    got = ewma_tail(spark.createDataFrame(pdf), ["key"], ["ts"], "value", n=30).collect()[0]
    expected = (
        pdf.sort_values("ts").tail(30)["value"].ewm(alpha=0.8, adjust=False).mean().iloc[-1]
    )
    assert abs(got.ewma - round(expected, 6)) < 1e-6


def test_ewma_over_window_matches_ewma_full(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"key": [1] * 20 + [2] * 20, "ts": list(range(20)) * 2,
                        "value": rng.normal(size=40)})
    df = spark.createDataFrame(pdf)
    via_udf = {
        (r.key, r.ts): r.ewma
        for r in ewma_over_window(df, ["key"], ["ts"], "value").collect()
    }
    via_full = {(r.key, r.ts): r.ewma for r in ewma_full(df, ["key"], ["ts"], "value").collect()}
    assert set(via_udf) == set(via_full)
    for k, v in via_full.items():
        assert abs(via_udf[k] - v) < 1e-9


def test_with_ofi(spark):
    rows = [
        # ts, bid_price, bid_size, ask_price, ask_size
        (1, 100.0, 5.0, 101.0, 7.0),
        (2, 100.0, 6.0, 101.0, 4.0),  # bid == prev: +1; ask ==: -(4-7)=+3 -> 1+3=4
        (3, 101.0, 2.0, 102.0, 3.0),  # bid up: +2 ; ask up: -(-7)? ask_price>prev -> -prev(-4) => contrib - (−4)… see operator
    ]
    df = spark.createDataFrame(
        rows, "ts long, best_bid_price double, best_bid_size double, "
        "best_ask_price double, best_ask_size double"
    )
    out = with_ofi(df.withColumn("key", F.lit(1)), ["key"], ["ts"]).orderBy("ts").collect()
    assert out[0].ofi is None
    # row2: bid_c = 6-5 = 1 ; ask_c (ask_price == prev) = 4-7 = -3 ; ofi = 1-(-3) = 4
    assert abs(out[1].ofi - 4.0) < 1e-9
    # row3: bid_price > prev -> bid_c = 2 ; ask_price > prev -> ask_c = -prev_as = -4 ; ofi = 2-(-4) = 6
    assert abs(out[2].ofi - 6.0) < 1e-9


def _skewed_series(seed=11, n=3_000, hot_frac=0.8):
    """Skewed per-key series: one key carries hot_frac of all rows, with
    duplicate-ts ties broken by a second order column."""
    rng = np.random.default_rng(seed)
    keys = np.where(rng.random(n) < hot_frac, 0, rng.integers(1, 4, n))
    return pd.DataFrame(
        {
            "key": keys,
            "ts": np.sort(rng.integers(0, 100_000, n)),
            "seq": np.arange(n),
            "value": rng.normal(size=n),
        }
    )


def test_blocked_lag_matches_plain_lag(spark):
    df = spark.createDataFrame(_skewed_series())
    plain = blocked_lag(df, ["key"], ["ts", "seq"], "value", "ts", None, out="prev")
    # span small enough to force hundreds of blocks and boundary fills
    blocked = blocked_lag(df, ["key"], ["ts", "seq"], "value", "ts", 500, out="prev")
    a = {(r.key, r.seq): r.prev for r in plain.collect()}
    b = {(r.key, r.seq): r.prev for r in blocked.collect()}
    assert a == b and len(a) == 3_000


def test_blocked_lag_mid_block_null_values(spark):
    # a null VALUE mid-block must stay null-lagged, not get the carry fill
    rows = [(1, 10, 1.0), (1, 11, None), (1, 12, 2.0), (1, 20, 3.0)]
    df = spark.createDataFrame(rows, "key int, ts long, value double")
    out = {
        r.ts: r.prev
        for r in blocked_lag(df, ["key"], ["ts"], "value", "ts", 10, out="prev").collect()
    }
    assert out == {10: None, 11: 1.0, 12: None, 20: 2.0}
    # block ENDING in a null: the null must carry across the boundary
    rows = [(1, 10, 1.0), (1, 19, None), (1, 20, 3.0)]
    df = spark.createDataFrame(rows, "key int, ts long, value double")
    out = {
        r.ts: r.prev
        for r in blocked_lag(df, ["key"], ["ts"], "value", "ts", 10, out="prev").collect()
    }
    assert out == {10: None, 19: 1.0, 20: None}


def test_ewma_blocked_matches_full(spark):
    df = spark.createDataFrame(_skewed_series(seed=12))
    full = {
        (r.key, r.seq): r.ewma
        for r in ewma_full(df, ["key"], ["ts", "seq"], "value").collect()
    }
    for span in (137, 500, 5_000):
        blocked = {
            (r.key, r.seq): r.ewma
            for r in ewma_blocked(
                df, ["key"], ["ts", "seq"], "value", block_span=span
            ).collect()
        }
        assert set(blocked) == set(full)
        for k, v in full.items():
            assert abs(blocked[k] - v) < 1e-9 + 1e-9 * abs(v), (span, k)


def test_ewma_blocked_auto_small_falls_back(spark):
    # balanced/small data: auto picks the single-window ewma_full plan
    df = spark.createDataFrame(_skewed_series(seed=13, n=500))
    got = {
        (r.key, r.seq): r.ewma
        for r in ewma_blocked(df, ["key"], ["ts", "seq"], "value",
                              block_span="auto").collect()
    }
    full = {
        (r.key, r.seq): r.ewma
        for r in ewma_full(df, ["key"], ["ts", "seq"], "value").collect()
    }
    assert got == full


def test_ewma_null_or_nan_value_fails_each_form(spark):
    # a 400-row key whose NULL (or NaN) opens a time block: a NaN carry would
    # poison every later row of the key, so both forms must fail loudly
    for bad in (None, float("nan")):
        vals = [float(i % 7) for i in range(400)]
        vals[100] = bad
        df = spark.createDataFrame(
            [(1, i * 10, v) for i, v in enumerate(vals)], "key int, ts long, value double"
        )
        for fn, kw in ((ewma_full, {}), (ewma_blocked, {"block_span": 1000})):
            msg = f"{fn.__name__}: NULL or NaN in value column 'value'"
            with pytest.raises(Exception, match=msg):
                fn(df, ["key"], ["ts"], "value", **kw).collect()


def test_ewma_alpha_checked_at_call(spark):
    df = spark.createDataFrame(_skewed_series(seed=15, n=300))
    for alpha in (0.0, -0.1, 1.5, float("nan")):
        with pytest.raises(ValueError, match="alpha"):
            ewma_full(df, ["key"], ["ts", "seq"], "value", alpha=alpha)
        with pytest.raises(ValueError, match="alpha"):
            ewma_blocked(df, ["key"], ["ts", "seq"], "value", alpha=alpha, block_span=500)
    # alpha=1 forgets all history: every row's EWMA is its own value, exactly
    for got in (
        ewma_full(df, ["key"], ["ts", "seq"], "value", alpha=1.0),
        ewma_blocked(df, ["key"], ["ts", "seq"], "value", alpha=1.0, block_span=500),
    ):
        rows = got.collect()
        assert len(rows) == 300 and all(r.ewma == r.value for r in rows)


def test_with_ofi_blocked_matches_plain(spark):
    rng = np.random.default_rng(14)
    n = 2_000
    pdf = pd.DataFrame(
        {
            "key": np.where(rng.random(n) < 0.7, 0, rng.integers(1, 3, n)),
            "ts": np.sort(rng.integers(0, 50_000, n)),
            "seq": np.arange(n),
            "best_bid_price": np.round(100 + rng.standard_normal(n), 2),
            "best_bid_size": np.round(rng.lognormal(0, 0.5, n), 4),
            "best_ask_price": np.round(101 + rng.standard_normal(n), 2),
            "best_ask_size": np.round(rng.lognormal(0, 0.5, n), 4),
        }
    )
    df = spark.createDataFrame(pdf)
    plain = {
        (r.key, r.seq): r.ofi
        for r in with_ofi(df, ["key"], ["ts", "seq"]).collect()
    }
    blocked = {
        (r.key, r.seq): r.ofi
        for r in with_ofi(df, ["key"], ["ts", "seq"], block_span=1_000).collect()
    }
    assert set(plain) == set(blocked)
    for k, v in plain.items():
        if v is None:
            assert blocked[k] is None
        else:
            assert abs(blocked[k] - v) < 1e-9


def _sliding_frame(spark, seed=13, n=400):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "code": rng.integers(1, 4, n),
            "ts_us": rng.integers(0, 120_000_000, n),
            "value": np.round(rng.uniform(1, 500, n), 2),
        }
    )
    return (
        spark.createDataFrame(pdf)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withColumn("cents", F.round(F.col("value") * 100).cast("bigint"))
    )


def test_sliding_paned_matches_direct(spark):
    from crypto_market_data_etl_spark.operators.candles import (
        sliding_stats,
        sliding_stats_paned,
    )

    df = _sliding_frame(spark)
    direct = {
        (r.w_start, r.code): r
        for r in sliding_stats(
            df, ["code"], "ts", "value", 30, 10, cents_col="cents"
        ).collect()
    }
    paned = {
        (r.w_start, r.code): r
        for r in sliding_stats_paned(df, ["code"], "ts", 30, 10, "cents").collect()
    }
    assert set(direct) == set(paned)
    for k, d in direct.items():
        p = paned[k]
        assert p.n_events == d.n_events
        assert abs(p.avg_value - d.avg_value) < 1e-12  # identical integer sums
        if d.stddev_value is None:
            assert p.stddev_value is None
        else:  # direct side is round(stddev_samp, 4); paned is unrounded exact
            assert abs(p.stddev_value - d.stddev_value) < 6e-5


def test_sliding_paned_zero_variance_guard(spark):
    from crypto_market_data_etl_spark.operators.candles import sliding_stats_paned

    df = (
        spark.createDataFrame(
            [(1, i * 1_000_000, 42.0) for i in range(8)],
            "code long, ts_us long, value double",
        )
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withColumn("cents", F.round(F.col("value") * 100).cast("bigint"))
    )
    rows = sliding_stats_paned(df, ["code"], "ts", 10, 5, "cents").collect()
    assert rows
    for r in rows:
        if r.n_events > 1:
            assert r.stddev_value == 0.0  # greatest(...,0) guard: never NaN
        assert abs(r.avg_value - 42.0) < 1e-12


def test_dollar_bars_reference_parity_mode(spark):
    # reference arithmetic (processing_raw_data_from_gcs.py:118-128): float
    # cumsum + floor(cum/size) — the boundary-crossing trade OPENS the next
    # bar. Same 6x4.0 trades: cum 4..24, floor(cum/10) -> [0,0,1,1,2,2]
    rows = [(1, i, 4.0) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "key long, ts long, price double")
    bars = dollar_bars(
        df, ["key"], "ts", notional_col="price", bar_size=10.0, tiebreak=[],
        reference_parity=True,
    ).orderBy("bar_num").collect()
    assert [b.bar_num for b in bars] == [0, 1, 2]
    assert [b.n_trades for b in bars] == [2, 2, 2]
    assert [b.bar_end_us for b in bars] == [2, 4, 6]


def test_dollar_bars_reference_parity_rejects_blocking(spark):
    df = spark.createDataFrame([(1, 1, 4.0)], "key long, ts long, price double")
    with pytest.raises(ValueError):
        dollar_bars(
            df, ["key"], "ts", notional_col="price", bar_size=10.0,
            reference_parity=True, block_span=100,
        )


def test_asof_join_duplicate_left_rows_survive(spark):
    # duplicate left rows (no left_keys given) must EACH produce an output
    # row — the rank partitions by a generated unique id, not all columns
    ldf = spark.createDataFrame(
        [(1, 100), (1, 100), (1, 100)], "key long, lts long"
    )
    rdf = spark.createDataFrame([(1, 90, 5.0)], "key long, rts long, px double")
    out = asof_join(ldf, rdf, ["key"], "lts", "rts", 1000).collect()
    assert len(out) == 3
    assert all(r.px_r == 5.0 for r in out)
