"""Property-based tests (hypothesis): the as-of join variants agree with each
other and with brute force on arbitrary inputs; dollar bars partition trades
exactly; the closed-form EWMA tracks pandas' recurrence."""


import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crypto_market_data_etl_spark.operators.asof import asof_join, asof_join_adaptive
from crypto_market_data_etl_spark.operators.bars import dollar_bars
from crypto_market_data_etl_spark.operators.ewma import ewma_full

# one shared strategy: small integer domains force collisions (ties, empty
# bands, single-key data, duplicate timestamps)
asof_case = st.fixed_dictionaries(
    {
        "lrows": st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25
        ),
        "rrows": st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 5)),
            min_size=0,
            max_size=40,
        ),
        "tol": st.integers(1, 30),
    }
)


def _brute(lrows, rrows, tol):
    out = []
    for key, lts in lrows:
        cand = [r for r in rrows if r[0] == key and r[1] <= lts and r[1] >= lts - tol]
        best = max(cand, key=lambda r: (r[1], r[2])) if cand else (None, None, None)
        out.append((key, lts, best[1], best[2]))
    return sorted(out, key=lambda t: (t[0], t[1]))


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(asof_case)
def test_asof_variants_agree_with_bruteforce(spark, case):
    lrows = sorted(set(case["lrows"]))
    rrows = sorted(set(case["rrows"]))
    tol = case["tol"]
    ldf = spark.createDataFrame(
        pd.DataFrame(lrows, columns=["key", "lts"]), "key long, lts long"
    )
    rdf = (
        spark.createDataFrame(
            pd.DataFrame(rrows, columns=["key", "rts", "rid"]),
            "key long, rts long, rid long",
        )
        if rrows
        else spark.createDataFrame([], "key long, rts long, rid long")
    )
    expected = _brute(lrows, rrows, tol)

    got_rank = sorted(
        [
            (r.key, r.lts, r.rts_r, r.rid_r)
            for r in asof_join(
                ldf, rdf, ["key"], "lts", "rts", tol,
                right_tiebreak=["rid"], left_keys=["key", "lts"],
            ).collect()
        ],
        key=lambda t: (t[0], t[1]),
    )
    assert got_rank == expected

    got_adaptive = sorted(
        [
            (r.key, r.lts, r.rts_r, r.rid_r)
            for r in asof_join_adaptive(
                ldf, rdf, ["key"], "lts", "rts", tol, right_tiebreak=["rid"]
            ).collect()
        ],
        key=lambda t: (t[0], t[1]),
    )
    assert got_adaptive == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 30), st.integers(1, 9999)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    ),
    st.integers(1, 50),
    st.sampled_from([None, 7]),
)
def test_dollar_bars_partition_trades_exactly(spark, rows, bar_size, block_span):
    pdf = pd.DataFrame(rows, columns=["key", "ts", "cents_raw"])
    pdf["price"] = pdf["cents_raw"] / 100.0
    df = spark.createDataFrame(pdf[["key", "ts", "price"]])
    bars = dollar_bars(
        df, ["key"], "ts", "price", float(bar_size), block_span=block_span
    ).collect()
    # every trade lands in exactly one bar; notional conserved
    assert sum(b.n_trades for b in bars) == len(pdf)
    assert abs(sum(b.notional for b in bars) - pdf.price.sum()) < 1e-6
    # bar numbers per key are distinct, non-negative, and the last bar id is
    # pinned by the total notional (a single oversized trade may SKIP ids —
    # it closes a bar several widths ahead; density is not an invariant)
    per_key = {}
    for b in bars:
        per_key.setdefault(b.key, []).append(b.bar_num)
    for key, nums in per_key.items():
        nums.sort()
        assert nums[0] >= 0
        assert nums == sorted(set(nums))
        total_cents = int(round(pdf[pdf.key == key].price.sum() * 100))
        assert nums[-1] == (total_cents - 1) // (bar_size * 100)


# ---------------------------------------------------------------------------
# connected components: Spark iterative form == union-find on random graphs
# ---------------------------------------------------------------------------

edge_lists = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    return {n: find(n) for n in parent}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    from crypto_market_data_etl_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    want = _union_find(edges)
    # union-find roots are component minima after path compression with
    # min-root union, matching the operator's fixpoint definition
    want = {n: min(m for m in want if want[m] == want[n]) for n in want}
    assert got == want

@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edge_lists)
def test_connected_components_distributed_matches_union_find(spark, edges):
    """The star-contraction distributed tier (driver_threshold=0 disables
    the numpy finish entirely) must reach the same min-id fixpoint."""
    from crypto_market_data_etl_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.node: r.comp for r in connected_components(pairs, driver_threshold=0).collect()}
    want = _union_find(edges)
    want = {n: min(m for m in want if want[m] == want[n]) for n in want}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff".split()), min_size=0, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_minhash_signatures_multiset_invariant(spark, texts):
    """The distinct-shuffle removal in the MinHash path rests on min being
    multiset-invariant: signatures from raw (duplicated) shingles must equal
    signatures from the deduped shingle set, for any corpus."""
    from crypto_market_data_etl_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    with_dups = minhash_signatures(
        word_shingles(docs, distinct=False, spread=False), n_hashes=6
    )
    deduped = minhash_signatures(
        word_shingles(docs, distinct=True, spread=False), n_hashes=6
    )
    a = {r.doc_id: r.mhs for r in with_dups.collect()}
    b = {r.doc_id: r.mhs for r in deduped.collect()}
    assert a == b


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(-3, 3), st.integers(-3, 3), st.integers(-3, 3)
        ),
        min_size=1,
        max_size=24,
    ),
    k=st.integers(1, 5),
    rounds=st.integers(1, 3),
)
def test_kmeans_parallel_init_invariants(spark, vecs, k, rounds):
    """k-means|| seed invariants on arbitrary integer-grid corpora: every
    seed is a corpus vector, c_ids are dense 0..n-1 with n <= k, no two
    chosen seeds are colinear (the greedy D^2 break rule: a zero-distance
    candidate is never picked), and the whole draw is deterministic."""
    import math

    from crypto_market_data_etl_spark.operators.similarity import (
        kmeans_parallel_init,
    )

    df = spark.createDataFrame(
        [(i, [float(a), float(b), float(c)]) for i, (a, b, c) in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = kmeans_parallel_init(df, k=k, rounds=rounds).collect()
    assert 1 <= len(got) <= k
    assert sorted(r.c_id for r in got) == list(range(len(got)))
    corpus = {tuple(v) for v in ([float(a), float(b), float(c)] for a, b, c in vecs)}
    assert all(tuple(r.c_vec) in corpus for r in got)

    def cos(u, v):
        nu = math.sqrt(sum(x * x for x in u)) or 1e-12
        nv = math.sqrt(sum(x * x for x in v)) or 1e-12
        return sum(x * y for x, y in zip(u, v)) / (nu * nv)

    chosen = [list(r.c_vec) for r in got]
    for i in range(len(chosen)):
        for j in range(i + 1, len(chosen)):
            assert cos(chosen[i], chosen[j]) < 1.0 - 1e-9

    again = kmeans_parallel_init(df, k=k, rounds=rounds).collect()
    assert sorted((r.c_id, tuple(r.c_vec)) for r in got) == sorted(
        (r.c_id, tuple(r.c_vec)) for r in again
    )


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    alpha=st.floats(0.005, 1.0),
    n=st.integers(1, 4000),
    n_keys=st.integers(1, 3),
    seed=st.integers(0, 2**32 - 1),
)
def test_ewma_full_matches_pandas_ewm(spark, alpha, n, n_keys, seed):
    # signed lognormal(sigma=3) values span ~10 decades; the closed form's
    # error is bounded by max|x|/alpha, not by each row's own magnitude
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "key": rng.integers(0, n_keys, n),
            "ts": rng.permutation(n),
            "value": rng.choice([-1.0, 1.0], n) * rng.lognormal(0.0, 3.0, n),
        }
    )
    got = ewma_full(
        spark.createDataFrame(pdf), ["key"], ["ts"], "value", alpha=alpha
    ).toPandas()
    assert len(got) == n
    for _, g in got.groupby("key"):
        g = g.sort_values("ts")
        expected = g["value"].ewm(alpha=alpha, adjust=False).mean().to_numpy()
        bound = 16 * 2.0**-52 * np.abs(g["value"]).max() / alpha
        assert np.abs(g["ewma"].to_numpy() - expected).max() <= bound, (alpha, len(g))
