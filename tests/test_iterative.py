"""Property tests for ops with no SQL oracle: EWMA (pandas bit-equality)
and PageRank (mass conservation + structural sanity)."""

from __future__ import annotations

import duckdb
import pandas as pd

from bpspark.registry import all_ops

SF = "/root/testdata/sf0.001"


def test_ewma_matches_reference_recurrence_exactly(spark):
    """Driver-side replay of the adjusted-EWMA num/den recurrence must be
    BIT-equal to the distributed applyInPandas output — catches grouping,
    ordering, and Arrow-roundtrip bugs. (The op's DuckDB recursive-CTE
    oracle is the independent cross-engine check.)"""
    got = (
        all_ops()["ts_ewma"]
        .fn(spark, SF)
        .toPandas()
        .sort_values(["user_id", "ts_us", "event_id"])
    )
    raw = duckdb.sql(
        f"SELECT user_id, event_id, epoch_us(ts) AS ts_us, value"
        f" FROM '{SF}/events.parquet'"
    ).df()
    parts = []
    c = 1.0 - 0.3
    for _, g in raw.sort_values(["user_id", "ts_us", "event_id"]).groupby("user_id"):
        g = g.copy()
        num = den = 0.0
        ew = []
        for x in g["value"]:
            num = x + c * num
            den = 1.0 + c * den
            ew.append(num / den)
        g["ewma"] = ew
        parts.append(g[["user_id", "ts_us", "event_id", "ewma"]])
    want = pd.concat(parts).sort_values(["user_id", "ts_us", "event_id"])
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_exact=True
    )


def test_pagerank_mass_and_structure(spark):
    top = all_ops()["graph_pagerank"].fn(spark, SF).collect()
    assert len(top) == 20
    assert all(r["rank"] > 0 for r in top)
    # ranks sorted descending with deterministic tie-break
    vals = [r["rank"] for r in top]
    assert vals == sorted(vals, reverse=True)
    # the top node should be a high-degree hub: suppliers are ~100x rarer
    # than customers in the trade graph, so they accumulate rank
    assert top[0]["node"].startswith("s")


def test_pca_top_component_properties(spark):
    import math

    import numpy as np

    rows = all_ops()["ml_pca_top_component"].fn(spark, SF).collect()
    assert len(rows) == 64
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    assert math.isclose(float(np.linalg.norm(v)), 1.0, rel_tol=1e-9)
    lam = rows[0]["top_eigenvalue"]
    # Rayleigh check: the reported eigenvalue beats the variance along
    # every coordinate axis (any axis var is a valid Rayleigh quotient)
    emb = np.stack(
        duckdb.sql(f"SELECT embedding FROM '{SF}/embeddings.parquet'").df()["embedding"].to_numpy()
    ).astype("float64")
    axis_vars = emb.var(axis=0)
    assert lam >= axis_vars.max() - 1e-9
    # and matches the true top eigenvalue of the exact covariance —
    # within the op's documented 1e-9 covariance quantization (r8: the
    # cov matrix is floored pre-eigh to kill partition-order ULP wobble,
    # shifting the eigenvalue by up to ~d·5e-10)
    cov = np.cov(emb, rowvar=False, bias=True)
    assert math.isclose(lam, float(np.linalg.eigvalsh(cov)[-1]), rel_tol=1e-6)


def test_reduce_partials_is_distributed_and_exact(spark):
    """The partial-sum reduction behind ml_pca/ml_logreg: element-wise
    sums must be exact over many partitions, scalars summed once, and the
    driver-facing result is ONE row (the helper's final agg is a global
    single-group aggregate over the d already-reduced element rows — not a
    collect of per-partition partials)."""
    from pyspark.sql import functions as F

    from bpspark.llm_ops import _reduce_partials_one_row

    n_parts = 64
    df = (
        spark.range(n_parts)
        .repartition(n_parts)
        .select(
            F.array(F.col("id").cast("double"), F.lit(1.0), F.col("id") * 2.0).alias("a"),
            F.lit(1).alias("cnt"),
            (F.col("id") * 10.0).alias("s"),
        )
    )
    values, row = _reduce_partials_one_row(df, ["a"], ["cnt", "s"])
    tot = n_parts * (n_parts - 1) / 2
    assert values == [tot, float(n_parts), 2 * tot]
    assert row["cnt"] == n_parts
    assert row["s"] == 10 * tot
    # plan shape: the per-element sum must be a two-stage hash aggregate
    # (map-side partial combine), so wire traffic is O(d), not O(parts·d)
    import io as _io
    from contextlib import redirect_stdout

    arr = F.col("a")
    flat = df.select("cnt", "s", F.posexplode(arr).alias("pos", "v"))
    plan_df = flat.groupBy("pos").agg(F.sum("v"))
    buf = _io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("HashAggregate") >= 2, plan


def test_logreg_gd_descends(spark):
    """Full-batch GD on a convex loss must descend monotonically and end
    at-or-above chance accuracy; iteration 0 starts at ln 2 (w=0)."""
    import math

    rows = sorted(all_ops()["ml_logreg_gd"].fn(spark, SF).collect(), key=lambda r: r["iteration"])
    assert len(rows) == 6
    # loss is 6dp-quantized (cross-engine tie-free floor rounding)
    assert math.isclose(rows[0]["loss"], math.log(2), rel_tol=1e-5)
    losses = [r["loss"] for r in rows]
    assert all(a > b for a, b in zip(losses, losses[1:])), losses
    assert rows[-1]["accuracy"] >= 0.5


def test_min_label_cc_matches_union_find_on_random_graphs(spark):
    """_min_label_cc (shared by dedup_cluster_cc and er_resolve_entities)
    must agree with a reference union-find on arbitrary graphs —
    deterministic seeds, several shapes (sparse, dense, chain, islands)."""
    import random

    from pyspark.sql import functions as F

    from bpspark.llm_ops import _min_label_cc

    def union_find(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min node id per component
        comp = {}
        for v in range(n):
            r = find(v)
            comp.setdefault(r, []).append(v)
        return {v: min(vs) for r, vs in comp.items() for v in vs}

    for seed, n, m in [(1, 30, 10), (2, 30, 60), (3, 24, 23), (4, 40, 0)]:
        rng = random.Random(seed)
        if seed == 3:  # chain: worst-case diameter
            edges = [(i, i + 1) for i in range(n - 1)]
        else:
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]
        want = union_find(n, edges)
        nodes = spark.range(n).select(F.col("id"))
        if edges:
            pairs = spark.createDataFrame(edges, "src long, dst long")
        else:
            pairs = spark.createDataFrame([], "src long, dst long")
        got = {
            r.id: r.cluster_id
            for r in _min_label_cc(nodes, pairs).collect()
        }
        assert got == want, f"seed={seed}: {got} != {want}"


def test_seasonal_decompose_identity_and_trend(spark):
    """v must equal trend + seasonal + resid exactly up to output
    rounding, trend must equal the pandas centered 7-day mean on full
    frames, and each type keeps days-minus-6 edge-trimmed rows."""
    import numpy as np

    ops = all_ops()
    pdf = ops["ts_seasonal_decompose"].fn(spark, SF).toPandas()
    assert (pdf["v"] - (pdf["trend"] + pdf["seasonal"] + pdf["resid"])).abs().max() < 2e-6

    ev = pd.read_parquet(f"{SF}/events.parquet")
    daily = (
        ev.assign(day=ev["ts"].dt.floor("D"))
        .groupby(["event_type", "day"], as_index=False)["value"]
        .sum()
    )
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("day").reset_index(drop=True)
        trend = g["value"].rolling(7, center=True).mean().dropna()
        got = (
            pdf[pdf["event_type"] == et]
            .sort_values("day")["trend"]
            .reset_index(drop=True)
        )
        assert len(got) == len(g) - 6, et
        assert np.allclose(got, trend.to_numpy(), atol=2e-6), et


def lpa_reference(nodes, edges, rounds):
    """Pure-Python synchronous min-label LPA (self-vote included)."""
    from collections import Counter, defaultdict

    nb = defaultdict(list)
    for a, b in edges:
        nb[a].append(b)
        nb[b].append(a)
    label = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            c = Counter(label[m] for m in nb[n])
            c[label[n]] += 1
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        label = new
    return label


def test_label_propagation_matches_reference(spark):
    """Spark LPA ≡ pure-Python LPA on graphs exercising the tie-break
    (cliques, a chain, a bipartite star pair — the oscillation case the
    self-vote damps) over several round counts."""
    import random

    from bpspark.graph import _label_propagation

    cases = []
    # two 4-cliques joined by one bridge edge
    k1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14) if b >= 10]
    cases.append((list(range(4)) + list(range(10, 14)), k1 + k2 + [(3, 10)]))
    # chain of 8
    cases.append((list(range(8)), [(i, i + 1) for i in range(7)]))
    # complete bipartite K3,3 (worst case for sync LPA oscillation)
    cases.append((list(range(6)), [(a, b) for a in range(3) for b in range(3, 6)]))
    # random sparse graph
    rng = random.Random(7)
    redges = list({tuple(sorted((rng.randrange(20), rng.randrange(20)))) for _ in range(25)})
    redges = [(a, b) for a, b in redges if a != b]
    rnodes = sorted({n for e in redges for n in e})
    cases.append((rnodes, redges))

    for rounds in (1, 3):
        for nodes, edges in cases:
            want = lpa_reference(nodes, edges, rounds)
            sym = spark.createDataFrame(
                [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
                "src long, dst long",
            )
            got = {r.node: r.label for r in _label_propagation(sym, rounds).collect()}
            assert got == want, f"rounds={rounds}: {got} != {want}"


def test_label_propagation_conserves_nodes(spark):
    ops = all_ops()
    pdf = ops["graph_label_propagation"].fn(spark, SF).toPandas()
    ed = duckdb.sql(
        f"""WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey
                        FROM '{SF}/lineitem.parquet')
            SELECT COUNT(DISTINCT l_suppkey) AS n FROM os"""
    ).fetchone()[0]
    assert pdf["n_nodes"].sum() == ed


def test_holt_winters_matches_independent_recurrence(spark):
    """Executor-side HW must equal an independently-coded driver-side
    recurrence bit-for-bit; each series emits len(days) fits + 7
    forecasts."""
    import numpy as np

    ops = all_ops()
    got = ops["ts_holt_winters"].fn(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["epoch_day"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    daily = (
        ev.groupby(["event_type", "epoch_day"], as_index=False)["value"]
        .sum()
        .sort_values(["event_type", "epoch_day"])
    )
    a, b, g, m, H = 0.3, 0.1, 0.2, 7, 7
    for et, grp in daily.groupby("event_type"):
        v = grp["value"].round(2).to_numpy(dtype=np.float64)
        days = grp["epoch_day"].to_numpy()
        # mirror the op's explicit left-associated init sums and tie-free
        # floor rounding (shared with the DuckDB recursive-CTE oracle)
        acc1 = 0.0
        for j in range(m):
            acc1 += v[j]
        acc2 = 0.0
        for j in range(m, 2 * m):
            acc2 += v[j]
        lvl = acc1 / float(m)
        tr = (acc2 / float(m) - lvl) / m
        sea = {int(days[j]) % m: v[j] - lvl for j in range(m)}
        fits, fcs = [], []
        for i, x in enumerate(v):
            slot = int(days[i]) % m
            s = sea[slot]
            fits.append(float(np.floor((lvl + tr + s) * 1e6 + 0.5) / 1e6))
            pl = lvl
            lvl = a * (x - s) + (1 - a) * (lvl + tr)
            tr = b * (lvl - pl) + (1 - b) * tr
            sea[slot] = g * (x - lvl) + (1 - g) * s
        for h in range(1, H + 1):
            fcs.append(float(np.floor(
                (lvl + h * tr + sea[(int(days[-1]) + h) % m]) * 1e6 + 0.5) / 1e6))
        sub = got[got["event_type"] == et].sort_values("epoch_day")
        fit = sub[sub["kind"] == "fit"]
        fc = sub[sub["kind"] == "forecast"]
        assert len(fit) == len(v) and len(fc) == H, et
        assert list(fit["epoch_day"]) == list(days), et
        assert np.array_equal(fit["fitted"].to_numpy(), np.array(fits)), et
        assert np.array_equal(fc["fitted"].to_numpy(), np.array(fcs)), et
        assert fc["v"].isna().all() and fit["v"].notna().all(), et


def test_holt_winters_gapped_panel_fails_loudly_both_engines():
    """ADVICE r6: on a panel whose first 7 observations miss a weekday,
    the Python op must raise (not KeyError deep in the loop) and the
    DuckDB oracle must error (not silently emit NULL fitted rows) — the
    two engines agree on the failure mode for gapped inputs."""
    import numpy as np
    import pytest

    from bpspark.timeseries import _HW_SQL, _holt_winters_group

    # 15 daily observations, day 6 absent from the init window (weekday 6
    # first appears at day 13) — enough rows to pass the 2*m length gate
    days = [0, 1, 2, 3, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15]
    pdf = pd.DataFrame(
        {
            "event_type": ["click"] * len(days),
            "epoch_day": np.array(days, dtype=np.int64),
            "v": np.linspace(1.0, 2.0, len(days)),
        }
    )
    with pytest.raises(ValueError, match="misses a weekday slot"):
        _holt_winters_group(pdf)

    con = duckdb.connect()
    con.sql(
        """CREATE VIEW events AS
           SELECT 'click' AS event_type,
                  TIMESTAMP '1970-01-01' + INTERVAL (d) DAY AS ts,
                  1.0 + d / 15.0 AS value
           FROM (SELECT UNNEST([0,1,2,3,4,5,7,8,9,10,11,12,13,14,15]) AS d)"""
    )
    with pytest.raises(duckdb.Error, match="misses a weekday slot"):
        con.sql(_HW_SQL).df()


def test_modularity_invariants(spark):
    """Σ internal_edges ≤ m, Σ degree_sum = 2m, per-community q_contrib
    bounded by [-1, 1], and edges internal to the ONE community of a
    fully-merged graph equal m exactly (sf0.001 merges to one)."""
    ops = all_ops()
    pdf = ops["graph_community_modularity"].fn(spark, SF).toPandas()
    m_edges = duckdb.sql(
        f"""WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM '{SF}/lineitem.parquet'),
            d AS (SELECT x.l_suppkey a, y.l_suppkey b, COUNT(*) s FROM os x JOIN os y
                  ON x.l_orderkey=y.l_orderkey AND x.l_suppkey<>y.l_suppkey GROUP BY 1,2),
            t AS (SELECT a,b FROM (SELECT a,b,ROW_NUMBER() OVER
                  (PARTITION BY a ORDER BY s DESC, b) rn FROM d) WHERE rn<=8)
            SELECT COUNT(*) FROM (SELECT DISTINCT LEAST(a,b), GREATEST(a,b) FROM t)"""
    ).fetchone()[0]
    assert pdf["internal_edges"].sum() <= m_edges
    assert pdf["degree_sum"].sum() == 2 * m_edges
    assert pdf["q_contrib"].abs().le(1).all()
    if len(pdf) == 1:
        assert pdf["internal_edges"].iloc[0] == m_edges


def test_pattern_funnel_matches_pandas_regex(spark):
    """Funnel counts must equal an independent pandas sessionize +
    regex count over the same ordered initial strings."""
    import re

    ops = all_ops()
    got = ops["sessionize_pattern_funnel"].fn(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(["user_id", "ts", "event_id"])
    # the parquet timestamp loads as datetime64[us] — cast explicitly so
    # the int64 view is microseconds regardless of pandas' chosen unit
    ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype("int64")
    want = {}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts_us", "event_id"])
        sid, prev = 0, None
        seqs = {}
        for _, r in g.iterrows():
            if prev is None or r["ts_us"] - prev > 1_800_000_000:
                sid += 1
            prev = r["ts_us"]
            seqs.setdefault(sid, []).append(r["event_type"][0])
        for sid_, chars in seqs.items():
            n = len(re.findall("vc*p", "".join(chars)))
            if n >= 1:
                want[(uid, sid_)] = (len(chars), n)
    assert len(got) == len(want)
    for _, r in got.iterrows():
        k = (r["user_id"], r["session_id"])
        assert k in want and want[k] == (r["n_events"], r["n_funnels"]), k


def test_cusum_changepoint_is_argmax_and_means_split(spark):
    """The reported day must maximize |cusum| in a pandas recomputation
    (earliest-day tie-break), and the before/after means must equal the
    segment means around it; day counts must cover the panel."""
    import numpy as np

    ops = all_ops()
    got = ops["ts_changepoint_cusum"].fn(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev["day"] = ev["ts"].dt.floor("D")
    daily = (
        ev.groupby(["event_type", "day"], as_index=False)["value"]
        .apply(lambda s: s.round(2).sum())
        .rename(columns={"value": "v"})
        .sort_values(["event_type", "day"])
    )
    for et, g in daily.groupby("event_type"):
        v = g["v"].to_numpy()
        cus = np.cumsum(np.round(v - v.mean(), 6))
        best = int(np.lexsort((np.arange(len(v)), -np.abs(cus)))[0])
        row = got[got["event_type"] == et].iloc[0]
        assert row["cp_day"] == str(g["day"].iloc[best].date()), et
        assert abs(row["cusum_stat"] - abs(cus[best])) < 1e-4, et
        assert abs(row["mean_before"] - v[: best + 1].mean()) < 1e-6, et
        assert abs(row["mean_after"] - v[best + 1 :].mean()) < 1e-6, et
        assert row["n_days_before"] + row["n_days_after"] == len(v), et


def test_autocorrelation_matches_numpy_replica(spark):
    """acf at every (type, lag) must equal the textbook sample ACF
    computed by numpy on the same daily cent series (to float
    tolerance — numpy uses the mean directly, the op uses the exact
    integer identity), values must be in [-1, 1], never null, and the
    exact-integer identity must hold at BOTH test scales (overflow in
    the DECIMAL(38,0) products would surface as nulls)."""
    import numpy as np

    ops = all_ops()
    for sf in (SF, "/root/testdata/sf0.01"):
        got = ops["ts_autocorrelation"].fn(spark, sf).toPandas()
        assert got["acf"].notna().all(), sf
        assert (got["acf"].abs() <= 1.0 + 1e-12).all(), sf
        ev = pd.read_parquet(f"{sf}/events.parquet")
        ev["day"] = (ev["ts"].astype("datetime64[us]").astype("int64")
                     // 86_400_000_000)
        daily = (
            ev.assign(c=(ev["value"].round(2) * 100).round().astype("int64"))
            .groupby(["event_type", "day"], as_index=False)["c"].sum()
        )
        for (et, lag), grp in got.groupby(["event_type", "lag"]):
            g = daily[daily["event_type"] == et].sort_values("day")
            c = g["c"].to_numpy(dtype=float)
            days = g["day"].to_numpy()
            mu = c.mean()
            idx = {d: i for i, d in enumerate(days)}
            num = sum(
                (c[idx[d]] - mu) * (c[idx[d + lag]] - mu)
                for d in days if d + lag in idx
            )
            den = ((c - mu) ** 2).sum()
            want = num / den
            assert abs(grp["acf"].iloc[0] - want) < 1e-9, (et, lag, sf)
            assert grp["n_days"].iloc[0] == len(c)


def test_markov_transitions_match_pandas_replica(spark):
    """Transition counts must equal a pandas groupby-shift recompute,
    each cell's p must be exactly n/n_from, and every from_type row of
    the matrix must sum to exactly its n_from."""
    ops = all_ops()
    got = ops["sessionize_markov_transitions"].fn(spark, SF).toPandas()
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    ev["next_type"] = ev.groupby("user_id")["event_type"].shift(-1)
    want = (
        ev.dropna(subset=["next_type"])
        .groupby(["event_type", "next_type"])
        .size()
        .to_dict()
    )
    assert {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for _, r in got.iterrows()
    } == want
    for _, r in got.iterrows():
        assert r["p"] == r["n_transitions"] / r["n_from"]
    sums = got.groupby("from_type")[["n_transitions", "n_from"]].agg(
        {"n_transitions": "sum", "n_from": "first"}
    )
    assert (sums["n_transitions"] == sums["n_from"]).all()


def test_ks_two_sample_matches_scipy_style_replica(spark):
    """The exact-integer KS statistic must equal a direct numpy CDF-gap
    computation on the same centi-snapped samples (gap location
    included, min-value tie-break), and d_num/d_den must reproduce ks."""
    import numpy as np

    got = all_ops()["agg_ks_two_sample"].fn(spark, SF).toPandas().iloc[0]
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["event_type"].isin(["click", "purchase"])]
    cv = (ev["value"] * 100).round().astype("int64")
    a = np.sort(cv[ev["event_type"] == "click"].to_numpy())
    b = np.sort(cv[ev["event_type"] == "purchase"].to_numpy())
    vals = np.unique(np.concatenate([a, b]))
    cuma = np.searchsorted(a, vals, side="right")
    cumb = np.searchsorted(b, vals, side="right")
    gaps = np.abs(cuma * len(b) - cumb * len(a))
    d_num = int(gaps.max())
    at = float(vals[gaps.argmax()]) / 100  # argmax returns FIRST max = min value
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert got["d_num"] == d_num and got["d_den"] == len(a) * len(b)
    assert got["ks"] == d_num / (len(a) * len(b))
    assert got["ks_at_value"] == at


def test_kcore_fixpoint_and_invariants(spark):
    """The bounded-round peel must have CONVERGED at both test scales
    (one extra Spark round removes nothing — the property that makes the
    fixed-round oracle the true k-core), every surviving node's in-core
    degree is >= K, and the core equals a pure-Python peeling replica."""
    from pyspark.sql import functions as F

    from bpspark.graph import (
        _KCORE_K,
        _kcore_degrees,
        _knn_supplier_edges,
    )

    ops = all_ops()
    for sf in (SF, "/root/testdata/sf0.01"):
        got = ops["graph_kcore_decompose"].fn(spark, sf).toPandas()
        assert (got["core_degree"] >= _KCORE_K).all()

        # python replica: peel to TRUE fixpoint on the same edge list
        e = _knn_supplier_edges(spark, sf).collect()
        adj = {}
        for r in e:
            adj.setdefault(r["a"], set()).add(r["b"])
            adj.setdefault(r["b"], set()).add(r["a"])
        alive = set(adj)
        while True:
            drop = {n for n in alive if len(adj[n] & alive) < _KCORE_K}
            if not drop:
                break
            alive -= drop
        want = {n: len(adj[n] & alive) for n in alive if len(adj[n] & alive) > 0}
        assert dict(zip(got["node"], got["core_degree"])) == want, sf


def test_graph_ops_leave_no_cache_entry(spark):
    """No graph op leaves a CacheManager entry: the loop-invariant edge
    frames are checkpointed, not cached, so repeated calls cannot pile up
    entries (pagerank's edge plan reads a fresh checkpoint each call, so
    when it was cached each call added one)."""
    ops = all_ops()
    names = sorted(n for n in ops if n.startswith("graph_"))
    spark.catalog.clearCache()
    for name in names:
        ops[name].fn(spark, SF).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), names


def test_graph_loops_task_ceiling(spark):
    """Host-independent regression gate on the partition counts of the
    iterative graph ops and the two text funnels: at
    ``spark.sql.shuffle.partitions`` = 200 (the vanilla default) each
    call runs ≤ 300 Spark tasks, as ``obs.profile`` counts them (tasks of
    stages that ran). A frame held in the cache keeps all 200 partitions
    (AQE may not coalesce a cached plan's output), so every stage reading
    it runs 200 tasks on a few hundred rows: 1695–3261 tasks per graph
    call with a cached edge frame, and 1,630 for ``pipeline_llm_corpus``
    with its two persisted stage frames."""
    from bpspark import obs

    ops = all_ops()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        for name in ("graph_pagerank", "graph_shortest_paths",
                     "graph_kcore_decompose", "graph_label_propagation",
                     "pipeline_llm_corpus", "pipeline_web_corpus"):
            tasks = obs.profile(spark, lambda: ops[name].fn(spark, SF).collect())[1]["tasks"]
            assert tasks <= 300, f"{name}: {tasks} Spark tasks > 300"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
