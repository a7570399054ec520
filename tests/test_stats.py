"""group_percentiles: exact/approx agreement and knob behavior."""

import pytest

from otters_spark.operators.stats import group_percentiles


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_exact_matches_sql_percentile(li, spark):
    got = {
        r["l_returnflag"]: r["p50_l_quantity"]
        for r in group_percentiles(
            li, ["l_returnflag"], {"l_quantity": [0.5]}, exact=True
        ).collect()
    }
    li.createOrReplaceTempView("li_stats")
    want = {
        r["l_returnflag"]: r["m"]
        for r in spark.sql(
            "SELECT l_returnflag, round(percentile(l_quantity, 0.5), 4) AS m "
            "FROM li_stats GROUP BY l_returnflag"
        ).collect()
    }
    assert got == want


def test_approx_tracks_exact(li):
    kw = dict(
        group_cols=["l_returnflag"],
        value_cols={"l_extendedprice": [0.5, 0.9]},
        round_to=None,
    )
    exact = {r["l_returnflag"]: r for r in group_percentiles(li, exact=True, **kw).collect()}
    approx = {
        r["l_returnflag"]: r
        for r in group_percentiles(li, exact=False, accuracy=10_000, **kw).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        for c in ("p50_l_extendedprice", "p90_l_extendedprice"):
            # GK rank error 1/accuracy -> value error well under 2% on
            # this distribution
            assert approx[k][c] == pytest.approx(exact[k][c], rel=0.02)


def test_empty_request_rejected(li):
    with pytest.raises(ValueError):
        group_percentiles(li, ["l_returnflag"], {})


def test_sort_and_bin_methods_match_agg(li):
    kw = dict(
        group_cols=["l_returnflag"],
        value_cols={"l_extendedprice": [0.0, 0.25, 0.5, 0.9, 1.0], "l_quantity": [0.5]},
        round_to=6,
    )
    agg = {r["l_returnflag"]: tuple(r) for r in group_percentiles(li, method="agg", **kw).collect()}
    srt = {r["l_returnflag"]: tuple(r) for r in group_percentiles(li, method="sort", **kw).collect()}
    bin_ = {r["l_returnflag"]: tuple(r) for r in group_percentiles(li, method="bin", **kw).collect()}
    assert agg == srt == bin_


@pytest.mark.parametrize("method", ["sort", "bin"])
def test_method_nulls_and_single_row(spark, method):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", 7.0)], "g string, v double"
    )
    got = {
        r["g"]: (r["p50_v"], r["p100_v"])
        for r in group_percentiles(
            df, ["g"], {"v": [0.5, 1.0]}, method=method, round_to=None
        ).collect()
    }
    assert got == {"a": (2.0, 3.0), "b": (7.0, 7.0)}  # nulls ignored


def test_bin_constant_and_skewed_groups(spark):
    # one constant-valued group (degenerate zero-width histogram), one
    # extreme-outlier group (all mass lands in two bins — the fallback
    # is sorting a fat bin, still exact)
    rows = [("c", 5.0)] * 10 + [("s", float(i)) for i in range(100)] + [("s", 1e12)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["p50_v"], r["p90_v"])
        for r in group_percentiles(
            df, ["g"], {"v": [0.5, 0.9]}, method="bin", round_to=None
        ).collect()
    }
    agg = {
        r["g"]: (r["p50_v"], r["p90_v"])
        for r in group_percentiles(
            df, ["g"], {"v": [0.5, 0.9]}, method="agg", round_to=None
        ).collect()
    }
    assert got == agg


@pytest.mark.parametrize("method", ["agg", "sort", "bin"])
def test_null_group_key_kept(spark, method):
    # equality joins drop NULL keys; the bin path must not lose the
    # NULL-keyed group the way r2's struct-free join did
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 30.0)],
        "g string, v double",
    )
    got = {
        r["g"]: r["p50_v"]
        for r in group_percentiles(
            df, ["g"], {"v": [0.5]}, method=method, round_to=None
        ).collect()
    }
    assert got == {"a": 2.0, None: 20.0}


@pytest.mark.parametrize("method", ["agg", "sort", "bin"])
def test_nan_filtered_like_null_every_method(spark, method):
    # NaN sorts LAST under Spark ordering — untreated it poisons the
    # high quantiles of the sort/agg paths while bin melts it away
    nan = float("nan")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", nan), ("a", 3.0), ("a", nan)], "g string, v double"
    )
    got = group_percentiles(
        df, ["g"], {"v": [0.5, 1.0]}, method=method, round_to=None
    ).collect()[0]
    assert (got["p50_v"], got["p100_v"]) == (2.0, 3.0)


def test_approx_filters_nan_too(spark):
    nan = float("nan")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", nan), ("a", 3.0)], "g string, v double"
    )
    got = group_percentiles(
        df, ["g"], {"v": [1.0]}, exact=False, round_to=None
    ).collect()[0]
    assert got["p100_v"] == 3.0


def test_robust_outliers_basic(spark):
    from otters_spark.operators.stats import robust_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 100]] + [
        ("b", 5.0), ("b", 6.0), ("b", 7.0), (None, 1.0), (None, 50.0), (None, 1.5),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = robust_outliers(df, "v", ["g"], k=3.0)
    got = {(r["g"], r["v"]): r["is_outlier"] for r in out.collect()}
    assert len(got) == len(rows)              # NULL group rows survive
    assert got[("a", 100.0)] is True          # the planted spike
    assert all(not got[("a", float(v))] for v in [10, 11, 12, 13, 14])
    assert got[(None, 50.0)] is True          # NULL group is a real group
    # median/MAD agree with a direct computation
    import statistics

    a_vals = [10, 11, 12, 13, 14, 100]
    row = out.filter("g = 'a'").limit(1).collect()[0]
    med = statistics.median(a_vals)
    mad = statistics.median([abs(x - med) for x in a_vals])
    assert row["group_median"] == med and row["group_mad"] == mad


def test_robust_outliers_fused_mad_stats_are_exact(spark):
    """Round-12 fusion: the MAD pass derives its binning stats
    algebraically (0 <= |v-med| <= max(mx-med, med-mn), n unchanged)
    instead of a second corpus stats pass. The derived upper bound is
    always the exact max residual; only the lower bound 0 can be loose,
    when no value equals the median. Loose bounds must not move a bit:
    pin against direct computation on two-sided extremes, the
    degenerate all-equal group (zero-width residual range) and an
    even-count group (interpolated MAD, loose lower bound)."""
    import statistics

    from otters_spark.operators.stats import robust_outliers

    groups = {
        # derived bound = max(1000-2, 2-(-1000)) = 1002 = true max
        "two_sided": [-1000.0, 1.0, 2.0, 3.0, 1000.0],
        "all_equal": [7.0, 7.0, 7.0],
        # median 3 is not a value: derived min 0 < true min residual 1
        "even_interp": [1.0, 2.0, 4.0, 8.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double").repartition(3)
    got = {r["g"]: r for r in robust_outliers(df, "v", ["g"]).collect()}
    for g, vs in groups.items():
        med = statistics.median(vs)
        mad = statistics.median([abs(x - med) for x in vs])
        assert got[g]["group_median"] == med, g
        assert got[g]["group_mad"] == mad, g


def test_robust_outliers_null_values_and_validation(spark):
    import pytest as _pytest

    from otters_spark.operators.stats import robust_outliers

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("a", 3.0)], "g string, v double"
    )
    out = {r["v"]: r["is_outlier"] for r in robust_outliers(df, "v", ["g"]).collect()}
    assert out[None] is False
    with _pytest.raises(ValueError):
        robust_outliers(df, "v", ["g"], k=0)


def test_quantile_normalize_vs_python_percent_rank(spark):
    """Binned two-phase rank must equal SQL PERCENT_RANK exactly,
    ties (first-peer rank) and single-row groups (0.0) included."""
    import random as _random

    from otters_spark.operators.stats import quantile_normalize

    rng = _random.Random(9)
    rows = []
    for i in range(300):
        g = "g" + str(i % 3)
        # coarse values -> plenty of exact ties
        rows.append((i, g, float(rng.randint(0, 40))))
    rows.append((1000, "solo", 7.0))  # single-row group
    rows.append((1001, "g0", None))   # NULL passes through
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    got = {r["id"]: r["pctl"]
           for r in quantile_normalize(df, "v", ["grp"]).collect()}
    by_g = {}
    for i, g, v in rows:
        if v is not None:
            by_g.setdefault(g, []).append((v, i))
    for g, vals in by_g.items():
        n = len(vals)
        svals = sorted(v for v, _ in vals)
        for v, i in vals:
            smaller = sum(1 for x in svals if x < v)
            want = 0.0 if n == 1 else round(smaller / (n - 1), 6)
            assert got[i] == want, (g, i, got[i], want)
    assert got[1000] == 0.0
    assert got[1001] is None
    with pytest.raises(ValueError, match="already exists"):
        quantile_normalize(df.withColumn("pctl", df.v), "v", ["grp"])


def test_quantile_normalize_global_no_group(spark):
    from otters_spark.operators.stats import quantile_normalize

    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 2.0), (3, 10.0)], "id long, v double"
    )
    got = {r["id"]: r["pctl"] for r in quantile_normalize(df, "v").collect()}
    assert got == {0: 0.0, 1: round(1 / 3, 6), 2: round(1 / 3, 6), 3: 1.0}


def test_global_row_number_matches_window(spark):
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from otters_spark.operators.stats import global_row_number

    rng = random.Random(7)
    # duplicate values on purpose: the tiebreak must resolve inside a bin
    rows = [(i, float(rng.randrange(20))) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    for desc in (False, True):
        got = global_row_number(df, "v", "id", "rn", descending=desc, n_bins=8)
        order = F.col("v").desc() if desc else F.col("v").asc()
        exp = df.withColumn(
            "rn_exp", F.row_number().over(Window.orderBy(order, F.col("id")))
        )
        bad = (
            got.join(exp, ["id", "v"])
            .filter(F.col("rn") != F.col("rn_exp"))
            .count()
        )
        assert bad == 0, f"descending={desc}"


def test_global_row_number_constant_and_errors(spark):
    import pytest as _pytest
    from otters_spark.operators.stats import global_row_number

    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], "id long, v double")
    got = {r["id"]: r["rn"] for r in global_row_number(df, "v", "id", "rn").collect()}
    assert got == {1: 1, 2: 2, 3: 3}  # all-equal values: pure tiebreak order
    with _pytest.raises(ValueError):
        global_row_number(df.withColumnRenamed("v", "rn"), "id", "id", "rn")


def test_cusum_matches_reset_recurrence(spark):
    """The window identity S_i = C_i - min(0, running-min C) must
    replay the textbook reset recurrence exactly, both sides, on a
    random integer series with planted up- and down-shifts."""
    import random

    from otters_spark.operators.stats import cusum_scan

    rng = random.Random(7)
    series = (
        [rng.randint(90, 110) for _ in range(40)]
        + [rng.randint(130, 150) for _ in range(20)]  # up-shift
        + [rng.randint(50, 70) for _ in range(20)]  # down-shift
    )
    target, slack, limit = 100, 5, 60
    df = spark.createDataFrame(
        [("k", i, v, target) for i, v in enumerate(series)],
        "k string, t long, x long, target long",
    )
    got = {
        r["t"]: (r["s_pos"], r["s_neg"], r["alarm_up"], r["alarm_down"])
        for r in cusum_scan(
            df, ["k"], "t", "x", "target", slack=slack, threshold=limit
        ).collect()
    }
    sp = sn = 0
    for i, x in enumerate(series):
        sp = max(0, sp + (x - target - slack))
        sn = max(0, sn - (x - target + slack))
        assert got[i] == (sp, sn, sp > limit, sn > limit), i
    # the planted shifts must actually fire both alarms
    assert any(a for _, (_, _, a, _) in got.items())
    assert any(d for _, (_, _, _, d) in got.items())


def test_cusum_per_key_columns_and_null_drop(spark):
    from otters_spark.operators.stats import cusum_scan

    df = spark.createDataFrame(
        [
            ("a", 0, 10, 5, 1, 3),
            ("a", 1, None, 5, 1, 3),  # dropped
            ("a", 2, 4, 5, 1, 3),
            ("b", 0, 100, 90, 0, 5),
        ],
        "k string, t long, x long, target long, slack long, lim long",
    )
    out = {
        (r["k"], r["t"]): (r["s_pos"], r["alarm_up"])
        for r in cusum_scan(
            df, ["k"], "t", "x", "target", slack="slack", threshold="lim"
        ).collect()
    }
    assert ("a", 1) not in out
    assert out[("a", 0)] == (4, True)  # 10-5-1
    assert out[("a", 2)] == (2, False)  # max(0, 4 + (4-5-1)) = 2
    assert out[("b", 0)] == (10, True)


def test_pearson_matrix_matches_numpy(spark):
    """Exact-integer one-pass correlations == numpy corrcoef on the
    same data, including the constant-column NULL and complete-case
    row drop."""
    import numpy as np

    from otters_spark.operators.stats import pearson_matrix

    rng = np.random.default_rng(3)
    x = rng.integers(0, 1000, 200)
    y = (x * 3 + rng.integers(0, 500, 200)).astype(np.int64)
    z = rng.integers(-50, 50, 200)
    rows = [(int(a), int(b), int(c), 7) for a, b, c in zip(x, y, z)]
    rows.append((None, 1, 1, 7))  # complete-case: dropped everywhere
    df = spark.createDataFrame(rows, "x long, y long, z long, const long")
    got = {
        (r["col_a"], r["col_b"]): (r["n"], r["corr"])
        for r in pearson_matrix(df, ["x", "y", "z", "const"]).collect()
    }
    assert all(n == 200 for n, _ in got.values())
    m = np.corrcoef(np.vstack([x, y, z]))
    names = ["x", "y", "z"]
    for i, a in enumerate(names):
        for j in range(i, 3):
            want = round(float(m[i, j]), 6)
            assert got[(a, names[j])][1] == pytest.approx(want, abs=2e-6)
    # zero-variance pairs are NULL, diagonal of a varying col is 1
    assert got[("const", "const")][1] is None
    assert got[("x", "const")][1] is None
    assert got[("x", "x")][1] == 1.0


def test_pearson_matrix_survives_long_product_overflow(spark):
    """Per-row products past 2^63 (values ~4e9, products ~1.6e19) must
    not silently wrap: factors are cast to decimal BEFORE the
    multiply. Perfectly correlated columns at that magnitude must
    read corr == 1.0."""
    from otters_spark.operators.stats import pearson_matrix

    big = 4_000_000_000  # big*big = 1.6e19 > 2^63-1 ≈ 9.22e18
    rows = [(big + i, 2 * (big + i)) for i in range(10)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in pearson_matrix(df, ["x", "y"]).collect()
    }
    assert got[("x", "y")] == 1.0
    assert got[("x", "x")] == 1.0 and got[("y", "y")] == 1.0


def test_pearson_matrix_rejects_single_column(spark):
    from otters_spark.operators.stats import pearson_matrix

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="two columns"):
        pearson_matrix(df, ["x"])


# ---------------------------------------------------------------------
# acf / group_trend / mann_whitney vs driver-side NumPy references
# ---------------------------------------------------------------------

def _np_pearson(x, y):
    import numpy as np

    x = np.asarray(x, dtype=float)
    y = np.asarray(y, dtype=float)
    n = len(x)
    num = n * (x * y).sum() - x.sum() * y.sum()
    den = (
        (n * (x * x).sum() - x.sum() ** 2)
        * (n * (y * y).sum() - y.sum() ** 2)
    ) ** 0.5
    return num / den if den > 0 else None


def test_acf_matches_numpy_reference(spark):
    from otters_spark.operators.stats import acf

    series = {
        "a": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7],
        "b": [10, 20, 10, 20, 10, 20, 10, 20, 10, 20],
    }
    rows = [
        (k, i, v) for k, vs in series.items() for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "k string, t int, y long")
    got = {
        (r["k"], r["lag"]): (r["n"], r["acf"])
        for r in acf(df, ["k"], "t", "y", [1, 2, 3]).collect()
    }
    for k, vs in series.items():
        for lag in (1, 2, 3):
            xs, ys = vs[lag:], vs[:-lag]
            want = _np_pearson(xs, ys)
            n, a = got[(k, lag)]
            assert n == len(xs)
            if want is None:
                assert a is None
            else:
                assert a == pytest.approx(round(want, 6), abs=1e-6)
    # the alternating series has perfect negative lag-1 / positive
    # lag-2 autocorrelation — sanity-pin the sign structure
    assert got[("b", 1)][1] == pytest.approx(-1.0)
    assert got[("b", 2)][1] == pytest.approx(1.0)


def test_acf_rejects_bad_lags(spark):
    from otters_spark.operators.stats import acf

    df = spark.createDataFrame([("a", 1, 1)], "k string, t int, y long")
    with pytest.raises(ValueError):
        acf(df, ["k"], "t", "y", [0, 1])
    with pytest.raises(ValueError):
        acf(df, ["k"], "t", "y", [])


def test_group_trend_matches_numpy_polyfit(spark):
    import numpy as np

    from otters_spark.operators.stats import group_trend

    rng_rows = []
    # deterministic pseudo-data: y = 7x + 100 + (x^2 % 13) noise
    for g, (a, b) in {"up": (7, 100), "down": (-3, 50)}.items():
        for x in range(20):
            rng_rows.append((g, x, a * x + b + (x * x) % 13))
    df = spark.createDataFrame(rng_rows, "g string, x long, y long")
    got = {r["g"]: r for r in group_trend(df, ["g"], "x", "y").collect()}
    for g in ("up", "down"):
        xs = np.array([r[1] for r in rng_rows if r[0] == g], dtype=float)
        ys = np.array([r[2] for r in rng_rows if r[0] == g], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        r = np.corrcoef(xs, ys)[0, 1]
        assert got[g]["n"] == 20
        assert got[g]["slope"] == pytest.approx(round(slope, 6), abs=1e-6)
        assert got[g]["intercept"] == pytest.approx(
            round(intercept, 6), abs=1e-6
        )
        assert got[g]["r2"] == pytest.approx(round(r * r, 6), abs=1e-6)


def test_group_trend_degenerate_groups(spark):
    from otters_spark.operators.stats import group_trend

    df = spark.createDataFrame(
        [("one_point", 1, 5), ("flat_y", 1, 7), ("flat_y", 2, 7),
         ("flat_x", 3, 1), ("flat_x", 3, 9)],
        "g string, x long, y long",
    )
    got = {r["g"]: r for r in group_trend(df, ["g"], "x", "y").collect()}
    assert got["one_point"]["slope"] is None
    assert got["flat_x"]["slope"] is None  # zero x-variance
    # zero y-variance: slope 0, r2 NULL (0/0)
    assert got["flat_y"]["slope"] == 0.0
    assert got["flat_y"]["r2"] is None


def _mw_reference(a_vals, b_vals):
    """Plain-Python tie-averaged Mann-Whitney (the textbook form)."""
    pooled = sorted([(v, "a") for v in a_vals] + [(v, "b") for v in b_vals])
    ranks = {}
    i = 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2.0  # average of ranks i+1 .. j
        ranks[pooled[i][0]] = avg
        i = j
    r_a = sum(ranks[v] for v in a_vals)
    n_a, n_b = len(a_vals), len(b_vals)
    u_a = r_a - n_a * (n_a + 1) / 2.0
    n = n_a + n_b
    from collections import Counter

    ties = sum(c**3 - c for c in Counter(v for v, _ in pooled).values())
    var = n_a * n_b / 12.0 * ((n + 1) - ties / (n * (n - 1)))
    z = (u_a - n_a * n_b / 2.0) / var**0.5 if var > 0 else None
    return u_a, u_a / (n_a * n_b), z


def test_mann_whitney_matches_reference_with_ties(spark):
    from otters_spark.operators.stats import mann_whitney

    a = [1.0, 2.0, 2.0, 3.5, 9.0, 4.0, 4.0, 4.0, 0.5]
    b = [2.0, 5.0, 6.0, 4.0, 7.5, 8.0, 1.5]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney(df, "g", "v", "a", "b", n_bins=4).collect()[0]
    u_a, auc, z = _mw_reference(a, b)
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    assert got["u2_a"] == int(round(2 * u_a))
    assert got["auc"] == pytest.approx(round(auc, 6), abs=1e-6)
    assert got["z"] == pytest.approx(round(z, 6), abs=1e-6)


def test_mann_whitney_extreme_shift_and_identical(spark):
    from otters_spark.operators.stats import mann_whitney

    # complete separation: every a > every b -> U = n_a*n_b, auc = 1
    rows = [("a", float(100 + i)) for i in range(10)] + [
        ("b", float(i)) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney(df, "g", "v", "a", "b").collect()[0]
    assert got["u2_a"] == 2 * 10 * 8
    assert got["auc"] == 1.0
    # all values identical -> zero variance -> z NULL, auc 0.5
    df2 = spark.createDataFrame(
        [("a", 1.0)] * 5 + [("b", 1.0)] * 5, "g string, v double"
    )
    got2 = mann_whitney(df2, "g", "v", "a", "b").collect()[0]
    assert got2["auc"] == 0.5
    assert got2["z"] is None


def test_chi_square_matches_reference(spark):
    from otters_spark.operators.stats import chi_square

    # 2x3 with a zero cell: obs[(x1, yc)] = 0
    rows = (
        [("x1", "ya")] * 20 + [("x1", "yb")] * 5
        + [("x2", "ya")] * 10 + [("x2", "yb")] * 15 + [("x2", "yc")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    got = chi_square(df, "a", "b").collect()[0]
    # driver-side reference
    from collections import Counter

    obs = Counter(rows)
    ra = Counter(a for a, _ in rows)
    cb = Counter(b for _, b in rows)
    n = len(rows)
    chi2 = sum(
        (obs.get((a, b), 0) - ra[a] * cb[b] / n) ** 2 / (ra[a] * cb[b] / n)
        for a in ra for b in cb
    )
    v = (chi2 / (n * (min(len(ra), len(cb)) - 1))) ** 0.5
    assert got["n"] == n and got["dof"] == (2 - 1) * (3 - 1)
    assert got["n_a"] == 2 and got["n_b"] == 3
    assert got["chi2"] == pytest.approx(round(chi2, 6), abs=1e-6)
    assert got["cramers_v"] == pytest.approx(round(v, 6), abs=1e-6)


def test_chi_square_independent_is_zero(spark):
    from otters_spark.operators.stats import chi_square

    # perfectly proportional table -> chi2 exactly 0
    rows = []
    for a, mult in (("g1", 1), ("g2", 3)):
        rows += [(a, "u")] * (10 * mult) + [(a, "v")] * (20 * mult)
    df = spark.createDataFrame(rows, "a string, b string")
    got = chi_square(df, "a", "b").collect()[0]
    assert got["chi2"] == 0.0
    assert got["cramers_v"] == 0.0


def test_chi_square_degenerate_single_category(spark):
    from otters_spark.operators.stats import chi_square

    df = spark.createDataFrame(
        [("only", "u")] * 5 + [("only", "v")] * 5, "a string, b string"
    )
    got = chi_square(df, "a", "b").collect()[0]
    assert got["dof"] == 0
    assert got["cramers_v"] is None


def test_woe_iv_matches_reference(spark):
    import math

    from otters_spark.operators.stats import woe_iv

    # bucket 'lo' is negative-heavy, 'hi' positive-heavy, 'mid' even,
    # 'pure' has zero negatives -> NULL woe
    rows = (
        [("lo", 0)] * 30 + [("lo", 1)] * 5
        + [("mid", 0)] * 20 + [("mid", 1)] * 20
        + [("hi", 0)] * 5 + [("hi", 1)] * 30
        + [("pure", 1)] * 4
    )
    df = spark.createDataFrame(rows, "f string, y int")
    got = {r["bucket"]: r for r in woe_iv(df, "f", "y").collect()}
    pos = sum(1 for _, y in rows if y == 1)
    neg = len(rows) - pos
    for b in ("lo", "mid", "hi"):
        np_ = sum(1 for f, y in rows if f == b and y == 1)
        nn = sum(1 for f, y in rows if f == b and y == 0)
        woe = math.log((np_ / pos) / (nn / neg))
        iv = (np_ / pos - nn / neg) * woe
        assert got[b]["n_pos"] == np_ and got[b]["n_neg"] == nn
        assert got[b]["woe"] == pytest.approx(round(woe, 6), abs=1e-6)
        assert got[b]["iv_term"] == pytest.approx(round(iv, 6), abs=1e-6)
    assert got["pure"]["woe"] is None and got["pure"]["iv_term"] is None
    assert got["hi"]["woe"] > 0 > got["lo"]["woe"]


def test_forecast_eval_matches_hand_computation(spark):
    import math

    from otters_spark.operators.stats import forecast_eval

    series = [10, 12, 9, 14, 11, 13, 8, 15]  # season=3
    rows = [("k", t, v) for t, v in enumerate(series)]
    df = spark.createDataFrame(rows, "k string, t int, y long")
    got = forecast_eval(df, ["k"], "t", "y", season=3).collect()[0]
    pairs = [(series[t], series[t - 3]) for t in range(3, len(series))]
    errs = [y - yh for y, yh in pairs]
    mae = sum(abs(e) for e in errs) / len(errs)
    rmse = math.sqrt(sum(e * e for e in errs) / len(errs))
    smape = sum(
        2 * abs(y - yh) / (abs(y) + abs(yh)) for y, yh in pairs
    ) / len(pairs)
    d1 = [abs(series[t] - series[t - 1]) for t in range(1, len(series))]
    mase = mae / (sum(d1) / len(d1))
    assert got["n_eval"] == len(pairs)
    assert got["mae"] == pytest.approx(round(mae, 2), abs=1e-6)
    assert got["rmse"] == pytest.approx(round(rmse, 2), abs=1e-6)
    assert got["smape"] == pytest.approx(round(smape, 6), abs=1e-6)
    assert got["mase"] == pytest.approx(round(mase, 6), abs=1e-6)


def test_forecast_eval_degenerate_series(spark):
    from otters_spark.operators.stats import forecast_eval

    # constant series: perfect forecast, zero naive scale -> MASE NULL
    const = spark.createDataFrame(
        [("c", t, 7) for t in range(6)], "k string, t int, y long"
    )
    g = forecast_eval(const, ["k"], "t", "y", season=2).collect()[0]
    assert g["mae"] == 0.0 and g["rmse"] == 0.0 and g["mase"] is None
    # all-zero series: sMAPE 0 by the both-zero convention
    zeros = spark.createDataFrame(
        [("z", t, 0) for t in range(5)], "k string, t int, y long"
    )
    gz = forecast_eval(zeros, ["k"], "t", "y", season=1).collect()[0]
    assert gz["smape"] == 0.0
    # series shorter than the season: no evaluable rows
    short = spark.createDataFrame(
        [("s", 0, 1), ("s", 1, 2)], "k string, t int, y long"
    )
    gs = forecast_eval(short, ["k"], "t", "y", season=5).collect()[0]
    assert gs["n_eval"] == 0 and gs["mae"] is None
    with pytest.raises(ValueError):
        forecast_eval(short, ["k"], "t", "y", season=0)


def test_mann_whitney_missing_group_is_null_not_nan(spark):
    from otters_spark.operators.stats import mann_whitney

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    got = mann_whitney(df, "g", "v", "a", "b").collect()[0]
    assert got["n_b"] == 0
    assert got["auc"] is None and got["z"] is None


def test_weighted_percentiles_hand_and_brute(spark):
    """Type-1 weighted quantiles: smallest value whose cumulative
    weight reaches p*W — hand case plus a randomized brute-force
    check (expand each row weight-fold, take the lower quantile of
    the expanded multiset)."""
    import random

    from otters_spark.operators.stats import weighted_percentiles

    rows = [
        ("a", 10, 1), ("a", 20, 8), ("a", 30, 1),   # W=10: p50 -> 20 (cum 9 >= 5), p90 -> 20 (9 >= 9)
        ("b", 5, 3), ("b", 7, 1),                     # W=4: p50 -> 5 (3 >= 2), p90 -> 7 (4 >= 3.6)
        ("c", 1, 0), ("c", 2, 5), ("c", None, 9), ("c", 3, None),  # drops
    ]
    df = spark.createDataFrame(rows, "k string, v long, w long")
    got = {
        r["k"]: (r["wp50"], r["wp90"])
        for r in weighted_percentiles(df, ["k"], "v", "w", [0.5, 0.9]).collect()
    }
    assert got["a"] == (20, 20)
    assert got["b"] == (5, 7)
    assert got["c"] == (2, 2)  # only the (2, 5) row survives

    rng = random.Random(23)
    data = [("g", rng.randrange(0, 40), rng.randrange(1, 6)) for _ in range(200)]
    df2 = spark.createDataFrame(data, "k string, v long, w long")
    expanded = sorted(v for _, v, w in data for _ in range(w))
    W = len(expanded)
    for p, col in ((0.5, "wp50"), (0.9, "wp90")):
        # smallest value with cum >= p*W == element at ceil(p*W)-1
        import math as _m

        want = expanded[_m.ceil(p * W) - 1]
        got2 = weighted_percentiles(df2, ["k"], "v", "w", [0.5, 0.9]).collect()[0]
        assert got2[col] == want, (p, got2[col], want)


def test_weighted_percentiles_validation(spark):
    from otters_spark.operators.stats import weighted_percentiles

    df = spark.createDataFrame([("a", 1, 1)], "k string, v long, w long")
    with pytest.raises(ValueError, match="non-empty"):
        weighted_percentiles(df, ["k"], "v", "w", [])
    for bad in (0.0, 1.5, -0.1):
        with pytest.raises(ValueError, match="in \\(0, 1\\]"):
            weighted_percentiles(df, ["k"], "v", "w", [bad])


def test_weighted_percentiles_no_long_wrap(spark):
    """Weights whose total passes 2^63 must accumulate exactly
    (decimal cast BEFORE every sum, round-6 advisor item): with three
    values each weighted 2^62, the long sum of all three wraps
    negative in non-ANSI mode and the thresholds would collapse to
    the first value; the decimal path keeps W = 3*2^62 and p=0.5
    lands on the middle value, p=0.9 on the last."""
    from otters_spark.operators.stats import weighted_percentiles

    w = 1 << 62
    df = spark.createDataFrame(
        [("g", 10, w), ("g", 20, w), ("g", 30, w)],
        "k string, v long, w long",
    )
    got = weighted_percentiles(df, ["k"], "v", "w", [0.5, 0.9]).collect()[0]
    assert got["wp50"] == 20
    assert got["wp90"] == 30
