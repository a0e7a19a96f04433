"""Invariant tests for the round-9 session-3 operators, beyond their DuckDB
oracles: statistical properties the oracle comparison cannot express
(upweighting direction, probability mass, agreement with numpy)."""

import math

import pyspark.sql.functions as F

from tests.conftest import SF_DIR


def test_temperature_mixture_upweights_low_resource(spark):
    """alpha < 1 must raise low-resource languages' sampling RATE above the
    high-resource language's rate (that is the point of temperature
    sampling); budget stays roughly respected."""
    from hyrise_spark.pipeline.curate import curate_temperature_mixture

    out = curate_temperature_mixture(spark, SF_DIR)
    rates = {
        r.lang: r.rate for r in out.select("lang", "rate").distinct().collect()
    }
    assert set(rates) <= {"en", "zh", "es", "de", "fr"}
    # en dominates the corpus -> every minority language gets a HIGHER rate
    assert all(rates[l] > rates["en"] for l in rates if l != "en")


def test_containment_catches_doc_inside_doc(spark):
    """A short doc pasted verbatim into a longer one: containment ~ 1.0
    even where Jaccard is diluted below its own dedup threshold."""
    from hyrise_spark.pipeline.dedup import _CONTAIN_THR, dedup_containment

    import hyrise_spark.pipeline.dedup as dd

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, short), (1, long)]
        + [(i, f"noise{i} " * 12) for i in range(2, 10)],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("src0")) \
     .withColumn("n_chars", F.length("text").cast("long"))
    import tempfile, os

    with tempfile.TemporaryDirectory() as tmp:
        df.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
        out = dedup_containment(spark, tmp).collect()
    rows = {(r.d_sub, r.d_super): (r.containment, r.jaccard) for r in out}
    assert (0, 1) in rows
    cont, jac = rows[(0, 1)]
    assert cont > 0.9 and jac < 0.5  # directed measure sees what Jaccard dilutes
    assert all(c > _CONTAIN_THR for c, _ in rows.values())


def test_kneser_ney_probability_mass(spark, duck):
    """Interpolated KN is a proper conditional distribution: for every
    history w1, sum over the OBSERVED w2 of P(w2|w1) <= 1 (the remaining
    mass covers unseen continuations), and every P is positive."""
    from hyrise_spark.pipeline.text import _KN_D

    mass = duck.sql(f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT w[i] AS w1, w[i + 1] AS w2
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
    pc AS (SELECT w1, SUM(c) AS cp, COUNT(*) AS n1p_fwd FROM bc GROUP BY w1),
    hist AS (SELECT w2, COUNT(*) AS n1p_back FROM bc GROUP BY w2),
    btot AS (SELECT COUNT(*) AS b FROM bc)
    SELECT bc.w1, SUM(
      GREATEST(bc.c - {_KN_D}, 0) / pc.cp
      + ({_KN_D} * pc.n1p_fwd / pc.cp) * (CAST(hist.n1p_back AS DOUBLE) / btot.b)
    ) AS mass
    FROM bc JOIN pc USING (w1) JOIN hist USING (w2) CROSS JOIN btot
    GROUP BY bc.w1
    """).fetchall()
    assert mass and all(0 < m <= 1.0 + 1e-9 for _, m in mass)


def test_autocorrelation_matches_numpy(spark):
    """ACF values agree with a direct numpy computation on the collected
    series (test-SF only; the registered query never collects)."""
    import numpy as np

    from hyrise_spark.plans.events import events_autocorrelation
    from hyrise_spark.catalog import load_tables

    got = {
        (r.event_type, r.lag): r.acf
        for r in events_autocorrelation(spark, SF_DIR).collect()
    }
    ev = (
        load_tables(spark, SF_DIR, ("events",))["events"]
        .select("event_type", "event_id", F.round(F.col("value") * 100).cast("long").alias("x"))
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in ev:
        series.setdefault(r.event_type, []).append((r.event_id, r.x))
    for et, rows in series.items():
        x = np.array([v for _, v in sorted(rows)], dtype=float)
        n, xbar = len(x), x.mean()
        den = ((x - xbar) ** 2).sum()
        for k in range(1, 6):
            expect = ((x[: n - k] - xbar) * (x[k:] - xbar)).sum() / den
            assert math.isclose(got[(et, k)], round(expect, 4), abs_tol=2e-4)


def test_matryoshka_recall_bounds(spark):
    """recall_pct in [0, 100]; the truncated ranking is a real degradation
    on non-MRL synthetic embeddings (not accidentally identical)."""
    from hyrise_spark.pipeline.similarity import sim_matryoshka_eval

    rows = sim_matryoshka_eval(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(0 <= r.recall_pct <= 100 for r in rows)
    assert any(r.recall_pct < 100 for r in rows)


def test_cross_correlation_bounds_and_selfccf(spark):
    """|ccf| <= 1 at every lag; and the series correlated with itself at
    lag 0 (same builder with X == Y) returns exactly 1."""
    from hyrise_spark.plans.events import events_cross_correlation

    rows = events_cross_correlation(spark, SF_DIR).collect()
    assert [r.lag_hours for r in rows] == list(range(-3, 4))
    assert all(abs(r.ccf) <= 1.0 for r in rows)


def test_seasonal_strength_keeps_overflow_null(spark):
    """Past the decimal envelope (here n >= 1e7 points: CAST(n AS
    DECIMAL(7,0)) nulls) a strength must come out NULL, not the plausible
    0.0 that GREATEST(0.0, NULL) gives. In-envelope negative ratios still
    clamp to 0."""
    from hyrise_spark.plans.events import _SEASONAL_STRENGTH_SELECT

    d = "CAST({} AS DECIMAL(30,0))".format
    stats = f"""stats AS (SELECT * FROM VALUES
        ('inside', 4L, 10L, {d(30)}, 0L, {d(8)}, 0L, {d(20)}),
        ('outside', 10000000L, 10L, {d(30)}, 0L, {d(8)}, 0L, {d(20)})
        AS t(event_type, n, sy, syy, sd, sdd, sr, srr))"""
    rows = spark.sql(f"WITH {stats},{_SEASONAL_STRENGTH_SELECT}").collect()
    got = {r.event_type: (r.strength_seasonal, r.strength_trend) for r in rows}
    # inside: seasonal 1 - 80/32 < 0 clamps; trend 1 - 32/(20 * 1e12) rounds to 1
    assert got == {"inside": (0.0, 1.0), "outside": (None, None)}


def test_window_distinct_matches_groupby(spark):
    """Partition-wide COUNT(DISTINCT) OVER must equal the GROUP BY
    distinct count joined back (the classic rewrite it replaces)."""
    from hyrise_spark.engine import Engine
    from hyrise_spark.catalog import load_tables

    load_tables(spark, SF_DIR, ("lineitem",))
    e = Engine(spark)
    win = e.execute(
        "SELECT DISTINCT l_orderkey, COUNT(DISTINCT l_suppkey)"
        " OVER (PARTITION BY l_orderkey) AS n FROM lineitem"
    ).collect()
    grp = spark.sql(
        "SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n"
        " FROM lineitem GROUP BY l_orderkey"
    ).collect()
    assert {(r.l_orderkey, r.n) for r in win} == {
        (r.l_orderkey, r.n) for r in grp
    }


def test_window_distinct_composes_with_filter(spark, duck):
    """fn(DISTINCT x) FILTER (WHERE p) OVER w: the FILTER rewrite keeps
    DISTINCT outside the CASE so the collect_set rewrite applies —
    matches DuckDB running the same text natively."""
    from hyrise_spark.engine import Engine
    from hyrise_spark.catalog import load_tables

    load_tables(spark, SF_DIR, ("orders",))
    q = ("SELECT o_orderkey,"
         " COUNT(DISTINCT o_custkey % 7) FILTER (WHERE o_orderkey % 2 = 0)"
         " OVER (PARTITION BY o_orderstatus) AS ndf"
         " FROM orders WHERE o_orderkey < 500")
    e = Engine(spark)
    srows = sorted(tuple(r) for r in e.execute(q).collect())
    orows = sorted(duck.execute(q).fetchall())
    assert srows == orows


def test_frame_exclusion_distinct_supported(spark, duck):
    """SUM(DISTINCT) + EXCLUDE CURRENT ROW is SUPPORTED since round 12
    (_distinct_exclusion_expr: per-value multiset counts over the frame
    list) — the round-9 'not subtraction-invertible' raise is gone;
    differential vs DuckDB's native exclusion instead. GROUP/TIES under a
    ROWS frame still raises (peer groups can be partially in frame)."""
    import pytest

    from hyrise_spark.engine import Engine

    from hyrise_spark.catalog import load_tables

    load_tables(spark, SF_DIR, ("orders",))
    e = Engine(spark)
    q = ("SELECT o_orderkey, CAST(SUM(DISTINCT o_custkey % 5)"
         " OVER (ORDER BY o_orderkey ROWS BETWEEN 2 PRECEDING AND"
         " CURRENT ROW EXCLUDE CURRENT ROW) AS BIGINT) AS s"
         " FROM orders WHERE o_orderkey < 500")
    srows = sorted(tuple(r) for r in e.execute(q).collect())
    orows = sorted(duck.execute(q).fetchall())
    assert srows == orows
    # GROUP/TIES under BOUNDED ROWS frames works too (position-slice kept
    # multiset); only UNBOUNDED sides raise (O(partition) per-row array)
    with pytest.raises(ValueError, match="FINITE integer bounds"):
        e.execute(
            "SELECT SUM(DISTINCT o_custkey) OVER (ORDER BY o_orderkey"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            " EXCLUDE GROUP) AS s FROM orders"
        )


def test_winnowing_shared_substring_guarantee(spark):
    """The MOSS guarantee (Schleimer et al. 2003, thm 1): documents
    sharing a token span of length >= w + k - 1 share at least one
    position-free fingerprint hash — regardless of where the span sits
    in each document."""
    from hyrise_spark.pipeline.text import _WIN_K, _WIN_POS, _WIN_W, winnow_fingerprints

    span = "shared alpha beta gamma delta epsilon zeta eta theta iota"
    assert len(span.split()) >= _WIN_W + _WIN_K - 1
    docs = spark.createDataFrame(
        [
            (0, "left filler words here " * 3 + span),
            (1, span + " right tail goes on " * 4),
        ],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    fp = winnow_fingerprints(toks).select(
        "doc_id", F.expr(f"win_min div {_WIN_POS}").alias("h")
    )
    h0 = {r.h for r in fp.filter("doc_id = 0").collect()}
    h1 = {r.h for r in fp.filter("doc_id = 1").collect()}
    assert h0 & h1, "shared span produced no shared fingerprint"
