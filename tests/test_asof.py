"""As-of join: both physical plans vs pandas merge_asof, tie semantics,
tolerance, forward direction, and the zero-temporal-leakage property."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pulsarfeatureextractor_spark.operators.asof import asof_join

EPOCH = pd.Timestamp("2024-01-01")


def _random_tables(seed: int, n_left=400, n_right=300, n_entities=25):
    rng = np.random.default_rng(seed)
    left = pd.DataFrame({
        "entity": [f"e{i}" for i in rng.integers(0, n_entities, n_left)],
        "ts": EPOCH + pd.to_timedelta(rng.integers(0, 10_000, n_left), unit="s"),
        "lval": rng.normal(size=n_left),
    })
    right = pd.DataFrame({
        "entity": [f"e{i}" for i in rng.integers(0, n_entities, n_right)],
        "ts": EPOCH + pd.to_timedelta(rng.integers(0, 10_000, n_right), unit="s"),
        "rval": rng.normal(size=n_right),
    })
    # force exact-tie timestamps between sides for ~10% of right rows
    ties = right.sample(frac=0.1, random_state=seed)
    if len(ties) and len(left):
        right.loc[ties.index, "ts"] = left["ts"].iloc[: len(ties)].to_numpy()
    # one right row per (entity, ts): duplicate right timestamps have no
    # pinned winner across implementations (documented tie ambiguity)
    right = right.groupby(["entity", "ts"], as_index=False).first()
    return left, right


def _pandas_asof(left, right, direction="backward", tolerance=None):
    lo = left.sort_values(["ts", "entity"], kind="mergesort").reset_index(drop=True)
    ro = right.sort_values(["ts", "entity"], kind="mergesort").reset_index(drop=True)
    tol = pd.Timedelta(seconds=tolerance) if tolerance is not None else None
    return pd.merge_asof(
        lo, ro[["entity", "ts", "rval"]], on="ts", by="entity",
        direction=direction, tolerance=tol,
    )


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(["entity", "ts", "lval"], kind="mergesort").reset_index(drop=True)
    return out[["entity", "ts", "lval", "rval"]]


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_both_plans_match_pandas(spark, seed, direction):
    left, right = _random_tables(seed)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    want = _canon(_pandas_asof(left, right, direction))
    for strategy in ("window", "merge_asof", "bucketed", "broadcast"):
        got = asof_join(
            ldf, rdf, on="ts", by="entity", direction=direction,
            strategy=strategy, bucket_seconds=600.0,
        ).toPandas()
        got = _canon(got)
        pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-12)


@pytest.mark.parametrize("tolerance", [60.0, 1000.0])
def test_tolerance(spark, tolerance):
    left, right = _random_tables(5)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    want = _canon(_pandas_asof(left, right, "backward", tolerance))
    for strategy in ("window", "merge_asof", "bucketed", "broadcast"):
        got = _canon(asof_join(
            ldf, rdf, on="ts", by="entity", tolerance=tolerance,
            strategy=strategy, bucket_seconds=600.0,
        ).toPandas())
        pd.testing.assert_frame_equal(got, want, check_dtype=False, rtol=1e-12)


def test_exact_tie_matches(spark):
    """A right row at exactly t must be visible to a left row at t."""
    left = pd.DataFrame({"entity": ["a"], "ts": [EPOCH], "lval": [1.0]})
    right = pd.DataFrame({"entity": ["a"], "ts": [EPOCH], "rval": [9.0]})
    for strategy in ("window", "merge_asof", "bucketed", "broadcast"):
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="entity", strategy=strategy,
        ).toPandas()
        assert got["rval"].iloc[0] == 9.0


def test_no_match_yields_null(spark):
    left = pd.DataFrame({"entity": ["a"], "ts": [EPOCH], "lval": [1.0]})
    right = pd.DataFrame({
        "entity": ["a"], "ts": [EPOCH + pd.Timedelta(seconds=10)], "rval": [9.0]
    })
    for strategy in ("window", "merge_asof", "bucketed", "broadcast"):
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="entity", strategy=strategy,
        ).toPandas()
        assert pd.isna(got["rval"].iloc[0])


def test_zero_temporal_leakage(spark):
    """Property (BASELINE.json north_star): the as-of result at (e, t)
    is unchanged when the right table is censored to rows <= t."""
    left, right = _random_tables(11, n_left=100, n_right=200)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    full = _canon(asof_join(ldf, rdf, on="ts", by="entity").toPandas())
    rng = np.random.default_rng(0)
    for idx in rng.choice(len(full), size=10, replace=False):
        row = full.iloc[int(idx)]
        censored = right[right["ts"] <= row["ts"]]
        cdf = spark.createDataFrame(censored) if len(censored) else rdf.limit(0)
        got = asof_join(
            ldf.where(f"entity = '{row['entity']}'"), cdf, on="ts", by="entity"
        ).toPandas()
        got_row = got[(got["entity"] == row["entity"]) & (got["ts"] == row["ts"])]
        want_val = row["rval"]
        got_vals = got_row["rval"].to_numpy()
        assert len(got_vals) >= 1
        if pd.isna(want_val):
            assert all(pd.isna(v) for v in got_vals)
        else:
            assert any(
                (not pd.isna(v)) and abs(v - want_val) < 1e-12 for v in got_vals
            )


def test_null_keys_and_timestamps_sql_semantics(spark):
    """NULL entity keys / timestamps never match, on either side —
    ANSI equality-join semantics, pinned across all four plans."""
    left = pd.DataFrame({
        "entity": ["a", None, "a", "b"],
        "ts": [EPOCH + pd.Timedelta(seconds=10), EPOCH + pd.Timedelta(seconds=10),
               pd.NaT, EPOCH + pd.Timedelta(seconds=10)],
        "lval": [1.0, 2.0, 3.0, 4.0],
    })
    right = pd.DataFrame({
        "entity": ["a", None, "a", "b"],
        "ts": [EPOCH, EPOCH, pd.NaT, pd.NaT],
        "rval": [10.0, 20.0, 30.0, 40.0],
    })
    for strategy in ("window", "merge_asof", "bucketed", "broadcast"):
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="ts", by="entity", strategy=strategy,
        ).toPandas().sort_values("lval").reset_index(drop=True)
        assert len(got) == 4, strategy
        # valid (a, t=10) matches the valid right row only
        assert got.loc[0, "rval"] == 10.0, strategy
        # null key, null ts, and entity with only-null right rows -> no match
        assert pd.isna(got.loc[1, "rval"]), strategy
        assert pd.isna(got.loc[2, "rval"]), strategy
        assert pd.isna(got.loc[3, "rval"]), strategy


def test_broadcast_plan_shape(spark, tmp_path):
    """``strategy="broadcast"``: the big (left) side is never shuffled
    or sorted.  Plan pins: BroadcastHashJoin, exactly ONE Exchange
    hashpartitioning (the small right-side aggregate feeding the
    broadcast), and zero Sort operators anywhere — the left scan's
    partitioning flows straight through the join."""
    left, right = _random_tables(13)
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(left).write.parquet(lp)
    spark.createDataFrame(right).write.parquet(rp)
    out = asof_join(spark.read.parquet(lp), spark.read.parquet(rp),
                    on="ts", by="entity", strategy="broadcast")
    out.collect()
    # pin the FINAL plan section only (AQE repeats operators under
    # "== Initial Plan ==")
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Sort [") == 0, plan


@pytest.mark.parametrize("direction,tolerance", [
    ("backward", None), ("forward", None), ("backward", 900.0), ("forward", 900.0),
])
def test_self_join_equals_derived_right_side(spark, direction, tolerance):
    """``asof_self_join`` (one read, exploded tagged union) equals
    ``asof_join`` against the snapshot side derived from the same frame,
    including rows with a NULL key, a NULL event time or a NULL
    observation lag (right timestamp)."""
    from pyspark.sql import functions as F

    from pulsarfeatureextractor_spark.operators.asof import asof_self_join

    rng = np.random.default_rng(5)
    n = 300
    ts = rng.integers(0, 20_000, n)
    # distinct snapshot times (no tie between two snapshots of an entity),
    # before or after their own row: some rows have no match either way
    obs = rng.choice(20_000, size=n, replace=False)
    pdf = pd.DataFrame({
        "rid": np.arange(n),
        "entity": [f"e{i}" for i in rng.integers(0, 12, n)],
        "ts": EPOCH + pd.to_timedelta(ts, unit="s"),
        "lag": ts - obs,
        "v": rng.normal(size=n),
    })
    pdf["lag"] = pdf["lag"].astype("Int64")
    pdf["entity"] = pdf["entity"].astype(object)
    pdf.loc[[3, 40, 41], "entity"] = None
    pdf.loc[[5, 60], "ts"] = pd.NaT
    pdf.loc[[7, 80, 81], "lag"] = pd.NA
    df = spark.createDataFrame(
        pdf, "rid long, entity string, ts timestamp, lag long, v double")

    obs = F.col("ts") - F.make_interval(secs=F.col("lag").cast("double"))
    got = asof_self_join(
        df, on="ts", by="entity", right_on=obs,
        values={"rv": F.col("v"), "rlag": F.col("lag")},
        direction=direction, tolerance=tolerance,
    )
    snaps = df.select("entity", obs.alias("obs_time"),
                      F.col("v").alias("rv"), F.col("lag").alias("rlag"))
    want = asof_join(df, snaps, on="ts", right_on="obs_time", by="entity",
                     value_cols=["rv", "rlag"], direction=direction,
                     tolerance=tolerance, strategy="window")
    assert got.columns == want.columns == [*df.columns, "rv", "rlag"]
    assert got.schema == want.schema
    g, w = sorted(got.collect()), sorted(want.collect())
    assert g == w
    # the NULL rows are present and matched nothing
    assert all(r["rv"] is None for r in g if r["entity"] is None or r["ts"] is None)
    matched = sum(r["rv"] is not None for r in g)
    assert n // 4 < matched < n
