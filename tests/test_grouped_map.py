"""Batched grouped-map (operators/grouped.py): semantics parity with
groupBy().applyInPandas, incl. groups split across Arrow batches.

Per-group fns are defined inside each test (not module level) so cloudpickle
ships them by value — the test module isn't importable on workers.
"""

import pandas as pd

from etl_edi_data_scrapper_spark.operators.grouped import grouped_map_in_pandas


def _make_df(spark, n_rows=500, n_keys=7):
    rows = [(i % n_keys, i) for i in range(n_rows)]
    return spark.createDataFrame(rows, "k long, v long")


def _sum_fn():
    def per_group_sum(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("k", sort=False)["v"]
        return pd.DataFrame({"k": g.sum().index, "total": g.sum().to_numpy()})

    return per_group_sum


def test_matches_apply_in_pandas(spark):
    df = _make_df(spark)
    got = grouped_map_in_pandas(
        df, keys=["k"], fn=_sum_fn(), schema="k long, total long"
    )

    def one_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "total": [pdf["v"].sum()]})

    expected = {
        (r.k, r.total)
        for r in df.groupBy("k")
        .applyInPandas(one_group, schema="k long, total long")
        .collect()
    }
    assert {(r.k, r.total) for r in got.collect()} == expected
    assert got.count() == 7


def test_group_spanning_arrow_batches(spark):
    """With a tiny Arrow batch size, every group spans many batches; the
    carry logic must still hand fn whole groups exactly once."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "13")
    try:
        df = _make_df(spark, n_rows=400, n_keys=3)
        got = grouped_map_in_pandas(
            df, keys=["k"], fn=_sum_fn(), schema="k long, total long"
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert len(got) == 3
    want = {k: sum(i for i in range(400) if i % 3 == k) for k in range(3)}
    assert {r.k: r.total for r in got} == want


def test_order_columns_sorted_within_group(spark):
    """`order` columns arrive ascending inside each group."""
    rows = [(1, 30), (2, 5), (1, 10), (2, 1), (1, 20)]
    df = spark.createDataFrame(rows, "k long, v long")

    def first_last(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("k", sort=False)["v"]
        return pd.DataFrame(
            {
                "k": g.first().index,
                "first_v": g.first().to_numpy(),
                "last_v": g.last().to_numpy(),
            }
        )

    got = grouped_map_in_pandas(
        df,
        keys=["k"],
        fn=first_last,
        schema="k long, first_v long, last_v long",
        order=["v"],
    ).collect()
    assert {r.k: (r.first_v, r.last_v) for r in got} == {1: (10, 30), 2: (1, 5)}


def test_multi_column_keys(spark):
    rows = [(1, "a", 1), (1, "b", 2), (1, "a", 3), (2, "a", 4)]
    df = spark.createDataFrame(rows, "k1 long, k2 string, v long")

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby(["k1", "k2"], sort=False)["v"].sum()
        out = g.reset_index()
        out.columns = ["k1", "k2", "total"]
        return out

    got = grouped_map_in_pandas(
        df, keys=["k1", "k2"], fn=agg, schema="k1 long, k2 string, total long"
    ).collect()
    assert {(r.k1, r.k2): r.total for r in got} == {
        (1, "a"): 4,
        (1, "b"): 2,
        (2, "a"): 4,
    }


def test_cogroup_batched_matches_per_key(spark):
    # batched (bucketed) cogroup must reproduce a per-key cogroup exactly,
    # including full-outer key semantics (keys on one side only)
    from etl_edi_data_scrapper_spark.operators.cogrouped import (
        cogroup_apply_batched,
    )

    left = spark.createDataFrame(
        [(k, float(k * 10)) for k in range(20)], "k long, lv double"
    )
    right = spark.createDataFrame(
        [(k, k * 100) for k in range(10, 30) for _ in range(3)], "k long, rv long"
    )
    schema = "k long, lv double, n_r long"

    def per_key(key, lpdf, rpdf):
        return pd.DataFrame(
            {
                "k": [key[0]],
                "lv": [float(lpdf.lv.iloc[0]) if len(lpdf) else None],
                "n_r": [len(rpdf)],
            }
        )

    def batched(lpdf, rpdf):
        o = pd.DataFrame({"k": lpdf["k"], "lv": lpdf["lv"].astype(float)})
        n = rpdf.groupby("k", as_index=False).agg(n_r=("rv", "size"))
        m = o.merge(n, on="k", how="outer")
        m["n_r"] = m["n_r"].fillna(0).astype("int64")
        m["lv"] = m["lv"].astype(object).where(pd.notna(m["lv"]), None)
        return m[["k", "lv", "n_r"]]

    # the per-key reference: per_key on each key's two groups, full outer
    lp, rp = left.toPandas(), right.toPandas()
    want = set()
    for k in set(lp.k) | set(rp.k):
        out = per_key((k,), lp[lp.k == k], rp[rp.k == k])
        want |= {
            (int(r.k), None if pd.isna(r.lv) else float(r.lv), int(r.n_r))
            for r in out.itertuples()
        }
    assert len(want) == 30
    for nb in (1, 4, 64):  # fewer, equal, and more buckets than keys
        got = {
            (r.k, r.lv, r.n_r)
            for r in cogroup_apply_batched(
                left, right, ["k"], batched, schema, num_buckets=nb
            ).collect()
        }
        assert got == want, f"num_buckets={nb}"


def test_cogroup_batched_key_dtype_mismatch_raises(spark):
    # F.hash is type-sensitive: int-1 and bigint-1 hash differently, so a
    # dtype-mismatched key would land its left/right rows in different
    # buckets and silently break the full-outer reconcile — must fail loudly
    import pytest

    from etl_edi_data_scrapper_spark.operators.cogrouped import cogroup_apply_batched

    left = spark.sql("SELECT CAST(1 AS INT) AS k, 'l' AS v")
    right = spark.sql("SELECT CAST(1 AS BIGINT) AS k, 'r' AS v")
    with pytest.raises(ValueError, match="dtype mismatch"):
        cogroup_apply_batched(left, right, ["k"], lambda l, r: l, "k int, v string")
