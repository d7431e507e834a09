"""Tests for upsert (MERGE / SCD2) and skew utilities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_datalake_aws_spark.operators.components import connected_components
from serverless_datalake_aws_spark.operators.skew import salted_join, skew_stats
from serverless_datalake_aws_spark.operators.upsert import merge_into, scd2_apply


def test_merge_into_upserts_and_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int"
    ).write.parquet(path)
    updates = spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int")
    out = merge_into(spark, path, updates, key="k")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "d": 40}
    # idempotent re-merge of same updates
    out = merge_into(spark, path, updates, key="k")
    assert out.count() == 4


def test_scd2_keeps_history(spark, tmp_path):
    path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    ).withColumn("valid_from", F.current_timestamp()).withColumn(
        "valid_to", F.lit(None).cast("timestamp")
    ).write.parquet(path)
    updates = spark.createDataFrame([("b", 99)], "k string, v int")
    out = scd2_apply(spark, path, updates, key="k")
    b_rows = out.filter(F.col("k") == "b").collect()
    assert len(b_rows) == 2
    current = [r for r in b_rows if r["valid_to"] is None]
    closed = [r for r in b_rows if r["valid_to"] is not None]
    assert len(current) == 1 and current[0]["v"] == 99
    assert len(closed) == 1 and closed[0]["v"] == 2
    # untouched key keeps exactly one current row
    assert out.filter((F.col("k") == "a") & F.col("valid_to").isNull()).count() == 1


def _path_graph(spark, n):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")


def test_connected_components_labels(spark):
    # two components: a path 0-1-2-3 and an edge 10-11
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    got = {r["node"]: r["label"] for r in connected_components(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}


def test_connected_components_deep_path_converges(spark):
    # diameter 15 > a naive 2-3 round propagation; must still converge
    labels = connected_components(_path_graph(spark, 15), max_iters=20)
    assert {r["label"] for r in labels.collect()} == {0}


def test_connected_components_plan_depth_constant(spark):
    """Lineage-truncation invariant (VERDICT r1 §wrong.5): the returned
    plan must not grow with iteration count — localCheckpoint per round
    keeps it one-round deep regardless of graph diameter."""
    shallow = connected_components(_path_graph(spark, 2))
    deep = connected_components(_path_graph(spark, 14))
    plan_nodes = lambda df: str(  # noqa: E731
        df._jdf.queryExecution().analyzed().toString()
    ).count("\n")
    assert plan_nodes(deep) == plan_nodes(shallow)
    # and the leaf is a checkpointed RDD scan, not a 14-join tree
    assert "LogicalRDD" in deep._jdf.queryExecution().analyzed().toString()


def _naive_band_pairs(bands):
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.band_key") == F.col("b2.band_key"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("b1.doc_id").alias("doc1"), F.col("b2.doc_id").alias("doc2"))
        .distinct()
    )


def test_capped_band_self_join_matches_naive_on_skew(spark):
    """Hot-band guard invariant (VERDICT r1 #7): a band 4x over the cap
    must yield EXACTLY the naive self-join's pair set."""
    from serverless_datalake_aws_spark.operators.banding import (
        capped_band_self_join,
    )

    rows = [(i, "hot") for i in range(200)]  # one degenerate band
    rows += [(i, f"cold{i % 7}") for i in range(200, 260)]  # normal bands
    bands = spark.createDataFrame(rows, "doc_id long, band_key string")
    got = capped_band_self_join(bands, cap=50).distinct()
    want = _naive_band_pairs(bands)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_capped_band_self_join_payload_filter_matches_post_filter(spark):
    """In-join pair filtering (round-4 d11 fix) must equal the
    materialize-then-filter baseline on a skewed fixture, with payloads
    aligned to doc1/doc2 even through the hot leg's least/greatest
    orientation."""
    from pyspark.sql import functions as F

    from serverless_datalake_aws_spark.operators.banding import (
        capped_band_self_join,
    )

    rows = [(i, "hot", i % 13) for i in range(200)]
    rows += [(i, f"cold{i % 7}", i % 13) for i in range(200, 260)]
    bands = spark.createDataFrame(rows, "doc_id long, band_key string, h long")
    pred = lambda a, b: (a - b) % 13 == 0  # symmetric: same residue  # noqa: E731
    got = capped_band_self_join(
        bands, cap=50, payload="h", pair_filter=pred
    ).dropDuplicates(["doc1", "doc2"])
    base = (
        capped_band_self_join(bands.select("doc_id", "band_key"), cap=50)
        .distinct()
        .join(bands.select(F.col("doc_id").alias("doc1"), F.col("h").alias("e1")).distinct(), "doc1")
        .join(bands.select(F.col("doc_id").alias("doc2"), F.col("h").alias("e2")).distinct(), "doc2")
        .filter(pred(F.col("e1"), F.col("e2")))
    )
    assert got.count() == base.count()
    # payload alignment: payload1 belongs to doc1 (h = doc_id % 13)
    misaligned = got.filter(
        (F.col("payload1") != F.col("doc1") % 13)
        | (F.col("payload2") != F.col("doc2") % 13)
    ).count()
    assert misaligned == 0


def test_capped_band_self_join_stays_hash_join(spark):
    """Both legs must stay hash/sort-merge joins — no cartesian or
    broadcast-nested-loop sneaking in for the hot path."""
    from serverless_datalake_aws_spark.operators.banding import (
        capped_band_self_join,
    )

    bands = spark.createDataFrame(
        [(i, "hot") for i in range(120)], "doc_id long, band_key string"
    )
    plan = capped_band_self_join(bands, cap=40)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        "k string, v int",
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("unused", "U")], "k string, tag string"
    )
    plain = left.join(right, "k").select("k", "v", "tag")
    salted = salted_join(left, right, key="k", salt=8).select("k", "v", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_skew_stats_orders_hot_keys_first(spark):
    df = spark.createDataFrame(
        [("hot", 1)] * 50 + [("warm", 1)] * 10 + [("cold", 1)], "k string, v int"
    )
    rows = skew_stats(df, "k").collect()
    assert rows[0]["k"] == "hot" and rows[0]["n"] == 50
    assert rows[1]["k"] == "warm"


def test_quality_report_verdicts_and_gate(spark):
    from serverless_datalake_aws_spark.operators.quality import (
        Check,
        assert_quality,
        quality_report,
    )

    df = spark.createDataFrame(
        [(1, "ok", 5.0), (2, "ok", -1.0), (3, None, 2.0), (3, "bad", 4.0)],
        "id int, status string, amount double",
    )
    rows = {
        r["check_name"]: r
        for r in quality_report(
            df,
            [
                Check("c_status", "completeness", "status", at_least=0.9),
                Check("u_id", "uniqueness", "id", at_least=1.0),
                Check("ok_only", "compliance", predicate="status = 'ok'", at_least=1.0),
                Check("amt_min", "min", "amount", at_least=0.0),
                Check("n", "row_count", at_least=1.0),
            ],
        ).collect()
    }
    assert rows["c_status"]["value"] == 0.75 and not rows["c_status"]["passed"]
    assert rows["u_id"]["value"] == 0.75 and not rows["u_id"]["passed"]
    assert rows["ok_only"]["value"] == 0.5 and not rows["ok_only"]["passed"]
    assert rows["amt_min"]["value"] == -1.0 and not rows["amt_min"]["passed"]
    assert rows["n"]["value"] == 4.0 and rows["n"]["passed"]

    try:
        assert_quality(df, [Check("u_id", "uniqueness", "id", at_least=1.0)])
        raise AssertionError("gate should have raised")
    except ValueError as exc:
        assert "u_id" in str(exc)
    # passing gate is silent
    assert_quality(df, [Check("n", "row_count", at_least=1.0)])


def test_quality_distinct_leg_never_expands_shared_pass(spark):
    """COUNT(DISTINCT) must run as its own single-row leg: the shared
    aggregation's plan must not contain an Expand node (the 14x q38
    pathology), and the distinct leg joins back as a 1-row cross."""
    from serverless_datalake_aws_spark.operators.quality import Check, quality_report

    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    report = quality_report(
        df,
        [
            Check("c", "completeness", "v", at_least=0.5),
            Check("u", "uniqueness", "v"),
            Check("mx", "max", "v"),
        ],
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    got = {r["check_name"]: r["value"] for r in report.collect()}
    assert got == {"c": 1.0, "u": 0.007, "mx": 6.0}


def test_maintained_rollup_matches_recompute_over_batches(spark, tmp_path):
    """Three delta batches absorbed incrementally must equal a full
    recompute — including avg finalized from merged partials."""
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedRollup,
        finalize_rollup,
        partial_rollup,
    )

    rollup = MaintainedRollup(
        spark, str(tmp_path / "rollup"), keys=["k"], measures=["v"]
    )
    batches = [
        [("a", 1.0), ("a", 3.0), ("b", 10.0)],
        [("a", 5.0), ("c", -2.0)],
        [("b", 4.0), ("c", 0.0), ("c", 8.0)],
    ]
    all_rows = []
    for rows in batches:
        rollup.apply(spark.createDataFrame(rows, "k string, v double"))
        all_rows += rows
    expect = {
        (r["k"]): (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"])
        for r in finalize_rollup(
            partial_rollup(
                spark.createDataFrame(all_rows, "k string, v double"),
                ["k"],
                ["v"],
            ),
            ["v"],
        ).collect()
    }
    got = {
        (r["k"]): (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"])
        for r in rollup.read().collect()
    }
    assert got == expect
    assert got["a"] == (3, 9.0, 1.0, 5.0, 3.0)


def test_maintained_rollup_corrupt_read_propagates(spark, tmp_path):
    """A failing read of the stored rollup must NOT be mistaken for
    'first batch' — that would silently reset all history (ADVICE r4)."""
    from serverless_datalake_aws_spark.operators.incremental import MaintainedRollup

    path = tmp_path / "rollup"
    path.mkdir()
    (path / "part-00000.parquet").write_text("not a parquet file")
    rollup = MaintainedRollup(spark, str(path), keys=["k"], measures=["v"])
    delta = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(Exception):
        rollup.apply(delta)
    # the corrupt file is untouched — nothing was overwritten
    assert (path / "part-00000.parquet").read_text() == "not a parquet file"


def test_quality_rejects_duplicate_names_and_missing_args(spark):
    from serverless_datalake_aws_spark.operators.quality import Check, quality_report

    df = spark.range(5).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="duplicate check names"):
        quality_report(
            df,
            [
                Check("c", "completeness", "v"),
                Check("c", "max", "v"),
            ],
        )
    with pytest.raises(ValueError, match="requires `column`"):
        quality_report(df, [Check("c", "completeness")])
    with pytest.raises(ValueError, match="requires `predicate`"):
        quality_report(df, [Check("c", "compliance")])


def test_maintained_rollup_sketch_distinct_and_variance(spark, tmp_path):
    """HLL-distinct and second-moment variance must survive batch-by-
    batch maintenance: union-of-sketches == sketch-of-union (exact over
    sketch state), and variance from MERGED sumsq/sum/n equals the
    from-scratch var_samp."""
    from serverless_datalake_aws_spark.operators.incremental import MaintainedRollup

    rollup = MaintainedRollup(
        spark,
        str(tmp_path / "r"),
        keys=["k"],
        measures=["v"],
        distinct_cols=["u"],
        with_moments=True,
    )
    batches = [
        [("a", float(i), i % 7) for i in range(30)],
        [("a", float(i), i % 11) for i in range(30, 60)],
        [("b", float(i * 2), i % 5) for i in range(40)],
    ]
    all_rows = []
    for rows in batches:
        rollup.apply(spark.createDataFrame(rows, "k string, v double, u long"))
        all_rows += rows
    full = spark.createDataFrame(all_rows, "k string, v double, u long")
    expect = {
        r["k"]: (r["d"], round(r["var"], 6))
        for r in full.groupBy("k")
        .agg(
            F.countDistinct("u").alias("d"),
            F.var_samp("v").alias("var"),
        )
        .collect()
    }
    got = {
        r["k"]: (r["approx_distinct_u"], round(r["var_v"], 6))
        for r in rollup.read().collect()
    }
    # HLL is exact at these cardinalities (<= 11 distinct values)
    assert got == expect


def test_count_min_merge_equals_from_scratch(spark):
    """Long-form count-min: merge of per-half sketches must equal the
    sketch of the union exactly (bucket counts add), and estimates
    bound exact counts from above."""
    from serverless_datalake_aws_spark.operators.incremental import (
        cm_estimate,
        cm_merge,
        cm_partial,
    )

    df = spark.range(5000).selectExpr("cast(id % 97 as string) as item", "id")
    merged = cm_merge(
        [
            cm_partial(df.filter("id < 2500"), "item"),
            cm_partial(df.filter("id >= 2500"), "item"),
        ]
    )
    scratch = cm_partial(df, "item")
    m = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    s = {(r["d"], r["bucket"]): r["cnt"] for r in scratch.collect()}
    assert m == s
    exact = df.groupBy("item").agg(F.count("*").alias("exact_n"))
    est = cm_estimate(merged, exact, "item")
    bad = est.filter(F.col("est_n") < F.col("exact_n")).count()
    assert bad == 0  # count-min errs only upward


def test_maintained_join_matches_recompute(spark, tmp_path):
    """Delta-join maintenance over interleaved left/right batches must
    equal the from-scratch join exactly (insert-only identity)."""
    from serverless_datalake_aws_spark.operators.incremental import MaintainedJoin

    left = spark.createDataFrame(
        [(k, f"l{i}") for i, k in enumerate([1, 2, 2, 3, 5, 5])], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(k, f"r{i}") for i, k in enumerate([2, 3, 3, 4, 5])], "k long, rv string"
    )
    mj = MaintainedJoin(spark, str(tmp_path / "mj"), on="k")
    mj.apply(delta_left=left.filter("lv < 'l3'"))
    mj.apply(delta_right=right.filter("rv < 'r2'"))
    mj.apply(
        delta_left=left.filter("lv >= 'l3'"),
        delta_right=right.filter("rv >= 'r2'"),
    )
    got = sorted(map(tuple, mj.read().select("k", "lv", "rv").collect()))
    want = sorted(map(tuple, left.join(right, "k").select("k", "lv", "rv").collect()))
    assert got == want


def test_quantile_sketch_merge_equals_from_scratch(spark):
    """Long-form log-histogram quantile sketch: merge of per-half
    sketches must equal the sketch of the union exactly (bucket counts
    add), including zero and negative values."""
    from serverless_datalake_aws_spark.operators.incremental import (
        qh_merge,
        qh_partial,
    )

    df = spark.range(4000).selectExpr(
        "cast(id % 3 as string) as k",
        # mix of negative, zero, and positive magnitudes
        "cast((id - 2000) as double) * 0.37 as v",
    )
    merged = qh_merge(
        [
            qh_partial(df.filter("id < 2000"), "v", ["k"]),
            qh_partial(df.filter("id >= 2000"), "v", ["k"]),
        ],
        ["k"],
    )
    scratch = qh_partial(df, "v", ["k"])
    m = {(r["k"], r["sign"], r["bin"]): r["cnt"] for r in merged.collect()}
    s = {(r["k"], r["sign"], r["bin"]): r["cnt"] for r in scratch.collect()}
    assert m == s


def test_quantile_sketch_relative_error_bound(spark):
    """Estimates from the γ=1.02 sketch must sit within the DDSketch
    guarantee α = (γ-1)/(γ+1) of the rank-exact quantile for every
    probed q, on a skewed (log-normal-ish) distribution."""
    import math

    from serverless_datalake_aws_spark.operators.incremental import (
        qh_partial,
        qh_quantiles,
    )

    df = spark.range(20000).selectExpr(
        # deterministic, heavily skewed positives spanning 5 decades
        "exp(pmod(id * 2654435761, 1000000) / 1000000 * 11.5) * 0.01 as v"
    )
    qs = [0.01, 0.25, 0.5, 0.9, 0.99]
    est = {
        r["q"]: r["est"]
        for r in qh_quantiles(qh_partial(df, "v"), qs).collect()
    }
    vals = sorted(r["v"] for r in df.collect())
    alpha = 0.02 / 2.02
    for q in qs:
        exact = vals[max(math.ceil(q * len(vals)), 1) - 1]
        assert abs(est[q] - exact) <= alpha * abs(exact) + 1e-9, (
            q,
            est[q],
            exact,
        )


def test_global_cumsum_matches_single_reducer(spark):
    """Two-phase range-partitioned prefix scan must equal the naive
    single-reducer window cumsum exactly, on an input whose physical
    layout is adversarially shuffled first."""
    from pyspark.sql.window import Window

    from serverless_datalake_aws_spark.operators.prefix import global_cumsum

    df = (
        spark.range(10_000)
        .selectExpr("id", "cast(pmod(id * 2654435761, 997) as long) as v")
        .repartition(16)  # destroy any incidental ordering
    )
    got = {
        r["id"]: r["cum_before"]
        for r in global_cumsum(df, ["id"], "v", num_partitions=8).collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["c"]
        for r in df.withColumn(
            "c", F.coalesce(F.sum("v").over(w), F.lit(0))
        ).collect()
    }
    assert got == want


def test_global_cumsum_single_partition_degenerate(spark):
    """num_partitions=1 (everything in one range) still works."""
    from serverless_datalake_aws_spark.operators.prefix import global_cumsum

    df = spark.createDataFrame([(1, 5), (2, 7), (3, 11)], "id long, v long")
    rows = {
        r["id"]: r["cum_before"]
        for r in global_cumsum(df, ["id"], "v", num_partitions=1).collect()
    }
    assert rows == {1: 0, 2: 5, 3: 12}


def test_global_cumsum_null_values_count_as_zero(spark):
    """NULL measure values must not poison the prefix: sum() skips
    them (both the per-partition totals and the within-partition
    window), so a NULL row contributes 0 and later rows keep exact
    prefixes."""
    from serverless_datalake_aws_spark.operators.prefix import global_cumsum

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7), (4, None), (5, 11)], "id long, v long"
    )
    rows = {
        r["id"]: r["cum_before"]
        for r in global_cumsum(df, ["id"], "v", num_partitions=3).collect()
    }
    assert rows == {1: 0, 2: 5, 3: 5, 4: 12, 5: 12}


def test_quantile_sketch_all_zero_and_single_value(spark):
    """Degenerate inputs: an all-zero column estimates 0 at every q;
    a single-value column estimates (within the DDSketch bound) that
    value at every q."""
    from serverless_datalake_aws_spark.operators.incremental import (
        qh_partial,
        qh_quantiles,
    )

    zeros = spark.range(100).selectExpr("cast(0.0 as double) as v")
    est0 = {
        r["q"]: r["est"]
        for r in qh_quantiles(qh_partial(zeros, "v"), [0.1, 0.5, 0.99]).collect()
    }
    assert est0 == {0.1: 0.0, 0.5: 0.0, 0.99: 0.0}

    ones = spark.range(50).selectExpr("cast(42.5 as double) as v")
    alpha = 0.02 / 2.02
    for r in qh_quantiles(qh_partial(ones, "v"), [0.01, 0.99]).collect():
        assert abs(r["est"] - 42.5) <= alpha * 42.5, r


def test_maintained_quantiles_equals_from_scratch(spark, tmp_path):
    """Three applied deltas must leave EXACTLY the from-scratch sketch
    (integer bucket addition), and quantile estimates must match."""
    from serverless_datalake_aws_spark.operators.incremental import (
        MaintainedQuantiles,
        qh_partial,
        qh_quantiles,
    )

    df = spark.range(3000).selectExpr(
        "cast(id % 2 as string) as k", "cast(id + 1 as double) * 0.5 as v"
    )
    mq = MaintainedQuantiles(spark, str(tmp_path / "qs"), "v", keys=["k"])
    for lo, hi in ((0, 1000), (1000, 2500), (2500, 3000)):
        mq.apply(df.filter(f"id >= {lo} and id < {hi}"))
    got = {
        (r["k"], r["sign"], r["bin"]): r["cnt"] for r in mq.read().collect()
    }
    want = {
        (r["k"], r["sign"], r["bin"]): r["cnt"]
        for r in qh_partial(df, "v", ["k"]).collect()
    }
    assert got == want
    est_m = {(r["k"], r["q"]): r["est"] for r in mq.quantiles([0.5]).collect()}
    est_s = {
        (r["k"], r["q"]): r["est"]
        for r in qh_quantiles(qh_partial(df, "v", ["k"]), [0.5], ["k"]).collect()
    }
    assert est_m == est_s


def test_global_cumsum_double_values(spark):
    """Fractional measures must work (offsets accumulate as Python
    floats into a double column) — the integer-only crash was found by
    review: '_offset long' rejected float totals."""
    from serverless_datalake_aws_spark.operators.prefix import global_cumsum

    df = spark.createDataFrame(
        [(1, 0.25), (2, 1.5), (3, 2.75), (4, 0.5)], "id long, v double"
    )
    rows = {
        r["id"]: r["cum_before"]
        for r in global_cumsum(df, ["id"], "v", num_partitions=3).collect()
    }
    assert rows == {1: 0.0, 2: 0.25, 3: 1.75, 4: 4.5}


def test_quantile_sketch_ignores_nulls(spark):
    """NULL measures are excluded (SQL percentile semantics) — found
    by review: counting them as zeros dragged every estimate to 0."""
    from serverless_datalake_aws_spark.operators.incremental import (
        qh_partial,
        qh_quantiles,
    )

    df = spark.createDataFrame(
        [(None,), (None,), (None,), (100.0,)], "v double"
    )
    est = {r["q"]: r["est"] for r in qh_quantiles(qh_partial(df, "v"), [0.5]).collect()}
    alpha = 0.02 / 2.02
    assert abs(est[0.5] - 100.0) <= alpha * 100.0, est


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left ts per
    key; same-instant right rows visible; no-match rows null; right
    rows never duplicate left rows."""
    from serverless_datalake_aws_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "a"),
            (1, "2024-01-01 12:00:00", "b"),
            (2, "2024-01-01 08:00:00", "c"),  # before any right row
        ],
        "k long, ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 5.0),
            (1, "2024-01-01 10:00:00", 7.0),  # same instant as left #1
            (1, "2024-01-01 11:00:00", 9.0),
            (2, "2024-01-01 09:00:00", 1.0),
        ],
        "k long, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r["tag"]: (r["v"], r["ts_right"].isoformat() if r["ts_right"] else None)
        for r in asof_join(left, right, on="k").collect()
    }
    assert out["a"] == (7.0, "2024-01-01T10:00:00")  # ties: at-or-before
    assert out["b"] == (9.0, "2024-01-01T11:00:00")
    assert out["c"] == (None, None)
    assert len(out) == 3  # exactly one output row per left row


def test_asof_join_tolerance_and_plan(spark):
    """Stale matches beyond tolerance_s null out, and the plan is the
    linear union+window shape — one hash exchange on the key, no
    cartesian/range-join blowup."""
    from serverless_datalake_aws_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 5.0)], "k long, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    loose = asof_join(left, right, on="k", tolerance_s=3 * 3600)
    tight = asof_join(left, right, on="k", tolerance_s=3600)
    assert loose.first()["v"] == 5.0
    assert tight.first()["v"] is None  # 2h-old match > 1h tolerance

    plan = loose._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # one key shuffle


def test_rollup_avg_var_with_null_measures(spark):
    """avg/var divide by the per-measure NON-NULL count (SQL AVG /
    VAR_SAMP semantics) — n_rows counts all rows and diverges the
    moment a measure carries NULLs."""
    from pyspark.sql import functions as F

    from serverless_datalake_aws_spark.operators.incremental import (
        finalize_rollup,
        merge_rollups,
        partial_rollup,
    )

    df = spark.createDataFrame(
        [(0, "a", 1.0), (1, "a", None), (2, "a", 3.0), (3, "a", None)],
        "i long, k string, v double",
    ).drop("i")
    base = spark.createDataFrame(
        [(0, "a", 1.0), (1, "a", None)], "i long, k string, v double"
    ).drop("i")
    delta = spark.createDataFrame(
        [(2, "a", 3.0), (3, "a", None)], "i long, k string, v double"
    ).drop("i")
    parts = [
        partial_rollup(base, ["k"], ["v"], with_moments=True),
        partial_rollup(delta, ["k"], ["v"], with_moments=True),
    ]
    fin = finalize_rollup(
        merge_rollups(parts, ["k"], ["v"], with_moments=True),
        ["v"],
        with_moments=True,
    ).first()
    want = df.agg(
        F.avg("v").alias("a"), F.var_samp("v").alias("s")
    ).first()
    assert abs(fin["avg_v"] - want["a"]) < 1e-9
    assert abs(fin["var_v"] - want["s"]) < 1e-9
    assert fin["n_rows"] == 4 and fin["n_v"] == 2


def test_cm_estimate_unseen_items_are_zero(spark):
    """A never-seen probe item must come back with est_n = 0 (left
    join + zero-fill), not vanish or overestimate from a partial
    bucket set."""
    from serverless_datalake_aws_spark.operators.incremental import (
        cm_estimate,
        cm_partial,
    )

    sketch = cm_partial(
        spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "item string"),
        "item",
    )
    items = spark.createDataFrame(
        [("x",), ("never-seen",)], "item string"
    )
    got = {r["item"]: r["est_n"] for r in cm_estimate(sketch, items, "item").collect()}
    assert got["never-seen"] == 0
    assert got["x"] >= 5  # count-min errs only upward


def test_capped_band_self_join_drops_null_ids(spark):
    """NULL ids can never pair in the naive join (id1 < id2 is NULL in
    both orientations) — the hot leg's cross-group keep-filter used to
    pass them through its gid-differs disjunct, emitting bogus (x, x)
    self-pairs with swapped payloads."""
    from serverless_datalake_aws_spark.operators.banding import (
        capped_band_self_join,
    )

    rows = [(i, "hot", i % 13) for i in range(200)]
    rows += [(None, "hot", 5), (None, "cold0", 5)]  # NULL ids, both legs
    rows += [(i, f"cold{i % 7}", i % 13) for i in range(200, 260)]
    bands = spark.createDataFrame(rows, "doc_id long, band_key string, h long")
    got = capped_band_self_join(bands, cap=50, payload="h").dropDuplicates(
        ["doc1", "doc2"]
    )
    assert got.filter("doc1 IS NULL OR doc2 IS NULL").count() == 0
    assert got.filter("doc1 = doc2").count() == 0  # no self-pairs
    want = _naive_band_pairs(bands.select("doc_id", "band_key"))
    assert got.select("doc1", "doc2").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("doc1", "doc2")).count() == 0


def test_datagen_partitioning_is_environment_independent(spark):
    """rand(seed) seeds per PARTITION, so fixture determinism requires
    the partition count to derive from n alone — never from the
    session's default parallelism (local[4] vs local[8] would yield
    different rows for the same (n, seed))."""
    from serverless_datalake_aws_spark.operators.datagen import (
        gen_customers,
        gen_products,
        gen_sales,
    )

    assert spark.sparkContext.defaultParallelism > 1  # the trap exists
    for gen in (gen_sales, gen_customers, gen_products):
        assert gen(spark, n=1000, seed=7).rdd.getNumPartitions() == 1
    # large n still distributes
    from serverless_datalake_aws_spark.operators.datagen import _ranged

    assert _ranged(spark, 5_000_000).rdd.getNumPartitions() == 5


def test_ivf_pq_search_driver_payload_is_corpus_independent(spark, monkeypatch):
    """The bound pq_codebooks states: the driver-side collects that
    ivf_pq_search makes return, in total, at most n_cells + k_codes +
    n_queries rows — and the same count at two corpus sizes. Each
    collect counts the rows it returns plus the rows of any broadcast
    built inside its plan. A root that merges per-partition results on
    the driver (TakeOrderedAndProject, CollectLimit, CollectTail) ships
    more rows than it returns, so none may appear: both corpora span 4
    partitions, and a top-k collect would ship k rows from each."""
    from serverless_datalake_aws_spark.operators.ann import ivf_pq_search
    from serverless_datalake_aws_spark.operators.metrics import (
        _metric_values,
        _walk_final_plan,
    )

    params = dict(
        n_cells=4, nprobe=2, n_queries=3, topk=3, m=4, sub=4, k_codes=8, stride=7
    )
    wrappers = ("AdaptiveSparkPlanExec", "ResultQueryStageExec")
    merging = ("TakeOrderedAndProjectExec", "CollectLimitExec", "CollectTailExec")
    collects = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect

    def recording_collect(self):
        rows = collect(self)
        nodes = [
            n
            for n in _walk_final_plan(self._jdf.queryExecution().executedPlan())
            if n.getClass().getSimpleName() not in wrappers
        ]
        broadcast_rows = sum(
            int(v)
            for n in nodes
            if n.getClass().getSimpleName() == "BroadcastExchangeExec"
            for name, v in _metric_values(n)
            if "number of output rows" in name
        )
        collects.append(
            (nodes[0].getClass().getSimpleName(), len(rows) + broadcast_rows)
        )
        return rows

    def corpus(n):
        dims = F.sequence(F.lit(0), F.lit(15))
        return spark.range(0, n, 1, 4).select(
            F.col("id").alias("vec_id"),
            F.transform(
                dims,
                lambda d: (
                    F.pmod(F.xxhash64(F.col("id"), d), F.lit(1000)) / 1000.0
                ).cast("float"),
            ).alias("embedding"),
        )

    totals = []
    for n in (300, 1200):
        collects.clear()
        with monkeypatch.context() as mp:
            mp.setattr(frame, "collect", recording_collect)
            out = ivf_pq_search(spark, corpus(n), **params)
        assert len(collects) == 3, collects
        assert not [c for c in collects if c[0] in merging], collects
        totals.append(sum(rows for _, rows in collects))
        assert out.count() == params["n_queries"] * params["topk"]
    bound = params["n_cells"] + params["k_codes"] + params["n_queries"]
    assert totals[0] == totals[1] <= bound, (totals, bound)
