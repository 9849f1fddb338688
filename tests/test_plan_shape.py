"""Scale-contract tests: assert the PLAN SHAPES the 100 TB design
depends on, so a regression that adds a scan/shuffle or drops pushdown
fails here instead of in production."""

from __future__ import annotations

import pytest

from petk_spark.operators.describe import describe_frame
from petk_spark.operators.validate import validate_frame, verbose_violations
from petk_spark.plans.inspect import (
    exchange_count,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    scan_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_describe_approx_is_single_scan(lineitem):
    # ONE fused sketch bundle, one scan. (Round 16 measured and
    # REVERTED a codegen-sized chunking variant: the sketch chunk reads
    # every column anyway, so extra chunk scans/shuffles tripled task
    # time — the interpreted fused evaluation is the cheaper shape.)
    plan_df = describe_frame(lineitem, exact=False, include_mad=False)
    assert scan_count(plan_df) == 1


def test_describe_approx_mad_adds_bounded_scans(lineitem):
    # mad needs the finished mean first, so include_mad=True costs one
    # full extra scan plus one NARROW dedicated means-only scan (the
    # static plan shows 3 scans; AQE's query-stage reuse dedupes the
    # identical narrow shuffles at runtime). The declared approx path
    # (include_mad=False, what describe_lineitem_approx and bench run)
    # is the single-scan plan pinned above.
    plan_df = describe_frame(lineitem, exact=False, include_mad=True)
    assert scan_count(plan_df) == 3


def test_describe_exact_reads_each_column_once(lineitem):
    # Round 16: exact mode is one zero-column count(1) scan plus TWO
    # disjoint histogram consumers — the ranked-column chain and the
    # rest-column aggregate — whose cid filters push into the inline
    # explode, so each source column's bytes are read exactly once
    # across the plan (the previous shape cached one histogram and
    # crossJoined 5-6 broadcast pivots that re-reduced it per
    # consumer). Pinned: 3 scans, one of them column-free, the data
    # scans disjoint.
    for mad in (False, True):
        plan_df = describe_frame(lineitem, exact=True, include_mad=mad)
        assert scan_count(plan_df) == 3, mad
        subsets = [set(s) for s in read_schema_columns(plan_df)]
        data = [s for s in subsets if s]
        assert len(data) == 2 and not (data[0] & data[1]), subsets
        assert data[0] | data[1] == set(lineitem.columns), subsets


def test_describe_exact_rank_has_no_per_column_window(lineitem):
    # The 100× hazard fixed in round 2: a running-count window over the
    # value histogram partitioned by column id alone concentrates every
    # distinct value of one column on a single reducer. Any window
    # ordering by the value (vnum) must therefore also partition by the
    # ordered bucket id; windows over the tiny per-(cid, bucket)
    # subtotal frame may partition by cid alone.
    import re

    from petk_spark.plans.inspect import executed_plan

    plan_df = describe_frame(
        lineitem, exact=True, include_mad=False, rank_strategy="bucketed"
    )
    plan = executed_plan(plan_df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, "expected window specs in the exact-mode plan"
    for spec in specs:
        if "vnum" in spec:
            assert "bucket" in spec, f"value-ordered window without bucket: {spec}"


def test_describe_auto_rank_uses_window_for_small_source(lineitem):
    # The auto gate: a small local parquet source takes the windowed
    # fast path (value-ordered window WITHOUT bucket), because its size
    # bounds the single reducer harmlessly. Protects the latency win;
    # the test above protects the scale shape.
    import re

    from petk_spark.plans.inspect import executed_plan

    plan_df = describe_frame(lineitem, exact=True, include_mad=False)
    plan = executed_plan(plan_df)
    specs = [
        s
        for s in re.findall(r"windowspecdefinition\(([^)]*)", plan)
        if "vnum" in s
    ]
    assert specs, "expected a value-ordered window in the exact-mode plan"
    assert all("bucket" not in s for s in specs), specs


def test_rank_strategies_agree(lineitem):
    # The windowed fast path and the bucketed 100 TB path are two
    # physical plans for the SAME logical result. Rank-derived and
    # integer statistics (quantiles, distinct counts, counts, extrema,
    # zero/infinite counts and their ratios) must be identical cell for
    # cell: both rank over the same exact histogram. The float-SUM
    # statistics (mean/sum/std/variance/cv/mad/skew/kurt) re-associate
    # Σ cnt·v between the strategies since round 16 — the windowed
    # chain folds wsum in (vnum, vstr) window order, the bucketed chain
    # in the totals hash-aggregation order — so they agree under the
    # driver's %.6e formatting contract, the unit every hash is taken
    # in (and test_bucketed_rank_matches_oracle pins the bucketed path
    # against DuckDB end to end, the guarantee this proxy used to
    # approximate).
    FLOAT_SUM = {
        "mean", "std", "variance", "cv", "sum", "mad",
        "skewness", "kurtosis",
    }
    cols = ["l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag"]
    win = describe_frame(lineitem, cols, exact=True, rank_strategy="windowed")
    buc = describe_frame(lineitem, cols, exact=True, rank_strategy="bucketed")

    def norm(rows):
        out = []
        for r in rows:
            v = r["value_num"]
            if r["statistic"] in FLOAT_SUM and v is not None:
                v = f"{v:.6e}"
            out.append((r["column"], r["statistic"], v, r["value_str"]))
        return sorted(out)

    rows_w = norm(win.collect())
    rows_b = norm(buc.collect())
    assert rows_w == rows_b


def test_bucketed_rank_matches_oracle(spark):
    # The scale path (bucketed two-stage prefix sum) hash-matches the
    # DuckDB oracle exactly like the windowed path the small-SF gates
    # exercise — the driver's own formatting model, full describe
    # surface. This is the direct form of the guarantee
    # test_rank_strategies_agree approximates.
    import __spark_entry__ as em
    from petk_spark.sources.tables import read_table
    from tests.driver_replica import strict_compare
    from tests.oracle_harness import duck_connection

    sdf = em._shape_describe(
        describe_frame(
            read_table(spark, SF, "lineitem"),
            None, exact=True, include_mad=True, rank_strategy="bucketed",
        )
    )
    con = duck_connection(SF)
    try:
        ok, detail = strict_compare(
            sdf, con, em.oracle_sql()["describe_lineitem"]
        )
    finally:
        con.close()
    assert ok, detail


def test_describe_prunes_columns(lineitem):
    plan_df = describe_frame(lineitem, ["l_quantity"], exact=False,
                             include_mad=False)
    for cols in read_schema_columns(plan_df):
        assert cols == ["l_quantity"]


def test_validate_filters_are_pushed_down(lineitem):
    v = validate_frame(lineitem, {"l_quantity": {"range": [2, 45]}},
                       ["l_orderkey", "l_linenumber"])
    pushed = pushed_filters(v)
    assert any("l_quantity" in p for p in pushed), pushed


def test_verbose_join_broadcasts(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    v = validate_frame(orders, {"o_totalprice": {"range": [5000, 250000]}},
                       "o_orderkey")
    joined = verbose_violations(orders, v, "o_orderkey")
    assert has_broadcast_join(joined)


def test_grouped_profile_single_shuffle(spark):
    from petk_spark.operators.grouped import grouped_profile

    events = spark.read.parquet(f"{SF}/part.parquet")
    prof = grouped_profile(events, "p_brand", "p_retailsize"
                           if "p_retailsize" in events.columns else "p_size")
    assert exchange_count(prof) == 1


def test_sessionize_profile_is_single_shuffle(spark):
    # The session window partitions by the user key; the per-session
    # rollup's grouping (user, session_seq) is co-located by that same
    # hash partitioning (hash(user) ⊆ the grouping keys), so Catalyst
    # must NOT insert a second exchange for the aggregate.
    from petk_spark.operators.grouped import grouped_profile  # noqa: F401
    from petk_spark.operators.sessions import session_profile

    events = spark.read.parquet(f"{SF}/orders.parquet")
    prof = session_profile(events, "o_custkey", "o_orderkey", gap_seconds=5.0)
    assert exchange_count(prof) == 1


def test_weighted_sample_is_scan_local(spark):
    # The keyed-uniform filter must compose into the scan stage: no
    # exchange, no extra scan — pure map-side selection.
    from pyspark.sql import functions as F

    from petk_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = weighted_sample(docs, ["doc_id"], F.col("n_chars") / 1000.0)
    assert exchange_count(out) == 0
    assert scan_count(out) == 1


def test_topn_queries_use_bounded_take_ordered(spark):
    # frequent_values / token_histogram end in orderBy().limit(n):
    # Spark must plan a TakeOrderedAndProject (each task keeps only its
    # local top-n, the driver merges n·tasks rows) — NOT a global sort,
    # which would shuffle every group row at 100 TB.
    from petk_spark.operators.grouped import frequent_values
    from petk_spark.operators.text import token_histogram
    from petk_spark.plans.inspect import executed_plan

    part = spark.read.parquet(f"{SF}/part.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for plan_df in (
        frequent_values(part, "p_brand", top_n=10),
        token_histogram(docs, "text", top_n=20),
    ):
        plan = executed_plan(plan_df)
        assert "TakeOrderedAndProject" in plan, plan[:800]
        assert "Sort " not in plan, "global sort leaked into a top-n plan"


def test_ensure_parallelism_runs_no_planning_probe_on_remote_fs():
    """For a non-file: input the split count is unknown without a
    filesystem client; ensure_parallelism must return the frame as is
    rather than pay the ~2 s df.rdd.getNumPartitions() planning probe."""
    from types import SimpleNamespace

    from petk_spark.operators.describe import ensure_parallelism

    probes = []

    class RemoteFrame:
        sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=32),
            conf=SimpleNamespace(get=lambda key, default=None: default),
        )

        def inputFiles(self):
            return ["s3a://bucket/warehouse/docs/part-00000.parquet"]

        @property
        def rdd(self):
            probes.append("rdd")
            raise AssertionError("planning probe on a remote input")

        def repartition(self, n):
            probes.append("repartition")
            raise AssertionError("repartition of a remote input")

    df = RemoteFrame()
    assert ensure_parallelism(df) is df
    assert probes == []
