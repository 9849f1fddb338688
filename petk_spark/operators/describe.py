"""Per-column statistical profile — the engine's flagship operator.

Reference parity: petk/exploration.py:70-77 + petk/tools.py:14-70
(``DataReport.describe`` / ``get_description``). The reference computes
10-30 separate eager pandas reductions *per column*. Here every statistic
for every requested column is fused into ONE aggregate expression bundle
— a single scan, a single Spark job, JVM-side whole-stage codegen —
then reshaped to a long ``(column, statistic, value_num, value_str)``
frame by exploding an array of structs over the 1-row aggregate.
Expressions are generated as SQL text and parsed once (a Column-object
builder at this width costs seconds of py4j round trips).

Job structure (round 16): approx mode (the 100 TB path) is ONE fused
scan — the central moments behind skewness/kurtosis
are computed in the same bundle as one-pass SHIFTED power sums
``avg((x-a)^k)`` with a per-column anchor ``a`` read from the parquet
footer (driver-side metadata, no job; see ``_moment_anchors``), which
is as stable as a two-pass for any anchor near the data.
``include_mad=True`` adds one full scan (mad needs the finished mean
first) plus one narrow means-only scan. Exact mode is ONE full data
pass: the value-histogram (``groupBy(column_id, value)``) yields EVERY
statistic — exact distinct counts, exact linear-interpolated
percentiles, count/min/max/mean/sum/variance, zero/infinite counts,
central moments and mad — through a linear per-cid DAG (window rank →
one narrow compiled groupBy(cid) for the ranked columns, one for the
rest, one tiny pivot); the only other job is a zero-column count(1)
for the row total. This replaces the naive ``count(DISTINCT)``
(Catalyst plans multi-column distinct via EXPAND — row replication per
distinct group) and ``percentile`` (ObjectHashAggregate: buffers every
value of a column on a single reducer, interpreted, unmergeable) —
both measured as the dominant cost at sf0.1 and both non-starters at
100 TB — as well as the second fused full pass that rounds 2-15
carried (a >100-field bundle that also ran interpreted under the
codegen field limit). The histogram is hash-partitioned on (column,
value) with map-side partial aggregation, so the shuffle carries only
distinct values; rank arithmetic over a per-column running count then
recovers pandas-exact quantiles. ``include_mad`` is free in exact mode
(computed from the value histogram: Σ cnt·|v − mean| / n over distinct
values).

Statistics and their type gating mirror petk/tools.py exactly:
  * all types:       content_type, memory_usage, count, p_null, n_null
  * non-GEO/UNSUP:   distinct_count, is_constant, is_unique, p_unique
  * BOOLEAN:         mean
  * DATE + NUMERIC:  min, max, 5% 25% 50% 75% 95% quantiles
  * NUMERIC:         mean, std, variance, iqr, kurtosis, skewness, sum,
                     mad, cv, p_infinite, n_infinite, n_zeros, p_zeros

Semantics pinned to the reference:
  * ``is_unique``/``p_unique`` divide by *size* (rows incl. nulls), not
    count — any null makes a column non-unique (petk/tools.py:33).
  * skewness/kurtosis are pandas' *sample-corrected* G1/G2
    (petk/tools.py:59-60), NOT Spark's population g1/g2; corrected via
    closed-form factors from the population moments (functions/moments.py
    documents the algebra; here inlined as SQL).
  * quantiles are exact with linear interpolation (pandas default); DATE
    columns are profiled via epoch seconds (cast to double), matching
    pandas' datetime quantile support (petk/tools.py:47-48).
  * ``mad`` is mean-absolute-deviation about the mean (pandas ``.mad()``),
    requiring the mean first: computed lazily as a second aggregation over
    a broadcast cross-join of the 1-row means — two scans, still one job.
    Pass ``include_mad=False`` for the strict single-scan bundle.
  * ``n_zeros`` counts exact zeros; nulls/NaN are neither zero nor
    infinite (petk/tools.py:51,66-67 via np.count_nonzero).

Scale modes: ``exact=True`` (oracle parity) computes distinct counts and
quantiles from the distributed value histogram — bounded by per-column
distinct cardinality, not row count; the per-column rank window is the
residual skew point (a near-unique 100 TB column concentrates on one
reducer at the window stage). ``exact=False`` switches to
``approx_count_distinct`` + ``percentile_approx`` (mergeable sketches,
bounded executor memory — the true 100 TB path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from petk_spark import constants
from petk_spark.logical_types import static_logical_type

_DISTINCT_SKIP = (constants.TYPE_GEO, constants.TYPE_UNSUPPORTED)

#: Rough per-value byte widths for the *estimated* memory_usage statistic
#: (the reference reports exact pandas in-RAM bytes, petk/tools.py:20 —
#: semantics differ by design; excluded from the oracle contract).
_TYPE_WIDTH = {
    constants.TYPE_BOOL: 1,
    constants.TYPE_DATE: 8,
    constants.TYPE_NUM: 8,
    constants.TYPE_STR: 32,
    constants.TYPE_GEO: 64,
    constants.TYPE_UNSUPPORTED: 32,
    constants.TYPE_EMPTY: 8,
}

_PROBS_SQL = "array(" + ", ".join(str(p) for p in constants.QUANTILES) + ")"

def find_columns(df: DataFrame, columns=None) -> list[str]:
    """Normalize/validate a column selection (petk/exploration.py:128-137):
    default all columns, scalar promoted to list, missing columns raise
    AssertionError."""
    if columns is None:
        return list(df.columns)
    if isinstance(columns, str):
        columns = [columns]
    columns = list(columns)
    missing = [c for c in columns if c not in df.columns]
    assert not missing, f"Columns {missing} not in data"
    return columns


def _nv(name: str, ltype: str, dtype: str | None = None) -> str:
    """Numeric projection for min/max/quantile/moment arithmetic.
    Temporal columns become fractional epoch seconds — the same double
    DuckDB's epoch() yields, keeping the oracle comparison
    bit-identical.

    The epoch expression must be SESSION-TIMEZONE-INDEPENDENT: the
    driver builds its own SparkSession and nothing pins it to UTC, and
    ``CAST(x AS TIMESTAMP)`` interprets DATE/TIMESTAMP_NTZ wall-clock
    values in the session zone (a non-UTC session shifted every date
    statistic by the zone offset — caught by the --adversarial driver
    replica). Per type:

      * ``date`` — ``unix_date`` (days since epoch, zone-free) × 86400
      * ``timestamp_ntz`` — micros diff against the NTZ epoch (the same
        construction sources/tables.py uses for events.ts)
      * ``timestamp`` (instant) — ``unix_micros``, zone-free by
        definition

    All three are bit-identical to the previous cast under a UTC
    session (same long-micros → double division), so existing oracle
    hashes are unchanged."""
    if ltype == constants.TYPE_DATE:
        if dtype == "date":
            return f"(CAST(unix_date(`{name}`) AS DOUBLE) * 86400.0D)"
        if dtype == "timestamp_ntz":
            return (
                f"(CAST(timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', `{name}`)"
                f" AS DOUBLE) / 1.0E6)"
            )
        if dtype == "timestamp":
            return f"(CAST(unix_micros(`{name}`) AS DOUBLE) / 1.0E6)"
        # unknown temporal flavor — legacy (session-zone) behavior
        return f"CAST(CAST(`{name}` AS TIMESTAMP) AS DOUBLE)"
    return f"CAST(`{name}` AS DOUBLE)"


#: 2^53 — the largest magnitude at which long → double stays injective.
_MAX_EXACT_LONG = 9007199254740992

#: 2^33 seconds (~year 2242) — below this magnitude the epoch-seconds
#: double ``unix_micros(ts)/1e6`` is injective: the result's ulp
#: (2^-20 s at [2^32, 2^33)) is strictly smaller than the 1e-6 s gap
#: between two distinct microsecond values, so distinct micros can't
#: round to the same double.
_MAX_EXACT_EPOCH_S = 8589934592.0


def _value_tiebreak_sql(name: str, dtype: str | None, nv: str) -> str:
    """The histogram's ``vstr`` for a NUMERIC/DATE column: a per-value
    disambiguator that exists ONLY so values whose double projection
    ``nv`` collides (long/decimal beyond 2^53, far-future timestamps)
    still count as distinct. For types where the projection is provably
    injective the string is EMPTY (NULL tracks source nulls): grouping
    on (vnum, '') yields the identical group set, the rank tiebreak
    orders ties of equal vnum whose quantile pick reads vnum anyway,
    and the map stage skips a per-row number→string render — the
    dominant map CPU + shuffle-byte cost of the exact-describe
    histogram (round 17, guide §2.3 narrower types / §1.2 per-task
    work). Where injectivity is value-dependent (bigint, timestamps)
    the render is kept exactly for the values that need it, so two
    values collapsing in double still split on vstr (one of them is
    always outside the gate). Unknown/decimal dtypes keep the full
    render.

    Float/double note: grouping on the double itself follows Spark's
    normalized float semantics (-0.0 ≡ 0.0, one NaN class) — the SAME
    equivalence DuckDB's count(DISTINCT double) uses, whereas the old
    string render split -0.0 from 0.0 (a latent oracle divergence on
    data containing both; no fixture does)."""
    c = f"`{name}`"
    if dtype in ("tinyint", "smallint", "int", "float", "double",
                 "date", "boolean"):
        return f"IF({c} IS NULL, NULL, '')"
    if dtype == "bigint":
        return (
            f"CASE WHEN {c} IS NULL THEN NULL"
            f" WHEN {c} BETWEEN -{_MAX_EXACT_LONG} AND {_MAX_EXACT_LONG}"
            f" THEN '' ELSE CAST({c} AS STRING) END"
        )
    if dtype in ("timestamp", "timestamp_ntz"):
        # epoch micros as the exact render (an integer render — far
        # cheaper than calendar formatting — and injective); elided
        # entirely inside the proven-injective window.
        micros = (
            f"unix_micros({c})"
            if dtype == "timestamp"
            else (
                f"timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
            )
        )
        return (
            f"CASE WHEN {c} IS NULL THEN NULL"
            f" WHEN abs({nv}) < {_MAX_EXACT_EPOCH_S!r}D THEN ''"
            f" ELSE CAST({micros} AS STRING) END"
        )
    return f"CAST({c} AS STRING)"


def _agg_sql(
    name: str,
    ltype: str,
    exact: bool,
    anchor: float | None = None,
    dtype: str | None = None,
) -> list[str]:
    """Aggregate expressions for one column, aliased ``{name}::{stat}``.

    In exact mode this bundle produces ONLY the counts the value
    histogram cannot: GEO/UNSUPPORTED columns (excluded from the
    histogram by contract). Every other statistic — count, min/max,
    mean, sum, variance/std, n_infinite/n_zeros, bool mean, distinct,
    quantiles, mad, central moments — is derived from the single
    distributed value-histogram pass (``_exact_value_stats`` with
    ``full_stats=True``): round 16 removed the second full source pass
    outright (guide §1.2 step 1 — the fused >100-field bundle also ran
    INTERPRETED under the codegen field limit, 122 s of task time per
    describe_lineitem run at sf0.1).

    In approx mode NUMERIC columns additionally get the one-pass shifted
    power sums ``_s1.._s4`` = ``avg((x - anchor)^k)`` feeding the
    skewness/kurtosis central moments — keeping approx describe a
    strict single scan (the round-2 two-pass chain read the source
    three times)."""
    nv = _nv(name, ltype, dtype)
    c = f"`{name}`"
    if exact:
        # Histogram-covered columns contribute nothing to the main
        # bundle; GEO/UNSUPPORTED keep their count here.
        if ltype in _DISTINCT_SKIP:
            return [f"count({c}) AS `{name}::count`"]
        return []
    out = [f"count({c}) AS `{name}::count`"]

    if ltype not in _DISTINCT_SKIP:
        out.append(
            f"CAST(approx_count_distinct({c}) AS BIGINT) AS `{name}::distinct_count`"
        )

    if ltype == constants.TYPE_BOOL:
        out.append(f"avg(CAST({c} AS DOUBLE)) AS `{name}::mean`")

    if ltype in (constants.TYPE_DATE, constants.TYPE_NUM):
        out += [f"min({nv}) AS `{name}::min`", f"max({nv}) AS `{name}::max`"]
        if not exact:
            # accuracy=1000 ⇒ declared tolerance: ≤0.1% RANK error (the
            # sketch's guarantee; the value error depends on the local
            # density — measured ≤0.33% mean relative value error on
            # lineitem at sf0.1, with discrete columns stepping one
            # grid value at worst). Crossover measured round 2 at sf0.1
            # (warm, interleaved, median of 3): accuracy 250/500/1000 →
            # 7.6/4.8/3.2 s vs 8.3 s exact — run-to-run variance
            # dominates the accuracy term, so keep the tightest sketch;
            # it is the stable-fastest and beats exact mode.
            out.append(
                f"percentile_approx({nv}, {_PROBS_SQL}, 1000) AS `{name}::quantiles`"
            )

    if ltype == constants.TYPE_NUM:
        out += [
            f"avg({nv}) AS `{name}::mean`",
            # sqrt over the SAME var_samp aggregate (Catalyst dedupes
            # the identical AggregateExpression with ::variance below):
            # bit-identical to stddev_samp — Spark finalizes stddev_samp
            # as sqrt(m2/(n-1)) over the same Welford buffer — and 3
            # buffer fields per column cheaper (r16, guide §1.2).
            f"sqrt(var_samp({nv})) AS `{name}::std`",
            f"var_samp({nv}) AS `{name}::variance`",
            # NOTE: no skewness()/kurtosis() builtins here — their ANSI
            # finalization throws DIVIDE_BY_ZERO when m2 underflows to 0
            # (constant column, or near-constant doubles — found by the
            # hypothesis suite). _g1/_g2 come from a try_divide-guarded
            # two-pass centered-moment computation instead: off the value
            # histogram in exact mode, off the means pass in approx mode
            # — the same formula the DuckDB oracle uses (oracle.py).
            f"sum({nv}) AS `{name}::sum`",
            # coalesce: an all-null column aggregates only NULL addends
            # and sum() yields NULL, but the reference's np.count_nonzero
            # semantics (petk/tools.py:51-52) and the DuckDB oracle's
            # count_if both report 0 counts for it.
            f"coalesce(sum(CAST({nv} = double('inf') AS BIGINT)"
            f" + CAST({nv} = double('-inf') AS BIGINT)), 0) AS `{name}::n_infinite`",
            f"coalesce(sum(CAST({nv} = 0.0 AS BIGINT)), 0) AS `{name}::n_zeros`",
        ]
        if not exact:
            a = repr(float(anchor or 0.0))
            sa = f"({nv} - CAST({a} AS DOUBLE))"
            out += [
                f"avg({sa}) AS `{name}::_s1`",
                f"avg(pow({sa}, 2)) AS `{name}::_s2`",
                f"avg(pow({sa}, 3)) AS `{name}::_s3`",
                f"avg(pow({sa}, 4)) AS `{name}::_s4`",
            ]
    return out


def _bucketed_ranked(
    hist: DataFrame, totals: DataFrame, q_idx, need_wsum: bool = False
) -> DataFrame:
    """Distributed two-stage prefix sum over the value histogram — the
    100 TB rank path: each distinct value is assigned an ORDERED bucket
    (width_bucket over a log-compressed value domain), per-(cid, bucket)
    subtotals are cumulated with a tiny window and broadcast-joined back
    as offsets, and the running count within a bucket is a window over
    (cid, bucket) — so no single reducer ever holds a whole column's
    distinct values."""
    B = 4096

    def slog(c):
        return F.signum(c) * F.log1p(F.abs(c))

    sv, smn, smx = slog(F.col("vnum")), slog(F.col("mn_f")), slog(F.col("mx_f"))
    # Ordered bucket id: -inf < finite (log-compressed width_bucket,
    # 1..B+1) < +inf < NaN — exactly Spark's double sort order, so
    # (bucket asc, vnum asc, vstr asc) is the global value order.
    bucket = (
        F.when(F.isnan(F.col("vnum")), F.lit(B + 3))
        .when(F.col("vnum") == float("inf"), F.lit(B + 2))
        .when(F.col("vnum") == float("-inf"), F.lit(0))
        .when(F.col("mn_f").isNull() | (smx <= smn), F.lit(1))
        .otherwise(F.width_bucket(sv, smn, smx, F.lit(B)))
    )
    tot_cols = ["cid", "ntot", "mn_f", "mx_f"] + (
        ["wsum"] if need_wsum else []
    )
    # q_idx=None: the caller already built a chain-only histogram (r16)
    # — skipping the redundant filter keeps this subtree's exchange
    # canonically IDENTICAL to the totals subtree's, so AQE's
    # query-stage cache materializes the histogram shuffle once.
    src = hist if q_idx is None else hist.filter(F.col("cid").isin(q_idx))
    bpart = (
        src.join(F.broadcast(totals.select(*tot_cols)), ["cid"])
        .withColumn("bucket", bucket)
        .drop("mn_f", "mx_f")
    )
    subtot = bpart.groupBy("cid", "bucket").agg(F.sum("cnt").alias("scnt"))
    w_off = (
        Window.partitionBy("cid")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = subtot.select(
        "cid",
        "bucket",
        F.coalesce(F.sum("scnt").over(w_off), F.lit(0)).alias("off"),
    )
    w_cum = (
        Window.partitionBy("cid", "bucket")
        .orderBy("vnum", "vstr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return bpart.join(F.broadcast(offsets), ["cid", "bucket"]).select(
        "cid",
        "vnum",
        "cnt",
        "ntot",
        (F.col("off") + F.sum("cnt").over(w_cum)).alias("cum"),
        *(["wsum"] if need_wsum else []),
    )


def _exact_value_stats(
    df: DataFrame,
    cols,
    ltypes,
    rank_strategy: str = "auto",
    mad_cols=(),
    probs=None,
    moments: bool = True,
    full_stats: bool = False,
) -> DataFrame | None:
    """Exact distinct counts + exact interpolated percentiles for every
    applicable column, as ONE 1-row DataFrame, from a single distributed
    value-histogram pass.

    ``full_stats=True`` (describe_frame's exact mode, round 16)
    additionally derives count, min/max, mean, sum, variance/std,
    n_infinite/n_zeros and the BOOLEAN mean from the SAME histogram —
    count/sum/min/max/n_* are exact integer/extremum identities over
    the grouped values (bit-identical to a row-level pass), mean and
    variance re-associate the float summation over distinct values
    (absorbed by the %.6e oracle contract exactly like cross-engine
    order differences; re-proven against DuckDB at two SFs this round)
    — so exact describe needs NO second full source pass at all (guide
    §1.2 step 1: remove passes, don't tune them).

    Plan: inline-explode the needed columns to ``(cid, vnum, vstr)`` →
    ``groupBy(cid, vnum, vstr).count()`` (hash shuffle sized by distinct
    values, partial agg map-side) → a running-count rank (strategy
    below) recovering each value's global running count → conditional
    aggregates picking the two values bracketing each quantile rank →
    driver-free linear interpolation in a final select.

    Rank strategy (``rank_strategy``): ``windowed`` is a single
    running-count window per column — fewest stages, but one reducer
    holds a whole column's distinct values; ``bucketed`` is the
    distributed two-stage prefix sum below; ``auto`` (default) gates on
    source file size (``_WINDOWED_MAX_BYTES``): a ≤1 GiB source bounds
    the windowed reducer harmlessly, so small profiles keep the low
    stage count while big (or unknown-size) sources always take the
    scale-safe path.

    Two-stage prefix sum (no single-reducer window): each distinct
    value is assigned an ORDERED bucket — ``width_bucket`` over a
    log-compressed value domain (sign(v)·ln(1+|v|), monotone for all
    doubles and robust to outlier-stretched ranges), with the per-column
    finite min/max coming from the same totals aggregation; per-(cid,
    bucket) subtotals — ≤ ncols × 4099 rows — are cumulated with a tiny
    window and broadcast-joined back as offsets; the running count
    within a bucket is a window over (cid, bucket). A near-unique
    column at 100 TB therefore spreads over ~4096 reducers instead of
    landing on one. (An earlier range-partition + partition-id variant
    bounded groups perfectly but cost a second full shuffle of the
    histogram — measured 2.2× on the sf0.1 bench; buckets reuse the
    single hash shuffle the window needs anyway. Residual caveat: a
    column whose distinct values concentrate in a tiny absolute range
    around one point still lands in few buckets.) The histogram is NOT
    persisted (round 16): each of the two disjoint consumers (the
    quantile/moment ``chain`` and the string/bool ``rest``) builds its
    own column-pruned histogram — together one full read of the source
    — and in bucketed mode the totals and rank subtrees share one
    canonically-identical exchange that AQE's query-stage cache
    materializes once.

    Quantile semantics match pandas ``Series.quantile`` / DuckDB
    ``quantile_cont`` / Spark ``percentile``: position ``h = (n-1)·p``,
    result ``v_lo + (h - floor(h))·(v_hi - v_lo)`` — the identical
    float64 expression, so oracle comparisons stay bit-stable.
    Distinct counts group on (vnum, vstr) where ``vstr`` is the exact
    string render ONLY for values whose double projection can collide
    (long/decimal beyond 2^53, far-future timestamps — see
    ``_value_tiebreak_sql``), so such values don't collapse (petk
    nunique counts exact values, petk/tools.py:28) while provably
    injective types pay no per-row render at all.
    """
    probs = list(constants.QUANTILES) if probs is None else list(probs)
    dist_cols = [c for c in cols if ltypes[c] not in _DISTINCT_SKIP]
    q_cols = [
        c for c in cols if ltypes[c] in (constants.TYPE_DATE, constants.TYPE_NUM)
    ]
    if not dist_cols and not q_cols:
        return None

    need = [c for c in cols if c in dist_cols or c in q_cols]
    idx = {c: i for i, c in enumerate(need)}
    dtypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def _struct_sql(c: str) -> str:
        if ltypes[c] in (constants.TYPE_DATE, constants.TYPE_NUM):
            nv = _nv(c, ltypes[c], dtypes.get(c))
            vs = _value_tiebreak_sql(c, dtypes.get(c), nv)
        elif ltypes[c] == constants.TYPE_BOOL:
            # Booleans carry their 0/1 double so full_stats can derive
            # the bool mean as wsum/ntot — exact integer arithmetic
            # over the two distinct values, identical to avg(CAST(b AS
            # DOUBLE)). The 0/1 projection is injective, so the
            # tiebreak is the empty string (null-tracking only).
            nv = f"CAST(`{c}` AS DOUBLE)"
            vs = f"IF(`{c}` IS NULL, NULL, '')"
        else:
            nv = "CAST(NULL AS DOUBLE)"
            # STRING columns only need distinct counting, so group on a
            # 128-bit md5 fingerprint: the shuffle carries 16 bytes per
            # distinct value instead of arbitrarily long text (a
            # documents-table profile would otherwise shuffle every
            # distinct document body). Collision odds at 10^12 distinct
            # values are ~10^-14 — declared, not silent: the contract is
            # fingerprint-exact. Numeric/date columns keep the raw
            # rendering (it is short, and the quantile rank tiebreak
            # must order by true value).
            vs = f"md5(CAST(`{c}` AS STRING))"
        return f"named_struct('cid', {idx[c]}, 'vnum', {nv}, 'vstr', {vs})"

    def _hist_of(sub_cols: list[str]) -> DataFrame:
        # One histogram PER CONSUMER, built from only that consumer's
        # structs (round 16): a shared all-column histogram filtered by
        # cid per consumer re-explodes EVERY column in each consumer's
        # map stage (the cid filter cannot prune a generator's element
        # list), so each consumer explodes and scans only its own
        # columns — together one full read of the source.
        structs = ", ".join(_struct_sql(c) for c in sub_cols)
        return (
            df.selectExpr(f"inline(array({structs}))")
            .where("vstr IS NOT NULL")
            .groupBy("cid", "vnum", "vstr")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    # ------------------------------------------------------------------
    # Linear per-cid statistics DAG (round 16, guide §2.4 "remove
    # shuffles outright" / §1.2). The previous assembly crossJoined
    # SEPARATE 1-row broadcast aggregates (distinct pivot over totals,
    # quantile pivot over the ranked frame, moment pivot) — five to six
    # subtrees each re-consuming the histogram, which the racing
    # broadcast threads re-aggregated per consumer (measured: six
    # 7-19 s reduce stages per describe_lineitem run at sf0.1). Now the
    # histogram has exactly TWO disjoint consumers:
    #
    #   * ``chain`` — the quantile/moment columns: ONE window stage
    #     (running count `cum`, plus whole-partition ntot/wsum in the
    #     same exchange) feeding ONE narrow compiled groupBy(cid)
    #     aggregate that computes ndistinct/ntot/min/max/n_inf/n_zeros,
    #     the quantile bracket picks, the central-moment sums and mad —
    #     everything — in a single pass;
    #   * ``rest`` — the remaining (string/bool) cids: one narrow
    #     groupBy(cid) over their histogram rows.
    #
    # The two are unioned (≤ ncols rows) and pivoted to one row in a
    # single final aggregate — no broadcast crossJoins, no diamond, no
    # repeated reduction. The wide conditional pivot runs over ncols
    # ROWS, so interpreted evaluation there is irrelevant.
    num_cols = [c for c in cols if ltypes[c] == constants.TYPE_NUM] if moments else []
    mom_set = list(dict.fromkeys(num_cols + [c for c in cols if c in mad_cols]))
    chain_set = set(q_cols) | set(mom_set)
    chain_cols = [c for c in need if c in chain_set]
    rest_cols = [c for c in need if c not in chain_set]
    need_wsum = bool(mom_set) or full_stats

    if rank_strategy == "auto":
        nbytes = source_bytes(df)
        rank_strategy = (
            "windowed"
            if nbytes is not None and nbytes < _WINDOWED_MAX_BYTES
            else "bucketed"
        )

    # No persist() anywhere (round 16): the chain and rest consumers
    # each build their OWN column-pruned histogram (disjoint source
    # columns — together one full read), and in bucketed mode the
    # totals subtree and the rank subtree share one identical exchange
    # that AQE's query-stage cache materializes once. The previous
    # persist() was never unpersisted (lazy frame, unknowable
    # lifetime): dead histogram blocks accumulated until the periodic
    # ContextCleaner GC, and the resulting old-gen pressure showed up
    # as bimodal 5→19 s walls on describe_orders_customer (measured
    # this round). Unbounded memory for a derived-from-100TB histogram
    # is also the wrong scale shape.

    frames = []
    if chain_cols:
        hist = _hist_of(chain_cols)
        if rank_strategy == "windowed":
            # Small-source fast path: one running-count window per
            # column. Provably safe here (the gate bounds the reducer's
            # worst case by the source size). ntot/wsum ride the SAME
            # exchange as whole-partition window sums — no totals
            # subtree, no broadcast join. ntot is an exact integer in
            # any summation order; wsum's float order is absorbed by
            # the %.6e oracle contract (re-proven this round).
            w_cum = (
                Window.partitionBy("cid")
                .orderBy("vnum", "vstr")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            w_all = Window.partitionBy("cid")
            sel = [
                "cid",
                "vnum",
                "cnt",
                F.sum("cnt").over(w_all).alias("ntot"),
                F.sum("cnt").over(w_cum).alias("cum"),
            ]
            if need_wsum:
                sel.append(
                    F.sum(F.col("vnum") * F.col("cnt")).over(w_all).alias("wsum")
                )
            ranked = hist.select(*sel)
        else:
            # Scale path: the distributed two-stage prefix sum needs the
            # per-cid bounds, so it keeps the narrow totals aggregate +
            # broadcast join (a third histogram consumer, still narrow).
            finite_v = F.when(
                F.isnan(F.col("vnum"))
                | (F.abs(F.col("vnum")) == float("inf")),
                None,
            ).otherwise(F.col("vnum"))
            totals = hist.groupBy("cid").agg(
                F.sum("cnt").alias("ntot"),
                F.min(finite_v).alias("mn_f"),
                F.max(finite_v).alias("mx_f"),
                F.sum(F.col("vnum") * F.col("cnt")).alias("wsum"),
            )
            ranked = _bucketed_ranked(hist, totals, None, need_wsum)

        ch_aggs = [
            F.expr("count(1) AS ndistinct"),
            F.expr("max(ntot) AS ntot"),
            F.expr("min(vnum) AS mn"),
            F.expr("max(vnum) AS mx"),
            F.expr(
                "sum(IF(abs(vnum) = double('inf'), cnt, 0L)) AS ninf"
            ),
            F.expr("sum(IF(vnum = 0.0D, cnt, 0L)) AS nzero"),
        ]
        if need_wsum:
            ch_aggs.append(F.expr("max(wsum) AS wsum"))
        for j, p in enumerate(probs):
            # A histogram row for value v covers 0-based ranks
            # [cum-cnt, cum); pick the rows covering floor(h) / ceil(h).
            for bound, fn in (("lo", "floor"), ("hi", "ceil")):
                r = f"{fn}((ntot - 1) * CAST({p} AS DOUBLE))"
                ch_aggs.append(
                    F.expr(
                        f"max(IF(cum - cnt <= {r} AND {r} < cum,"
                        f" vnum, NULL)) AS _q{bound}{j}"
                    )
                )
        # mad AND the central moments behind skewness/kurtosis come
        # from the histogram instead of extra source scans: mean =
        # Σ cnt·v / n, then m_k = Σ cnt·(v − mean)^k / n over DISTINCT
        # values — algebraically identical to the row-level two-pass
        # (and to the DuckDB oracle's explicit formula). Float
        # summation order differs from a row-level pass, which the
        # %.6e oracle contract absorbs exactly as it absorbs
        # cross-engine order differences.
        for k in (2, 3, 4) if num_cols else ():
            ch_aggs.append(
                F.expr(f"sum(cnt * pow(vnum - wsum / ntot, {k})) AS _ms{k}")
            )
        if mad_cols:
            ch_aggs.append(
                F.expr("sum(cnt * abs(vnum - wsum / ntot)) AS _mad")
            )
        frames.append(ranked.groupBy("cid").agg(*ch_aggs))
    if rest_cols:
        frames.append(
            _hist_of(rest_cols).groupBy("cid").agg(
                F.expr("count(1) AS ndistinct"),
                F.expr("sum(cnt) AS ntot"),
                F.expr("sum(vnum * cnt) AS wsum"),
            )
        )
    cidstats = frames[0]
    for fr in frames[1:]:
        cidstats = cidstats.unionByName(fr, allowMissingColumns=True)

    # coalesce: an all-null column contributes no histogram rows, so its
    # cid is absent — nunique of an empty series is 0, not NULL
    # (petk/tools.py:28). _qn stays NULL: quantiles of nothing are NULL.
    pivot = [
        f"coalesce(max(IF(cid = {idx[c]}, ndistinct, NULL)), 0)"
        f" AS `{c}::distinct_count`"
        for c in dist_cols
    ] + [
        f"max(IF(cid = {idx[c]}, ntot, NULL)) AS `{c}::_qn`" for c in q_cols
    ]
    for c in q_cols:
        i = idx[c]
        for j in range(len(probs)):
            for bound in ("lo", "hi"):
                pivot.append(
                    f"max(IF(cid = {i}, _q{bound}{j}, NULL))"
                    f" AS `{c}::_q{bound}{j}`"
                )
    for c in mom_set:
        i = idx[c]
        if c in num_cols:
            for k in (2, 3, 4):
                # try_divide: an all-null or constant column yields NULL
                # moments instead of ANSI DIVIDE_BY_ZERO (the Spark
                # builtin aggregates throw on m2 = 0).
                pivot.append(
                    f"try_divide(max(IF(cid = {i}, _ms{k}, NULL)),"
                    f" max(IF(cid = {i}, ntot, NULL))) AS `{c}::_m{k}`"
                )
            if full_stats:
                # Sample variance from the same centered sum:
                # Σ cnt·(v − mean)² / (n − 1); try_divide yields NULL
                # for n = 1 (var_samp's semantics) and the absent-cid
                # NULLs propagate for all-null columns.
                pivot.append(
                    f"try_divide(max(IF(cid = {i}, _ms2, NULL)),"
                    f" max(IF(cid = {i}, ntot, NULL)) - 1)"
                    f" AS `{c}::variance`"
                )
        if c in mad_cols:
            pivot.append(
                f"try_divide(max(IF(cid = {i}, _mad, NULL)),"
                f" max(IF(cid = {i}, ntot, NULL))) AS `{c}::mad`"
            )
    if full_stats:
        for c in need:
            i = idx[c]
            pivot.append(
                f"coalesce(max(IF(cid = {i}, ntot, NULL)), 0)"
                f" AS `{c}::count`"
            )
            if ltypes[c] in (constants.TYPE_BOOL, constants.TYPE_NUM):
                pivot.append(
                    f"try_divide(max(IF(cid = {i}, wsum, NULL)),"
                    f" max(IF(cid = {i}, ntot, NULL))) AS `{c}::mean`"
                )
        for c in q_cols:
            i = idx[c]
            pivot += [
                f"max(IF(cid = {i}, mn, NULL)) AS `{c}::min`",
                f"max(IF(cid = {i}, mx, NULL)) AS `{c}::max`",
            ]
            if ltypes[c] == constants.TYPE_NUM:
                pivot += [
                    f"max(IF(cid = {i}, wsum, NULL)) AS `{c}::sum`",
                    f"coalesce(max(IF(cid = {i}, ninf, NULL)), 0)"
                    f" AS `{c}::n_infinite`",
                    f"coalesce(max(IF(cid = {i}, nzero, NULL)), 0)"
                    f" AS `{c}::n_zeros`",
                ]
    one = cidstats.agg(*[F.expr(a) for a in pivot])

    final = [f"`{c}::distinct_count`" for c in dist_cols]
    final += [f"`{c}::mad`" for c in mom_set if c in mad_cols]
    final += [
        e
        for c in num_cols
        for e in (
            f"try_divide(`{c}::_m3`, pow(`{c}::_m2`, 1.5)) AS `{c}::_g1`",
            f"try_divide(`{c}::_m4`, pow(`{c}::_m2`, 2)) - 3 AS `{c}::_g2`",
        )
    ]
    if full_stats:
        final += [f"`{c}::count`" for c in need]
        final += [
            f"`{c}::mean`" for c in need
            if ltypes[c] in (constants.TYPE_BOOL, constants.TYPE_NUM)
        ]
        final += [e for c in q_cols for e in (f"`{c}::min`", f"`{c}::max`")]
        for c in num_cols:
            final += [
                f"`{c}::sum`", f"`{c}::n_infinite`", f"`{c}::n_zeros`",
                f"`{c}::variance`", f"sqrt(`{c}::variance`) AS `{c}::std`",
            ]
    for c in q_cols:
        n = f"`{c}::_qn`"
        parts = []
        for j, p in enumerate(probs):
            h = f"({n} - 1) * CAST({p} AS DOUBLE)"
            lo, hi = f"`{c}::_qlo{j}`", f"`{c}::_qhi{j}`"
            # equal brackets short-circuit: the interpolation form would
            # turn lo = hi = ±Infinity into NaN via (hi - lo)
            parts.append(
                f"CASE WHEN {lo} = {hi} THEN {lo}"
                f" ELSE {lo} + ({h} - floor({h})) * ({hi} - {lo}) END"
            )
        final.append(f"array({', '.join(parts)}) AS `{c}::quantiles`")
    return one.selectExpr(*final)


#: 2^-52 — double-precision machine epsilon, shared with oracle.py.
EPS = 2.220446049250313e-16


def _cv_sql(name: str) -> str:
    """cv with the subnormal-mean guard (see the comment at the call
    site and CHANGES.md §7)."""
    mean, std = f"`{name}::mean`", f"`{name}::std`"
    noise = (
        f"CAST(`{name}::count` AS DOUBLE) * {EPS!r}"
        f" * greatest(abs(`{name}::min`), abs(`{name}::max`))"
    )
    return (
        f"CASE WHEN abs({mean}) <= {noise} THEN NULL"
        f" ELSE try_divide({std}, {mean}) END"
    )


def _entry_sql(column: str, statistic: str, num_expr: str, str_expr: str = "CAST(NULL AS STRING)") -> str:
    col_lit = column.replace("'", "\\'")
    return (
        "named_struct("
        f"'column', '{col_lit}', "
        f"'statistic', '{statistic}', "
        f"'value_num', CAST({num_expr} AS DOUBLE), "
        f"'value_str', {str_expr})"
    )


def _long_sql(name: str, ltype: str, has_mad: bool) -> list[str]:
    """Derived statistics + long-form reshaping for one column, as
    named_struct SQL over the 1-row aggregate (column ``::rows`` = size)."""
    rows = "`::rows`"
    cnt = f"`{name}::count`"
    e = []

    if ltype == constants.TYPE_GEO:
        ct = f"'{constants.TYPE_GEO}'"
    else:
        ct = f"CASE WHEN {cnt} = 0 THEN '{constants.TYPE_EMPTY}' ELSE '{ltype}' END"
    e.append(_entry_sql(name, "content_type", "NULL", ct))
    e.append(
        _entry_sql(name, "memory_usage", f"{rows} * {_TYPE_WIDTH[ltype]} + 128")
    )
    e.append(_entry_sql(name, "count", cnt))
    e.append(_entry_sql(name, "p_null", f"try_divide({rows} - {cnt}, {rows})"))
    e.append(_entry_sql(name, "n_null", f"{rows} - {cnt}"))

    if ltype not in _DISTINCT_SKIP:
        nd = f"`{name}::distinct_count`"
        e += [
            _entry_sql(name, "distinct_count", nd),
            _entry_sql(name, "is_constant", f"CAST({nd} = 1 AS INT)"),
            _entry_sql(name, "is_unique", f"CAST({nd} = {rows} AS INT)"),
            _entry_sql(name, "p_unique", f"try_divide({nd}, {rows})"),
        ]

    if ltype == constants.TYPE_BOOL:
        e.append(_entry_sql(name, "mean", f"`{name}::mean`"))

    if ltype in (constants.TYPE_DATE, constants.TYPE_NUM):
        q = f"`{name}::quantiles`"
        e += [
            _entry_sql(name, "min", f"`{name}::min`"),
            _entry_sql(name, "max", f"`{name}::max`"),
        ]
        e += [
            _entry_sql(name, label, f"{q}[{i}]")
            for i, label in enumerate(constants.QUANTILE_LABELS)
        ]

    if ltype == constants.TYPE_NUM:
        q = f"`{name}::quantiles`"
        n = f"CAST({cnt} AS DOUBLE)"
        g1 = f"`{name}::_g1`"
        g2 = f"`{name}::_g2`"
        n_inf = f"`{name}::n_infinite`"
        n_zero = f"`{name}::n_zeros`"
        mad = f"`{name}::mad`" if has_mad else "NULL"
        # Sample-corrected moments (see functions/moments.py for the
        # algebra; pandas G1/G2, petk/tools.py:59-60).
        skew = (
            f"CASE WHEN {n} >= 3 THEN {g1} * sqrt({n} * ({n} - 1)) / ({n} - 2) END"
        )
        kurt = (
            f"CASE WHEN {n} >= 4 THEN ({n} - 1) / (({n} - 2) * ({n} - 3))"
            f" * (({n} + 1) * {g2} + 6) END"
        )
        e += [
            _entry_sql(name, "mean", f"`{name}::mean`"),
            _entry_sql(name, "std", f"`{name}::std`"),
            _entry_sql(name, "variance", f"`{name}::variance`"),
            _entry_sql(name, "iqr", f"{q}[3] - {q}[1]"),
            _entry_sql(name, "kurtosis", kurt),
            _entry_sql(name, "skewness", skew),
            _entry_sql(name, "sum", f"`{name}::sum`"),
            _entry_sql(name, "mad", mad),
            # cv = std/mean is ill-defined when the mean is numerically
            # zero: a cancellation-heavy column can sum to exactly 0.0
            # under one row order (→ NULL via try_divide) and to a
            # subnormal under another (→ ±Infinity) — found by the
            # permutation property suite. Pin the semantics: cv is NULL
            # whenever |mean| is below the column's summation noise
            # floor, count · eps · max(|min|, |max|) — a threshold built
            # only from permutation-invariant quantities. The identical
            # guard lives in the DuckDB twin (oracle.py) so cross-engine
            # sum-order differences cannot flap the describe hash.
            # (CHANGES.md §7.)
            _entry_sql(name, "cv", _cv_sql(name)),
            _entry_sql(name, "p_infinite", f"try_divide({n_inf}, {rows})"),
            _entry_sql(name, "n_infinite", n_inf),
            _entry_sql(name, "n_zeros", n_zero),
            _entry_sql(name, "p_zeros", f"try_divide({n_zero}, {rows})"),
        ]
    return e


def _moment_anchors(df: DataFrame, num_cols) -> dict[str, float]:
    """Per-column shift anchors for the one-pass centered-moment bundle
    (approx mode), read from the parquet footer of ONE input file (first
    row group's column statistics) — driver-side metadata only, no Spark
    job, so the operator stays lazy.

    An anchor only needs to be NEAR the data: ``Σ(x−a)^k`` is as stable
    as an explicit two-pass for any sane ``a`` (the residual cancellation
    scales with ``|mean − a| / spread``), so one row group's min/max
    midpoint is plenty. A column is skipped (anchor 0.0 = plain power
    sums — still fine unless mean ≫ spread) when the footer carries no
    stats or when the parquet physical type category differs from the
    DataFrame field type — evidence the column was transformed after the
    scan (e.g. events.ts nanos → epoch seconds), where footer values
    would be wildly wrong and the shift would HURT stability; skipped
    columns get a first-row anchor in describe_frame instead (one
    limit(1) job — the only case where approx describe isn't fully
    lazy before the main aggregation)."""
    import math
    from urllib.parse import unquote, urlparse

    out: dict[str, float] = {}
    num_set = set(num_cols)
    if not num_set:
        return out
    try:
        import pyarrow.parquet as pq

        files = df.inputFiles()
        if not files:
            return out
        u = urlparse(files[0])
        if u.scheme not in ("", "file"):
            return out
        spark_types = {f.name: f.dataType.typeName() for f in df.schema.fields}
        integral = ("byte", "short", "integer", "long")
        rg = pq.ParquetFile(unquote(u.path)).metadata.row_group(0)
        for i in range(rg.num_columns):
            cc = rg.column(i)
            name = cc.path_in_schema
            if name not in num_set:
                continue
            st = cc.statistics
            if st is None or not st.has_min_max:
                continue
            sp = spark_types.get(name, "")
            ok = (cc.physical_type in ("INT32", "INT64") and sp in integral) or (
                cc.physical_type in ("FLOAT", "DOUBLE") and sp in ("float", "double")
            )
            if not ok:
                continue
            mn, mx = st.min, st.max
            if not isinstance(mn, (int, float)) or not isinstance(mx, (int, float)):
                continue
            mid = (float(mn) + float(mx)) / 2.0
            if math.isfinite(mid):
                out[name] = mid
    except Exception:  # pragma: no cover - advisory metadata probe
        return {}
    return out


def source_bytes(df: DataFrame) -> int | None:
    """Total size of the frame's local source files, or None when it
    cannot be known cheaply (derived frame, remote filesystem). File
    metadata only — no job, no physical planning probe."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                return None
            total += os.stat(unquote(u.path)).st_size
        return total
    except Exception:  # pragma: no cover - advisory metadata probe
        return None


#: Below this source size the exact-rank path uses one running-count
#: window per column (fewer stages, no broadcast round-trips): a small
#: table physically cannot produce the billions-of-distincts column the
#: bucketed prefix sum protects against — the whole column fits one
#: reducer with room to spare. 256 MiB of COMPRESSED parquet is ≤ a few
#: GiB of raw values even at 10× compression, and the histogram shuffle
#: carries ≤ ~24 bytes per DISTINCT value — worst case well under one
#: executor thread's share. Above it (or when the size is unknown), the
#: bucketed two-stage rank keeps every reducer bounded.
_WINDOWED_MAX_BYTES = 256 << 20


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the source offers far fewer splits
    than the cluster has slots (e.g. a single large parquet row group —
    unsplittable, so ``maxPartitionBytes`` can't help). The fused agg's
    partial aggregation runs per input partition; 3 tasks on a 32-slot
    machine leaves 90% idle (measured 12.6 s → 6.5 s at sf0.1; the same
    starvation taxes pandas-UDF stages — the geometry kernels import
    this too). At real scale the scan has thousands of row groups and
    this is a no-op — the guard keeps the extra full shuffle out of the
    100 TB path. The repartition Exchange is shared across the
    exact/mad subtrees via ReuseExchange (one plan), so the shuffle is
    written once.

    The split estimate uses file metadata only (``inputFiles`` + stat):
    an ``df.rdd.getNumPartitions()`` probe forces full physical planning
    through py4j — measured ~2 s of driver time per describe call. A
    non-``file:`` input (s3a://, hdfs://, ...) returns ``df`` unchanged:
    its sizes are unknown without a filesystem client."""
    import os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
        if not files:
            return df  # derived frame — parallelism set by its shuffles
        if len(files) * 2 > target:
            return df  # enough file splits regardless of sizes
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        digits = "".join(ch for ch in raw if ch.isdigit())
        max_pb = int(digits) if digits else 134217728
        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                # remote FS — sizes unknown without an FS client, and a
                # planning probe costs what this guard exists to avoid
                return df
            total += os.stat(unquote(u.path)).st_size
        splits = max(1, -(-total // max_pb))
        if splits * 2 <= target:
            return df.repartition(target)
    except Exception:  # pragma: no cover - heuristic is advisory
        pass
    return df


def describe_frame(
    df: DataFrame,
    columns=None,
    exact: bool = True,
    include_mad: bool = True,
    rank_strategy: str = "auto",
) -> DataFrame:
    """Lazy long-form statistical profile of ``df``.

    Returns a DataFrame ``(column, statistic, value_num, value_str)``.
    Booleans are encoded 1.0/0.0 in value_num; content_type lives in
    value_str; DATE min/max/quantiles are epoch seconds.

    Codegen note (round 16): exact mode's data-heavy stages all compile
    — it has no wide aggregate at all (the histogram chain is narrow);
    the interpreted pieces left are 1-row/ncols-row reshaping, where
    evaluation mode is irrelevant. Approx mode keeps ONE fused
    ObjectHashAggregate bundle: its interpreted expression evaluation
    costs ~3 s of task time per run at sf0.1, measured cheaper than any
    split that adds a second scan+shuffle pass (a codegen-sized
    chunking variant was measured and reverted this round — task time
    tripled). Session config is deliberately never mutated (round-2
    measurement: raising maxFields globally churns the codegen cache on
    the array-heavy bundles).
    """
    cols = find_columns(df, columns)
    # Prune before the (possible) repartition so a starved scan shuffles
    # only the profiled columns, then fan out to every slot.
    base = df.select(*dict.fromkeys(cols))
    df = ensure_parallelism(base)
    fields = {f.name: f for f in df.schema.fields}
    ltypes = {c: static_logical_type(fields[c]) for c in cols}
    num_cols = [c for c in cols if ltypes[c] == constants.TYPE_NUM]
    has_mad = bool(include_mad and num_cols)

    anchors = _moment_anchors(df, num_cols) if not exact else {}
    missing_anchor = [c for c in num_cols if c not in anchors] if not exact else []
    if missing_anchor:
        # Footer anchors unavailable (non-local source, multi-file
        # mismatch, or a transformed column like events.ts where footer
        # stats would be wrong): anchor on the FIRST ROW's values — one
        # tiny limit(1) job over only the affected columns. Any
        # near-data anchor keeps the one-pass shifted moments as stable
        # as a two-pass; the previous 0.0 fallback (plain power sums)
        # loses approx skew/kurt precision whenever mean >> spread
        # (e.g. epoch-seconds columns), enough to flap the %.6e hash.
        import math as _math

        try:
            first = (
                df.select(
                    *[F.col(c).cast("double").alias(c) for c in missing_anchor]
                )
                .limit(1)
                .collect()
            )
            if first:
                for c in missing_anchor:
                    v = first[0][c]
                    if v is not None and _math.isfinite(v):
                        anchors[c] = float(v)
        except Exception:  # pragma: no cover - advisory anchor probe
            pass
    aggs = ["count(1) AS `::rows`"]
    for c in cols:
        aggs += _agg_sql(
            c, ltypes[c], exact, anchors.get(c),
            fields[c].dataType.simpleString(),
        )
    if exact:
        # Round 16 (guide §1.2 step 1): exact mode derives EVERY
        # statistic from the single value-histogram pass
        # (full_stats=True below), so the main bundle shrinks to
        # count(1) + GEO/UNSUPPORTED counts — a tiny compiled aggregate
        # over the UN-repartitioned pruned frame (count(1) reads no
        # column bytes at all). The previous full second pass — a
        # >100-field fused bundle that also ran INTERPRETED under the
        # codegen field limit (122 s of task time per describe_lineitem
        # run at sf0.1, job_probe r16) — is gone outright.
        stats = base.agg(*[F.expr(s) for s in aggs])
        # value histogram provides count/min/max/mean/sum/var/std,
        # n_infinite/n_zeros, bool mean, distinct/quantiles AND the
        # central moments (_g1/_g2, mad) — the one full data pass.
        value_stats = _exact_value_stats(
            df, cols, ltypes, rank_strategy,
            mad_cols=num_cols if include_mad else (),
            full_stats=True,
        )
        if value_stats is not None:
            stats = stats.crossJoin(F.broadcast(value_stats))
    else:
        # ONE fused bundle, one scan (round 16: a chunked-aggregate
        # variant — codegen-sized compiled chunks + one sketch chunk —
        # was measured and REVERTED: the sketch chunk already reads
        # every column, so the extra chunk scans/shuffles tripled task
        # time (5.6 → ~20 s per run at sf0.1) for a wall regression;
        # the interpreted ObjectHashAggregate evaluation of the fused
        # expressions costs ~3 s of task time per run — cheaper than
        # any second pass. See OPTIMIZATION_r16.md.)
        stats = df.agg(*[F.expr(s) for s in aggs])
    if not exact and num_cols:
        # Approx mode: central moments from the shifted power sums of
        # the MAIN bundle — pure 1-row arithmetic, no extra scan. The
        # m2 > 0 guard yields NULL skew/kurt for constant (or all-null)
        # columns instead of the ANSI DIVIDE_BY_ZERO the builtins throw,
        # matching the exact path's try_divide semantics.
        derived = []
        for c in num_cols:
            s1, s2, s3, s4 = (f"`{c}::_s{k}`" for k in (1, 2, 3, 4))
            m2 = f"({s2} - pow({s1}, 2))"
            m3 = f"({s3} - 3 * {s1} * {s2} + 2 * pow({s1}, 3))"
            m4 = (
                f"({s4} - 4 * {s1} * {s3}"
                f" + 6 * pow({s1}, 2) * {s2} - 3 * pow({s1}, 4))"
            )
            derived += [
                f"CASE WHEN {m2} > 0 THEN {m3} / pow({m2}, 1.5) END"
                f" AS `{c}::_g1`",
                f"CASE WHEN {m2} > 0 THEN {m4} / pow({m2}, 2) - 3 END"
                f" AS `{c}::_g2`",
            ]
        stats = stats.selectExpr("*", *derived)
        if has_mad:
            # mad needs the finished mean first: one second scan joined
            # to a DEDICATED narrow means-only aggregate (round 16: the
            # chunked bundle's crossJoin chain no longer prunes to one
            # narrow subtree — selecting the means through it replayed
            # one scan PER CHUNK, measured 33 scans on the mad plan —
            # so the means are re-aggregated directly; same expression,
            # one narrow compiled pass, and AQE query-stage reuse
            # dedupes its shuffle at runtime as before — pinned in
            # tests/test_plan_shape.py).
            means_row = df.agg(
                *[
                    F.expr(f"avg({_nv(c, ltypes[c])}) AS `{c}::mean`")
                    for c in num_cols
                ]
            )
            mad_row = df.crossJoin(F.broadcast(means_row)).agg(
                *[
                    F.expr(
                        f"avg(abs({_nv(c, ltypes[c])} - `{c}::mean`))"
                        f" AS `{c}::mad`"
                    )
                    for c in num_cols
                ]
            )
            stats = stats.crossJoin(F.broadcast(mad_row))

    entries = []
    for c in cols:
        entries += _long_sql(c, ltypes[c], has_mad)
    explode = "explode(array(" + ", ".join(entries) + ")) AS e"
    return stats.select(F.expr(explode)).select("e.*")
