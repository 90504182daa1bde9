"""Gap-imputation engine: gap grouping, 7 imputation rules, threshold clamping,
cumulative re-normalization, and imputation summaries.

Re-expression of the reference's vectorized pandas engine
(vectorized_impute.py:112-273,343-748; impute.py:12-131,564-768;
aggregate.py:148-261) as pure Spark window + conditional expressions — no UDFs.

Scale design
------------
Every ordered operation partitions by ``HuisIdBSV``: gap groups are contiguous
runs within one household's time series, so they can never straddle a shuffle
boundary (the reference guards house transitions by hand,
vectorized_impute.py:390-391,489-495; ``Window.partitionBy`` makes it
structural). No window partitions by a gap group: each group's attributes
come from its two bounds, back-filled by one descending and forward-filled by
one ascending pass over the household, and the rules, the clamp and the
cumulative re-normalization run on the ascending pass. The whole
multi-column engine costs ONE exchange and TWO sorts of the fact table, and
a fixed number of window operators, however many cumulative columns it
imputes. Per-(project, timestamp) averages and per-project bounds are
separate small aggregates joined back.
"""

from __future__ import annotations

from enum import IntFlag, auto

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..functions.scalars import qround

from ..config import (
    CUMULATIVE_COLUMNS,
    IMPUTE_CUMULATIVE_COLUMNS,
    THRESHOLDS,
    avg_col,
    check_col,
    diff_col,
    get_diff_columns,
    impute_type_col,
    is_imputed_col,
    old_diff_col,
    original_col,
)

EPS = 1e-8


class ImputeType(IntFlag):
    """Bitmask of imputation methods (reference vectorized_impute.py:785-829)."""

    NONE = 0
    NEGATIVE_GAP_JUMP = auto()  # 1: negative jump (meter reset) -> zeros
    NEAR_ZERO_GAP_JUMP = auto()  # 2: flat gap -> zeros
    LINEAR_FILL = auto()  # 4: positive jump, no project avgs -> linear
    SCALED_FILL = auto()  # 8: positive jump + avgs -> scaled avgs
    ZERO_END_VALUE = auto()  # 16: leading gap ending at 0 -> zeros
    POSITIVE_END_VALUE = auto()  # 32: leading gap ending >0 -> avgs
    NO_END_VALUE = auto()  # 64: trailing gap -> avgs * house factor
    THRESHOLD_ADJUSTED = auto()  # 128: clamped to avg after the fact


# ---------------------------------------------------------------------------
# Stage 1: average-diff preparation (reference impute.py:12-131)
# ---------------------------------------------------------------------------

def household_diff_max_bounds(df: DataFrame, diff_columns: list[str]) -> DataFrame:
    """Per-house max of each Diff column plus the per-project outlier upper
    bound (2 x exact p95 of house maxima over values > 1e-8; NULL if none).

    Reference impute.py:55-90. Output: one row per household with
    ``<col>_huis_max`` and ``<col>_upper_bound`` columns.
    """
    # Exact ``percentile`` (not percentile_approx): the per-project input
    # (house maxima) is tiny.
    house_max = df.groupBy("ProjectIdBSV", "HuisIdBSV").agg(
        *[F.max(c).alias(f"{c}_huis_max") for c in diff_columns]
    )
    bound_exprs = []
    for c in diff_columns:
        hm = F.col(f"{c}_huis_max")
        gated = F.when(hm > EPS, hm)
        bound_exprs.append(
            (F.percentile(gated, F.lit(0.95)) * 2.0).alias(f"{c}_upper_bound")
        )
    # bounds is one row per PROJECT (dimension-sized at any SF) -> broadcast
    bounds = house_max.groupBy("ProjectIdBSV").agg(*bound_exprs)
    return house_max.join(F.broadcast(bounds), "ProjectIdBSV", "left")


def calculate_average_diff(
    df: DataFrame,
    diff_columns: list[str],
    max_bounds: DataFrame | None = None,
) -> DataFrame:
    """Per (project, ReadingDate) mean of each Diff column over *included*
    households only — a household is included for column c iff its max(c) is
    strictly below the project's upper bound (outlier exclusion,
    reference impute.py:91-118). NULL bound or NULL max -> excluded.

    One conditional aggregate computes every column at once (single shuffle),
    replacing the reference's per-column filter + groupby loop.
    """
    if max_bounds is None:
        max_bounds = household_diff_max_bounds(df, diff_columns)
    # NO broadcast hint: max_bounds is one row per HOUSEHOLD (wide, 2 cols
    # per diff column) — per-house tables scale with the data, not the
    # dims, and a forced broadcast bypasses autoBroadcastJoinThreshold at
    # exactly the scale it matters. The join keys match the fact table's
    # hash partitioning; AQE broadcasts on its own when the table is small.
    joined = df.join(
        max_bounds.select(
            "ProjectIdBSV",
            "HuisIdBSV",
            *[f"{c}_huis_max" for c in diff_columns],
            *[f"{c}_upper_bound" for c in diff_columns],
        ),
        ["ProjectIdBSV", "HuisIdBSV"],
        "left",
    )
    agg_exprs = []
    for c in diff_columns:
        include = F.col(f"{c}_huis_max") < F.col(f"{c}_upper_bound")
        agg_exprs.append(F.avg(F.when(include, F.col(c))).alias(f"{c}_avg"))
    return joined.groupBy("ProjectIdBSV", "ReadingDate").agg(*agg_exprs)


# ---------------------------------------------------------------------------
# Stage 2: gap grouping + rules, every column in two house passes
# (reference vectorized_impute.py:343-748)
# ---------------------------------------------------------------------------

# Exact running sums of avg diffs: an impute jump is the difference of two,
# and a difference of double sums can move a qround(..., 10) result. Equal
# scales keep sums and differences exact (|avg| < 1e9, house sum < 1e19).
_AVG_EXACT, _SUM_EXACT = "decimal(27,18)", "decimal(37,18)"


def _impute_columns(
    df: DataFrame,
    cumulative_columns: list[str],
    thresholds: dict[str, dict[str, float]],
) -> DataFrame:
    """Impute every cumulative column's Diff in-plan. Adds ``<Var>OldDiff``,
    ``<Var>Diff_is_imputed`` and ``<Var>Diff_impute_type`` per column, in
    column order; every other column it builds is a temporary.

    A gap group is a run of NA diffs, split after a row that shows a
    cumulative value (vectorized_impute.py:388-419). Its rule needs the
    values at the group's bounds. Two passes over each household, shared by
    all columns, fill them in with ``last(..., ignorenulls)`` over a running
    frame: descending, the end row's number (counted from the house's last
    row), sum of avg diffs after it and cumulative value; ascending, the
    start row's number, sum of avg diffs from it on and the cumulative
    value before it. Gap length and impute jump are differences of the two
    bounds. One pass would need a back-fill over ``rowsBetween(currentRow,
    unboundedFollowing)``, which Spark evaluates in O(n^2) per partition.
    Both passes assume one reading per (HuisIdBSV, ReadingDate).
    """
    desc = Window.partitionBy("HuisIdBSV").orderBy(F.col("ReadingDate").desc())
    asc = Window.partitionBy("HuisIdBSV").orderBy("ReadingDate")
    desc_run = desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    asc_run = asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    house = asc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base = df.columns
    cols = list(enumerate(cumulative_columns))
    code = {r: F.lit(int(r)) for r in ImputeType}

    def na(c: str) -> Column:
        return F.col(diff_col(c)).isNull()

    def exact_avg(c: str) -> Column:
        return F.coalesce(F.col(avg_col(c)), F.lit(0.0)).cast(_AVG_EXACT)

    def t(name: str, i: int) -> Column:
        return F.col(f"_{name}{i}")

    # descending pass: row number from the end, sum of avg diffs from each
    # row to the end, and each row's neighbours in time
    step = {"_rn": F.row_number().over(desc)}
    for i, c in cols:
        step[f"_sum{i}"] = F.sum(exact_avg(c)).over(desc_run).cast(_SUM_EXACT)
        step[f"_next_na{i}"] = F.lag(na(c), 1, False).over(desc)
        step[f"_prev_na{i}"] = F.lead(na(c), 1, False).over(desc)
        step[f"_prev_cum{i}"] = F.lead(F.col(c)).over(desc)
    df = df.withColumns(step)

    # a group ends on an NA row that shows a cumulative value or is the last
    # of its run. end_cum: negative -> NULL (vectorized_impute.py:611-614)
    step = {}
    for i, c in cols:
        is_end = na(c) & (F.col(c).isNotNull() | ~t("next_na", i))
        bound = F.struct(
            F.col("_rn").alias("rn"),
            (t("sum", i) - exact_avg(c)).cast(_SUM_EXACT).alias("after"),
            F.when(F.col(c) >= 0, F.col(c)).alias("cum"),
        )
        step[f"_end{i}"] = F.last(F.when(is_end, bound), ignorenulls=True).over(desc_run)
    df = df.withColumns(step)

    # ascending pass: a group starts on an NA row after a non-NA row or after
    # a row that shows a cumulative value. prev: that row's cumulative value,
    # negative -> NULL (vectorized_impute.py:481-505)
    step = {}
    for i, c in cols:
        d, a, prev_cum = F.col(diff_col(c)), F.col(avg_col(c)), t("prev_cum", i)
        is_start = na(c) & (~t("prev_na", i) | prev_cum.isNotNull())
        bound = F.struct(
            F.col("_rn").alias("rn"),
            t("sum", i).alias("sum"),
            F.when(prev_cum >= 0, prev_cum).alias("prev"),
        )
        step[f"_start{i}"] = F.last(F.when(is_start, bound), ignorenulls=True).over(asc_run)
        # house_impute_factor: sum(avg)/sum(diff) over rows where both are
        # comparable; 0-denominator -> 1.0; forced to 1.0 when comparable
        # rows <= half the house's rows (vectorized_impute.py:554-587).
        comparable = a.isNotNull() & d.isNotNull() & (d >= 0)
        diff_avg_sum = F.sum(F.when(comparable, a)).over(house)
        cum_diff_sum = F.sum(F.when(comparable, d)).over(house)
        factor_raw = F.when(
            F.coalesce(cum_diff_sum, F.lit(0.0)) != 0.0,
            F.coalesce(diff_avg_sum, F.lit(0.0)) / cum_diff_sum,
        )
        step[f"_factor{i}"] = F.when(
            F.sum(comparable.cast("long")).over(house) <= F.count(F.lit(1)).over(house) / 2,
            F.lit(1.0),
        ).otherwise(F.coalesce(factor_raw, F.lit(1.0)))
    df = df.withColumns(step)

    def gap(i: int) -> tuple[Column, Column, Column, Column]:
        """(end_cum, prev_cum, gap_jump, impute_jump) of a gap row's group;
        the impute jump sums its zero-filled avg diffs
        (vectorized_impute.py:535-547)."""
        start, end = t("start", i), t("end", i)
        return (
            end["cum"], start["prev"], end["cum"] - start["prev"],
            (start["sum"] - end["after"]).cast("double"),
        )

    # the rule chain (vectorized_impute.py:630-748): one rule per gap row.
    # POSITIVE_END_VALUE is end >= EPS, not > EPS: the sibling zero-end rule
    # is < EPS, and a strict > would leave an end value of exactly EPS
    # matching neither rule (the gap would silently stay unimputed).
    step = {}
    for i, c in cols:
        end_cum, prev_cum, gap_jump, impute_jump = gap(i)
        step[f"_rule{i}"] = F.when(
            na(c),
            F.when(
                gap_jump.isNotNull(),
                F.when(gap_jump < 0, code[ImputeType.NEGATIVE_GAP_JUMP])
                .when(gap_jump < EPS, code[ImputeType.NEAR_ZERO_GAP_JUMP])
                .when(impute_jump < EPS, code[ImputeType.LINEAR_FILL])
                .otherwise(code[ImputeType.SCALED_FILL]),
            )
            .when(prev_cum.isNull() & (end_cum < EPS), code[ImputeType.ZERO_END_VALUE])
            .when(prev_cum.isNull() & end_cum.isNotNull(), code[ImputeType.POSITIVE_END_VALUE])
            .when(prev_cum.isNotNull(), code[ImputeType.NO_END_VALUE]),
        )
    df = df.withColumns(step)

    zero_fill = int(
        ImputeType.NEGATIVE_GAP_JUMP | ImputeType.NEAR_ZERO_GAP_JUMP | ImputeType.ZERO_END_VALUE
    )
    step = {}
    for i, c in cols:
        rule, (_end, _prev, gap_jump, impute_jump) = t("rule", i), gap(i)
        gap_len = t("start", i)["rn"] - t("end", i)["rn"] + 1
        impute_values = F.coalesce(F.col(avg_col(c)), F.lit(0.0))
        # pandas `round(x, 10)`: qround, the cross-engine twin
        imputed_value = (
            F.when(rule.bitwiseAND(zero_fill) != 0, F.lit(0.0))
            .when(rule == code[ImputeType.LINEAR_FILL], qround(gap_jump / gap_len, 10))
            .when(
                rule == code[ImputeType.SCALED_FILL],
                qround(impute_values * (gap_jump / impute_jump), 10),
            )
            .when(rule == code[ImputeType.POSITIVE_END_VALUE], impute_values)
            .when(rule == code[ImputeType.NO_END_VALUE], impute_values * t("factor", i))
        )
        step[f"_new{i}"] = F.coalesce(imputed_value, F.col(diff_col(c)))
    df = df.withColumns(step)

    # threshold clamp (vectorized_impute.py:58-109): out-of-bounds values are
    # replaced with the project average and THRESHOLD_ADJUSTED is OR-ed in.
    replaced: dict[str, Column] = {}
    added: dict[str, Column] = {}
    for i, c in cols:
        d = diff_col(c)
        new, rule = t("new", i), t("rule", i)
        replaced[d], is_imputed, rule_type = new, rule.isNotNull(), rule.cast("long")
        th = thresholds.get(d)
        if th is not None:
            out_of_bounds = new.isNotNull() & ((new < F.lit(th["Min"])) | (new > F.lit(th["Max"])))
            replaced[d] = F.when(out_of_bounds, F.col(avg_col(c))).otherwise(new)
            rule_type = F.when(
                out_of_bounds,
                F.coalesce(rule_type, F.lit(0)).bitwiseOR(code[ImputeType.THRESHOLD_ADJUSTED]),
            ).otherwise(rule_type)
            is_imputed = F.when(out_of_bounds, F.lit(True)).otherwise(is_imputed)
        added[old_diff_col(c)] = F.col(d)
        added[is_imputed_col(c)] = is_imputed
        added[impute_type_col(c)] = rule_type
    return df.select(
        *[replaced.get(name, F.col(name)).alias(name) for name in base],
        *[e.alias(name) for name, e in added.items()],
    )


def impute_and_normalize(
    df: DataFrame,
    cumulative_columns: list[str] | None = None,
    thresholds: dict[str, dict[str, float]] | None = None,
    avg_diffs: DataFrame | None = None,
) -> DataFrame:
    """Full imputation: join project averages, impute every cumulative
    column's Diff, and rebuild the cumulative columns from imputed diffs.

    Normalization rebuilds ``cumulative_columns`` plus every OTHER registry
    cumulative column present with its Diff — the reference's normalization
    loop iterates the full etdmap list, not the imputed one
    (aggregate.py:163,200-211), so non-imputed extras like Gasgebruik are
    also rebuilt from their raw diffs (verified value-for-value by
    tests/test_reference_parity.py).

    Returns the imputed frame: one lazy plan with one exchange and two
    sorts (see module docstring). Its gap statistics are
    ``imputation_gap_stats`` over this frame. Reference orchestration:
    vectorized_impute.py:112-273 + aggregate.py:199-211.
    """
    if cumulative_columns is None:
        cumulative_columns = [c for c in IMPUTE_CUMULATIVE_COLUMNS if c in df.columns]
    if thresholds is None:
        thresholds = THRESHOLDS
    normalize_columns = list(cumulative_columns) + [
        c for c in CUMULATIVE_COLUMNS
        if c not in cumulative_columns and c in df.columns and diff_col(c) in df.columns
    ]
    diff_columns = get_diff_columns(cumulative_columns)

    if avg_diffs is None:
        avg_diffs = calculate_average_diff(df, diff_columns)
    # avg_diffs is |projects| x |timestamps| — ~1/n_households of the fact
    # table. Broadcast at test scale; at 100 TB AQE picks sort-merge.
    df = df.join(avg_diffs, ["ProjectIdBSV", "ReadingDate"], "left")

    df = _impute_columns(df, cumulative_columns, thresholds)

    # normalization (reference aggregate.py:199-211): Original := cumulative;
    # cumulative := cumsum(imputed Diff); Check := diff(new - original).
    house_w = Window.partitionBy("HuisIdBSV").orderBy("ReadingDate")
    cum_frame = house_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    norm_cols: dict[str, Column] = {}
    for cum_col in normalize_columns:
        d = diff_col(cum_col)
        norm_cols[original_col(cum_col)] = F.col(cum_col)
        # pandas cumsum leaves NaN at NA positions (but keeps accumulating
        # past them); a plain running sum would backfill those rows.
        norm_cols[cum_col] = F.when(
            F.col(d).isNotNull(), F.sum(F.col(d)).over(cum_frame)
        )
    df = df.withColumns(norm_cols)
    check_cols = {
        check_col(c): (F.col(c) - F.col(original_col(c)))
        - F.lag(F.col(c) - F.col(original_col(c))).over(house_w)
        for c in normalize_columns
    }
    return df.withColumns(check_cols)


# ---------------------------------------------------------------------------
# Stage 3: summaries (reference impute.py:671-759, vectorized_impute.py:168-188)
# ---------------------------------------------------------------------------

def imputation_gap_stats(
    imputed: DataFrame,
    cumulative_columns: list[str],
) -> DataFrame:
    """Per (project, house, diff column) gap summary of an
    ``impute_and_normalize`` output, read from its columns alone (reference
    vectorized_impute.py:168-188 also summarizes the imputed frame): Diff
    total, its deviation from the span of ``<Var>Original`` (the cumulative
    column before normalization), gap/imputed counts, and the distinct
    method list + bitmask. A gap row is one whose ``<Var>OldDiff`` is NULL.
    One wide aggregate, then an explode to long form (one shuffle; the
    reference does a groupby().apply per column)."""
    per_col_structs = []
    for cum_col in cumulative_columns:
        d, it = diff_col(cum_col), impute_type_col(cum_col)
        orig = F.col(original_col(cum_col))
        in_gap = F.col(old_diff_col(cum_col)).isNull()
        # pandas .sum() over an all-NA group is 0.0, not NA
        # (vectorized_impute.py:168 diff_column_total) — parity-pinned by
        # tests/test_reference_parity.py on an all-NA household column
        diff_total = F.coalesce(F.sum(F.col(d)), F.lit(0.0))
        minmax = F.max(orig) - F.min(orig)
        methods = F.array_sort(
            F.array_distinct(F.collect_list(F.col(it)))
        )
        missing = F.count(F.when(in_gap, F.lit(1)))
        per_col_structs.append(
            F.struct(
                F.lit(d).alias("column"),
                diff_total.alias("diff_col_total"),
                minmax.alias("cum_col_min_max_diff"),
                (diff_total - minmax).alias("deviation"),
                missing.alias("missing"),
                methods.alias("methods"),
                # reference semantics (vectorized_impute.py:176): every row
                # with an impute_type counts as imputed — threshold clamps
                # OUTSIDE gaps included (they did replace a value)
                F.count(F.col(it)).alias("imputed"),
                # ...but imputed_na ("gap rows left NA") stays gap-gated:
                # the reference subtracts ALL imputes from the gap-row count
                # (impute.py:177-178) and goes NEGATIVE when clamps fire
                # outside gaps — a documented §2.10 defect disposition; the
                # exact reconciliation is asserted by test_reference_parity
                (missing - F.count(F.when(in_gap, F.col(it)))).alias("imputed_na"),
                F.coalesce(
                    F.bit_or(F.col(it)), F.lit(0)
                ).alias("bitwise_methods"),
            )
        )
    wide = imputed.groupBy("ProjectIdBSV", "HuisIdBSV").agg(
        F.array(*per_col_structs).alias("_stats")
    )
    return wide.select("ProjectIdBSV", "HuisIdBSV", F.inline("_stats"))


def imputation_summaries(
    gap_stats: DataFrame,
    df: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """House and project rollups with ``percentage_imputed``
    (reference impute.py:671-759)."""
    # per-household total: scales with data -> no forced broadcast (AQE
    # decides); per-project total below IS dimension-sized and stays hinted
    total_house = df.groupBy("HuisIdBSV").agg(F.count(F.lit(1)).alias("total_records"))
    summary_house = (
        # the reference's house summary selects gap stats WITHOUT deviation
        # (impute.py:672-685) — parity-pinned column set
        gap_stats.drop("deviation")
        .join(total_house, "HuisIdBSV")
        .withColumn("percentage_imputed", F.col("imputed") / F.col("total_records") * 100)
    )
    total_project = df.groupBy("ProjectIdBSV").agg(
        F.count(F.lit(1)).alias("total_records")
    )
    summary_project = (
        gap_stats.groupBy("ProjectIdBSV", "column")
        .agg(
            F.bit_or("bitwise_methods").alias("bitwise_methods"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("methods")))
            ).alias("methods"),
            F.sum("missing").alias("missing"),
            F.sum("imputed").alias("imputed"),
            F.sum("imputed_na").alias("imputed_na"),
        )
        .join(F.broadcast(total_project), "ProjectIdBSV")
        .withColumn("percentage_imputed", F.col("imputed") / F.col("total_records") * 100)
    )
    return summary_house, summary_project


def imputation_reading_date_stats(
    df: DataFrame,
    cumulative_columns: list[str] | None = None,
) -> DataFrame:
    """Per-ReadingDate imputation stats across all households: how many
    diffs were imputed at each timestamp, with the OR-ed method mask —
    the cross-sectional view that localizes systematic outages (a whole
    project dark at 03:00) which the per-house summaries average away.

    Implements the reference's UNUSED/disabled
    ``get_reading_date_imputation_stats`` (impute.py:330-412;
    ``imputation_reading_date_stats_df = None`` at
    vectorized_impute.py:271) as a single hash aggregate over the imputed
    frame — per-timestamp group counts, map-side combined.
    """
    if cumulative_columns is None:
        cumulative_columns = [
            c for c in IMPUTE_CUMULATIVE_COLUMNS
            if f"{c}Diff_is_imputed" in df.columns
        ]
    # countDistinct, not count(*): a re-delivered duplicate reading would
    # otherwise inflate the household denominator at its timestamp
    aggs = [F.countDistinct("HuisIdBSV").alias("n_households")]
    for c in cumulative_columns:
        flag = F.col(f"{c}Diff_is_imputed")
        aggs += [
            F.count(F.when(flag, F.lit(1))).alias(f"{c}Diff_imputed"),
            F.expr(
                f"bit_or(coalesce(`{c}Diff_impute_type`, CAST(0 AS BIGINT)))"
            ).alias(f"{c}Diff_impute_type_mask"),
        ]
    return df.groupBy("ReadingDate").agg(*aggs)
