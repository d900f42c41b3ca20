"""Single-pass validation: DataFrame -> DataFrame + errors column.

The physical design choice from SURVEY.md §4: evaluate the ENTIRE rule
catalog in one projection producing an ``array<string>`` column — one scan,
no per-rule shuffles. That projection runs outside whole-stage codegen
(``array_compact`` lowers to a lambda; see ``rules.compile_rules``), while
``summarize_rule_violations`` keeps its per-rule counters inside it. At
100 TB this is a map-only stage; the only shuffle in the pipeline is the
final per-payee aggregation in operators/errors.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_validator_github_spark.functions.core import sql_str
from etl_validator_github_spark.operators.rules import (
    Rule,
    bankdata_rules,
    compile_rules,
)
from etl_validator_github_spark.schema import schema_diff

ERRORS_COL = "__errors"


def with_errors(
    df: DataFrame,
    rules: list[Rule] | None = None,
    errors_col: str = ERRORS_COL,
) -> DataFrame:
    """Append an ``array<string>`` column of rule-violation messages."""
    if rules is None:
        rules = bankdata_rules()
    return df.withColumn(errors_col, compile_rules(rules))


def failing_records(
    df: DataFrame,
    rules: list[Rule] | None = None,
    errors_col: str = ERRORS_COL,
) -> DataFrame:
    """Rows violating at least one rule, with their error list.

    Physical-shape note (measured at 1M rows, 32 threads): a two-phase
    variant — filter on ``compile_any_violation`` (pure boolean, stays
    in whole-stage codegen) then build the array only for survivors —
    executes at the same speed as this single-expression form, because
    per-row cost is dominated by the rlike/translate primitives that
    cost the same compiled or interpreted; but it DOUBLES Catalyst
    planning time (two 50-expression trees instead of one). So the
    simple form wins end-to-end. Revisit only if the violation-rate ×
    rule-count product grows enough that skipping array construction on
    clean rows matters.
    """
    return with_errors(df, rules, errors_col).filter(F.size(errors_col) > 0)


def summarize_rule_violations(
    df: DataFrame,
    rules: list[Rule] | None = None,
) -> DataFrame:
    """Error frequency by rule message, one codegen pass — equivalent to
    ``summarize_errors(with_errors(df))`` but structurally cheaper.

    The array+explode form pays three ways (measured at n=200k, r13):
    the optimizer's InferFiltersFromGenerate re-evaluates the whole rule
    array in an inferred ``size()>0`` filter below the explode (the
    guide §4.4 duplication class, for expressions); ``array_compact``
    lowers to a higher-order lambda that kicks the entire per-row stage
    out of whole-stage codegen; and every violation materializes an
    exploded row. Here each rule compiles to ONE ``sum(violation)``
    counter in a single map-side aggregation — no array, no Generate,
    codegen end to end, and the shuffle carries one partial row per
    task. Counters of rules that share a message are added together in
    the same aggregation; ``inline`` unpivots the one result row into
    (message, count) rows, and zero-count messages are dropped, matching
    the explode form exactly.
    """
    if rules is None:
        rules = bankdata_rules()
    if not rules:
        # Nothing to count: the explode form returned an empty frame.
        return df.sparkSession.createDataFrame(
            [], "error_desc string, error_count bigint"
        )
    counts: dict[str, list[str]] = {}
    for r in rules:
        counts.setdefault(r.message, []).append(
            f"sum(CAST({r.violation_sql()} AS BIGINT))")
    pairs = ", ".join(
        f"struct({sql_str(m)} AS error_desc, {' + '.join(sums)} AS error_count)"
        for m, sums in counts.items()
    )
    return (
        df.select(F.expr(f"inline(array({pairs}))"))
        .filter("error_count > 0")
        .orderBy("error_desc")
    )


def validate_schema(df: DataFrame) -> dict[str, list[str]]:
    """File-level validation (R24): missing / extra columns vs canonical.

    The reference detects missing (PIPE:2279-2328), renamed (PIPE:2330-2408)
    and extra (PIPE:3289-3323) columns before row rules run; a rename shows
    up as one missing + one extra entry.
    """
    return schema_diff(df.columns)


def summarize_errors(errors_df: DataFrame, errors_col: str = ERRORS_COL) -> DataFrame:
    """Error frequency by rule message — map-side partial agg then a tiny
    shuffle on the (small-cardinality) message key; safe at any scale."""
    return (
        errors_df.select(F.explode(errors_col).alias("error_desc"))
        .groupBy("error_desc")
        .agg(F.count(F.lit(1)).alias("error_count"))
        .orderBy("error_desc")
    )
