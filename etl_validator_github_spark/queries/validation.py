"""Validation-engine queries for the driver contract.

These exercise the engine's CORE — the declarative Rule catalog compiled
into a single array<string> projection (operators/rules.py), the error
sink shape (operators/errors.py), and the CSV↔DB token-set
reconciliation (operators/reconcile.py, mirroring
DM_bankfile_validate_pipeline.py:932-967) — in a DuckDB-oracle-checkable
form over the driver's testdata tables.

``validate_customer_rules`` applies a small Rule catalog to the
``customer`` table via the exact same machinery the bank-data pipeline
uses (Rule → compile_rules → array_join), so the oracle check covers the
rule-compilation path itself. ``bankdata_validate`` runs the real 40+
rule bank catalog on generated data (no SQL oracle — the generator is
engine-side — so the driver records a rows-only check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_validator_github_spark.generator import generate_bankdata_distributed
from etl_validator_github_spark.queries.bankdata_oracle import (
    INJECTIONS,
    bankdata_oracle_sql,
    injection_key_sql,
)
from etl_validator_github_spark.operators.reconcile import reconcile_errors
from etl_validator_github_spark.functions.core import sql_str
from etl_validator_github_spark.operators.rules import Rule
from etl_validator_github_spark.operators.validate import (
    failing_records,
    summarize_rule_violations,
)
from etl_validator_github_spark.contract import Query, load

# A compact rule catalog over the customer table, declared with the same
# Rule dataclass as the bank-data catalog. Messages below are mirrored
# verbatim in the SQL oracle.
_MSG_NEG = "AccountBalance must not be negative"
_MSG_NAME = "CustomerName must match Customer# followed by 9 digits"
_MSG_SEG = "MarketSegment must be a known segment"
_MSG_BUILDING = "BUILDING customers require an account balance of at least 100"

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def customer_rules() -> list[Rule]:
    segments = ", ".join(sql_str(s) for s in _SEGMENTS)
    return [
        Rule("acctbal_nonnegative", _MSG_NEG, "c_acctbal >= 0"),
        Rule("name_format", _MSG_NAME,
             "c_name RLIKE " + sql_str(r"^Customer#[0-9]{9}$")),
        Rule("segment_enum", _MSG_SEG, f"c_mktsegment IN ({segments})"),
        Rule("building_min_balance", _MSG_BUILDING, "c_acctbal >= 100",
             applies_when="c_mktsegment = 'BUILDING'"),
    ]


def _validate_customer_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    failing = failing_records(cust, rules=customer_rules())
    return failing.select(
        "c_custkey",
        F.array_join("__errors", ", ").alias("error_desc"),
        F.size("__errors").alias("n_errors"),
    )


_VALIDATE_SQL = f"""
WITH checked AS (
  SELECT c_custkey,
         CASE WHEN NOT coalesce(c_acctbal >= 0, FALSE) THEN '{_MSG_NEG}' END AS e1,
         CASE WHEN NOT coalesce(regexp_matches(c_name, '^Customer#[0-9]{{9}}$'), FALSE) THEN '{_MSG_NAME}' END AS e2,
         CASE WHEN NOT coalesce(c_mktsegment IN {_SEGMENTS!r}, FALSE) THEN '{_MSG_SEG}' END AS e3,
         CASE WHEN c_mktsegment = 'BUILDING' AND NOT coalesce(c_acctbal >= 100, FALSE) THEN '{_MSG_BUILDING}' END AS e4
  FROM customer
)
SELECT c_custkey,
       concat_ws(', ', e1, e2, e3, e4) AS error_desc,
       CAST((e1 IS NOT NULL)::INT + (e2 IS NOT NULL)::INT
          + (e3 IS NOT NULL)::INT + (e4 IS NOT NULL)::INT AS INT) AS n_errors
FROM checked
WHERE e1 IS NOT NULL OR e2 IS NOT NULL OR e3 IS NOT NULL OR e4 IS NOT NULL
"""


def _validate_error_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    # Per-rule counter aggregation instead of array+explode+groupBy:
    # same (error_desc, error_count) rows, but each rule evaluates ONCE
    # per row inside whole-stage codegen (the explode form re-evaluates
    # the interpreted array in an optimizer-inferred size()>0 filter —
    # see operators/validate.summarize_rule_violations).
    return summarize_rule_violations(cust, rules=customer_rules())


_SUMMARY_SQL = f"""
WITH counts AS (
  SELECT '{_MSG_NEG}' AS error_desc,
         CAST(SUM(CASE WHEN NOT coalesce(c_acctbal >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS error_count
  FROM customer
  UNION ALL
  SELECT '{_MSG_NAME}',
         CAST(SUM(CASE WHEN NOT coalesce(regexp_matches(c_name, '^Customer#[0-9]{{9}}$'), FALSE) THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT '{_MSG_SEG}',
         CAST(SUM(CASE WHEN NOT coalesce(c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), FALSE) THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT '{_MSG_BUILDING}',
         CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' AND NOT coalesce(c_acctbal >= 100, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
)
SELECT error_desc, error_count FROM counts WHERE error_count > 0
"""

# ---------------------------------------------------------------------------
# Reconciliation (J3/T1/T2/A4): two deterministically-constructed error
# sides over customer keys, compared with the reference's asymmetric
# token-set semantics (CSV ⊆ DB passes; PIPE:953-966).
# ---------------------------------------------------------------------------


def _build_error_sides(cust: DataFrame) -> tuple[DataFrame, DataFrame]:
    key = F.col("c_custkey")
    csv = (
        cust.filter(key % 7 == 0)
        .select(
            key.alias("PayeeId"),
            F.when(key % 21 == 0, F.lit("ERR_A, ERR_B"))
            .otherwise(F.lit("ERR_A"))
            .alias("ERROR_DESC"),
        )
    )
    db_a = (
        cust.filter((key % 7 == 0) & (key % 35 != 0))
        .select(
            key.alias("PAYEE_ID"),
            F.when(key % 49 == 0, F.lit("ERR_C"))
            .otherwise(F.lit("ERR_A, ERR_B"))
            .alias("ERROR_DESC"),
        )
    )
    db_b = (
        cust.filter((key % 11 == 0) & (key % 7 != 0))
        .select(key.alias("PAYEE_ID"), F.lit("ERR_D").alias("ERROR_DESC"))
    )
    return csv, db_a.unionAll(db_b)


def _reconcile_error_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    csv, db = _build_error_sides(cust)
    res = reconcile_errors(csv, db)
    tag = lambda df, status: df.select(  # noqa: E731
        F.col("payee_id").alias("payee_id"), F.lit(status).alias("status")
    )
    return (
        tag(res.matched, "matched")
        .unionAll(tag(res.mismatched, "mismatched"))
        .unionAll(tag(res.missing_in_db, "missing_in_db"))
        .unionAll(tag(res.missing_in_csv, "missing_in_csv"))
    )


_RECONCILE_SQL = """
WITH csv_side AS (
  SELECT c_custkey AS payee_id,
         CASE WHEN c_custkey % 21 = 0 THEN 'ERR_A, ERR_B' ELSE 'ERR_A' END AS error_desc
  FROM customer WHERE c_custkey % 7 = 0
), db_side AS (
  SELECT c_custkey AS payee_id,
         CASE WHEN c_custkey % 49 = 0 THEN 'ERR_C' ELSE 'ERR_A, ERR_B' END AS error_desc
  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 35 <> 0
  UNION ALL
  SELECT c_custkey, 'ERR_D' FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
), csv_tok AS (
  SELECT payee_id,
         list_sort(list_distinct(list_transform(string_split(error_desc, ','), t -> trim(t)))) AS tokens
  FROM csv_side GROUP BY payee_id, error_desc
), db_tok AS (
  SELECT payee_id,
         list_sort(list_distinct(flatten(list(list_transform(string_split(error_desc, ','), t -> trim(t)))))) AS tokens
  FROM db_side GROUP BY payee_id
)
SELECT coalesce(c.payee_id, d.payee_id) AS payee_id,
       CASE WHEN d.tokens IS NULL THEN 'missing_in_db'
            WHEN c.tokens IS NULL THEN 'missing_in_csv'
            WHEN len(list_filter(c.tokens, t -> NOT list_contains(d.tokens, t))) > 0 THEN 'mismatched'
            ELSE 'matched' END AS status
FROM csv_tok c FULL OUTER JOIN db_tok d ON c.payee_id = d.payee_id
"""

# ---------------------------------------------------------------------------
# The real engine on its native schema: distributed seeded generation →
# full 40+-rule catalog in one projection → error summary. The oracle
# (queries/bankdata_oracle.py) regenerates the identical table in DuckDB
# SQL from the same id-keyed arithmetic, applies the same INJECTIONS
# spec, and mirrors every rule predicate — a fully independent
# cross-engine recomputation, no staged files.
# ---------------------------------------------------------------------------


def _injected_columns(seed: int, cols: tuple[str, ...]) -> list[str]:
    """``cols`` minus ``id``, with the ``INJECTIONS`` overrides, as SQL
    ``<expr> AS <name>`` items."""
    key = injection_key_sql(seed)
    overrides: dict[str, str] = {}
    for lo, hi, col, val in INJECTIONS:
        overrides[col] = (f"CASE WHEN {key} BETWEEN {lo} AND {hi} THEN "
                          f"{sql_str(val)} ELSE {overrides.get(col, col)} END")
    return [f"{overrides.get(c, c)} AS {c}" for c in cols if c != "id"]


def _bankdata_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf_dir scales the generated row count so bench stresses the rule
    # engine at the same order of magnitude as the relational queries.
    # The oracle pins n=20k, matching every non-bench sf (the driver's
    # correctness gate runs at sf0.01).
    n = 200_000 if sf_dir.rstrip("/").endswith("sf0.1") else 20_000
    df = generate_bankdata_distributed(spark, n=n, seed=246, keep_id=True)
    # Deterministic violation injection keyed on the generator's own id
    # stream (partitioning-independent, SQL-expressible): mirrors the
    # reference's --invalid-values scenarios (PIPE:3113-3244) at scale,
    # firing nearly every rule family. All overrides go in ONE select —
    # chained withColumn calls re-analyze the plan per column. Each
    # override wraps its generated column exactly once, so the combined
    # generate+inject projection grows only linearly and plans fine
    # without a barrier in between (measured: one barrier is ~1.3 s
    # faster per run than two at n=200k).
    df = df.selectExpr(*_injected_columns(246, tuple(df.columns)))
    # Lineage barrier AFTER injection: without it Catalyst inlines the
    # generate+inject CASE trees into every one of the ~50 rule
    # expressions and the optimizer blows up super-linearly (observed:
    # minutes of planning). The barrier materializes only n small rows;
    # in production the input is a real table, so it is free.
    df = df.localCheckpoint(eager=False)
    # Per-rule counter aggregation: each of the ~50 rules evaluates ONCE
    # per row in a single codegen'd map-side aggregation. The previous
    # array+explode form paid the whole catalog twice (optimizer-inferred
    # size()>0 filter below the explode) and ran interpreted
    # (array_compact's lambda blocks codegen) — measured ~2x at n=200k;
    # see operators/validate.summarize_rule_violations.
    return summarize_rule_violations(df)


# ---------------------------------------------------------------------------
# Declarative table expectations (operators/expectations.py): the
# whole check suite — requiredness, uniqueness, domain, range, format —
# compiled into ONE aggregation job over the table, reported as one
# row per check with the violation share in ppm. unique(o_custkey) is
# deliberately included as a FAILING check (customers repeat across
# orders) so the violation path is non-vacuous.
# ---------------------------------------------------------------------------


def _orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_validator_github_spark.operators.expectations import (
        expect_between,
        expect_in_set,
        expect_matches,
        expect_not_null,
        expect_unique,
        run_expectations,
    )

    orders = load(spark, sf_dir, "orders")
    return run_expectations(orders, [
        expect_not_null("o_orderkey"),
        expect_unique("o_orderkey"),
        expect_unique("o_custkey"),          # fails: customers repeat
        expect_in_set("o_orderstatus", ("O", "F", "P")),
        expect_between("o_totalprice", 0.0, 10_000_000.0),
        expect_matches("o_orderpriority", "^[1-5]-"),
    ])


_EXPECTATIONS_SQL = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey)
              - CASE WHEN COUNT(*) - COUNT(o_orderkey) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS v_uniq_ok,
         CAST(COUNT(*) - COUNT(DISTINCT o_custkey)
              - CASE WHEN COUNT(*) - COUNT(o_custkey) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS v_uniq_ck,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_null_ok,
         CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'),
                                     FALSE) THEN 0 ELSE 1 END)
              AS BIGINT) AS v_set,
         CAST(SUM(CASE WHEN COALESCE(o_totalprice >= 0.0
                                     AND o_totalprice <= 10000000.0,
                                     FALSE) THEN 0 ELSE 1 END)
              AS BIGINT) AS v_range,
         CAST(SUM(CASE WHEN COALESCE(
                  regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)
                  THEN 0 ELSE 1 END) AS BIGINT) AS v_re
  FROM orders
)
SELECT "check", "column", n_rows, n_violations,
       CAST((1000000 * n_violations) // n_rows AS INT) AS violation_ppm
FROM (
  SELECT 'not_null(o_orderkey)' AS "check", 'o_orderkey' AS "column",
         n_rows, v_null_ok AS n_violations FROM agg
  UNION ALL
  SELECT 'unique(o_orderkey)', 'o_orderkey', n_rows, v_uniq_ok FROM agg
  UNION ALL
  SELECT 'unique(o_custkey)', 'o_custkey', n_rows, v_uniq_ck FROM agg
  UNION ALL
  SELECT 'in_set(o_orderstatus)', 'o_orderstatus', n_rows, v_set FROM agg
  UNION ALL
  SELECT 'between(o_totalprice)', 'o_totalprice', n_rows, v_range FROM agg
  UNION ALL
  SELECT 'matches(o_orderpriority)', 'o_orderpriority', n_rows, v_re
  FROM agg
) t
"""


VALIDATION_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        Query("orders_expectations", _orders_expectations,
              _EXPECTATIONS_SQL,
              "Great-Expectations-shaped table checks compiled into ONE "
              "aggregation job (requiredness/uniqueness/domain/range/"
              "format), violations in ppm; the failing unique(o_custkey) "
              "check keeps the violation path non-vacuous."),
        Query("validate_customer_rules", _validate_customer_rules, _VALIDATE_SQL,
              "Rule catalog → single-projection error lists (§2.8 machinery)."),
        Query("validate_error_summary", _validate_error_summary, _SUMMARY_SQL,
              "Error frequency rollup over the rule engine output."),
        Query("reconcile_error_sets", _reconcile_error_sets, _RECONCILE_SQL,
              "CSV↔DB token-set reconciliation (J3/T1/T2, PIPE:932-967)."),
        Query("bankdata_validate", _bankdata_validate, bankdata_oracle_sql(),
              "Full bank-rule catalog on distributed generated data; the "
              "oracle independently regenerates + revalidates in DuckDB.",
              bench=True),
    ]
}
