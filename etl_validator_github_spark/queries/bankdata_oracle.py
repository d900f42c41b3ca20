"""Self-contained DuckDB oracle for ``bankdata_validate``.

The distributed generator (generator.py:243) derives every field from the
row id with multiplicative hashing — pure, partitioning-independent
arithmetic. That makes the whole pipeline (generate → inject violations →
validate → summarize) re-expressible as ONE DuckDB SQL statement: the
oracle regenerates the identical table from ``range(n)``, applies the same
value injections, evaluates a hand-translated mirror of the full rule
catalog (operators/rules.py), and rolls up error counts. No staged files,
no execution-order dependency between the Spark query and the oracle.

Two single-source-of-truth contracts keep the mirrors honest:

- ``INJECTIONS`` below drives BOTH the Spark build (queries/validation.py)
  and the SQL builder, so the violation mix can't drift.
- The name pools / charset strings are imported from generator.py and
  functions/core.py, so literal tables can't drift.

The rule-predicate translation itself is hand-written (like the
``validate_customer_rules`` oracle) and pinned by value-level parity at
n=20k in tests/test_oracle_parity.py — the injections deliberately fire
nearly every rule family so a mistranslation shows up as a count diff.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_validator_github_spark.functions.core import (
    ALNUM_CHARS,
    ALPHA_CHARS,
    NAME_CHARS,
    PHONE_CHARS,
    SAFE_CHARS,
)
from etl_validator_github_spark.generator import (
    id_hash_sql,
    _CITIES,
    _FIRST_NAMES,
    _LAST_NAMES,
    _ORG_NAMES,
    _STATES,
    _STREETS,
)
from etl_validator_github_spark.operators import rules as R
from etl_validator_github_spark.schema import R_BLANK_FIELDS

#: Deterministic violation injections: (key_lo, key_hi, column, value).
#: key = h(100) % 1000 over the row id (~20 rows per key unit at n=20k).
#: Ranges are disjoint so injections never interact; together they fire
#: nearly every rule family in the catalog (mirroring the reference's
#: --invalid-values scenarios, PIPE:3113-3244, at scale).
INJECTIONS: tuple[tuple[int, int, str, str], ...] = (
    (0, 19, "RoutingTransitNumber", "54321"),
    (20, 29, "RecordOperation", "Z"),
    (30, 39, "PostalCode", "123"),
    (40, 49, "AccountType", "checking"),
    (50, 54, "OrganizationTIN", "12AB3"),
    (55, 59, "OrganizationTINType", "EINX"),
    (60, 64, "ProfitNonprofit", "Y"),
    (65, 69, "OrganizationNPI", "0123456789"),
    (70, 74, "EffectiveEndDate", "2025-01-01"),
    (75, 79, "EffectiveStartDate", "2026-13-45"),
    (80, 84, "State", "X1"),
    (85, 89, "CityName", "Bad$City!"),
    (90, 94, "ContactFirstName", "John123"),
    (95, 99, "ContactPhone", "123ABC4567"),
    (100, 104, "AddressCode", "PMT"),
    (105, 109, "AccountNumber", "1"),
    (110, 114, "PayeeID", "XYZ!"),
    (115, 119, "ContactEmail", "a" * 100 + "@x.com"),
    (120, 124, "ContactTitle", "An Exceedingly Long Contact Title"),
    (125, 129, "OrganizationName",
     "An Organization Name That Is Much Longer Than Forty Characters"),
    (130, 134, "OrganizationIdentifier", "AB"),
)

_INJ_KEY_K = 100  # h() stream index reserved for the injection key
_MOD = 2147483647


def injection_key_sql(seed: int) -> str:
    """Spark SQL mirror of the oracle's injection key: h(100) % 1000 over id."""
    return f"{id_hash_sql(_INJ_KEY_K, seed)} % 1000"


def injection_key_expr(seed: int) -> Column:
    """``injection_key_sql`` as a Column."""
    return F.expr(injection_key_sql(seed))


# --------------------------------------------------------------------------
# SQL builders
# --------------------------------------------------------------------------


def _h(k: int, seed: int) -> str:
    """DuckDB mirror of generator.id_hash_sql — all operands positive, so
    DuckDB's % equals Spark's pmod."""
    a = 2654435761 + 40503 * k
    b = 97 * k
    return f"(((id + {seed}) * {a} + {b}) % {_MOD})"


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _arr(pool: tuple[str, ...], idx_sql: str) -> str:
    """1-based list indexing, same as Spark's element_at."""
    items = ", ".join(_sq(x) for x in pool)
    return f"([{items}])[CAST({idx_sql} AS INT)]"


def _generator_sql(n: int, seed: int, as_of: str) -> str:
    """Regenerate generate_bankdata_distributed(n, seed) in DuckDB SQL.

    Field-for-field mirror of generator._build_bankdata_columns; layered
    CTEs stand in for Spark's nested column expressions (org/mode feed
    later fields).
    """
    h = lambda k: _h(k, seed)  # noqa: E731
    return f"""
ids AS (SELECT range AS id FROM range(0, {n})),
g1 AS (
  SELECT id,
         CASE WHEN {h(1)} % 10 = 0 THEN 'R'
              WHEN {h(1)} % 3 = 0 THEN 'M'
              WHEN {h(1)} % 3 = 1 THEN 'D'
              ELSE 'P' END AS org
  FROM ids
),
g2 AS (
  SELECT id, org,
         CASE WHEN org = 'M' THEN 'EFT'
              WHEN {h(2)} % 2 = 0 THEN 'EFT'
              ELSE 'CHK' END AS mode,
         CASE WHEN org = 'M' THEN 'MFR' || CAST(id % 900000 + 10 AS VARCHAR)
              WHEN org = 'D' THEN 'DISP' || CAST(id % 90000 + 10 AS VARCHAR)
              WHEN org = 'P' THEN 'PC' || CAST(id % 9000000 + 10 AS VARCHAR)
              ELSE 'R' || CAST(id % 90000000 + 10 AS VARCHAR) END AS payee
  FROM g1
),
gen AS (
  SELECT
    CASE WHEN {h(5)} % 2 = 0 THEN 'A' ELSE 'D' END AS RecordOperation,
    org AS OrganizationCode,
    payee AS PayeeID,
    CASE WHEN org = 'R'
         THEN lpad(CAST({h(3)} % 1000000000 + id AS VARCHAR), 10, '1')
         ELSE payee END AS OrganizationIdentifier,
    {_arr(_ORG_NAMES, f"{h(6)} % {len(_ORG_NAMES)} + 1")} AS OrganizationName,
    {_arr(_ORG_NAMES, f"{h(6)} % {len(_ORG_NAMES)} + 1")} AS OrganizationLegalName,
    CASE WHEN org = 'R' THEN ''
         ELSE lpad(CAST({h(4)} % 1000000000 AS VARCHAR), 9, '0') END AS OrganizationTIN,
    CASE WHEN org = 'R' THEN ''
         WHEN {h(7)} % 2 = 0 THEN 'EIN' ELSE 'SSN' END AS OrganizationTINType,
    CASE WHEN org = 'R' THEN ''
         WHEN {h(8)} % 2 = 0 THEN 'P' ELSE 'NP' END AS ProfitNonprofit,
    CASE WHEN org = 'R' OR {h(9)} % 5 = 0 THEN ''
         ELSE CAST({h(9)} % 9 + 1 AS VARCHAR)
              || lpad(CAST({h(10)} % 1000000000 AS VARCHAR), 9, '0')
         END AS OrganizationNPI,
    CASE WHEN org = 'R' THEN '' ELSE mode END AS PaymentMode,
    CASE WHEN org <> 'R' AND mode = 'EFT'
         THEN lpad(CAST({h(11)} % 1000000000 AS VARCHAR), 9, '0')
         ELSE '' END AS RoutingTransitNumber,
    CASE WHEN org <> 'R' AND mode = 'EFT'
         THEN CAST({h(12)} % 900000 + 100000 AS VARCHAR)
         ELSE '' END AS AccountNumber,
    CASE WHEN org <> 'R' AND mode = 'EFT' AND {h(13)} % 2 = 0 THEN 'CHKING'
         WHEN org <> 'R' AND mode = 'EFT' THEN 'SAVING'
         ELSE '' END AS AccountType,
    '{as_of}' AS EffectiveStartDate,
    CASE WHEN {h(14)} % 5 = 0
         THEN CAST(DATE '{as_of}' + CAST({h(15)} % 90 + 1 AS INT) AS VARCHAR)
         ELSE '' END AS EffectiveEndDate,
    CASE WHEN org = 'R' THEN ''
         WHEN org = 'M' THEN (CASE WHEN {h(16)} % 2 = 0 THEN 'COR' ELSE '' END)
         WHEN mode = 'EFT' THEN 'COR'
         ELSE 'PMT' END AS AddressCode,
    CASE WHEN org = 'R' THEN ''
         ELSE CAST({h(17)} % 9999 + 1 AS VARCHAR) || ' '
              || {_arr(_STREETS, f"{h(18)} % {len(_STREETS)} + 1")}
         END AS AddressLine1,
    '' AS AddressLine2,
    CASE WHEN org = 'R' THEN ''
         ELSE {_arr(_CITIES, f"{h(19)} % {len(_CITIES)} + 1")} END AS CityName,
    CASE WHEN org = 'R' THEN ''
         ELSE {_arr(_STATES, f"{h(20)} % {len(_STATES)} + 1")} END AS State,
    CASE WHEN org = 'R' THEN ''
         ELSE CAST({h(21)} % 90000 + 10000 AS VARCHAR) END AS PostalCode,
    CASE WHEN {h(22)} % 2 = 0 THEN 'AO' ELSE 'DO' END AS ContactCode,
    CASE WHEN org = 'R' THEN ''
         ELSE {_arr(_FIRST_NAMES, f"{h(23)} % {len(_FIRST_NAMES)} + 1")}
         END AS ContactFirstName,
    CASE WHEN org = 'R' THEN ''
         ELSE {_arr(_LAST_NAMES, f"{h(24)} % {len(_LAST_NAMES)} + 1")}
         END AS ContactLastName,
    '' AS ContactTitle,
    CAST({h(25)} % 700 + 200 AS VARCHAR) || '-'
      || CAST({h(26)} % 800 + 200 AS VARCHAR) || '-'
      || CAST({h(27)} % 9000 + 1000 AS VARCHAR) AS ContactPhone,
    '' AS ContactFax,
    '' AS ContactOtherPhone,
    'user' || CAST(id AS VARCHAR) || '@example.com' AS ContactEmail,
    {_h(_INJ_KEY_K, seed)} % 1000 AS inj_key
  FROM g2
)"""


def _injection_sql() -> str:
    """The inj CTE: apply INJECTIONS on top of gen, keyed on inj_key."""
    overrides: dict[str, list[tuple[int, int, str]]] = {}
    for lo, hi, col, val in INJECTIONS:
        overrides.setdefault(col, []).append((lo, hi, val))
    cols = []
    for col in _BANK_COLUMNS:
        if col in overrides:
            whens = " ".join(
                f"WHEN inj_key BETWEEN {lo} AND {hi} THEN {_sq(val)}"
                for lo, hi, val in overrides[col]
            )
            cols.append(f"CASE {whens} ELSE {col} END AS {col}")
        else:
            cols.append(col)
    return "inj AS (SELECT " + ", ".join(cols) + " FROM gen)"


# -- rule-predicate mirrors (operators/rules.py, same order) ---------------

_BANK_COLUMNS = (
    "RecordOperation", "OrganizationCode", "PayeeID",
    "OrganizationIdentifier", "OrganizationName", "OrganizationLegalName",
    "OrganizationTIN", "OrganizationTINType", "ProfitNonprofit",
    "OrganizationNPI", "PaymentMode", "RoutingTransitNumber",
    "AccountNumber", "AccountType", "EffectiveStartDate",
    "EffectiveEndDate", "AddressCode", "AddressLine1", "AddressLine2",
    "CityName", "State", "PostalCode", "ContactCode", "ContactFirstName",
    "ContactLastName", "ContactTitle", "ContactPhone", "ContactFax",
    "ContactOtherPhone", "ContactEmail",
)

_DIGITS = "0123456789"


def _bl(c: str) -> str:
    return f"(coalesce(trim({c}), '') = '')"


def _nb(c: str) -> str:
    return f"(coalesce(trim({c}), '') <> '')"


def _only(c: str, allowed: str) -> str:
    return f"(translate(coalesce({c}, ''), {_sq(allowed)}, '') = '')"


def _dexact(c: str, n: int) -> str:
    return f"(length({c}) = {n} AND {_only(c, _DIGITS)})"


def _dbetween(c: str, lo: int, hi: int) -> str:
    return f"(length({c}) BETWEEN {lo} AND {hi} AND {_only(c, _DIGITS)})"


def _date_ok(c: str) -> str:
    return (
        f"(CASE WHEN regexp_matches({c}, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$') "
        f"THEN try_cast({c} AS DATE) IS NOT NULL ELSE FALSE END)"
    )


_MDP = "(OrganizationCode IN ('M', 'D', 'P'))"
_DP = "(OrganizationCode IN ('D', 'P'))"
_IS_R = "(OrganizationCode = 'R')"
_EFT = f"({_MDP} AND PaymentMode = 'EFT')"
_CHK = f"({_MDP} AND PaymentMode = 'CHK')"


def _rule_mirrors() -> list[tuple[str, str, str | None]]:
    """(message, valid_sql, applies_sql) per catalog rule, same order as
    operators/rules.py:bankdata_rules."""
    rules: list[tuple[str, str, str | None]] = [
        ("RecordOperation must be one of A, C or D",
         "RecordOperation IN ('A', 'C', 'D')", None),
        ("OrganizationCode must be one of M, D, P or R",
         "OrganizationCode IN ('M', 'D', 'P', 'R')", None),
        ("PayeeID must be 2 to 9 characters",
         f"({_nb('PayeeID')} AND length(PayeeID) BETWEEN 2 AND 9)", None),
        ("PayeeID must be alphanumeric with a valid organization prefix",
         "(CASE WHEN OrganizationCode = 'M' THEN regexp_matches(PayeeID, '^MFR[0-9]{1,6}$') "
         "WHEN OrganizationCode = 'D' THEN regexp_matches(PayeeID, '^DISP[0-9]{1,5}$') "
         "WHEN OrganizationCode = 'P' THEN regexp_matches(PayeeID, '^PC[0-9]{1,7}$') "
         "ELSE regexp_matches(PayeeID, '^[A-Za-z0-9]{2,9}$') END)",
         "OrganizationCode IN ('M', 'D', 'P', 'R')"),
        ("PayeeID must match OrganizationIdentifier for M, D and P records",
         "(PayeeID = OrganizationIdentifier)", _MDP),
        ("PayeeID must differ from OrganizationIdentifier for R records",
         "(PayeeID <> OrganizationIdentifier)", _IS_R),
        ("OrganizationIdentifier must be 3 to 12 alphanumeric characters",
         f"(length(OrganizationIdentifier) BETWEEN 3 AND 12 "
         f"AND {_only('OrganizationIdentifier', ALNUM_CHARS)} "
         f"AND {_nb('OrganizationIdentifier')})", None),
        ("OrganizationName must be at most 40 characters without special characters",
         f"({_nb('OrganizationName')} AND length(OrganizationName) <= 40 "
         f"AND {_only('OrganizationName', SAFE_CHARS)})", None),
        ("OrganizationLegalName must be at most 40 characters without special characters",
         f"(length(coalesce(OrganizationLegalName, '')) <= 40 "
         f"AND {_only('OrganizationLegalName', SAFE_CHARS)})", None),
        ("OrganizationTIN is required for D and P records",
         _nb("OrganizationTIN"), _DP),
        ("OrganizationTIN must be 9 numeric digits",
         _dexact("OrganizationTIN", 9),
         f"({_MDP} AND {_nb('OrganizationTIN')})"),
        (R.MSG_TINTYPE_LENGTH,
         "(length(OrganizationTINType) = 3)",
         f"({_MDP} AND {_nb('OrganizationTINType')})"),
        (R.MSG_TINTYPE_INVALID,
         "(OrganizationTINType IN ('EIN', 'SSN'))",
         f"({_MDP} AND {_nb('OrganizationTINType')})"),
        ("OrganizationTINType is required for D and P records",
         _nb("OrganizationTINType"), _DP),
        ("ProfitNonprofit must be P or NP",
         "(ProfitNonprofit IN ('P', 'NP'))",
         f"({_MDP} AND {_nb('ProfitNonprofit')})"),
        ("ProfitNonprofit is required for D and P records",
         _nb("ProfitNonprofit"), _DP),
        ("OrganizationNPI must be 10 numeric digits starting with a non-zero digit",
         f"({_dexact('OrganizationNPI', 10)} AND NOT starts_with(OrganizationNPI, '0'))",
         _nb("OrganizationNPI")),
        ("PaymentMode must be EFT or CHK",
         "(PaymentMode IN ('EFT', 'CHK'))", _MDP),
        (R.MSG_RTN_9_DIGITS, "(length(RoutingTransitNumber) = 9)", _EFT),
        (R.MSG_RTN_NUMERIC_EFT, _dexact("RoutingTransitNumber", 9), _EFT),
        (R.MSG_CHK_RTN_BLANK, _bl("RoutingTransitNumber"), _CHK),
        ("AccountNumber must be 2 to 17 numeric digits for EFT records",
         _dbetween("AccountNumber", 2, 17), _EFT),
        ("For PaymentMode CHK, AccountNumber must be blank",
         _bl("AccountNumber"), _CHK),
        ("AccountType must be CHKING or SAVING for EFT records",
         "(AccountType IN ('CHKING', 'SAVING'))", _EFT),
        ("For PaymentMode CHK, AccountType must be blank",
         _bl("AccountType"), _CHK),
        ("EffectiveStartDate is required", _nb("EffectiveStartDate"), _MDP),
        ("EffectiveStartDate must be a valid date in YYYY-MM-DD format",
         _date_ok("EffectiveStartDate"), _nb("EffectiveStartDate")),
        ("EffectiveEndDate must be a valid date in YYYY-MM-DD format",
         _date_ok("EffectiveEndDate"), _nb("EffectiveEndDate")),
        ("EffectiveEndDate must not be before EffectiveStartDate",
         "(try_cast(EffectiveEndDate AS DATE) >= try_cast(EffectiveStartDate AS DATE))",
         f"({_nb('EffectiveEndDate')} AND {_nb('EffectiveStartDate')} "
         f"AND {_date_ok('EffectiveEndDate')} AND {_date_ok('EffectiveStartDate')})"),
        ("AddressCode must be PMT or COR",
         "(AddressCode IN ('PMT', 'COR'))",
         f"({_MDP} AND {_nb('AddressCode')})"),
        ("AddressCode must be PMT for CHK and COR for EFT on D and P records",
         "((PaymentMode = 'CHK' AND AddressCode = 'PMT') "
         "OR (PaymentMode = 'EFT' AND AddressCode = 'COR'))",
         f"({_DP} AND {_nb('AddressCode')} AND PaymentMode IN ('EFT', 'CHK'))"),
        ("State must be exactly 2 characters",
         f"(length(State) = 2 AND {_only('State', ALPHA_CHARS)})",
         _nb("State")),
        ("PostalCode must be 5 to 10 alphanumeric characters",
         f"(length(PostalCode) BETWEEN 5 AND 10 AND {_only('PostalCode', ALNUM_CHARS)})",
         _nb("PostalCode")),
        ("CityName must be at most 25 characters without special characters",
         f"(length(CityName) <= 25 AND {_only('CityName', SAFE_CHARS)})",
         _nb("CityName")),
        ("ContactFirstName is required for D and P records",
         _nb("ContactFirstName"), _DP),
        ("ContactLastName is required for D and P records",
         _nb("ContactLastName"), _DP),
        ("ContactFirstName must be at most 20 characters without digits or special characters",
         f"(length(ContactFirstName) <= 20 AND {_only('ContactFirstName', NAME_CHARS)})",
         _nb("ContactFirstName")),
        ("ContactLastName must be at most 25 characters without digits or special characters",
         f"(length(ContactLastName) <= 25 AND {_only('ContactLastName', NAME_CHARS)})",
         _nb("ContactLastName")),
        ("ContactCode must be at most 2 characters",
         "(length(ContactCode) <= 2)", _nb("ContactCode")),
        ("ContactTitle must be at most 23 characters",
         "(length(ContactTitle) <= 23)", _nb("ContactTitle")),
    ]
    for phone in ("ContactPhone", "ContactFax", "ContactOtherPhone"):
        rules.append((
            f"{phone} must be at most 25 characters with digits and separators only",
            f"(length({phone}) <= 25 AND {_only(phone, PHONE_CHARS)})",
            _nb(phone),
        ))
    rules.append((
        "ContactEmail must be at most 99 characters",
        "(length(ContactEmail) <= 99)", _nb("ContactEmail"),
    ))
    for core in ("RecordOperation", "OrganizationCode", "PayeeID",
                 "OrganizationIdentifier", "OrganizationTIN",
                 "OrganizationTINType", "ProfitNonprofit", "OrganizationNPI",
                 "PaymentMode", "AccountNumber"):
        rules.append((
            f"{core} must not contain special characters",
            _only(core, ALNUM_CHARS + " "), _nb(core),
        ))
    all_blank = " AND ".join(_bl(f) for f in R_BLANK_FIELDS)
    rules.append((R.MSG_R_ALL_BLANK, f"({all_blank})", _IS_R))
    return rules


def _violation(valid: str, applies: str | None) -> str:
    v = f"NOT coalesce({valid}, FALSE)"
    if applies is not None:
        return f"(coalesce({applies}, FALSE) AND {v})"
    return f"({v})"


def bankdata_oracle_sql(n: int = 20_000, seed: int = 246,
                        as_of: str = "2026-03-10") -> str:
    """Full oracle: regenerate → inject → validate → summarize.

    ``n`` must match the Spark build at the driver's correctness SF
    (sf0.01 → 20k; queries/validation.py uses 200k only for the sf0.1
    bench, which the oracle never sees).
    """
    cases = ",\n      ".join(
        f"CASE WHEN {_violation(valid, applies)} THEN {_sq(msg)} END"
        for msg, valid, applies in _rule_mirrors()
    )
    return f"""
WITH {_generator_sql(n, seed, as_of)},
{_injection_sql()}
SELECT error_desc, CAST(count(*) AS BIGINT) AS error_count
FROM (
  SELECT unnest(list_filter([
      {cases}
  ], x -> x IS NOT NULL)) AS error_desc
  FROM inj
)
GROUP BY error_desc
ORDER BY error_desc
"""
