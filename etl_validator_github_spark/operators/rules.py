"""Declarative validation-rule catalog (SURVEY.md §2.8, rules R1-R25).

Each rule is (name, applies_when, valid_predicate, error message). A row
violates a rule when ``applies_when`` holds and ``valid_predicate`` does
not. Both predicates are Spark SQL text. The whole catalog compiles into ONE
projection producing an ``array<string>`` of error messages — a single
map-only pass over the data, no per-rule shuffles (SURVEY §4). That
projection runs outside whole-stage codegen, because ``array_compact``
lowers to a lambda; the boolean gate (``compile_any_violation``) and the
per-rule counters (``validate.summarize_rule_violations``) stay inside it.

Rule semantics are recovered from three mutually reinforcing public
sources in the reference repo:
- the generator's business rules (newaugsver_clean.py:289-480 defines
  what "valid" data looks like),
- the tests' injected violations (tests/test_*.py documents each rule),
- literal Glue ERROR_DESC strings preserved in evidence files
  (test_output/.../mtfdm_dev2_dmbankerrorfile_*.csv).

The four evidence-preserved message strings are reproduced verbatim; all
other messages are authored once in the same style and treated as golden.
The reference's own comparator is token-set based and order-insensitive
(DM_bankfile_validate_pipeline.py:817-830), mirrored in
operators/reconcile.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_validator_github_spark.functions.core import (
    ALNUM_CHARS,
    ALPHA_CHARS,
    NAME_CHARSET_RE,
    PHONE_CHARSET_RE,
    charset_ok,
    digits_between,
    digits_exactly,
    is_blank,
    not_blank,
    only_chars,
    sql_str,
)
from etl_validator_github_spark.schema import R_BLANK_FIELDS

# Resolved constraint conflicts (SURVEY §7.4 hard-part 4): the reference
# carries a second, partially contradictory constraints table inside its
# min/max scenario (DM_bankfile_validate_pipeline.py:3350-3378). Where
# the two disagree, the GENERATOR + preserved error evidence win:
# - ProfitNonprofit: P/NP (GEN:139, 411-417) — NOT the test-doc's "Y or N".
# - ContactCode: AO/DO (GEN:152) — NOT the scenario table's PRIM/SEC.
# - AccountNumber: 1..17 chars (GEN:49; we require >=2 per the
#   single-digit-invalid tests) — NOT the scenario table's 6..12.
# Each divergent rule below cites its generator/evidence source.

# Literal ERROR_DESC strings preserved in reference evidence files
# (see SURVEY.md §2.8). Verbatim — do not edit.
MSG_RTN_9_DIGITS = "RoutingTransitNumber must be 9 digits"
MSG_RTN_NUMERIC_EFT = (
    "RoutingTransitNumber should be numeric for M, D and P records "
    "with payment type as EFT."
)
MSG_R_ALL_BLANK = "For OrgCode R, all banking/address fields must be completely blank"
MSG_CHK_RTN_BLANK = "For PaymentMode CHK, RoutingTransitNumber must be blank"
MSG_TINTYPE_LENGTH = "OrganizationTinType invalid length for non-R records"
MSG_TINTYPE_INVALID = "Invalid OrganizationTinType for non-R records"


@dataclass(frozen=True)
class Rule:
    """One validation rule.

    ``valid`` and ``applies_when`` are Spark SQL boolean expressions over
    the row's columns, so the catalog is plain data that needs no
    SparkSession. A row fails the rule iff ``applies_when AND NOT valid``
    (null-safe: a NULL predicate counts as not-valid when the rule applies).
    """

    name: str
    message: str
    valid: str
    applies_when: str | None = None

    def violation_sql(self) -> str:
        """Boolean SQL: the rule applies and the row is not valid."""
        ok = f"coalesce({self.valid}, false)"
        if self.applies_when is not None:
            return f"(coalesce({self.applies_when}, false) AND NOT {ok})"
        return f"(NOT {ok})"

    def error_sql(self) -> str:
        return f"CASE WHEN {self.violation_sql()} THEN {sql_str(self.message)} END"


_MDP = "OrganizationCode IN ('M', 'D', 'P')"
_DP = "OrganizationCode IN ('D', 'P')"
_IS_R = "OrganizationCode = 'R'"
_EFT = f"{_MDP} AND PaymentMode = 'EFT'"
_CHK = f"{_MDP} AND PaymentMode = 'CHK'"
_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"


def _rlike(c: str, pattern: str) -> str:
    return f"{c} RLIKE {sql_str(pattern)}"


def _date_ok(c: str) -> str:
    # Date columns may arrive as real dates or 'YYYY-MM-DD' strings; both
    # validate. try_to_date returns NULL (not error) for malformed strings.
    s = f"CAST({c} AS STRING)"
    return (f"(CASE WHEN {_rlike(s, _DATE_RE)} "
            f"THEN try_to_date({s}, 'yyyy-MM-dd') IS NOT NULL ELSE false END)")


def bankdata_rules() -> list[Rule]:
    """The full row-level rule catalog, in deterministic output order.

    Catalog order defines the order of comma-joined ERROR_DESC messages,
    so it is stable across runs (SURVEY §7 build step 3).
    """
    rules: list[Rule] = []
    add = rules.append

    # R1 RecordOperation enum {A, C, D} (tests/test_recordoperation_invalid_z.py:10).
    add(
        Rule(
            "recordoperation_enum",
            "RecordOperation must be one of A, C or D",
            "RecordOperation IN ('A', 'C', 'D')",
        )
    )
    # R2 OrganizationCode enum {M, D, P, R} (GEN:137-138, 314).
    add(
        Rule(
            "organizationcode_enum",
            "OrganizationCode must be one of M, D, P or R",
            "OrganizationCode IN ('M', 'D', 'P', 'R')",
        )
    )
    # R3 PayeeID: 2-9 chars, org-specific prefix, no specials
    # (GEN:70, GEN:324-330; PIPE:3435-3447).
    add(
        Rule(
            "payeeid_length",
            "PayeeID must be 2 to 9 characters",
            f"{not_blank('PayeeID')} AND length(PayeeID) BETWEEN 2 AND 9",
        )
    )
    add(
        Rule(
            "payeeid_format",
            "PayeeID must be alphanumeric with a valid organization prefix",
            "CASE WHEN OrganizationCode = 'M' THEN "
            + _rlike("PayeeID", r"^MFR[0-9]{1,6}$")
            + " WHEN OrganizationCode = 'D' THEN "
            + _rlike("PayeeID", r"^DISP[0-9]{1,5}$")
            + " WHEN OrganizationCode = 'P' THEN "
            + _rlike("PayeeID", r"^PC[0-9]{1,7}$")
            + " ELSE " + _rlike("PayeeID", r"^[A-Za-z0-9]{2,9}$") + " END",
            applies_when="OrganizationCode IN ('M', 'D', 'P', 'R')",
        )
    )
    # R3b For M/D/P PayeeID must equal OrganizationIdentifier; for R differ
    # (PIPE:3489-3511, TESTRAIL notes PIPE:644-649).
    add(
        Rule(
            "payeeid_orgid_pair",
            "PayeeID must match OrganizationIdentifier for M, D and P records",
            "PayeeID = OrganizationIdentifier",
            applies_when=_MDP,
        )
    )
    add(
        Rule(
            "payeeid_orgid_r_differ",
            "PayeeID must differ from OrganizationIdentifier for R records",
            "PayeeID != OrganizationIdentifier",
            applies_when=_IS_R,
        )
    )
    # R4 OrganizationIdentifier 3-12 alnum (GEN:71).
    add(
        Rule(
            "organizationidentifier_format",
            "OrganizationIdentifier must be 3 to 12 alphanumeric characters",
            "length(OrganizationIdentifier) BETWEEN 3 AND 12"
            f" AND {only_chars('OrganizationIdentifier', ALNUM_CHARS)}"
            f" AND {not_blank('OrganizationIdentifier')}",
        )
    )
    # R5 Organization names <=40, safe charset (GEN:67-68).
    add(
        Rule(
            "organizationname_format",
            "OrganizationName must be at most 40 characters without special characters",
            f"{not_blank('OrganizationName')} AND length(OrganizationName) <= 40"
            f" AND {charset_ok('OrganizationName')}",
        )
    )
    add(
        Rule(
            "organizationlegalname_format",
            "OrganizationLegalName must be at most 40 characters without special characters",
            "length(coalesce(OrganizationLegalName, '')) <= 40"
            f" AND {charset_ok('OrganizationLegalName')}",
        )
    )
    # R6 OrganizationTIN: 9 digits; required for D/P; blank for R handled by R22
    # (GEN:394-403; tests/test_organizationtin_blank_dp_required.py).
    add(
        Rule(
            "organizationtin_required_dp",
            "OrganizationTIN is required for D and P records",
            not_blank("OrganizationTIN"),
            applies_when=_DP,
        )
    )
    add(
        Rule(
            "organizationtin_format",
            "OrganizationTIN must be 9 numeric digits",
            digits_exactly("OrganizationTIN", 9),
            applies_when=f"{_MDP} AND {not_blank('OrganizationTIN')}",
        )
    )
    # R7 OrganizationTINType enum EIN/SSN for non-R (evidence strings, GEN:216-219).
    add(
        Rule(
            "organizationtintype_length",
            MSG_TINTYPE_LENGTH,
            "length(OrganizationTINType) = 3",
            applies_when=f"{_MDP} AND {not_blank('OrganizationTINType')}",
        )
    )
    add(
        Rule(
            "organizationtintype_enum",
            MSG_TINTYPE_INVALID,
            "OrganizationTINType IN ('EIN', 'SSN')",
            applies_when=f"{_MDP} AND {not_blank('OrganizationTINType')}",
        )
    )
    add(
        Rule(
            "organizationtintype_required_dp",
            "OrganizationTINType is required for D and P records",
            not_blank("OrganizationTINType"),
            applies_when=_DP,
        )
    )
    # R8 ProfitNonprofit enum {P, NP}; required for D/P (GEN:139, 411-417;
    # the test-doc's "Y or N" contradicts the generator — generator wins,
    # SURVEY §7.4.4).
    add(
        Rule(
            "profitnonprofit_enum",
            "ProfitNonprofit must be P or NP",
            "ProfitNonprofit IN ('P', 'NP')",
            applies_when=f"{_MDP} AND {not_blank('ProfitNonprofit')}",
        )
    )
    add(
        Rule(
            "profitnonprofit_required_dp",
            "ProfitNonprofit is required for D and P records",
            not_blank("ProfitNonprofit"),
            applies_when=_DP,
        )
    )
    # R9 OrganizationNPI: optional; 10 digits, first non-zero (GEN:251-255).
    add(
        Rule(
            "organizationnpi_format",
            "OrganizationNPI must be 10 numeric digits starting with a non-zero digit",
            f"{digits_exactly('OrganizationNPI', 10)}"
            " AND NOT startswith(OrganizationNPI, '0')",
            applies_when=not_blank("OrganizationNPI"),
        )
    )
    # R10 PaymentMode enum {EFT, CHK} (GEN:141; M records are EFT GEN:332-336).
    add(
        Rule(
            "paymentmode_enum",
            "PaymentMode must be EFT or CHK",
            "PaymentMode IN ('EFT', 'CHK')",
            applies_when=_MDP,
        )
    )
    # R11 RoutingTransitNumber — the most-attested rule pair; messages are
    # verbatim evidence strings (error CSV 20260310_142832:2).
    add(
        Rule(
            "routingtransitnumber_9_digits",
            MSG_RTN_9_DIGITS,
            "length(RoutingTransitNumber) = 9",
            applies_when=_EFT,
        )
    )
    add(
        Rule(
            "routingtransitnumber_numeric_eft",
            MSG_RTN_NUMERIC_EFT,
            digits_exactly("RoutingTransitNumber", 9),
            applies_when=_EFT,
        )
    )
    add(
        Rule(
            "routingtransitnumber_chk_blank",
            MSG_CHK_RTN_BLANK,
            is_blank("RoutingTransitNumber"),
            applies_when=_CHK,
        )
    )
    # R12 AccountNumber: EFT => required numeric 2..17; CHK => blank
    # (tests/test_eft_banking_format_rules_combined.py,
    #  tests/test_accountnumber_chk_should_be_blank.py).
    add(
        Rule(
            "accountnumber_eft_format",
            "AccountNumber must be 2 to 17 numeric digits for EFT records",
            digits_between("AccountNumber", 2, 17),
            applies_when=_EFT,
        )
    )
    add(
        Rule(
            "accountnumber_chk_blank",
            "For PaymentMode CHK, AccountNumber must be blank",
            is_blank("AccountNumber"),
            applies_when=_CHK,
        )
    )
    # R13 AccountType: EFT => enum CHKING/SAVING; CHK => blank
    # (tests/test_accounttype_value_rules_eft_combined.py).
    add(
        Rule(
            "accounttype_eft_enum",
            "AccountType must be CHKING or SAVING for EFT records",
            "AccountType IN ('CHKING', 'SAVING')",
            applies_when=_EFT,
        )
    )
    add(
        Rule(
            "accounttype_chk_blank",
            "For PaymentMode CHK, AccountType must be blank",
            is_blank("AccountType"),
            applies_when=_CHK,
        )
    )
    # R14 EffectiveStartDate required, yyyy-MM-dd (GEN:161-174).
    add(
        Rule(
            "effectivestartdate_required",
            "EffectiveStartDate is required",
            not_blank("EffectiveStartDate"),
            applies_when=_MDP,
        )
    )
    add(
        Rule(
            "effectivestartdate_format",
            "EffectiveStartDate must be a valid date in YYYY-MM-DD format",
            _date_ok("EffectiveStartDate"),
            applies_when=not_blank("EffectiveStartDate"),
        )
    )
    # R15 EffectiveEndDate optional; format when present; end >= start.
    # Deliberately NO hard "D records must have an end date" rule: the
    # reference generator emits ~10% of D records with blank end dates in
    # VALID data and documents "system uses current date" as the behavior
    # (newaugsver_clean.py:176-191) — that defaulting lives in
    # pipeline.default_end_date_for_deactivated, not the error catalog.
    # (GEN:176-204, 385-392).
    add(
        Rule(
            "effectiveenddate_format",
            "EffectiveEndDate must be a valid date in YYYY-MM-DD format",
            _date_ok("EffectiveEndDate"),
            applies_when=not_blank("EffectiveEndDate"),
        )
    )
    add(
        Rule(
            "effectiveenddate_after_start",
            "EffectiveEndDate must not be before EffectiveStartDate",
            "try_to_date(CAST(EffectiveEndDate AS STRING))"
            " >= try_to_date(CAST(EffectiveStartDate AS STRING))",
            applies_when=f"{not_blank('EffectiveEndDate')}"
            f" AND {not_blank('EffectiveStartDate')}"
            f" AND {_date_ok('EffectiveEndDate')}"
            f" AND {_date_ok('EffectiveStartDate')}",
        )
    )
    # R16 AddressCode enum {PMT, COR}; D/P pairing with PaymentMode
    # (tests/test_addresscode_paymentmode_rules_dp_combined.py:21-30).
    add(
        Rule(
            "addresscode_enum",
            "AddressCode must be PMT or COR",
            "AddressCode IN ('PMT', 'COR')",
            applies_when=f"{_MDP} AND {not_blank('AddressCode')}",
        )
    )
    add(
        Rule(
            "addresscode_dp_paymentmode_pair",
            "AddressCode must be PMT for CHK and COR for EFT on D and P records",
            "(PaymentMode = 'CHK' AND AddressCode = 'PMT')"
            " OR (PaymentMode = 'EFT' AND AddressCode = 'COR')",
            applies_when=f"{_DP} AND {not_blank('AddressCode')}"
            " AND PaymentMode IN ('EFT', 'CHK')",
        )
    )
    # R17 State: exactly 2 characters, letters (format-only,
    # tests/test_state_invalid_format.py:9-13).
    add(
        Rule(
            "state_format",
            "State must be exactly 2 characters",
            f"length(State) = 2 AND {only_chars('State', ALPHA_CHARS)}",
            applies_when=not_blank("State"),
        )
    )
    # R18 PostalCode 5-10 alphanumeric (tests/test_postalcode_invalid_length.py).
    add(
        Rule(
            "postalcode_format",
            "PostalCode must be 5 to 10 alphanumeric characters",
            "length(PostalCode) BETWEEN 5 AND 10"
            f" AND {only_chars('PostalCode', ALNUM_CHARS)}",
            applies_when=not_blank("PostalCode"),
        )
    )
    # R19 CityName <=25, safe charset (GEN:56).
    add(
        Rule(
            "cityname_format",
            "CityName must be at most 25 characters without special characters",
            f"length(CityName) <= 25 AND {charset_ok('CityName')}",
            applies_when=not_blank("CityName"),
        )
    )
    # R20 contact fields (tests/test_contact_required_format_rules_combined.py,
    # tests/test_chk_contact_fields_over_max_length_combined.py).
    add(
        Rule(
            "contactfirstname_required_dp",
            "ContactFirstName is required for D and P records",
            not_blank("ContactFirstName"),
            applies_when=_DP,
        )
    )
    add(
        Rule(
            "contactlastname_required_dp",
            "ContactLastName is required for D and P records",
            not_blank("ContactLastName"),
            applies_when=_DP,
        )
    )
    add(
        Rule(
            "contactfirstname_format",
            "ContactFirstName must be at most 20 characters without digits or special characters",
            "length(ContactFirstName) <= 20"
            f" AND {charset_ok('ContactFirstName', NAME_CHARSET_RE)}",
            applies_when=not_blank("ContactFirstName"),
        )
    )
    add(
        Rule(
            "contactlastname_format",
            "ContactLastName must be at most 25 characters without digits or special characters",
            "length(ContactLastName) <= 25"
            f" AND {charset_ok('ContactLastName', NAME_CHARSET_RE)}",
            applies_when=not_blank("ContactLastName"),
        )
    )
    add(
        Rule(
            "contactcode_format",
            "ContactCode must be at most 2 characters",
            "length(ContactCode) <= 2",
            applies_when=not_blank("ContactCode"),
        )
    )
    add(
        Rule(
            "contacttitle_format",
            "ContactTitle must be at most 23 characters",
            "length(ContactTitle) <= 23",
            applies_when=not_blank("ContactTitle"),
        )
    )
    for phone in ("ContactPhone", "ContactFax", "ContactOtherPhone"):
        add(
            Rule(
                f"{phone.lower()}_format",
                f"{phone} must be at most 25 characters with digits and separators only",
                f"length({phone}) <= 25 AND {charset_ok(phone, PHONE_CHARSET_RE)}",
                applies_when=not_blank(phone),
            )
        )
    add(
        Rule(
            "contactemail_max_length",
            "ContactEmail must be at most 99 characters",
            # Length-only validation, no RFC format check
            # (tests/test_contactemail_over_max_length.py:7-8).
            "length(ContactEmail) <= 99",
            applies_when=not_blank("ContactEmail"),
        )
    )
    # R21 shared special-character rejection across core fields
    # (tests/test_chk_core_fields_special_characters_combined.py).
    for core in ("RecordOperation", "OrganizationCode", "PayeeID",
                 "OrganizationIdentifier", "OrganizationTIN",
                 "OrganizationTINType", "ProfitNonprofit", "OrganizationNPI",
                 "PaymentMode", "AccountNumber"):
        add(
            Rule(
                f"{core.lower()}_charset",
                f"{core} must not contain special characters",
                only_chars(core, ALNUM_CHARS + " "),
                applies_when=not_blank(core),
            )
        )
    # R22 OrgCode R row shape — verbatim evidence string
    # (error CSV 20260310_142832:3; GEN:348-360; PIPE:3477-3487).
    add(
        Rule(
            "orgcode_r_all_blank",
            MSG_R_ALL_BLANK,
            " AND ".join(is_blank(f_) for f_ in R_BLANK_FIELDS),
            applies_when=_IS_R,
        )
    )
    return rules


def compile_rules(rules: list[Rule]) -> Column:
    """Compile a rule list into one ``array<string>`` errors expression.

    One projection, single pass, deterministic message order = catalog
    order. Note: ``array_compact`` lowers to a higher-order ``filter``
    lambda, which whole-stage codegen does NOT support — so any stage
    containing this expression evaluates interpreted. Keep it off the
    hot filter path (see ``compile_any_violation``).
    """
    errors = ", ".join(r.error_sql() for r in rules)
    return F.expr(f"array_compact(array({errors}))")


def compile_any_violation(rules: list[Rule]) -> Column:
    """Boolean OR of every rule's violation predicate.

    Equivalent to ``size(compile_rules(rules)) > 0`` but built purely
    from codegen-supported primitives (no array, no lambda, no message
    literals), so a filter on it stays inside whole-stage codegen —
    useful for a cheap "does this batch contain any violation at all"
    gate. Measured caveat: as a pre-filter in front of the error-array
    projection it does NOT speed up validation (per-row cost is
    regex-dominated either way) and doubles planning time; see
    ``validate.failing_records``.
    """
    return F.expr(" OR ".join(r.violation_sql() for r in rules) or "false")
