"""Seeded synthetic bank-data generator.

Produces rows satisfying the same business rules as the reference
generator (newaugsver_clean.py:289-480): org-code-specific PayeeID
prefixes, PayeeID == OrganizationIdentifier for M/D/P, EFT/CHK banking
field shapes, R rows with blank banking/address fields, date rules, etc.
Implementation is original and dependency-free (stdlib ``random`` only; no
Faker).

Two modes, per SURVEY §7.4.5:

- ``generate_bankdata``      driver-side, exactly reproducible for n up to
  a few hundred thousand rows (the reference itself only streams above
  300k rows, GEN:616).
- ``generate_bankdata_distributed``  expression-based over ``spark.range``
  — every field is a deterministic arithmetic function of the row id, so
  output is reproducible under ANY partitioning, which ``rand(seed)`` is
  not. This is the 100 TB-scale path: no driver materialization, no
  shuffle, embarrassingly parallel.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_validator_github_spark.functions.core import sql_str
from etl_validator_github_spark.schema import COLUMNS, bankdata_schema

_FIRST_NAMES = (
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen",
)
_LAST_NAMES = (
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Taylor", "Moore", "Jackson", "Martin", "Lee",
)
_ORG_NAMES = (
    "Apex Pharma", "Beacon Health", "Cedar Medical", "Delta Therapeutics",
    "Evergreen Labs", "Frontier Biotech", "Granite Care", "Horizon Rx",
    "Ironwood Clinical", "Juniper Medical Group", "Keystone Pharmacy",
    "Lakeside Health Partners", "Meridian Dispensary", "Northstar Pharma",
    "Oakfield Medical Supply", "Pinnacle Care Services",
)
_CITIES = (
    "Springfield", "Riverton", "Fairview", "Georgetown", "Clinton",
    "Madison", "Salem", "Bristol", "Ashland", "Burlington", "Clayton",
    "Dayton", "Easton", "Franklin", "Greenville", "Hudson",
)
_STATES = (
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY",
)
_STREETS = ("Main St", "Oak Ave", "Maple Dr", "Cedar Ln", "Park Blvd",
            "Lake Rd", "Hill St", "River Way", "Sunset Ave", "Elm Ct")
_TITLES = ("Account Officer", "Director", "Finance Manager", "Controller",
           "Operations Lead", "Billing Manager", "Treasurer", "Analyst")

PAYEE_PREFIX = {"M": "MFR", "D": "DISP", "P": "PC"}
PAYEE_MAX_DIGITS = {"M": 6, "D": 5, "P": 7}


class BankDataGenerator:
    """Row-at-a-time seeded generator of rule-valid bank data."""

    def __init__(
        self,
        seed: int = 246,
        as_of: dt.date | None = None,
        r_ratio: float = 0.1,
        blank_as_null: bool = False,
    ) -> None:
        self.rng = random.Random(seed)
        self.as_of = as_of or dt.date(2026, 3, 10)
        self.r_ratio = r_ratio
        self.blank_as_null = blank_as_null
        self._used_payees: set[str] = set()
        self._used_r_ids: set[str] = set()

    # -- field builders -------------------------------------------------
    def _unique_payee(self, org: str) -> str:
        prefix = PAYEE_PREFIX[org]
        while True:
            n_digits = self.rng.randint(2, PAYEE_MAX_DIGITS[org])
            candidate = prefix + str(self.rng.randint(10 ** (n_digits - 1), 10**n_digits - 1))
            if candidate not in self._used_payees:
                self._used_payees.add(candidate)
                return candidate

    def _unique_r_identifier(self) -> str:
        while True:
            candidate = str(self.rng.randint(10**9, 10**10 - 1))
            if candidate not in self._used_r_ids:
                self._used_r_ids.add(candidate)
                return candidate

    def _start_date(self) -> str:
        if self.rng.random() < 0.95:
            return self.as_of.isoformat()
        return (self.as_of + dt.timedelta(days=self.rng.randint(1, 7))).isoformat()

    def _end_date(self, op: str) -> str:
        r = self.rng.random()
        if op == "D":
            if r < 0.1:
                return ""
            if r < 0.6:
                return self.as_of.isoformat()
            return (self.as_of + dt.timedelta(days=self.rng.randint(1, 90))).isoformat()
        if r < 0.85:
            return ""
        return (self.as_of + dt.timedelta(days=self.rng.randint(30, 365))).isoformat()

    def _phone(self) -> str:
        return (
            f"{self.rng.randint(200, 989)}-{self.rng.randint(200, 999)}-"
            f"{self.rng.randint(1000, 9999)}"
        )

    # -- row builder -----------------------------------------------------
    def generate_row(self) -> dict[str, str]:
        rng = self.rng
        op = rng.choice(["A", "D"])
        org = "R" if rng.random() < self.r_ratio else rng.choice(["M", "D", "P"])
        row: dict[str, str] = dict.fromkeys(COLUMNS, "")
        row["RecordOperation"] = op
        row["OrganizationCode"] = org
        row["OrganizationName"] = rng.choice(_ORG_NAMES)
        row["EffectiveStartDate"] = self._start_date()
        end = self._end_date(op)
        # end >= start is enforced at generation time, as the reference does
        # (GEN:385-392 adjusts the end date up to the start date).
        if end and end < row["EffectiveStartDate"]:
            end = row["EffectiveStartDate"]
        row["EffectiveEndDate"] = end

        if org == "R":
            # R rows: identity only; all banking/address fields blank
            # (reference GEN:348-360).
            row["OrganizationIdentifier"] = self._unique_r_identifier()
            payee = "R" + str(rng.randint(10, 99999999))
            row["PayeeID"] = payee[:9]
            row["OrganizationLegalName"] = row["OrganizationName"]
            row["ContactCode"] = rng.choice(["AO", "DO"])
            row["ContactPhone"] = self._phone()
            row["ContactEmail"] = self._email(rng)
            return self._finalize(row)

        payee = self._unique_payee(org)
        row["PayeeID"] = payee
        row["OrganizationIdentifier"] = payee
        tin_type = rng.choice(["EIN", "SSN"])
        row["OrganizationTINType"] = tin_type
        if org == "M" and rng.random() < 0.15:
            # Intentionally-valid sentinel TIN for manufacturers (R25).
            row["OrganizationTIN"] = "999999999"
        else:
            row["OrganizationTIN"] = str(rng.randint(10**8, 10**9 - 1))
        row["OrganizationLegalName"] = (
            row["OrganizationName"]
            if tin_type == "EIN"
            else f"{rng.choice(_FIRST_NAMES)} {rng.choice(_LAST_NAMES)}"
        )
        if org in ("D", "P"):
            row["ProfitNonprofit"] = rng.choice(["P", "NP"])
        elif rng.random() < 0.5:
            row["ProfitNonprofit"] = rng.choice(["P", "NP"])
        if rng.random() >= 0.2:
            row["OrganizationNPI"] = str(rng.randint(1, 9)) + "".join(
                str(rng.randint(0, 9)) for _ in range(9)
            )
        mode = "EFT" if org == "M" else rng.choice(["EFT", "CHK"])
        row["PaymentMode"] = mode
        if mode == "EFT":
            row["RoutingTransitNumber"] = "".join(str(rng.randint(0, 9)) for _ in range(9))
            row["AccountNumber"] = str(rng.randint(10**5, 10**6 - 1))
            row["AccountType"] = rng.choice(["CHKING", "SAVING"])
        if org in ("D", "P"):
            row["AddressCode"] = "COR" if mode == "EFT" else "PMT"
        elif rng.random() < 0.5:
            row["AddressCode"] = "COR"
        if row["AddressCode"]:
            row["AddressLine1"] = f"{rng.randint(1, 9999)} {rng.choice(_STREETS)}"
            if rng.random() < 0.5:
                row["AddressLine2"] = f"Suite {rng.randint(1, 999)}"
            row["CityName"] = rng.choice(_CITIES)
            row["State"] = rng.choice(_STATES)
            row["PostalCode"] = f"{rng.randint(10000, 99999)}"
        row["ContactCode"] = rng.choice(["AO", "DO"])
        row["ContactFirstName"] = rng.choice(_FIRST_NAMES)
        row["ContactLastName"] = rng.choice(_LAST_NAMES)
        if org in ("D", "P") and rng.random() < 0.7:
            row["ContactTitle"] = rng.choice(_TITLES)
        row["ContactPhone"] = self._phone()
        if rng.random() < 0.5:
            row["ContactFax"] = self._phone()
        if rng.random() < 0.5:
            row["ContactOtherPhone"] = self._phone()
        row["ContactEmail"] = self._email(rng)
        return self._finalize(row)

    def _email(self, rng: random.Random) -> str:
        return (
            f"{rng.choice(_FIRST_NAMES).lower()}."
            f"{rng.choice(_LAST_NAMES).lower()}{rng.randint(1, 99)}@example.com"
        )

    def _finalize(self, row: dict[str, str]) -> dict[str, str | None]:
        if self.blank_as_null:
            return {k: (None if v == "" else v) for k, v in row.items()}
        return row


def generate_bankdata(
    spark: SparkSession,
    n: int,
    seed: int = 246,
    as_of: dt.date | None = None,
    r_ratio: float = 0.1,
    blank_as_null: bool = False,
    dates_as_strings: bool = True,
) -> DataFrame:
    """Driver-side exact seeded generation -> Spark DataFrame."""
    gen = BankDataGenerator(seed=seed, as_of=as_of, r_ratio=r_ratio,
                            blank_as_null=blank_as_null)
    rows = [gen.generate_row() for _ in range(n)]
    df = spark.createDataFrame(rows, schema=bankdata_schema(dates_as_strings=True))
    if not dates_as_strings:
        for c in ("EffectiveStartDate", "EffectiveEndDate"):
            df = df.withColumn(
                c, F.to_date(F.when(F.col(c) == "", None).otherwise(F.col(c)))
            )
    return df


def generate_bankdata_distributed(
    spark: SparkSession,
    n: int,
    seed: int = 246,
    as_of: dt.date | None = None,
    num_partitions: int | None = None,
    keep_id: bool = False,
) -> DataFrame:
    """Distributed deterministic generation over ``spark.range(n)``.

    Every field is a pure function of the row id (multiplicative hashing),
    so results do not depend on partitioning — unlike ``rand(seed)`` whose
    stream is per-partition. Scales linearly with executors; no shuffle.

    ``keep_id=True`` appends the source row id, letting callers derive
    further deterministic per-row values (e.g. the violation-injection
    key in queries/validation.py) from the same id stream.
    """
    as_of = as_of or dt.date(2026, 3, 10)
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    return df.selectExpr(*_build_bankdata_columns(seed, as_of, keep_id))


def id_hash_sql(k: int, seed: int) -> str:
    """SQL: the k-th deterministic per-row uniform-ish integer stream over
    the range's ``id`` (multiplicative hashing, always non-negative)."""
    return f"pmod((id + {seed}) * {2654435761 + 40503 * k} + {k * 97}, {2**31 - 1})"


def _pick(pool: tuple[str, ...], k: int, seed: int) -> str:
    """SQL: one item of ``pool``, chosen by hash stream ``k``."""
    items = ", ".join(sql_str(x) for x in pool)
    return (f"element_at(array({items}), "
            f"CAST({id_hash_sql(k, seed)} % {len(pool)} + 1 AS INT))")


def _build_bankdata_columns(seed: int, as_of: dt.date,
                            keep_id: bool) -> list[str]:
    """The 30 bank columns (plus ``id`` if ``keep_id``) as SQL
    ``<expr> AS <name>`` items over ``spark.range``."""
    def h(k: int) -> str:
        return id_hash_sql(k, seed)

    org = (f"(CASE WHEN {h(1)} % 10 = 0 THEN 'R' WHEN {h(1)} % 3 = 0 THEN 'M'"
           f" WHEN {h(1)} % 3 = 1 THEN 'D' ELSE 'P' END)")
    mode = f"(CASE WHEN {org} = 'M' THEN 'EFT' WHEN {h(2)} % 2 = 0 THEN 'EFT' ELSE 'CHK' END)"
    is_r = f"({org} = 'R')"
    is_eft = f"(NOT {is_r} AND {mode} = 'EFT')"
    # Unique payee digits derive from the row id itself (collision-free).
    payee = (
        f"(CASE WHEN {org} = 'M' THEN concat('MFR', CAST(id % 900000 + 10 AS STRING))"
        f" WHEN {org} = 'D' THEN concat('DISP', CAST(id % 90000 + 10 AS STRING))"
        f" WHEN {org} = 'P' THEN concat('PC', CAST(id % 9000000 + 10 AS STRING))"
        f" ELSE concat('R', CAST(id % 90000000 + 10 AS STRING)) END)"
    )
    org_id = (f"CASE WHEN {is_r} THEN lpad(CAST({h(3)} % {10**9} + id AS STRING), 10, '1')"
              f" ELSE {payee} END")
    nine_digits = f"lpad(CAST({h(4)} % {10**9} AS STRING), 9, '0')"
    street = (f"concat(CAST({h(17)} % 9999 + 1 AS STRING), ' ', "
              f"{_pick(_STREETS, 18, seed)})")
    postal = f"CAST({h(21)} % 90000 + 10000 AS STRING)"
    as_of_sql = sql_str(as_of.isoformat())

    def if_not_r(then: str) -> str:
        return f"CASE WHEN {is_r} THEN '' ELSE {then} END"

    return [
        f"CASE WHEN {h(5)} % 2 = 0 THEN 'A' ELSE 'D' END AS RecordOperation",
        f"{org} AS OrganizationCode",
        f"{payee} AS PayeeID",
        f"{org_id} AS OrganizationIdentifier",
        f"{_pick(_ORG_NAMES, 6, seed)} AS OrganizationName",
        f"{_pick(_ORG_NAMES, 6, seed)} AS OrganizationLegalName",
        f"{if_not_r(nine_digits)} AS OrganizationTIN",
        f"CASE WHEN {is_r} THEN '' WHEN {h(7)} % 2 = 0 THEN 'EIN' ELSE 'SSN' END AS OrganizationTINType",
        f"CASE WHEN {is_r} THEN '' WHEN {h(8)} % 2 = 0 THEN 'P' ELSE 'NP' END AS ProfitNonprofit",
        f"CASE WHEN {is_r} OR {h(9)} % 5 = 0 THEN ''"
        f" ELSE concat(CAST({h(9)} % 9 + 1 AS STRING), lpad(CAST({h(10)} % {10**9} AS STRING), 9, '0'))"
        f" END AS OrganizationNPI",
        f"{if_not_r(mode)} AS PaymentMode",
        f"CASE WHEN {is_eft} THEN lpad(CAST({h(11)} % {10**9} AS STRING), 9, '0') ELSE '' END AS RoutingTransitNumber",
        f"CASE WHEN {is_eft} THEN CAST({h(12)} % 900000 + 100000 AS STRING) ELSE '' END AS AccountNumber",
        f"CASE WHEN {is_eft} AND {h(13)} % 2 = 0 THEN 'CHKING' WHEN {is_eft} THEN 'SAVING' ELSE '' END AS AccountType",
        f"{as_of_sql} AS EffectiveStartDate",
        f"CASE WHEN {h(14)} % 5 = 0 THEN date_format(date_add(DATE {as_of_sql},"
        f" CAST({h(15)} % 90 + 1 AS INT)), 'yyyy-MM-dd') ELSE '' END AS EffectiveEndDate",
        f"CASE WHEN {is_r} THEN '' WHEN {org} = 'M' THEN (CASE WHEN {h(16)} % 2 = 0 THEN 'COR' ELSE '' END)"
        f" WHEN {mode} = 'EFT' THEN 'COR' ELSE 'PMT' END AS AddressCode",
        f"{if_not_r(street)} AS AddressLine1",
        "'' AS AddressLine2",
        f"{if_not_r(_pick(_CITIES, 19, seed))} AS CityName",
        f"{if_not_r(_pick(_STATES, 20, seed))} AS State",
        f"{if_not_r(postal)} AS PostalCode",
        f"CASE WHEN {h(22)} % 2 = 0 THEN 'AO' ELSE 'DO' END AS ContactCode",
        f"{if_not_r(_pick(_FIRST_NAMES, 23, seed))} AS ContactFirstName",
        f"{if_not_r(_pick(_LAST_NAMES, 24, seed))} AS ContactLastName",
        "'' AS ContactTitle",
        f"concat(CAST({h(25)} % 700 + 200 AS STRING), '-', CAST({h(26)} % 800 + 200 AS STRING),"
        f" '-', CAST({h(27)} % 9000 + 1000 AS STRING)) AS ContactPhone",
        "'' AS ContactFax",
        "'' AS ContactOtherPhone",
        "concat('user', CAST(id AS STRING), '@example.com') AS ContactEmail",
        *(["id"] if keep_id else []),
    ]
