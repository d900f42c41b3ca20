"""Output checks for every workload. Pure Python: no Spark needed.

Each check returns a list of human-readable problems; an empty list means
the output is correct. The benchmark runs them outside the timed region.
"""

from __future__ import annotations

import csv
import glob
import math
import os
import re
from collections import Counter

ERROR_HEADER = ["FILENAME", "PayeeId", "ERROR_DESC"]


# -- error CSVs ---------------------------------------------------------------

def read_error_rows(paths: list[str]) -> list[dict[str, str]]:
    """Rows of pipe-delimited error CSVs, each with the error-file header."""
    rows: list[dict[str, str]] = []
    for path in paths:
        with open(path, newline="", encoding="utf-8") as f:
            reader = csv.DictReader(f, delimiter="|")
            if reader.fieldnames != ERROR_HEADER:
                raise ValueError(f"{path}: header {reader.fieldnames}")
            rows.extend(reader)
    return rows


def csv_parts(directory: str) -> list[str]:
    """The part files a Spark CSV sink wrote under ``directory``."""
    return sorted(glob.glob(os.path.join(directory, "**", "part-*.csv"),
                            recursive=True))


def tokens(desc: str) -> set[str]:
    """The reference comparator's tokenisation of an ERROR_DESC: split on
    ',', collapse whitespace, drop empties."""
    return {re.sub(r"\s+", " ", t).strip() for t in desc.split(",") if t.strip()}


def check_same_errors(rows: list[dict[str, str]],
                      expected: list[dict[str, str]]) -> list[str]:
    """The two error-row sets hold the same (PayeeId, ERROR_DESC) multiset.
    FILENAME is left out: the streaming sink names each source part file,
    the batch pipeline names the input it was given."""
    def key(rs):
        return Counter((r["PayeeId"], r["ERROR_DESC"]) for r in rs)

    got, want = key(rows), key(expected)
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [f"{sum(extra.values())} unexpected and {sum(missing.values())} "
            f"missing error rows; e.g. unexpected {list(extra)[:2]}, "
            f"missing {list(missing)[:2]}"]


def check_scenario(summary: str, rows: list[dict[str, str]],
                   targets: dict[str, list[str]]) -> list[str]:
    """A bank-file scenario: the run reconciled ("Row counts MATCH") and
    every targeted payee carries the messages its injection must raise."""
    problems = []
    if "Row counts MATCH" not in summary:
        problems.append(f"scenario did not reconcile: {summary}")
    by_payee: dict[str, set[str]] = {}
    for row in rows:
        by_payee.setdefault(row["PayeeId"], set()).update(tokens(row["ERROR_DESC"]))
    for payee, msgs in targets.items():
        want = set().union(*(tokens(m) for m in msgs))
        missing = want - by_payee.get(payee, set())
        if missing:
            problems.append(f"payee {payee}: missing {sorted(missing)}")
    return problems


# -- catalog results -------------------------------------------------------------

def _canon(v):
    """Engine-neutral value: Spark Rows and DuckDB dicts/tuples both become
    tuples, NaN becomes a string so rows stay comparable."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return tuple(_canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def canonical_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted, as tests/test_oracle_parity.py
    compares them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, repr(v)) for v in t))
    return [columns[i] for i in order], out


def check_query(name: str, got: tuple[list[str], list[tuple]],
                want: tuple[list[str], list[tuple]]) -> list[str]:
    """One catalog query's canonical result against its oracle's."""
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols:
        return [f"{name}: columns {gcols} vs oracle {wcols}"]
    if len(grows) != len(wrows):
        return [f"{name}: {len(grows)} rows vs oracle {len(wrows)}"]
    for i, (a, b) in enumerate(zip(grows, wrows)):
        if a != b:
            return [f"{name}: row {i} differs: {a!r} vs oracle {b!r}"]
    return []
