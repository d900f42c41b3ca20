"""Core column helpers.

The rule-predicate helpers (``is_blank`` through ``charset_ok``) return
Spark SQL boolean text, composed into the rule catalog and turned into
expressions once with ``F.expr``; ``quantize`` and ``norm_token`` return
Columns.

The reference treats empty string and NULL as the same "blank"
(newaugsver_clean.py:475-479 converts '' -> null post-validation; flat
formats may render a null token). Every requiredness rule goes through
``is_blank`` so both representations behave identically (SURVEY §7.4.1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Default permissive charset for "no special characters" rules
#: (tests/test_chk_core_fields_special_characters_combined.py rejects
#: !, @, #, $ etc. across core fields).
SAFE_CHARSET_RE = r"^[A-Za-z0-9 .,&()'\-]*$"

#: Name fields additionally reject digits
#: (tests/test_contact_required_format_rules_combined.py: 'John123' invalid).
NAME_CHARSET_RE = r"^[A-Za-z .,'\-]*$"

#: Phone-like fields: digits plus common separators, no letters other than
#: extension marker 'x' (reference evidence: '555-123-4567#' and
#: '123ABC4567' are invalid).
PHONE_CHARSET_RE = r"^[0-9 ().+\-x]*$"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal.

    Spark string literals treat backslash as an escape character, so both
    backslash and the quote are escaped. Every message, charset and regex
    that goes into rule or generator SQL text passes through here.
    """
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def is_blank(c: str) -> str:
    """SQL: true when the value is NULL or empty/whitespace-only string.

    ``c`` is a column name or SQL expression, as in every helper below.
    """
    return f"(coalesce(trim(CAST({c} AS STRING)), '') = '')"


def not_blank(c: str) -> str:
    return f"(NOT {is_blank(c)})"


#: Allowed-character strings for the translate() fast path. Must stay in
#: sync with the *_RE patterns above (tests/test_rules.py pins both).
_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()
_DIGITS = "0123456789"
SAFE_CHARS = _UPPER + _LOWER + _DIGITS + " .,&()'-"
NAME_CHARS = _UPPER + _LOWER + " .,'-"
PHONE_CHARS = _DIGITS + " ().+-x"
ALNUM_CHARS = _UPPER + _LOWER + _DIGITS
ALPHA_CHARS = _UPPER + _LOWER

_RE_TO_CHARS = {
    SAFE_CHARSET_RE: SAFE_CHARS,
    NAME_CHARSET_RE: NAME_CHARS,
    PHONE_CHARSET_RE: PHONE_CHARS,
}


def only_chars(c: str, allowed: str) -> str:
    """SQL: true when the value contains only ``allowed`` characters.

    ``translate`` is a single character-map pass — roughly an order of
    magnitude cheaper per row than a Java regex match, which matters when
    the rule catalog runs ~35 such checks per record at 100 TB. Blank and
    NULL values pass (requiredness is a separate rule).
    """
    return (f"(translate(coalesce(CAST({c} AS STRING), ''), "
            f"{sql_str(allowed)}, '') = '')")


def digits_exactly(c: str, n: int) -> str:
    """Exactly ``n`` characters, all digits (regex-free ``^[0-9]{n}$``)."""
    return f"(length({c}) = {n} AND {only_chars(c, _DIGITS)})"


def digits_between(c: str, lo: int, hi: int) -> str:
    """``^[0-9]{lo,hi}$`` without the regex engine."""
    return f"(length({c}) BETWEEN {lo} AND {hi} AND {only_chars(c, _DIGITS)})"


def charset_ok(c: str, pattern: str = SAFE_CHARSET_RE) -> str:
    """Charset predicate; blank values pass (requiredness is a separate rule).

    The three catalog charsets dispatch to the translate() fast path;
    unknown patterns fall back to rlike.
    """
    allowed = _RE_TO_CHARS.get(pattern)
    if allowed is not None:
        return only_chars(c, allowed)
    return f"(coalesce(CAST({c} AS STRING), '') RLIKE {sql_str(pattern)})"


def quantize(c: Column | str, scale: int = 100) -> Column:
    """Quantize a float column to integer units (e.g. cents).

    Sums of int64 are exact and order-independent, so aggregates built on
    quantized values are bit-reproducible across engines and shuffle
    orders — the pattern used throughout the oracle-checked queries.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * F.lit(scale)).cast("long")


def norm_token(c: Column | str) -> Column:
    """Normalize an ERROR_DESC token: collapse whitespace, trim.

    Mirrors the reference comparator `_normalize_error_desc`
    (DM_bankfile_validate_pipeline.py:817-830): split on ',', collapse
    internal whitespace, compare as an unordered set.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(col, r"\s+", " "))
