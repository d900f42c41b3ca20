"""Shared column-expression helpers.

``is_blank``, ``not_blank`` and ``charset_ok`` return Spark SQL text
(codegen-friendly predicates for the rule catalog); ``quantize`` and
``norm_token`` return Columns.
"""

from etl_validator_github_spark.functions.core import (
    is_blank,
    not_blank,
    charset_ok,
    quantize,
    norm_token,
)

__all__ = ["is_blank", "not_blank", "charset_ok", "quantize", "norm_token"]
