"""HOF let-binding: evaluate a per-row value ONCE inside array lambdas.

Catalyst's CollapseProject re-inlines single-use Project aliases into
downstream higher-order-function lambda bodies, where they are
re-evaluated PER ARRAY ELEMENT — e.g. a ``split(text)`` feeding a
per-element ``slice(split(text), i, n)`` runs the split once per
shingle, O(n²) characters per document (measured 3.6x on the 3-gram
shingle expression at sf0.1; ~2.5 s of the 8k-page hOCR bench).
Binding the value as a 1-element array's lambda variable introduces a
NamedLambdaVariable the optimizer cannot inline through, so the value
is computed exactly once per row regardless of projection collapsing.

Both forms build the same expression tree. This module imports only
pyspark, so ``operators/`` can use it without loading the query
registry (``queries/__init__``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body) -> Column:
    """Column form: ``body(v)`` with ``v`` bound once to ``value``."""
    return F.element_at(F.transform(F.array(value), body), 1)


def let_sql(value_sql: str, var: str, body_sql: str) -> str:
    """SQL form: ``body_sql`` with ``var`` bound once to ``value_sql``."""
    return f"element_at(transform(array({value_sql}), {var} -> {body_sql}), 1)"
