"""Plan barriers. Every place a plan must stop Catalyst from re-deriving
or recomputing work goes through this module, so ``tools/explain_audit.py``
can check each fence and one patch can revert them all; docs/OPERATORS.md
("Plan barriers") says when a site needs which."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fence(expr: Column) -> Column:
    """``expr`` evaluated once per row, behind a one-element explode. A
    filter over the output cannot be pushed below the Generate, so alias
    substitution cannot copy ``expr`` into it. Rows are unchanged: the
    array has one element, so a null ``expr`` gives one null row."""
    return F.explode(F.array(expr))


def materialize(df: DataFrame) -> DataFrame:
    """``df`` computed once, on its first action, for all its consumers
    (a lazy local checkpoint; it also cuts the lineage)."""
    return df.localCheckpoint(eager=False)


def snapshot(df: DataFrame) -> DataFrame:
    """``df`` computed now (an eager local checkpoint), for a source that
    changes or disappears before the frame is read."""
    return df.localCheckpoint(eager=True)
