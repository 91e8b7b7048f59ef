from ecollector_spark.functions.timeutil import (  # noqa: F401
    parse_relative_duration,
    time_bucket,
)


def quote_ident(name: str) -> str:
    """Backtick-quote a SIMPLE top-level column name for a SQL fragment,
    doubling embedded backticks — the one identifier escaper every SQL
    fragment builder uses. The argument is one column name: a qualified
    or nested reference like ``s.text`` that ``F.col`` would resolve
    becomes a literal quoted name here; pass a Column for those."""
    return "`" + name.replace("`", "``") + "`"
