"""The message-selector surface (SURVEY.md §2.B) — the engine's identity
capability: the reference project (``/root/reference/README.md:1``) is a
Pulsar broker entry/message filter, whose predicate dialect in this
ecosystem is the JMS 2.0 §3.8 selector language (public spec; SURVEY §0.3).

Upstream contract: parse the subscription's selector once at consumer
attach, evaluate per message at dispatch, against message *metadata*
(properties map + headers), never the payload.  Here: parse once per
:class:`Selector`, compile to one Spark SQL expression (a Catalyst
``Column``), evaluate vectorized inside whole-stage codegen — same
contract, columnar execution.
"""

from __future__ import annotations

from pulsar_message_filter_spark.selector.ast_nodes import Node
from pulsar_message_filter_spark.selector.compiler import (
    EVENTS_SCHEMA,
    Schema,
    SelectorTypeError,
    _boolean_ctx,
    annotate,
    to_column,
    to_sql,
)
from pulsar_message_filter_spark.selector.parser import SelectorSyntaxError, parse


class Selector:
    """A compiled message selector.

    >>> sel = Selector("props.k > 50 AND event_type IN ('purchase', 'error')")
    >>> filtered = sel.apply(events_df)          # Spark path
    >>> sel.duckdb_sql()                         # oracle-parity predicate
    "((TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50) AND ..."

    ``params`` binds ``${name}`` placeholders from subscription properties
    at compile time (B15).
    """

    def __init__(
        self,
        text: str,
        schema: Schema = EVENTS_SCHEMA,
        params: dict[str, object] | None = None,
    ):
        self.text = text
        self.schema = schema
        ast = annotate(parse(text, params), schema)
        if ast.type == "dynamic":
            # a bare property as the whole selector — JMS boolean property
            ast = _boolean_ctx(ast)
        if ast.type != "boolean":
            raise SelectorTypeError(
                f"selector must be a boolean predicate, got {ast.type}: {text!r}"
            )
        self.ast: Node = ast

    def column(self):
        """→ ``pyspark.sql.Column`` (requires an active SparkSession)."""
        return to_column(self.ast, self.schema)

    def duckdb_sql(self) -> str:
        """→ semantically-equivalent DuckDB predicate (the oracle dialect)."""
        return to_sql(self.ast, self.schema, "duckdb")

    def spark_sql(self) -> str:
        """→ Spark-SQL predicate text, the source of :meth:`column`."""
        return to_sql(self.ast, self.schema, "spark")

    def apply(self, df):
        """Filter a DataFrame — drops UNKNOWN rows, the JMS 3VL rule (B3)."""
        return df.filter(self.column())

    def __repr__(self) -> str:
        return f"Selector({self.text!r})"


def compile_selector(
    text: str,
    schema: Schema = EVENTS_SCHEMA,
    params: dict[str, object] | None = None,
) -> Selector:
    """Convenience constructor mirroring the upstream parse-at-subscribe step."""
    return Selector(text, schema, params)


__all__ = [
    "Selector",
    "compile_selector",
    "Schema",
    "EVENTS_SCHEMA",
    "SelectorSyntaxError",
    "SelectorTypeError",
    "parse",
    "annotate",
    "to_column",
    "to_sql",
]
