"""Selector AST → (typed AST) → SQL text for Spark and the DuckDB oracle.

Two passes (SURVEY.md §3.2):

1. :func:`annotate` — type inference + JMS context coercion (B11).  Message
   properties extracted from the JSON ``props`` column are ``dynamic``
   (string at rest); numeric context wraps them in a try-cast to double,
   timestamp context casts string literals to timestamp.  Try-cast (NULL on
   failure) matches the JMS rule that an inconvertible property makes the
   predicate UNKNOWN — and keeps Spark's ANSI mode from throwing.
2. :func:`to_sql` — renders the typed AST as SQL in either the ``duckdb``
   (oracle) or ``spark`` (execution) dialect.  :func:`to_column` hands the
   spark text to ``F.expr``: one JVM call per selector yields ordinary
   Catalyst IR, so predicate pushdown / column pruning / whole-stage codegen
   apply with zero extra work (SURVEY.md §4.2).  One AST feeding both
   engines is what makes every selector query oracle-checkable by
   construction.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pulsar_message_filter_spark.selector.ast_nodes import (
    And,
    Arith,
    Between,
    Cast,
    Cmp,
    Ident,
    In,
    IsNull,
    Like,
    Lit,
    Node,
    Not,
    Or,
    Regex,
    Unary,
)


class SelectorTypeError(TypeError):
    """Raised when a selector is grammatically valid but ill-typed."""


# --------------------------------------------------------------------------
# Schema / identifier resolution
# --------------------------------------------------------------------------

_NUMERIC = ("long", "double")


@dataclass(frozen=True)
class Schema:
    """Column name→type map plus the JSON message-properties column.

    Identifier resolution order (JMS: every non-header identifier is a
    message property; headers are typed columns):

    1. a declared column (``event_type``, ``value`` …) — typed;
    2. ``<props_col>.key`` — explicit property access (B9);
    3. any other bare identifier — implicit property access, JMS-style.
    """

    columns: dict[str, str] = field(default_factory=dict)
    props_col: str | None = "props"

    def resolve(self, name: str) -> tuple[str, str]:
        """→ ('col', type) | ('prop', json_key)."""
        if name in self.columns:
            return "col", self.columns[name]
        if self.props_col:
            prefix = self.props_col + "."
            if name.startswith(prefix):
                return "prop", name[len(prefix) :]
            if "." not in name:
                return "prop", name
        raise SelectorTypeError(
            f"cannot resolve identifier {name!r}: not a column "
            f"({sorted(self.columns)}) and no properties column is configured"
        )


#: The ``events`` fixture — the engine's message-stream analog (SURVEY §1.2).
EVENTS_SCHEMA = Schema(
    columns={
        "event_id": "long",
        "ts": "timestamp",
        "user_id": "long",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    props_col="props",
)


# --------------------------------------------------------------------------
# Pass 1 — type inference + coercion
# --------------------------------------------------------------------------


def _coerce(node: Node, target: str) -> Node:
    cast = Cast(node, target)
    cast.type = target
    return cast


def _numeric_ctx(node: Node) -> Node:
    """Coerce a node for numeric context (JMS B11)."""
    if node.type in _NUMERIC:
        return node
    if node.type in ("dynamic", "string"):
        return _coerce(node, "double")
    raise SelectorTypeError(f"expected a numeric expression, got {node.type}")


def _string_ctx(node: Node) -> Node:
    if node.type in ("string", "dynamic"):
        return node
    raise SelectorTypeError(f"expected a string expression, got {node.type}")


def _boolean_ctx(node: Node) -> Node:
    """Boolean context (AND/OR/NOT operands, selector root).

    JMS boolean properties: a bare property identifier used as a predicate
    term reads as its boolean value (``getBooleanProperty``); an
    inconvertible value yields UNKNOWN — hence try-cast."""
    if node.type == "boolean":
        return node
    if node.type == "dynamic":
        return _coerce(node, "boolean")
    raise SelectorTypeError(f"expected a boolean expression, got {node.type}")


def annotate(node: Node, schema: Schema) -> Node:
    """Infer types bottom-up, inserting :class:`Cast` nodes; returns the
    (possibly wrapped) node with ``.type`` set on every descendant."""
    if isinstance(node, Lit):
        node.type = "string" if node.kind == "string" else node.kind
        return node

    if isinstance(node, Ident):
        kind, detail = schema.resolve(node.name)
        node.type = detail if kind == "col" else "dynamic"
        node.resolved = (kind, detail)  # type: ignore[attr-defined]
        return node

    if isinstance(node, Unary):
        node.operand = _numeric_ctx(annotate(node.operand, schema))
        node.type = node.operand.type
        return node

    if isinstance(node, Arith):
        node.left = _numeric_ctx(annotate(node.left, schema))
        node.right = _numeric_ctx(annotate(node.right, schema))
        if node.op == "/":
            node.type = "double"  # both engines do float division for '/'
        else:
            node.type = (
                "long"
                if node.left.type == "long" and node.right.type == "long"
                else "double"
            )
        return node

    if isinstance(node, Cmp):
        node.left = annotate(node.left, schema)
        node.right = annotate(node.right, schema)
        lt, rt = node.left.type, node.right.type
        if lt in _NUMERIC or rt in _NUMERIC:
            node.left, node.right = _numeric_ctx(node.left), _numeric_ctx(node.right)
        elif "timestamp" in (lt, rt):
            if lt != "timestamp":
                node.left = _coerce(_string_ctx(node.left), "timestamp")
            if rt != "timestamp":
                node.right = _coerce(_string_ctx(node.right), "timestamp")
        elif lt == "boolean" or rt == "boolean":
            # JMS permits equality of a boolean property with TRUE/FALSE:
            # a dynamic side reads through Boolean.valueOf (same try-cast as
            # the bare-identifier predicate form); anything else is ill-typed.
            node.left = _boolean_ctx(node.left)
            node.right = _boolean_ctx(node.right)
            if node.op not in ("=", "<>"):
                raise SelectorTypeError(
                    f"boolean comparison supports only = and <>, got {node.op!r}"
                )
        # else: string/dynamic vs string/dynamic → string comparison as-is
        node.type = "boolean"
        return node

    if isinstance(node, Between):
        node.operand = annotate(node.operand, schema)
        node.low = annotate(node.low, schema)
        node.high = annotate(node.high, schema)
        types = {node.operand.type, node.low.type, node.high.type}
        if types & set(_NUMERIC):
            node.operand = _numeric_ctx(node.operand)
            node.low = _numeric_ctx(node.low)
            node.high = _numeric_ctx(node.high)
        elif "timestamp" in types:
            for attr in ("operand", "low", "high"):
                child = getattr(node, attr)
                if child.type != "timestamp":
                    setattr(node, attr, _coerce(_string_ctx(child), "timestamp"))
        node.type = "boolean"
        return node

    if isinstance(node, In):
        node.operand = annotate(node.operand, schema)
        for v in node.values:
            annotate(v, schema)
        kinds = {v.type for v in node.values}
        if kinds & set(_NUMERIC):
            node.operand = _numeric_ctx(node.operand)
        elif node.operand.type not in ("string", "dynamic"):
            raise SelectorTypeError(
                f"IN list of {kinds} does not match operand type {node.operand.type}"
            )
        node.type = "boolean"
        return node

    if isinstance(node, (Like, Regex)):
        node.operand = _string_ctx(annotate(node.operand, schema))
        node.type = "boolean"
        return node

    if isinstance(node, IsNull):
        node.operand = annotate(node.operand, schema)
        node.type = "boolean"
        return node

    if isinstance(node, Not):
        node.operand = _boolean_ctx(annotate(node.operand, schema))
        node.type = "boolean"
        return node

    if isinstance(node, (And, Or)):
        node.left = _boolean_ctx(annotate(node.left, schema))
        node.right = _boolean_ctx(annotate(node.right, schema))
        node.type = "boolean"
        return node

    if isinstance(node, Cast):  # pre-coerced subtree (idempotent re-annotate)
        return node

    raise SelectorTypeError(f"unknown AST node {node!r}")


# --------------------------------------------------------------------------
# Pass 2 — SQL backends (duckdb oracle / spark execution)
# --------------------------------------------------------------------------


def like_pattern_to_regex(pattern: str, escape: str | None) -> str:
    """Translate a SQL LIKE pattern (with optional ESCAPE) to an anchored
    regex — the Spark rendering of LIKE…ESCAPE.  Semantics match SQL:
    ``%`` → ``.*``, ``_`` → ``.``, escaped wildcard chars are literal."""
    import re as _re

    out, i = ["(?s)^"], 0
    while i < len(pattern):
        ch = pattern[i]
        if escape is not None and ch == escape and i + 1 < len(pattern):
            out.append(_re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(_re.escape(ch))
        i += 1
    out.append("$")
    return "".join(out)


def to_sql(node: Node, schema: Schema, dialect: str = "duckdb") -> str:
    """Render the typed AST as SQL.  ``duckdb`` is the oracle dialect;
    ``spark`` is the execution dialect, parsed by :func:`to_column`.
    Dialect differences:

    ===================  ==============================  ===========================
    construct            duckdb                          spark
    ===================  ==============================  ===========================
    string literal       'a''b'                          'a''b', backslash doubled
    double literal       0.2                             0.2D
    column name          value                           `value`
    property access      json_extract_string(p,'$.k')    get_json_object(`p`,'$.k')
    try-cast to string   TRY_CAST(x AS VARCHAR)          TRY_CAST(x AS STRING)
    BETWEEN              x BETWEEN lo AND hi             (x >= lo) AND (x <= hi)
    LIKE … ESCAPE        x LIKE 'p' ESCAPE 'e'           x RLIKE '<anchored regex>'
    regex match          regexp_matches(x,'p')           x RLIKE 'p'
    ===================  ==============================  ===========================

    The spark column is the same expression the ``pyspark`` Column API
    builds for each construct (``Column.between`` is the >=/<= pair), so
    the analyzed plan is what a hand-built Column would give.
    """
    if dialect not in ("duckdb", "spark"):
        raise ValueError(f"unknown dialect {dialect!r}")
    spark = dialect == "spark"

    type_names = {
        "double": "DOUBLE",
        "long": "BIGINT",
        "timestamp": "TIMESTAMP",
        "string": "STRING" if spark else "VARCHAR",
        "boolean": "BOOLEAN",
    }

    def string(value: str) -> str:
        # Spark reads backslash as an escape inside string literals
        if spark:
            value = value.replace("\\", "\\\\")
        return "'" + value.replace("'", "''") + "'"

    def column(name: str) -> str:
        return "`" + name.replace("`", "``") + "`" if spark else name

    def render(n: Node) -> str:
        if isinstance(n, Lit):
            if n.kind == "string":
                return string(str(n.value))
            if n.kind == "boolean":
                return "TRUE" if n.value else "FALSE"
            if n.kind == "double":
                if not math.isfinite(n.value):
                    return f"CAST('{n.value!r}' AS DOUBLE)"
                return f"{n.value!r}D" if spark else repr(n.value)
            return repr(n.value)
        if isinstance(n, Ident):
            kind, detail = n.resolved  # type: ignore[attr-defined]
            if kind == "col":
                return column(n.name)
            fn = "get_json_object" if spark else "json_extract_string"
            return f"{fn}({column(schema.props_col)}, {string('$.' + detail)})"
        if isinstance(n, Cast):
            if n.to == "boolean":
                # JMS Boolean.valueOf: true iff equalsIgnoreCase("true");
                # any other string is false; missing property stays NULL
                # (engines' native string→bool casts disagree on 'yes'/'y').
                return f"(lower({render(n.operand)}) = 'true')"
            return f"TRY_CAST({render(n.operand)} AS {type_names[n.to]})"
        if isinstance(n, Unary):
            if spark:
                # -(x): a bare minus would fold into a negative literal
                return render(n.operand) if n.op == "+" else f"(-({render(n.operand)}))"
            return f"({n.op}{render(n.operand)})"
        if isinstance(n, (Arith, Cmp)):
            return f"({render(n.left)} {n.op} {render(n.right)})"
        if isinstance(n, Between):
            x, lo, hi = render(n.operand), render(n.low), render(n.high)
            if spark:
                expr = f"(({x} >= {lo}) AND ({x} <= {hi}))"
                return f"(NOT {expr})" if n.negated else expr
            kw = "NOT BETWEEN" if n.negated else "BETWEEN"
            return f"({x} {kw} {lo} AND {hi})"
        if isinstance(n, In):
            kw = "NOT IN" if n.negated else "IN"
            vals = ", ".join(render(v) for v in n.values)
            return f"({render(n.operand)} {kw} ({vals}))"
        if isinstance(n, Like):
            if spark and n.escape:
                regex = like_pattern_to_regex(n.pattern, n.escape)
                expr = f"({render(n.operand)} RLIKE {string(regex)})"
                return f"(NOT {expr})" if n.negated else expr
            kw = "NOT LIKE" if n.negated else "LIKE"
            esc = f" ESCAPE {string(n.escape)}" if n.escape else ""
            return f"({render(n.operand)} {kw} {string(n.pattern)}{esc})"
        if isinstance(n, Regex):
            if spark:
                expr = f"({render(n.operand)} RLIKE {string(n.pattern)})"
            else:
                expr = f"regexp_matches({render(n.operand)}, {string(n.pattern)})"
            return f"(NOT {expr})" if n.negated else expr
        if isinstance(n, IsNull):
            kw = "IS NOT NULL" if n.negated else "IS NULL"
            return f"({render(n.operand)} {kw})"
        if isinstance(n, Not):
            return f"(NOT {render(n.operand)})"
        if isinstance(n, And):
            return f"({render(n.left)} AND {render(n.right)})"
        if isinstance(n, Or):
            return f"({render(n.left)} OR {render(n.right)})"
        raise SelectorTypeError(f"unknown AST node {n!r}")

    return render(node)


def to_column(node: Node, schema: Schema):
    """Typed AST → ``pyspark.sql.Column``: the spark-dialect text, parsed by
    Spark in one JVM call (requires an active session)."""
    from pyspark.sql import functions as F

    return F.expr(to_sql(node, schema, "spark"))
