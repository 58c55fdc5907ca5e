"""Expressions module — compiled arithmetic over doc values and score.

Mirrors the capability of the reference's expressions module (public
knowledge: u8:lucene/expressions/src/java/org/apache/lucene/expressions/
js/JavascriptCompiler.java ~800 LoC, Expression.java, SimpleBindings.java):
compile a user-supplied arithmetic expression string over bound variables
(doc attributes + ``_score``) into a per-doc value source usable for
sorting or boosting. Lucene compiles a JS subset to bytecode; here the
expression compiles to a **validated Catalyst expression** — the engine
never evals Python per row, and the identical emitted SQL runs on DuckDB,
so the oracle shares the exact float expression tree.

Pinned grammar (the arithmetic core of Lucene's JS subset):

    expr    := term (('+' | '-') term)*
    term    := unary (('*' | '/') unary)*
    unary   := '-' unary | atom
    atom    := NUMBER | IDENT | IDENT '(' expr (',' expr)* ')'
               | '(' expr ')'

Functions whitelist (identical semantics Spark SQL <-> DuckDB, all f64):
``ln``, ``log10``, ``sqrt``, ``abs``, ``pow``, ``least``, ``greatest``.
Identifiers must be in the caller's binding set — anything else raises at
COMPILE time (Lucene's unknown-variable / unknown-function errors), so no
untrusted string ever reaches ``F.expr`` unvalidated.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FUNCTIONS = frozenset({"ln", "log10", "sqrt", "abs", "pow",
                       "least", "greatest"})

_TOKEN = re.compile(r"\s*(?:(\d+\.\d+|\d+)|([A-Za-z_][A-Za-z0-9_]*)"
                    r"|([()+\-*/,]))")


@dataclass(frozen=True)
class CompiledExpression:
    """A validated expression: ``sql`` is the canonical emitted form
    (valid in both Spark SQL and DuckDB), ``variables`` the bound
    identifiers it references."""

    sql: str
    variables: tuple[str, ...]

    def column(self) -> Column:
        return F.expr(self.sql)


class ExpressionError(ValueError):
    pass


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(src):
        m = _TOKEN.match(src, i)
        if not m or m.end() == i:
            if src[i:].strip():
                raise ExpressionError(f"bad character at {i}: {src[i:]!r}")
            break
        i = m.end()
        if m.group(1):
            out.append(("num", m.group(1)))
        elif m.group(2):
            out.append(("ident", m.group(2)))
        else:
            out.append(("op", m.group(3)))
    return out


def compile_expression(src: str, bindings: set[str]) -> CompiledExpression:
    """Parse + validate ``src`` against ``bindings``; emit canonical SQL
    (fully parenthesized, so operator precedence is pinned identically
    on every engine that runs it)."""
    toks = _tokenize(src)
    pos = 0
    used: set[str] = set()

    def peek():
        return toks[pos] if pos < len(toks) else (None, None)

    def take(kind=None, val=None):
        nonlocal pos
        k, v = peek()
        if k is None or (kind and k != kind) or (val and v != val):
            raise ExpressionError(
                f"unexpected {'end' if k is None else v!r} at token {pos}")
        pos += 1
        return v

    def expr() -> str:
        s = term()
        while peek() == ("op", "+") or peek() == ("op", "-"):
            op = take("op")
            s = f"({s} {op} {term()})"
        return s

    def term() -> str:
        s = unary()
        while peek() == ("op", "*") or peek() == ("op", "/"):
            op = take("op")
            s = f"({s} {op} {unary()})"
        return s

    def unary() -> str:
        if peek() == ("op", "-"):
            take("op")
            return f"(- {unary()})"
        return atom()

    def atom() -> str:
        k, v = peek()
        if k == "num":
            take("num")
            # pin the literal's TYPE, not just its spelling: bare
            # decimal literals parse as DECIMAL in Spark SQL (and
            # DuckDB), so a constant-only subtree like 100.0/3.25 would
            # run scale-limited decimal arithmetic on Spark while
            # DuckDB promotes decimal division to DOUBLE — breaking the
            # cross-engine float64 determinism this module promises
            # (found by the expressions fuzz family, seed 99102)
            return f"CAST({v if '.' in v else f'{v}.0'} AS DOUBLE)"
        if k == "ident":
            take("ident")
            if peek() == ("op", "("):  # function call
                if v not in FUNCTIONS:
                    raise ExpressionError(f"unknown function {v!r}")
                take("op", "(")
                args = [expr()]
                while peek() == ("op", ","):
                    take("op", ",")
                    args.append(expr())
                take("op", ")")
                return f"{v}({', '.join(args)})"
            if v not in bindings:
                raise ExpressionError(f"unbound variable {v!r}")
            used.add(v)
            return v
        if k == "op" and v == "(":
            take("op", "(")
            s = expr()
            take("op", ")")
            return s
        raise ExpressionError(f"unexpected token at {pos}")

    sql = expr()
    if pos != len(toks):
        raise ExpressionError(f"trailing input at token {pos}")
    return CompiledExpression(sql=sql, variables=tuple(sorted(used)))


def expression_sort(index, query, attrs: DataFrame, src: str,
                    k: int = 10, mode: str = "f64") -> DataFrame:
    """Expression-sorted search — Lucene's ``new Sort(expr.getSortField(
    bindings, true))`` over the full match set.

    ``attrs`` carries (doc_id, <numeric attributes...>); bindings are its
    columns plus ``_score``. Returns (doc_id, sort_value) top-k DESC,
    doc_id ASC ties; sort_value is float32-rounded (cross-engine hash
    contract).

    Scale shape: full match set (the export path) equi-joined to the
    attribute table on doc_id, expression evaluated as a narrow Catalyst
    projection, then TakeOrderedAndProject — no global sort, nothing
    driver-side.
    """
    from sparklucene.search import matches

    bindings = {"_score"} | {c for c in attrs.columns if c != "doc_id"}
    cexpr = compile_expression(src, bindings)
    m = (matches(index, query, mode=mode)
         .select("doc_id", F.col("score").alias("_score")))
    j = m.join(attrs, "doc_id")
    return (j.select("doc_id",
                     cexpr.column().cast("float").cast("double")
                     .alias("sort_value"))
            .orderBy(F.desc("sort_value"), F.asc("doc_id"))
            .limit(k))
