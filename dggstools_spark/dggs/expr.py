"""A small expression type for formulas that run on numpy and in SQL.

A formula is written once as a list of named steps, each an :class:`Expr`
built from Python operators plus :func:`floor`, :func:`least`,
:func:`greatest`, :func:`sqrt`, :func:`abs_`, :func:`fmod`, :func:`case`
and :func:`cast`.  It has two renderings that perform the same IEEE
operations in the same order, so every engine gets the same bits:

- :meth:`Expr.sql` — fully parenthesised SQL text that Spark and DuckDB
  read alike: float constants through :func:`double_sql`, integers as
  integer literals, ``%`` for :func:`fmod` (both engines' ``%`` keeps the
  dividend's sign, like C ``fmod``);
- :func:`evaluate` — the steps on numpy arrays, ``np.fmod`` for ``%``
  (not Python's floored ``%``) and ``np.where`` for ``CASE``.

Only operations with one IEEE result are allowed (``+ - * /``, ``sqrt``,
``floor``, ``abs``, comparisons), so no math library enters the result.
"""

from __future__ import annotations

import numpy as np


def double_sql(v: float) -> str:
    """``v`` as a DOUBLE literal that both engines read as the same double:
    the shortest round-trip digits with an exponent, inside
    ``CAST(.. AS DOUBLE)`` (CLAUDE.md constraint 8).  Without the exponent
    both engines parse a DECIMAL, and DuckDB's DECIMAL-to-DOUBLE cast
    misrounds about one 17-digit value in ten; DuckDB has no ``D``
    suffix."""
    r = repr(float(v))
    return f"CAST({r if 'e' in r else r + 'e0'} AS DOUBLE)"


_BINARY = {"+": np.add, "-": np.subtract, "*": np.multiply, "/": np.true_divide,
           "%": np.fmod, ">": np.greater, "<": np.less, ">=": np.greater_equal,
           "<=": np.less_equal, "=": np.equal, "AND": np.logical_and,
           "OR": np.logical_or}
_CALLS = {"floor": np.floor, "least": np.minimum, "greatest": np.maximum,
          "sqrt": np.sqrt, "abs": np.abs}
_CASTS = {"INT": np.int32, "BIGINT": np.int64, "DOUBLE": np.float64}


class Expr:
    """One node: ``op`` is a binary operator, a function name, ``neg``,
    ``case``, ``CAST <type>``, ``col`` (a column name) or ``lit`` (a Python
    int or float)."""

    __slots__ = ("op", "args")

    def __init__(self, op: str, *args):
        self.op = op
        self.args = args if op in ("col", "lit") else tuple(map(_expr, args))

    def _bin(op):
        return (lambda a, b: Expr(op, a, b)), (lambda a, b: Expr(op, b, a))

    __add__, __radd__ = _bin("+")
    __sub__, __rsub__ = _bin("-")
    __mul__, __rmul__ = _bin("*")
    __truediv__, __rtruediv__ = _bin("/")
    __and__, __rand__ = _bin("AND")
    __or__, __ror__ = _bin("OR")
    __gt__, __lt__ = _bin(">")[0], _bin("<")[0]
    __ge__, __le__ = _bin(">=")[0], _bin("<=")[0]
    __eq__ = _bin("=")[0]
    __hash__ = None
    del _bin

    def __neg__(self):
        return Expr("neg", self)

    def sql(self) -> str:
        op, a = self.op, self.args
        if op == "col":
            return a[0]
        if op == "lit":
            return double_sql(a[0]) if isinstance(a[0], float) else str(a[0])
        if op in _BINARY:
            return f"({a[0].sql()} {op} {a[1].sql()})"
        if op == "neg":
            return f"(- {a[0].sql()})"
        if op == "case":
            whens = " ".join(f"WHEN {c.sql()} THEN {v.sql()}"
                             for c, v in zip(a[:-1:2], a[1::2]))
            return f"CASE {whens} ELSE {a[-1].sql()} END"
        if op.startswith("CAST "):
            return f"CAST({a[0].sql()} AS {op[5:]})"
        return f"{op}({', '.join(x.sql() for x in a)})"

    def eval(self, env: dict):
        op, a = self.op, self.args
        if op == "col":
            return env[a[0]]
        if op == "lit":
            return a[0]
        v = [x.eval(env) for x in a]
        if op in _BINARY:
            return _BINARY[op](v[0], v[1])
        if op == "neg":
            return np.negative(v[0])
        if op == "case":  # the first true WHEN wins
            out = v[-1]
            for c, x in zip(v[-3::-2], v[-2::-2]):
                out = np.where(c, x, out)
            return out
        if op.startswith("CAST "):
            return np.asarray(v[0], dtype=_CASTS[op[5:]])
        return _CALLS[op](*v)


def _expr(x) -> Expr:
    return x if isinstance(x, Expr) else Expr("lit", x)


def col(name: str) -> Expr:
    return Expr("col", name)


def floor(x) -> Expr:
    return Expr("floor", x)


def least(a, b) -> Expr:
    return Expr("least", a, b)


def greatest(a, b) -> Expr:
    return Expr("greatest", a, b)


def sqrt(x) -> Expr:
    return Expr("sqrt", x)


def abs_(x) -> Expr:
    return Expr("abs", x)


def fmod(a, b) -> Expr:
    """SQL ``a % b``: the remainder with the dividend's sign (C ``fmod``)."""
    return Expr("%", a, b)


def case(*whens_then_else) -> Expr:
    """``case(c1, v1, c2, v2, ..., otherwise)`` — searched SQL ``CASE``."""
    return Expr("case", *whens_then_else)


def cast(x, sql_type: str) -> Expr:
    return Expr(f"CAST {sql_type}", x)


def clamp(x, lo, hi) -> Expr:
    return least(greatest(x, lo), hi)


def sql_steps(steps: list[tuple[str, Expr]]) -> list[tuple[str, str]]:
    """(name, SQL text) for each step."""
    return [(name, e.sql()) for name, e in steps]


def evaluate(steps: list[tuple[str, Expr]], env: dict) -> dict:
    """Run ``steps`` in order on the numpy arrays in ``env`` (keyed by the
    column names the steps read); each step's result is added under its
    name.  Returns ``env``."""
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        for name, e in steps:
            env[name] = e.eval(env)
    return env
