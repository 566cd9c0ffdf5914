"""No plan may round a quotient without a triage mark.

``round(x / y, n)`` can disagree between Spark (BigDecimal HALF_UP on
the double's shortest decimal repr) and DuckDB (double rounding) when
the quotient lands exactly on a representation boundary. The fix idiom
is exact integer division on quantized sums before the final round,
so both engines round the same exact rational.

A site that keeps ``round()`` on purpose — irrational values
(sqrt/log/exp composites have no exact grid boundary to land on) or
exact-decimal projections (cents/100.0 at 2 dp, micro/10⁶ at 6 dp) —
carries an ``ok-round: <reason>`` mark: a ``#`` comment on or up to 3
lines above the ``F.round`` call in Python, a ``--`` comment on or
directly above the ``round(`` line inside oracle SQL.

This scans ``plans/*.py`` statically (no Spark) and lists every
unmarked site as file:line.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PLANS = (
    Path(__file__).resolve().parent.parent
    / "distributed_file_system_with_stream_processing_spark"
    / "plans"
)
_MARK = "ok-round:"
_SQL_ROUND = re.compile(r"round\s*\(", re.IGNORECASE)


def _has_div(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.BinOp) and isinstance(n.op, ast.Div)
        for n in ast.walk(node)
    )


def _sql_sites(sql: str) -> list[tuple[int, bool]]:
    """(line offset in ``sql``, marked) for every round( call whose
    argument list contains a /."""
    out = []
    for m in _SQL_ROUND.finditer(sql):
        depth, i, saw_div = 1, m.end(), False
        while i < len(sql) and depth:
            c = sql[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "/":
                saw_div = True
            i += 1
        if saw_div:
            # the mark may sit on this line or the one directly above —
            # one line only, so a neighbor's mark cannot cover a site
            line_start = sql.rfind("\n", 0, m.start())
            prev_start = sql.rfind("\n", 0, max(line_start, 0))
            line_end = sql.find("\n", m.start())
            ctx = sql[max(prev_start, 0) : line_end if line_end >= 0 else len(sql)]
            out.append((sql.count("\n", 0, m.start()), _MARK in ctx))
    return out


def scan(src: str) -> tuple[list[tuple[int, bool]], list[tuple[int, bool]]]:
    """(python sites, SQL sites) of ``src`` as (line, marked) pairs."""
    lines = src.splitlines()
    py, sql = [], []
    for n in ast.walk(ast.parse(src)):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "round"
            and n.args
            and _has_div(n.args[0])
        ):
            ctx = "\n".join(lines[max(n.lineno - 4, 0) : n.lineno])
            py.append((n.lineno, _MARK in ctx))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if "round(" in n.value.lower() and "/" in n.value:
                sql.extend(
                    (n.lineno + off, marked) for off, marked in _sql_sites(n.value)
                )
    return py, sql


def test_no_unmarked_round_quotients_in_plans():
    unmarked, n_py, n_sql = [], 0, 0
    for path in sorted(PLANS.glob("*.py")):
        py, sql = scan(path.read_text())
        n_py += len(py)
        n_sql += len(sql)
        unmarked += [f"{path.name}:{ln}" for ln, marked in py + sql if not marked]
    assert n_py and n_sql, "scan found no sites at all — the detector is broken"
    assert not unmarked, "unmarked round(<quotient>, n) sites:\n" + "\n".join(unmarked)


_UNMARKED = '''
def q(df):
    return df.select(F.round(F.col("a") / F.col("b"), 4))

SQL = """
SELECT round(sum(a) / count(*), 4) AS m FROM t
"""
'''

_MARKED = '''
def q(df):
    # ok-round: sqrt has no exact grid boundary
    return df.select(F.round(F.sqrt(F.col("a") / F.col("b")), 4))

SQL = """
SELECT -- ok-round: sqrt has no exact grid boundary
       round(sqrt(sum(a) / count(*)), 4) AS m FROM t
"""
'''


def test_scan_flags_unmarked_and_passes_marked():
    py, sql = scan(_UNMARKED)
    assert py == [(3, False)] and sql == [(6, False)]
    py, sql = scan(_MARKED)
    assert py == [(4, True)] and sql == [(8, True)]
