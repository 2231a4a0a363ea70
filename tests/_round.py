"""Engine-exact rounding: the test expected-value model and the
unsafe-round detector.

Every engine-side n>=1-decimal round is the safe form
``ROUND(x * 10^n, 0) / 10^n`` — ``contract.round_to`` in Spark, inline
in the DuckDB oracle SQL (enforced by ``test_no_unsafe_round_anywhere``,
which uses ``find_unsafe`` / ``find_unsafe_sql_strings`` below), so the
test model must be that form, computed the way the engines compute it:

- ``y = x * 10^n`` is one IEEE double multiply — identical in Spark,
  DuckDB, and CPython;
- the 0-decimal round is where the engines AGREE on every double:
  Spark rounds the shortest decimal repr (``BigDecimal.valueOf``),
  DuckDB the binary value, and at scale 0 these coincide — a double is
  exactly a half-integer iff its shortest repr ends in ``.5`` (halves
  below 2^52 are exactly representable), and otherwise the shortest
  repr sits on the same side of the half as the binary value (shortest
  reprs roundtrip uniquely and preserve ordering). Both round halves
  away from zero. ``Decimal(repr(y)).quantize(1, HALF_UP)`` models it
  exactly;
- ``/ 10^n`` is one IEEE divide — identical everywhere.

History: Python's builtin ``round`` is banker's (HALF_EVEN) and
disagrees at exact halves — the round-13 judge found Hypothesis input
sizes=[1,1,1,2,9,9,9] where max_share = 9/32 = 0.28125 rounds to
0.2813 in the engines but 0.2812 under builtin ``round``; the engine
was right and the test model was the buggy side. The r14 ``rhalf``
modeled the engines' OLD ``ROUND(x, n)`` (shortest-repr HALF_UP at n
decimals), which diverges from the scaled form exactly at the
representation boundaries the r15 migration removed — so the model
moved with the engines. At exact decimal halves (the pinned example)
old and new agree; they differ only where a value's shortest repr and
binary value straddle a half at the n-th decimal, which is the class
the migration exists to pin down. Every test expected value uses
``rhalf``, never bare ``round``.
"""

from __future__ import annotations

import ast
import re
from decimal import ROUND_HALF_UP, Decimal


def rhalf(x: float, nd: int = 0) -> float:
    """Round ``x`` to ``nd`` decimals exactly as the engines do since
    the r15 migration: ``round(x * 10^nd, 0) / 10^nd`` with the
    0-decimal round half-away-from-zero on the (binary) scaled value —
    bit-identical to Spark ``round_to(x, nd)`` and DuckDB
    ``ROUND(x * 10^nd, 0) / 10^nd.0``."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    scale = float(10**nd)
    y = float(x) * scale
    if y in (float("inf"), float("-inf")):
        return y
    r = Decimal(repr(y)).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    return float(r) / scale


CALL_RE = re.compile(r"(?<![\w.])(F\.round|ROUND)\s*\(")
# For pure-SQL text (oracle strings) the Python-builtin ambiguity is gone,
# so lowercase round( is also the engine function and must be flagged
# (q_scalar_math's oracle hid 3 sites from the uppercase-only scan).
SQL_CALL_RE = re.compile(r"(?<![\w.])(round)\s*\(", re.IGNORECASE)


def _match_paren(src: str, open_idx: int) -> int:
    """Index just past the ')' matching the '(' at open_idx. Not
    string-aware: round arguments in this codebase never hold an
    unbalanced paren inside a string literal."""
    depth = 0
    i = open_idx
    while i < len(src):
        c = src[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError(f"unbalanced parens at {open_idx}")


def _split_top(arg_src: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, c in enumerate(arg_src):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(arg_src[start:i])
            start = i + 1
    parts.append(arg_src[start:])
    # tolerate a multi-line call's trailing comma: F.round(x,\n 2,\n)
    if len(parts) > 1 and not parts[-1].strip():
        parts.pop()
    return parts


def find_unsafe(src: str, sql_only: bool = False) -> list[str]:
    """Every ``F.round(x, n>=1)`` / ``ROUND(x, n>=1)`` occurrence, as a
    short snippet. Used by
    ``tests/test_entry_contract.py::test_no_unsafe_round_anywhere`` so the
    representation-boundary class cannot be reintroduced.
    ``sql_only=True`` (for oracle strings) also matches lowercase
    ``round(`` — in pure SQL there is no Python-builtin ambiguity."""
    pattern = SQL_CALL_RE if sql_only else CALL_RE
    hits, pos = [], 0
    while True:
        m = pattern.search(src, pos)
        if m is None:
            return hits
        open_idx = src.index("(", m.end() - 1)
        try:
            end = _match_paren(src, open_idx)
        except ValueError:
            pos = m.end()
            continue
        args = _split_top(src[open_idx + 1 : end - 1])
        if len(args) == 2 and re.fullmatch(r"\s*(\d+)\s*", args[1]) and int(args[1]) >= 1:
            hits.append(src[m.start() : min(end, m.start() + 80)].replace("\n", " "))
        # Descend into the argument span (not past the whole call) so a
        # round call nested inside another round call's arguments is
        # scanned too — e.g. the unsafe inner call in
        # ``F.round((F.round(x, 2) + y) * 10000, 0)``.
        pos = open_idx + 1


def find_unsafe_sql_strings(py_src: str) -> list[str]:
    """Scan SQL text embedded in Python string literals (spark.sql bodies,
    oracle fragments) with the ``sql_only`` detector — in pure SQL,
    lowercase ``round(`` is the engine function, the exact gap that hid
    q_scalar_math's oracle sites from the uppercase-only source scan.
    Only strings that look like SQL (contain SELECT and FROM) are scanned,
    so prose/docstrings discussing the Python builtin aren't flagged.
    f-strings are scanned via their constant fragments joined with a
    placeholder (an interpolation hole can't itself be a literal scale)."""
    hits: list[str] = []
    try:
        tree = ast.parse(py_src)
    except SyntaxError:
        return hits
    texts: list[str] = []
    fstring_fragments: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            frags = [
                v
                for v in node.values
                if isinstance(v, ast.Constant) and isinstance(v.value, str)
            ]
            fstring_fragments.update(id(v) for v in frags)
            texts.append(" _ ".join(v.value for v in frags))
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in fstring_fragments
        ):
            texts.append(node.value)
    for s in texts:
        if re.search(r"\bSELECT\b", s, re.I) and re.search(r"\bFROM\b", s, re.I):
            hits += find_unsafe(s, sql_only=True)
    return hits


def _number(node: ast.AST) -> bool:
    return isinstance(node, ast.Constant) and type(node.value) in (int, float)


def is_hand_expanded(node: ast.AST) -> bool:
    """``F.round(x * <number>, ...) / <number>``: the safe form spelled
    out at a site instead of through ``contract.round_to``. A scaled
    integer re-scaled as ``F.round(s, 0) / 100.0`` is not this form."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Div)
        and _number(node.right)
        and isinstance(node.left, ast.Call)
        and isinstance(node.left.func, ast.Attribute)
        and node.left.func.attr == "round"
        and bool(node.left.args)
        and isinstance(node.left.args[0], ast.BinOp)
        and isinstance(node.left.args[0].op, ast.Mult)
        and (_number(node.left.args[0].left) or _number(node.left.args[0].right))
    )
