"""Unit tests for the unsafe-round detectors in ``tests/_round.py`` —
the ones behind ``test_no_unsafe_round_anywhere``. The text scan once
missed lowercase SQL ``round(`` in oracle strings and rounds nested
inside another round's arguments; each case is pinned here so the guard
keeps meaning what it says. No SparkSession needed — pure string and
AST scanning."""

from __future__ import annotations

from _round import find_unsafe, find_unsafe_sql_strings, is_hand_expanded

import ast


def test_find_unsafe_matches_migrate_sites():
    src = "F.round(a, 2)\nROUND(b, 4)\nF.round(c, 0)\nround(d, 2)"
    hits = find_unsafe(src)
    assert len(hits) == 2  # the two n>=1 engine-round sites only


def test_find_unsafe_sql_only_catches_lowercase():
    # the q_scalar_math oracle gap: lowercase round( in pure SQL text
    sql = "SELECT round(x, 1), ROUND(y, 6), round(z, 0) FROM t"
    assert len(find_unsafe(sql, sql_only=True)) == 2
    assert len(find_unsafe(sql)) == 1  # source mode: uppercase only


def test_nested_unsafe_round_is_found_and_migrated():
    # The scanner used to advance past the entire matched call span, so
    # an unsafe ROUND nested inside a SAFE outer round's arguments was
    # invisible — the exact adversarial example:
    src = "(F.round((F.round(x, 2) + y) * 10000, 0) / 10000.0)"
    hits = find_unsafe(src)
    assert len(hits) == 1 and "F.round(x, 2)" in hits[0]


def test_unsafe_round_nested_inside_unsafe_round_migrates_both():
    src = "F.round(F.round(x, 2) + y, 4)"
    hits = find_unsafe(src)
    assert len(hits) == 2


def test_sql_strings_scan_catches_lowercase_in_embedded_sql():
    # source-mode scanning ignores lowercase round( (Python builtin);
    # find_unsafe_sql_strings extracts SQL-looking string literals and
    # scans them with the sql_only detector — the q_scalar_math gap.
    py = 'q = "SELECT round(x, 2) AS r FROM t"\ny = round(z, 2)\n'
    hits = find_unsafe_sql_strings(py)
    assert len(hits) == 1 and "round(x, 2)" in hits[0]
    assert find_unsafe(py) == []  # the old scan misses it
    # prose mentioning the builtin is not flagged (no SELECT...FROM)
    assert find_unsafe_sql_strings('"""use round(x, 2) carefully"""') == []
    # f-string SQL bodies are scanned via their constant fragments
    fsrc = 'q = f"SELECT round(x, 3) FROM {tbl}"'
    assert len(find_unsafe_sql_strings(fsrc)) == 1


def test_hand_expanded_safe_form_is_flagged_scaled_integer_is_not():
    def flagged(src: str) -> int:
        return sum(is_hand_expanded(n) for n in ast.walk(ast.parse(src)))

    assert flagged("(F.round(F.sum(v) * 100, 0) / 100.0).alias('s')") == 1
    assert flagged("F.round(10000 * x, 0) / 10000") == 1
    # integer cents summed, then re-scaled: not a rounding site
    assert flagged("F.round(F.sum(F.round(x * 100, 0).cast('long')), 0) / 100.0") == 0
    assert flagged("round_to(F.sum(v), 2)") == 0
