"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() are
consistent, and every query key builds and executes at sf0.001."""

from __future__ import annotations

from _round import rhalf

import os

import pytest

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "l_returnflag" in df.columns
    assert "sum_qty" in df.columns


def test_oracle_keys_subset_of_queries():
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 58


@pytest.mark.parametrize("key", sorted(entry_mod.queries()))
def test_query_executes(spark, sf_dir, key):
    df = entry_mod.queries()[key](spark, sf_dir)
    # limit(5) keeps this a smoke pass; full-result correctness is the
    # DuckDB oracle differential (tools/verify_oracle.py, driver-run).
    df.limit(5).collect()


def test_sweep_rotation_puts_unrecorded_keys_first():
    """The driver verifies a budget-capped prefix of queries() per round;
    never-recorded keys (this round's additions) must sort before any
    key with a green record, and recorded keys must sort stalest-first,
    so the rotation is self-maintaining."""
    qs = list(entry_mod.queries())
    seen = entry_mod._SEEN
    rounds = [seen.get(k, -1) for k in qs]
    assert rounds == sorted(rounds), "queries() must be stalest-first"
    if -1 in rounds and max(rounds) > -1:
        last_new = max(i for i, r in enumerate(rounds) if r == -1)
        first_old = min(i for i, r in enumerate(rounds) if r > -1)
        assert last_new < first_old


def test_no_unsafe_round_anywhere():
    """Contract determinism rule (``contract.round_to``): ``ROUND(x, n)``
    at n >= 1 is not engine-identical at representation boundaries —
    Spark rounds the shortest decimal repr, DuckDB the binary double.
    Spark code rounds through ``round_to``; SQL text spells
    ``ROUND(x * 10^n, 0) / 10^n`` inline. This guard scans every
    registered oracle string and the package source (Spark-side
    ``F.round`` + SQL strings) with the paren-matching detector in
    ``tests/_round.py``, and parses the package so a hand-expanded
    ``F.round(x * 10^n, 0) / 10^n`` outside ``contract.py`` fails too:
    the rule has one home, by construction, not by review."""
    import glob
    import os

    from _round import find_unsafe, find_unsafe_sql_strings, is_hand_expanded

    bad: list[str] = []
    for key, sql in entry_mod.oracle_sql().items():
        bad += [f"oracle[{key}]: {h}" for h in find_unsafe(sql, sql_only=True)]
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "reactor_window_like_flink_spark",
    )
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            src = f.read()
        bad += [f"{os.path.basename(path)}: {h}" for h in find_unsafe(src)]
        # embedded spark.sql bodies: in pure SQL, lowercase round( is the
        # engine function — scan string literals that look like SQL with
        # the sql_only detector too (the q_scalar_math gap)
        bad += [
            f"{os.path.basename(path)} [sql-string]: {h}"
            for h in find_unsafe_sql_strings(src)
        ]

    bad += [
        f"{where} [hand-expanded, use round_to]"
        for where, node in _package_nodes("contract.py")
        if is_hand_expanded(node)
    ]
    assert not bad, f"unsafe ROUND(x, n>=1) sites: {bad[:10]} (+{max(0, len(bad)-10)} more)"


def _ast_nodes(root: str, patterns: list[str], helper: str):
    """(path:line, node) for every AST node of the files under ``root``
    that match ``patterns``, except the module at ``helper`` (both paths
    relative to ``root``). Parsed, not grepped, so docstring and comment
    mentions don't count."""
    import ast
    import glob

    for pattern in patterns:
        for path in glob.glob(os.path.join(root, pattern), recursive=True):
            if os.path.samefile(path, os.path.join(root, helper)):
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if hasattr(node, "lineno"):
                    yield f"{os.path.relpath(path, root)}:{node.lineno}", node


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = "reactor_window_like_flink_spark"


def _package_nodes(helper: str):
    """AST nodes of the package except ``helper`` (package-relative)."""
    return _ast_nodes(os.path.join(_REPO, _PACKAGE), ["**/*.py"], helper)


def _repo_nodes(helper: str):
    """AST nodes of the package, ``tests/``, ``tools/`` and the root
    scripts except ``helper`` (repo-relative). ``perfbench/`` is exempt:
    the benchmark keeps its own copy of what it measures."""
    patterns = ["*.py", f"{_PACKAGE}/**/*.py", "tests/*.py", "tools/*.py"]
    return _ast_nodes(_REPO, patterns, helper)


def _method_call(node, attr: str) -> bool:
    """Whether ``node`` is a call ``<x>.attr(...)``."""
    import ast

    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def test_no_direct_local_checkpoint():
    """One materialization rule: every ``localCheckpoint`` call in the
    package goes through ``functions/materialize.py``."""
    import ast

    bad = [
        where
        for where, node in _package_nodes("functions/materialize.py")
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert not bad, f"direct localCheckpoint calls (use materialize()): {bad}"


def test_no_repartition_into_materialize():
    """A ``.repartition(...)`` is never the receiver of
    ``.transform(materialize)`` nor the argument of ``materialize(...)``:
    a checkpoint keeps no partitioning, so the repartition is a full
    shuffle nothing reads (pinned in ``tests/test_materialize.py``).
    Repartitions that feed ``mapInPandas`` or a writer stay legal."""
    import ast

    def is_materialize(node) -> bool:
        return isinstance(node, ast.Name) and node.id == "materialize"

    bad = [
        where
        for where, node in _package_nodes("functions/materialize.py")
        if isinstance(node, ast.Call)
        and node.args
        and (
            (is_materialize(node.func) and _method_call(node.args[0], "repartition"))
            or (
                _method_call(node, "transform")
                and is_materialize(node.args[0])
                and _method_call(node.func.value, "repartition")
            )
        )
    ]
    assert not bad, (
        "repartition feeding materialize (a checkpoint reports "
        "UnknownPartitioning, so the shuffle is wasted and its fixed "
        f"partition count blocks AQE coalescing): {bad}"
    )


def test_no_hand_rolled_artifact_memo():
    """One per-session artifact memo: only ``llm/artifacts.py`` reads
    ``.applicationId``, so a memo keyed by session outside it fails."""
    import ast

    bad = [
        where
        for where, node in _package_nodes("llm/artifacts.py")
        if isinstance(node, ast.Attribute) and node.attr == "applicationId"
    ]
    assert not bad, f"applicationId read outside llm/artifacts.py: {bad}"


def test_event_time_finalize_only_in_eventtime():
    """One event-time finalize rule: the watermark is read and the
    event-time wake is set only in ``streaming/eventtime.py``."""
    bad = [
        f"{where} .{node.func.attr}"
        for where, node in _package_nodes("streaming/eventtime.py")
        if _method_call(node, "getCurrentWatermarkMs")
        or _method_call(node, "setTimeoutTimestamp")
    ]
    assert not bad, f"event-time finalize outside streaming/eventtime.py: {bad}"


def test_text_tokenized_only_in_text():
    """One tokenizer: a ``split(lower(...))`` call appears only in
    ``llm/text.py::_tokens``; every other site calls ``_tokens()``.
    Oracle SQL strings are not Python calls, so they don't count."""
    import ast

    def name(func) -> str | None:
        if isinstance(func, ast.Attribute):
            return func.attr
        return func.id if isinstance(func, ast.Name) else None

    bad = [
        where
        for where, node in _package_nodes("llm/text.py")
        if isinstance(node, ast.Call)
        and name(node.func) == "split"
        and node.args
        and isinstance(node.args[0], ast.Call)
        and name(node.args[0].func) == "lower"
    ]
    assert not bad, f"split(lower(...)) outside llm/text.py: {bad}"


def test_fixture_tables_read_only_through_load():
    """Fixture tables are read only through ``sources/tables.py::load``
    (which memoizes their schemas): no ``.parquet(...)`` call elsewhere in
    the package passes an argument that references ``sf_dir``."""
    import ast

    bad = [
        where
        for where, node in _package_nodes("sources/tables.py")
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
        and any(
            isinstance(n, ast.Name) and n.id == "sf_dir"
            for arg in [*node.args, *(k.value for k in node.keywords)]
            for n in ast.walk(arg)
        )
    ]
    assert not bad, f"parquet reads of sf_dir outside sources/tables.py: {bad}"


def test_status_tracker_read_only_in_observe():
    """One home for Spark's counters: job groups are set and read, and the
    stage store is opened, only in ``observe.py``."""
    import ast

    calls = {"getJobIdsForGroup", "statusStore", "setJobGroup"}
    bad = [
        f"{where} .{node.attr}"
        for where, node in _repo_nodes(f"{_PACKAGE}/observe.py")
        if isinstance(node, ast.Attribute) and node.attr in calls
    ]
    assert not bad, f"Spark status reads outside observe.py: {bad}"


def _counts_numbered_nodes(node) -> bool:
    """``len(<x>.findall(p, ...))`` with ``p`` starting ``^\\(\\d+\\) ``
    or ``\\(\\d+\\) ``: a count over the numbered node list of a
    formatted plan. An f-string pattern is judged by its literal head."""
    import ast

    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "len"
        and node.args
        and isinstance(inner := node.args[0], ast.Call)
        and isinstance(inner.func, ast.Attribute)
        and inner.func.attr == "findall"
        and inner.args
    ):
        return False
    pattern = inner.args[0]
    if isinstance(pattern, ast.JoinedStr) and pattern.values:
        pattern = pattern.values[0]
    return (
        isinstance(pattern, ast.Constant)
        and isinstance(pattern.value, str)
        and pattern.value.removeprefix("^").startswith(r"\(\d+\) ")
    )


def test_plan_nodes_counted_only_in_node_counts():
    """One home for plan-node counts: ``plans.node_counts``. A
    ``len(re.findall(r"^\\(\\d+\\) Exchange", plan))`` elsewhere fails.
    Patterns that read node details (the ``q_skew_profile`` Window
    arguments) are not counts and stay."""
    bad = [
        where
        for where, node in _repo_nodes(f"{_PACKAGE}/plans/audit.py")
        if _counts_numbered_nodes(node)
    ]
    assert not bad, f"numbered plan-node counts outside plans/audit.py: {bad}"


def test_materialize_eager_only_when_feeding_broadcast(spark):
    """``feeds_broadcast=True`` starts exactly one more job at call time
    than the lazy default. The lazy call is not asserted to start zero:
    under AQE it still runs the frame's shuffle stage when called."""
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.functions.materialize import (
        materialize,
    )
    from reactor_window_like_flink_spark.observe import counting

    def jobs_at_call(**kwargs) -> int:
        df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
        with counting(spark) as c:
            materialize(df, **kwargs)
        return c["jobs"]

    lazy = jobs_at_call()
    eager = jobs_at_call(feeds_broadcast=True)
    assert eager - lazy == 1, (lazy, eager)


def test_no_bare_container_columns(spark, sf_dir):
    """Contract determinism rule (contract.py): oracle-checked outputs
    must not emit bare array/map/struct columns — the driver's
    canonicalizer sorts raw cells and container cells are unhashable in
    pandas. List outputs must be CSV-encoded (q_agg_collect pattern).
    Rows-only keys are exempt: the driver never canonicalizes them."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    oracles = entry_mod.oracle_sql()
    bad = []
    for key in sorted(oracles):
        schema = entry_mod.queries()[key](spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{key}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"bare container columns in contract outputs: {bad}"


def test_every_oracle_sql_binds_in_duckdb(sf_dir):
    """Static contract guard: each registered oracle string must parse
    AND bind (tables, columns, functions) against the fixture views —
    catching oracle typos without waiting for the driver's full
    differential."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for key, sql in entry_mod.oracle_sql().items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as ex:  # pragma: no cover - failure reporting
            raise AssertionError(f"{key}: oracle does not bind: {ex}") from ex


@pytest.mark.parametrize(
    "value, n",
    [(0.28125, 4), (-0.125, 2), (float("nan"), 3), (None, 2)],
)
def test_round_to_equals_rhalf(spark, value, n):
    """``round_to`` is the engines' safe form: it equals the ``rhalf``
    model on a double column, the same column by name, and a decimal
    column. 0.28125 at n=4 is the pinned case that banker's rounding
    gets wrong (0.2812); NaN and null pass through."""
    from decimal import Decimal

    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType, DoubleType, StructField, StructType

    from reactor_window_like_flink_spark.contract import round_to

    schema = StructType(
        [StructField("x", DoubleType()), StructField("d", DecimalType(12, 6))]
    )
    dec = None if value is None or value != value else Decimal(repr(value))
    df = spark.createDataFrame([(value, dec)], schema)
    row = df.select(
        round_to(F.col("x"), n).alias("col"),
        round_to("x", n).alias("name"),
        round_to("d", n).alias("dec"),
    ).first()
    want = None if value is None else rhalf(value, n)
    got = [row["col"], row["name"]]
    if dec is None:
        assert row["dec"] is None
    else:
        got.append(float(row["dec"]))
    # repr: NaN equals NaN, None equals None
    assert [repr(g) for g in got] == [repr(want)] * len(got)


def test_round_to_builds_the_inline_expression():
    from pyspark.sql import functions as F

    from reactor_window_like_flink_spark.contract import round_to

    c = F.col("v") / F.col("w")
    for n in (1, 2, 4, 6, 9):
        assert str(round_to(c, n)) == str(F.round(c * 10**n, 0) / float(10**n))
    assert str(round_to("v", 4)) == str(F.round(F.col("v") * 10**4, 0) / 10000.0)
