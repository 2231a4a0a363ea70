"""CDC/MERGE-with-tombstones semantics (``operators/relational.py:
cdc_snapshot / cdc_merge / cdc_view``): out-of-order changelogs, delete
retraction, the resurrection guard, merge algebra (chunking/replay
insensitivity), and the exactly-once composition with
``sources.sinks.idempotent_batch_sink``."""

from __future__ import annotations

import random

from reactor_window_like_flink_spark.operators.relational import (
    cdc_merge,
    cdc_snapshot,
    cdc_view,
)

SCHEMA = "k long, seq long, rid long, op string, v double"


def _reference_snapshot(rows):
    """Sequential dict replay in (seq, rid) order — the semantics spec."""
    state: dict = {}
    for r in sorted(rows, key=lambda r: (r[1], r[2])):
        if r[3] == "D":
            state[r[0]] = None
        else:
            state[r[0]] = r
    return {k: v for k, v in state.items() if v is not None}


def _changelog(n_keys=40, n_rows=400, seed=11):
    rng = random.Random(seed)
    rows = []
    for rid in range(n_rows):
        k = rng.randrange(n_keys)
        seq = rng.randrange(10_000)
        op = rng.choice(["I", "U", "U", "U", "D"])
        rows.append((k, seq, rid, op, float(rid)))
    rng.shuffle(rows)  # arrival order decorrelated from sequence order
    return rows


def test_cdc_snapshot_matches_sequential_replay(spark):
    rows = _changelog()
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["k"]: (r["seq"], r["rid"], r["op"], r["v"])
        for r in cdc_snapshot(df, ["k"], ["seq", "rid"]).collect()
    }
    want = {
        k: (v[1], v[2], v[3], v[4])
        for k, v in _reference_snapshot(rows).items()
    }
    assert got == want
    # deleted keys are really retracted: some key's winner must be a D
    all_keys = {r[0] for r in rows}
    assert set(got) < all_keys


def test_cdc_snapshot_seq_unique_skips_tiebreak_same_result(spark):
    """(seq, rid) is a total order in the fixture, so declaring it
    unique (skipping the payload tie-break struct columns) must yield
    the identical snapshot — the flag is a cost knob, not a semantics
    one, whenever its precondition holds."""
    rows = _changelog()
    df = spark.createDataFrame(rows, SCHEMA)
    base = {
        r["k"]: (r["seq"], r["rid"], r["op"], r["v"])
        for r in cdc_snapshot(df, ["k"], ["seq", "rid"]).collect()
    }
    fast = {
        r["k"]: (r["seq"], r["rid"], r["op"], r["v"])
        for r in cdc_snapshot(
            df, ["k"], ["seq", "rid"], seq_unique=True
        ).collect()
    }
    assert base == fast


def test_cdc_tombstone_blocks_resurrection_and_allows_reinsert(spark):
    base = [
        (1, 10, 0, "I", 1.0),
        (1, 20, 1, "D", 0.0),  # delete at seq 20
        (2, 10, 2, "I", 2.0),
    ]
    late = [(1, 15, 3, "U", 9.9)]  # LATE update, older than the delete
    reinsert = [(2, 30, 4, "D", 0.0), (2, 40, 5, "I", 7.0)]  # del then re-add
    s0 = cdc_merge(
        spark.createDataFrame([], SCHEMA),
        spark.createDataFrame(base, SCHEMA),
        ["k"],
        ["seq", "rid"],
    )
    s1 = cdc_merge(s0, spark.createDataFrame(late, SCHEMA), ["k"], ["seq", "rid"])
    view1 = {r["k"]: r["v"] for r in cdc_view(s1).collect()}
    assert 1 not in view1, "late pre-delete update resurrected the key"
    assert view1 == {2: 2.0}
    # the tombstone itself is retained in STATE (that's what blocked it)
    assert {r["k"]: r["op"] for r in s1.collect()}[1] == "D"
    s2 = cdc_merge(
        s1, spark.createDataFrame(reinsert, SCHEMA), ["k"], ["seq", "rid"]
    )
    view2 = {r["k"]: r["v"] for r in cdc_view(s2).collect()}
    assert view2 == {2: 7.0}  # delete-then-reinsert at later seq wins


def test_cdc_merge_is_chunking_and_replay_insensitive(spark):
    """Merge algebra: any chunking of the changelog — including a
    REPLAYED chunk (at-least-once foreachBatch) — produces the same
    state as one cdc_snapshot over the concatenation."""
    rows = _changelog(seed=23)
    one_shot = sorted(
        map(
            tuple,
            cdc_snapshot(
                spark.createDataFrame(rows, SCHEMA),
                ["k"],
                ["seq", "rid"],
                keep_tombstones=True,
            ).collect(),
        )
    )
    rng = random.Random(5)
    state = spark.createDataFrame([], SCHEMA)
    i = 0
    chunks = []
    while i < len(rows):
        j = i + rng.randrange(1, 80)
        chunks.append(rows[i:j])
        i = j
    replay_at = rng.randrange(len(chunks))
    for idx, chunk in enumerate(chunks):
        state = cdc_merge(
            state, spark.createDataFrame(chunk, SCHEMA), ["k"], ["seq", "rid"]
        )
        if idx == replay_at:  # the crash-replay case: same chunk twice
            state = cdc_merge(
                state,
                spark.createDataFrame(chunk, SCHEMA),
                ["k"],
                ["seq", "rid"],
            )
        # bound lineage growth the way a production loop would
        state = state.localCheckpoint()
    assert sorted(map(tuple, state.collect())) == one_shot


def test_cdc_through_idempotent_batch_sink_replay(spark, tmp_path):
    """Exactly-once composition: changelog chunks land via
    ``idempotent_batch_sink`` (overwrite-by-batch_id), one batch is
    replayed (same batch_id, same content — the at-least-once case),
    and the snapshot over the sink directory equals the one-shot
    snapshot: the replay is absorbed by the overwrite, and the
    tombstones still retract."""
    from reactor_window_like_flink_spark.sources.sinks import (
        idempotent_batch_sink,
    )

    rows = _changelog(seed=31)
    sink = idempotent_batch_sink(str(tmp_path / "cdc"))
    chunks = [rows[i : i + 100] for i in range(0, len(rows), 100)]
    for bid, chunk in enumerate(chunks):
        sink(spark.createDataFrame(chunk, SCHEMA), bid)
    sink(spark.createDataFrame(chunks[1], SCHEMA), 1)  # crash replay
    landed = spark.read.parquet(str(tmp_path / "cdc")).drop("batch_id")
    got = sorted(
        map(tuple, cdc_snapshot(landed, ["k"], ["seq", "rid"]).collect())
    )
    want = sorted(
        map(
            tuple,
            cdc_snapshot(
                spark.createDataFrame(rows, SCHEMA), ["k"], ["seq", "rid"]
            ).collect(),
        )
    )
    assert got == want


def test_cdc_snapshot_supports_map_payload_columns(spark):
    """Regression: the old max(struct(seq, row)) form rejected map
    payload columns at analysis time (maps are not orderable);
    max_by orders only the sequence struct, so any payload type works."""
    from reactor_window_like_flink_spark.operators.relational import (
        cdc_snapshot,
    )

    rows = spark.createDataFrame(
        [
            (1, 1, "I", {"a": "x"}),
            (1, 3, "U", {"a": "y"}),
            (1, 2, "U", {"a": "stale"}),
            (2, 1, "I", {"b": "z"}),
            (2, 2, "D", None),
        ],
        "k long, seq long, op string, props map<string,string>",
    )
    out = {
        r["k"]: r["props"]
        for r in cdc_snapshot(rows, ["k"], ["seq"]).collect()
    }
    assert out == {1: {"a": "y"}}  # key 2 tombstoned, key 1 latest wins


def test_exact_units_survives_int64_overflow(spark):
    """r16: retires the int64-headroom risk flagged by the r15 verdict.
    exact_units now quantizes to DECIMAL(18,0); Spark's SUM widens to
    DECIMAL(28,0), so a unit sum past 2^63 — reachable by a true-100 TB
    6-decimal charge sum — stays exact where the old BIGINT sum would
    wrap silently in non-ANSI mode. The fixture forces exactly that:
    24 rows of 9e11 dollars at scale 6 are ~2.16e19 units > 2^63."""
    import pyspark.sql.functions as F

    from reactor_window_like_flink_spark.operators.relational import (
        exact_units,
        units_to_currency,
    )

    per_row_dollars = 9e11  # exact double; x * 1e6 lands near 9e17 units
    n = 24
    df = spark.range(n).select(F.lit(per_row_dollars).alias("v"))

    # python mirror of the per-row quantization (same IEEE ops)
    unit_per_row = int(float(per_row_dollars * (10**6)) + 0.5)
    exact_sum = unit_per_row * n
    assert exact_sum > 2**63, "fixture must actually overflow int64"

    # the old BIGINT path cannot produce the exact sum: under ANSI
    # (Spark 4 default, this session) it raises ARITHMETIC_OVERFLOW;
    # with ANSI off it would wrap silently — either way, not exact_sum
    try:
        wrapped = df.agg(
            F.sum(exact_units(F.col("v"), 6).cast("long")).alias("s")
        ).first()["s"]
        assert wrapped != exact_sum, "long sum should have wrapped past 2^63"
    except Exception as exc:  # ANSI overflow error is the detection path
        assert "OVERFLOW" in str(exc).upper() or "overflow" in str(exc)

    # the DECIMAL path is exact
    dec_sum = df.agg(F.sum(exact_units(F.col("v"), 6)).alias("s")).first()["s"]
    assert int(dec_sum) == exact_sum

    # and the currency reduction rounds the exact integer, not a double:
    # exact half-away-from-zero cents from the integer unit sum
    d = 10**4
    expected_cents = (exact_sum + d // 2) // d
    got = df.agg(
        units_to_currency(F.sum(exact_units(F.col("v"), 6)), 6).alias("c")
    ).first()["c"]
    assert got == float(expected_cents) / 100.0


def test_units_reduction_exact_forms_agree(spark):
    """Exact units->currency reduction: all THREE reduction forms — the
    DataFrame ``units_to_currency``, the Spark-SQL ``div`` template, and
    the DuckDB ``//`` template — must equal the
    exact Python integer half-away-from-zero reference on every input,
    including the adversarial class the old double form misrounds (unit
    sums whose true cent quotient sits within 1 ulp of a half: witness
    9999999999994999 at d=10000 divides to exactly ...999.5 in double
    and the old form rounded it the wrong way)."""
    import duckdb
    import pyspark.sql.functions as F

    from reactor_window_like_flink_spark.operators.relational import (
        units_to_currency,
    )

    for scale in (4, 6):
        d = 10 ** (scale - 2)
        h = d // 2
        cases = set()
        for base in (0, 149, 151, 12345678, 999999999999, 99999999999949):
            for s in (+1, -1):
                cases |= {
                    s * (base * d + h),  # exact half boundary
                    s * (base * d + h - 1),
                    s * (base * d + h + 1),
                    s * base * d,
                }
        cases.add(9999999999994999)  # the double-collapse witness
        cases.add(-9999999999994999)
        cases = sorted(cases)

        def ref(u):
            sg = -1 if u < 0 else 1
            return float(sg * ((abs(u) + h) // d)) / 100.0

        # DataFrame form
        df = spark.createDataFrame([(int(u),) for u in cases], "u long")
        got = df.select(
            "u",
            units_to_currency(F.col("u").cast("decimal(28,0)"), scale).alias("c"),
        ).collect()
        bad = [(r["u"], r["c"], ref(r["u"])) for r in got if r["c"] != ref(r["u"])]
        assert not bad, f"DataFrame form scale={scale}: {bad[:5]}"

        # Spark SQL div template (the spark.sql / SQL_TWINS dialect)
        df.createOrReplaceTempView("units_t")
        s2 = f"(u + CASE WHEN u < 0 THEN -{h} ELSE {h} END)"
        got = spark.sql(
            f"SELECT u, CAST(({s2} - {s2} % {d}) div {d} AS DOUBLE) / 100.0"
            " AS c FROM units_t"
        ).collect()
        bad = [(r["u"], r["c"], ref(r["u"])) for r in got if r["c"] != ref(r["u"])]
        assert not bad, f"Spark div template scale={scale}: {bad[:5]}"

        # DuckDB // template (the oracle dialect)
        con = duckdb.connect()
        rows = ",".join(f"({u}::HUGEINT)" for u in cases)
        for u, c in con.execute(
            f"SELECT u, CAST(({s2} - {s2} % {d}) // {d} AS DOUBLE) / 100.0"
            f" AS c FROM (VALUES {rows}) t(u)"
        ).fetchall():
            assert c == ref(int(u)), f"DuckDB template scale={scale}: {u} {c}"
