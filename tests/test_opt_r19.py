"""Round-19 optimization regression pins.

1. (tests below) Bit-identity of the r19 staged operator rewrites
   against their original single-expression spellings — the nested
   higher-order-function forms re-evaluated whole subexpressions inside
   per-element lambdas (normalize_quantize_stats was O(d³)/row,
   winnowing O(tokens²)/row) and are replaced by generator-barrier
   staged forms that MUST stay value-identical.

2. The round-18 sort-first rewrite (queries/llm.py: trailing ``orderBy``
   moved to the *input* of map-only pipelines so the RangePartitioner
   sampling job samples the cheap scan instead of re-executing the whole
   expression subtree) is only order-correct while the pipeline above
   the Sort stays shuffle-free and 1:1 — these tests pin BOTH halves of
   that invariant (VERDICT r18 item 1):
   - order-sensitive FULL-result comparison (collected order must equal
     the explicitly sorted order — set equality is not enough), and
   - a plan pin that no Exchange sits above the Sort (a future shuffle
     inserted above it would silently break the output order).
"""

from __future__ import annotations

import re

import pytest

from pg_mooncake_spark.plans import inspect as I
from pg_mooncake_spark.queries.registry import all_queries
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def queries():
    return all_queries()


# key -> (sort column, secondary columns that must follow the sort
# column for rows sharing it — none: all keys are unique)
SORT_FIRST = {
    "text_profile_analysis": "doc_id",
    "text_quality_scoring": "doc_id",
    "text_pii_redaction": "doc_id",
    "text_repetition_score": "doc_id",
    "text_winnowing_fingerprints": "doc_id",
    "embedding_normalize_quantize": "vec_id",
}


@pytest.mark.parametrize("name,key", sorted(SORT_FIRST.items()))
def test_sort_first_output_order(spark, queries, name, key):
    """Order-sensitive full-result pin: the rows must arrive in the same
    order the pre-r18 trailing orderBy produced (ascending unique key),
    compared row-for-row over the whole result, not as a set."""
    df = queries[name](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    keys = [r[key] for r in rows]
    assert keys == sorted(keys), (
        f"{name}: collected order diverges from ORDER BY {key}"
    )
    # unique sort key => total order is fully pinned by the key sequence
    assert len(set(keys)) == len(keys)


@pytest.mark.parametrize("name,key", sorted(SORT_FIRST.items()))
def test_sort_first_plan_shuffle_free_above_sort(spark, queries, name, key):
    """Plan pin: the input sort is the LAST order-affecting operator —
    no Exchange may appear above the Sort (simple-mode plans print
    top-down, so 'above' = an earlier line)."""
    df = queries[name](spark, SF_DIR)
    plan = I.plan_text(df, "simple")
    lines = plan.splitlines()
    sort_idx = [i for i, ln in enumerate(lines) if re.search(r"\bSort\b", ln)]
    assert sort_idx, f"{name}: no Sort in plan — sort-first shape lost"
    first_sort = sort_idx[0]
    above = "\n".join(lines[:first_sort])
    assert not re.search(r"\bExchange\b", above), (
        f"{name}: Exchange above the Sort — output order no longer "
        f"guaranteed by the input sort:\n{plan}"
    )
    # and the sort must actually be on the contract key
    assert key in lines[first_sort]


def test_topk_per_group_order_and_single_exchange(spark, queries):
    """topk_per_group (r19 single-range-exchange shape): output must
    arrive in the old trailing orderBy("o_custkey", "rn") order with
    exactly one Exchange in the plan (the range partition serving both
    the window and the output order)."""
    rows = queries["topk_per_group"](spark, SF_DIR).collect()
    keys = [(r["o_custkey"], r["rn"]) for r in rows]
    assert keys == sorted(keys), "output order lost"
    assert len(set(keys)) == len(keys)
    # fresh DataFrame: a collected Dataset memoizes its AQE
    # QueryExecution and the post-execution plan double-prints exchanges
    df = queries["topk_per_group"](spark, SF_DIR)
    assert I.exchange_count(df) == 1
    plan = re.sub(r"#\d+L?", "", I.plan_text(df, "simple"))
    # the one exchange ranges on o_custkey alone ...
    ranges = re.findall(r"rangepartitioning\(([^)]*?), \d+\)", plan)
    assert ranges == ["o_custkey ASC NULLS FIRST"], ranges
    # ... and the window sorts each partition by (o_custkey,
    # o_totalprice DESC, o_orderkey) — within a customer that IS rn
    # order, so the output order rests on these keys
    order = "o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS FIRST"
    assert f"[o_custkey], [{order}]" in plan, plan
    sorts = re.findall(r"Sort \[([^\]]*)\]", plan)
    assert sorts == [f"o_custkey ASC NULLS FIRST, {order}"], sorts


# ---------------------------------------------------------------------------
# Staged-operator bit-identity (r19 rewrites)
# ---------------------------------------------------------------------------

ADVERSARIAL_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, ""),
    (3, None),
    (4, "one two"),
    (5, "a b c"),
    (6, "a b c d"),
    (7, "x"),
    (8, "héllo wörld ünïcode tokens here μ λ π ω"),
    (9, "  spaced   out   tokens   here  "),
    (10, "a b c d e f g h i j"),
    (11, "🙂 emoji 𝄞 supplementary chars test here now ok"),
    (12, "same same same same same same same same"),
    (13, "x" * 300 + " " + "y" * 300 + " zz qq ww"),  # >256-char tokens
]


def test_winnowing_staged_matches_column_spelling(spark):
    """winnowing_fingerprints_col (barrier-staged, per-token hash
    composition) must equal the original Column spelling bit-for-bit on
    adversarial inputs: empty/null text, fewer tokens than k, fewer
    grams than w, unicode incl. supplementary planes, repeated grams,
    and tokens longer than the 256-entry power lookup."""
    from pyspark.sql import functions as F

    from pg_mooncake_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_fingerprints_col,
    )

    d = spark.createDataFrame(ADVERSARIAL_DOCS, "doc_id long, text string")
    old = d.select(
        "doc_id", winnowing_fingerprints(F.col("text")).alias("fp")
    ).collect()
    new = winnowing_fingerprints_col(d, "text", "doc_id").collect()
    assert sorted(map(str, old)) == sorted(map(str, new))


def test_simhash_staged_matches_column_spelling(spark):
    """The staged simhash must equal simhash_fingerprint (the Column
    form the streaming dedup job uses) bit for bit, incl. null and
    empty text."""
    from pyspark.sql import functions as F

    from pg_mooncake_spark.operators.dedup import (
        simhash,
        simhash_fingerprint,
    )

    d = spark.createDataFrame(ADVERSARIAL_DOCS, "doc_id long, text string")
    old = d.select(
        "doc_id", simhash_fingerprint("text").alias("simhash_bits")
    ).collect()
    new = simhash(d, "text", "doc_id").collect()
    assert sorted(map(str, old)) == sorted(map(str, new))
    assert {r.doc_id: r.simhash_bits for r in new}[3] == ""


def test_simhash_null_texts_never_pair(spark):
    """Null text fingerprints to '', which packs to a NULL value whose
    NULL bands never join: two null documents are not near-duplicates."""
    from pg_mooncake_spark.operators.dedup import (
        simhash,
        simhash_banded_pairs,
    )

    d = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "a b c d"), (5, "a b c d")],
        "doc_id long, text string",
    )
    pairs = simhash_banded_pairs(simhash(d, "text", "doc_id"), "doc_id")
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(4, 5)]


def test_repetition_staged_matches_inline_spelling(spark):
    from pyspark.sql import functions as F

    from pg_mooncake_spark.operators.dedup import word_kgrams
    from pg_mooncake_spark.operators.text import repetition_score

    d = spark.createDataFrame(ADVERSARIAL_DOCS, "doc_id long, text string")
    grams = word_kgrams(F.col("text"), 2)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    old = d.select(
        F.col("doc_id"),
        total.cast("bigint").alias("n_grams"),
        F.when(total > 0, F.round(1.0 - distinct / total, 6))
        .otherwise(F.lit(0.0))
        .alias("repetition"),
    ).collect()
    new = repetition_score(d, "text", "doc_id", k=2).collect()
    assert sorted(map(str, old)) == sorted(map(str, new))


def test_normalize_quantize_staged_matches_original(spark):
    """The barrier-staged normalize_quantize_stats must reproduce the
    original nested-HOF spelling bit-for-bit (incl. zero vectors, empty
    arrays, and null embeddings)."""
    from pyspark.sql import functions as F

    from pg_mooncake_spark.operators.similarity import (
        normalize_quantize_stats,
    )

    def original(df, vec_col, id_col):
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        unit = F.transform(v, lambda x: x / norm)
        max_abs = F.array_max(F.transform(unit, F.abs))
        scale = F.lit(127.0) / max_abs
        q = F.transform(
            unit, lambda x: F.floor(x * scale + F.lit(0.5)).cast("bigint")
        )
        err = F.zip_with(unit, q, lambda x, qi: (x - qi.cast("double") / scale))
        mse = (
            F.aggregate(err, F.lit(0.0), lambda a, d: a + d * d)
            / F.size(v).cast("double")
        )
        return df.select(
            F.col(id_col),
            F.round(norm, 6).alias("norm"),
            F.round(max_abs, 6).alias("max_abs_unit"),
            F.aggregate(
                q, F.lit(0).cast("bigint"), lambda a, b: a + b
            ).alias("q_checksum"),
            F.round(mse * F.lit(1_000_000.0), 6).alias("mse_1e6"),
        )

    rows = [
        (1, [1.0, 2.0, -3.0, 0.5]),
        (4, None),  # null embedding
        (5, [1e-30, -1e30, 42.0]),
        (6, [0.25]),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = original(d, "embedding", "vec_id").collect()
    new = normalize_quantize_stats(d, "embedding", "vec_id").collect()
    assert sorted(map(str, old)) == sorted(map(str, new))

    # zero and empty vectors raise DIVIDE_BY_ZERO under ANSI in BOTH
    # spellings (127/max_abs resp. the checksum fold's % on an empty
    # guard) — the staged form must not swallow what the original threw
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(2, [0.0, 0.0, 0.0]), (3, [])],
        "vec_id long, embedding array<double>",
    )
    for fn in (original, normalize_quantize_stats):
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            fn(bad, "embedding", "vec_id").collect()


def test_sessionization_order_and_single_exchange(spark, queries):
    """events_sessionization (r19 single-range-exchange shape): output
    must arrive in the old trailing orderBy(user_id, session_idx) order
    with exactly one Exchange (range on user_id serving the windows,
    the aggregate, and the output order)."""
    rows = queries["events_sessionization"](spark, SF_DIR).collect()
    keys = [(r["user_id"], r["session_idx"]) for r in rows]
    assert keys == sorted(keys), "output order lost"
    assert len(set(keys)) == len(keys)
    df = queries["events_sessionization"](spark, SF_DIR)
    assert I.exchange_count(df) == 1
    assert "rangepartitioning(user_id" in I.plan_text(df, "simple")


def test_asof_order_and_single_exchange(spark, queries):
    """events_asof_join (r19 single-range-exchange shape): output must
    arrive in the old trailing orderBy(user_id, event_id) order with
    exactly one Exchange (range on user_id over the union, serving the
    as-of window and the output order)."""
    rows = queries["events_asof_join"](spark, SF_DIR).collect()
    keys = [(r["user_id"], r["event_id"]) for r in rows]
    assert keys == sorted(keys), "output order lost"
    assert len(set(keys)) == len(keys)
    df = queries["events_asof_join"](spark, SF_DIR)
    assert I.exchange_count(df) == 1
    assert "rangepartitioning(user_id" in I.plan_text(df, "simple")


def test_asof_range_partition_values_identical(spark):
    """asof_join(range_partition=True) must produce the same rows as the
    default hash path, including tolerance handling and simultaneous
    right rows."""
    from pg_mooncake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, 2.0), (2, 16, 3.0)],
        "k long, ts long, v double",
    )
    a = asof_join(left, right, on="k", ts_col="ts").collect()
    b = asof_join(
        left, right, on="k", ts_col="ts", range_partition=True
    ).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_mv_q13_zero_bucket_is_lazy(spark, queries):
    """mv_q13_distribution derives its zero bucket inside the returned
    DAG (union + filtered 1-row aggregate) instead of running
    count()/collect() driver actions at build time — the plan must
    contain the Union at EVERY scale (the old code dropped it at SFs
    where the bucket was empty, proving it decided eagerly)."""
    from pg_mooncake_spark.plans import inspect as I

    df = queries["mv_q13_distribution"](spark, SF_DIR)
    plan = I.plan_text(df, "simple")
    assert "Union" in plan
    # sf0.001: every customer has a qualifying order, so the lazy filter
    # must still suppress the (0, 0) row at execution time
    assert not [r for r in df.collect() if r["c_count"] == 0 and r["custdist"] == 0]


# ---------------------------------------------------------------------------
# Bytes-aware broadcast gate (r19, VERDICT r18 item 5)
# ---------------------------------------------------------------------------


def test_table_col_bytes_per_row_from_footers():
    from pg_mooncake_spark.queries.registry import table_col_bytes_per_row

    w_key = table_col_bytes_per_row(SF_DIR, "orders", ["o_orderkey"])
    w_two = table_col_bytes_per_row(
        SF_DIR, "orders", ["o_orderkey", "o_orderdate"]
    )
    # a BIGINT key column: ~8 B plus page-header overhead at tiny SFs
    assert 0.5 <= w_key <= 12.0
    assert w_two > w_key
    assert table_col_bytes_per_row("/nonexistent_xyz", "orders", ["a"]) == 0.0


def test_broadcast_gate_narrow_side_still_broadcasts(spark):
    """A side AT the row bound with narrow (measured-break-even ~16 B)
    rows stays broadcast: the bytes cap must not change the r18 regime."""
    from pyspark.sql import functions as F

    from pg_mooncake_spark.plans import inspect as I
    from pg_mooncake_spark.queries import registry as R

    nat = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    j = cust.join(
        R.maybe_broadcast(nat, R.BROADCAST_SIDE_ROWS, 16.0),
        cust.c_nationkey == nat.n_nationkey,
    )
    assert "BroadcastHashJoin" in I.plan_text(j, "simple")


def test_broadcast_gate_wide_side_falls_back_to_shuffled_hash(spark):
    """The same row count with WIDE rows (est bytes past the cap) must
    fall back to the shuffled-hash hint, never a forced broadcast."""
    from pg_mooncake_spark.plans import inspect as I
    from pg_mooncake_spark.queries import registry as R

    nat = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    wide_bytes = (R.BROADCAST_SIDE_BYTES / R.BROADCAST_SIDE_ROWS) * 4
    j = cust.join(
        R.maybe_broadcast(nat, R.BROADCAST_SIDE_ROWS, wide_bytes),
        cust.c_nationkey == nat.n_nationkey,
    )
    plan = I.plan_text(j, "simple")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bytes_gate_leaves_small_sf_plans_broadcast(spark, queries):
    """q3/q5/q7/q8 at sf0.001: the byte estimates the call sites now
    pass must keep the broadcast regime (sf0.1-and-below plans unchanged
    by construction)."""
    from pg_mooncake_spark.plans import inspect as I

    for key in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_volume_shipping",
        "q8_market_share",
    ):
        plan = I.plan_text(queries[key](spark, SF_DIR), "simple")
        assert "ShuffledHashJoin" not in plan, key
        assert "SortMergeJoin" not in plan, key


def test_t_rebalance_flag_drops_roundrobin_exchange(spark):
    """t(..., rebalance=False) must not inject the round-robin
    repartition (the sort-first callers' range exchange does the
    spreading), and the two flag values must not share a memo entry."""
    from pg_mooncake_spark.plans import inspect as I
    from pg_mooncake_spark.queries import registry as R

    R.REBALANCE_DENSE_MIN_ROWS, saved = 1, R.REBALANCE_DENSE_MIN_ROWS
    try:
        with_rb = R.t(spark, SF_DIR, "documents", dense=True)
        without_rb = R.t(
            spark, SF_DIR, "documents", dense=True, rebalance=False
        )
        assert "RoundRobinPartitioning" in I.plan_text(with_rb, "formatted")
        assert "RoundRobinPartitioning" not in I.plan_text(
            without_rb, "formatted"
        )
    finally:
        R.REBALANCE_DENSE_MIN_ROWS = saved
