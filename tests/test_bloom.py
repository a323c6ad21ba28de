"""Bloom-filter semi-join pruning: no false negatives, bounded false
positives, join-semantics preservation, and a Catalyst-only probe plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_event_stream_spark.operators.bloom import (
    BloomFilter,
    bloom_build,
    bloom_build_for,
    bloom_might_contain,
    bloom_params,
    bloom_prune,
    bloom_prune_join,
)


def test_params_deliver_requested_fpr_by_model():
    for n, p in [(1000, 0.01), (10_000, 1e-3), (100_000, 1e-4)]:
        m, k = bloom_params(n, p)
        assert m % 64 == 0 and 1 <= k <= 10
        # the sizing loop's contract: the blocked model meets the target
        assert BloomFilter(m, k, ()).fpr_estimate(n) <= p
        # and stays within sane space: ≤ 4× the textbook lower bound
        import math

        m0 = -n * math.log(p) / (math.log(2) ** 2)
        assert m0 <= m <= 4 * m0
    with pytest.raises(ValueError):
        bloom_params(0, 0.01)
    with pytest.raises(ValueError):
        bloom_params(10, 1.5)


@pytest.fixture(scope="module")
def keys_df(spark):
    # 2000 present keys, 20000 absent probes over a disjoint prefix
    present = spark.range(2000).select(
        F.concat(F.lit("in-"), F.col("id")).alias("k")
    )
    absent = spark.range(20000).select(
        F.concat(F.lit("out-"), F.col("id")).alias("k")
    )
    return present, absent


@pytest.fixture(scope="module")
def built(keys_df):
    present, _ = keys_df
    return bloom_build_for(present, "k", n_keys=2000, fpr=0.01)


def test_no_false_negatives(keys_df, built):
    present, _ = keys_df
    kept = present.where(bloom_might_contain(built, "k")).count()
    assert kept == 2000


def test_false_positive_rate_near_theory(keys_df, built):
    _, absent = keys_df
    fp = absent.where(bloom_might_contain(built, "k")).count()
    theory = built.fpr_estimate(2000)
    # 20k probes at ~1 % theory: allow generous 3x headroom over theory
    assert fp / 20000 <= max(3 * theory, 0.03)
    # and it must actually discriminate (not pass everything)
    assert fp < 2000


def test_join_probe_agrees_with_expression_probe(spark, keys_df, built):
    present, absent = keys_df
    both = present.unionAll(absent)
    via_expr = sorted(
        r["k"] for r in bloom_prune(both, "k", built).collect()
    )
    via_join = sorted(
        r["k"] for r in bloom_prune_join(both, "k", built).collect()
    )
    assert via_expr == via_join
    # join probe must not invent or drop columns
    assert bloom_prune_join(both, "k", built).columns == ["k"]


def test_pruned_join_equals_unpruned_join(spark, sf_dir):
    # prune lineitem against the keys of a filtered orders slice, then
    # join: result must be identical to the unpruned join.
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bf = bloom_build(orders, "o_orderkey", m_bits=64 * 1024, k=5)
    plain = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("double").alias("q"),
        )
        .collect()[0]
    )
    pruned_li = bloom_prune(lineitem, "l_orderkey", bf)
    pruned = (
        pruned_li.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .groupBy()
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("double").alias("q"),
        )
        .collect()[0]
    )
    assert (plain["n"], plain["q"]) == (pruned["n"], pruned["q"])
    # the filter must do real work: fewer rows survive than exist
    assert pruned_li.count() < lineitem.count()


def test_exchange_volume_reduction_is_near_selectivity(spark):
    # THE metric this operator exists for: rows surviving the probe (== rows
    # entering the join exchange) must track dim selectivity + FPR, not
    # fact size. 2 % of keys kept → ≤ 4 % of fact rows may survive.
    n_rows, n_keys, keep_mod = 400_000, 50_000, 50
    fact = spark.range(n_rows).select(
        F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("key")
    )
    dim = spark.range(n_keys).select(F.col("id").alias("key")).where(
        F.pmod(F.xxhash64(F.col("key"), F.lit(3)), F.lit(keep_mod)) == 0
    )
    bf = bloom_build_for(dim, "key", n_keys=n_keys // keep_mod, fpr=0.01)
    surviving = bloom_prune(fact, "key", bf).count()
    kept_keys = dim.count()
    # true matches ≈ n_rows · kept_keys/n_keys; FPR adds ≤ ~1 % of the rest
    assert surviving <= n_rows * (kept_keys / n_keys) + 0.04 * n_rows
    assert surviving >= n_rows * (kept_keys / n_keys) * 0.5  # sanity floor


def test_null_keys_are_pruned_not_crashed(spark, built):
    df = spark.createDataFrame(
        [("in-0",), (None,), ("in-1",)], "k string"
    )
    out = bloom_prune(df, "k", built).collect()
    assert sorted(r["k"] for r in out) == ["in-0", "in-1"]


def test_probe_plan_is_catalyst_only(spark, keys_df, built):
    present, _ = keys_df
    plan = (
        present.where(bloom_might_contain(built, "k"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # a filter must not introduce a shuffle


def test_build_side_collects_filter_not_dim(spark):
    # words length is m/64 regardless of input row count
    big = spark.range(50_000).select(F.col("id").cast("string").alias("k"))
    bf = bloom_build(big, "k", m_bits=64 * 8, k=3)
    assert isinstance(bf, BloomFilter) and bf.n_words == 8


def test_validation_errors():
    with pytest.raises(ValueError):
        bloom_build(None, "k", m_bits=100, k=2)  # not a multiple of 64
    with pytest.raises(ValueError):
        bloom_build(None, "k", m_bits=128, k=0)
    with pytest.raises(ValueError):
        bloom_might_contain(
            BloomFilter(m_bits=(1 << 21) * 64, k=2, words=()), "k"
        )


_RESTART_SCRIPT = """
from pyspark import SparkContext
from nexus_event_stream_spark.operators.bloom import int64_array_literal
from nexus_event_stream_spark.session import get_spark

def literal():
    spark = get_spark(
        master="local[1]", extra_conf={"spark.driver.memory": "512m"}
    )
    lit = int64_array_literal((1, 2, -3)).alias("a")
    return spark, spark.range(1).select(lit).collect()[0].a

spark, first = literal()
spark.stop()
gateway = SparkContext._gateway
gateway.shutdown()
gateway.proc.stdin.close()  # the JVM exits when its stdin closes
gateway.proc.wait()
SparkContext._gateway = SparkContext._jvm = None
spark, second = literal()  # a new JVM behind a new gateway
spark.stop()
print(first, second)
"""


def test_array_literal_memo_survives_a_jvm_restart():
    """The ``int64_array_literal`` memo is keyed on the live gateway: after
    the session is stopped and its JVM relaunched in the same process, the
    same values build a fresh literal instead of a handle into the dead
    JVM. Runs in a child process so the suite's session stays up."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, -3] [1, 2, -3]"
