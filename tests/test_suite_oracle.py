"""Differential test: every suite query with an oracle must hash-match DuckDB
(the driver's correctness gate, run here at sf0.001 for speed; the driver
runs sf0.01). The DataFrame the comparison executed then has its final
plan checked against its recorded fingerprint (test_plan_fingerprints.py)."""

import pytest

from dataselector_spark.suite import QUERIES

from .oracle_harness import compare
from .test_plan_fingerprints import check_fingerprint

ORACLE_QUERIES = [name for name, q in QUERIES.items() if q.oracle is not None]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, sf_dir, name, mutate=lambda df: df):
    q, executed = QUERIES[name], []

    def fn(spark, sf_dir):
        executed.append(mutate(q.fn(spark, sf_dir)))
        return executed[-1]

    ok, detail = compare(spark, sf_dir, fn, q.oracle)
    assert ok, f"{name}: {detail}"
    check_fingerprint(name, "sf0.001", executed[0])


def test_fingerprint_catches_added_exchange(spark, sf_dir):
    """Same rows, one more shuffle: the oracle passes, the plan check fails."""
    with pytest.raises(AssertionError, match=r"exchange: 0 -> 1"):
        test_oracle_match(
            spark, sf_dir, "a04_derived_timestamp", lambda df: df.repartition(3)
        )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


# --- harness mutation self-tests (VERDICT r14 "Next round" #2) ----------------
#
# compare() is the correctness gate for all 287 oracle-backed entries; if it
# were vacuous (always-ok) every differential above would pass trivially.
# Close that loophole mechanically: feed it deliberately WRONG query/oracle
# pairings and assert each mismatch CLASS is caught with the right detail
# string — wrong value, wrong row count, wrong column name, float
# perturbation — and that the un-mutated pairing still passes.

_SELFTEST_ORACLE = (
    "SELECT r_regionkey, count(*) AS n_nations, "
    "sum(n_nationkey)::BIGINT AS key_sum "
    "FROM region JOIN nation ON n_regionkey = r_regionkey "
    "GROUP BY r_regionkey"
)


def _selftest_query(mutation):
    """A correct Spark twin of _SELFTEST_ORACLE, with one planted bug."""
    import pyspark.sql.functions as F

    def fn(spark, sf_dir):
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        df = (
            region.join(nation, nation.n_regionkey == region.r_regionkey)
            .groupBy("r_regionkey")
            .agg(
                F.count("*").alias("n_nations"),
                F.sum("n_nationkey").alias("key_sum"),
            )
        )
        if mutation == "wrong_value":
            df = df.withColumn("key_sum", F.col("key_sum") + F.lit(1))
        elif mutation == "dropped_row":
            df = df.where(F.col("r_regionkey") != 0)
        elif mutation == "renamed_column":
            df = df.withColumnRenamed("key_sum", "sum_key")
        elif mutation == "float_perturbed":
            df = df.withColumn(
                "key_sum", F.col("key_sum").cast("double") + F.lit(1e-9)
            )
        else:
            assert mutation == "none", mutation
        return df

    return fn


def test_harness_passes_correct_pairing(spark, sf_dir):
    ok, detail = compare(spark, sf_dir, _selftest_query("none"), _SELFTEST_ORACLE)
    assert ok, detail


@pytest.mark.parametrize(
    "mutation,expected_class",
    [
        ("wrong_value", "values:"),
        ("dropped_row", "rowcount:"),
        ("renamed_column", "columns:"),
    ],
)
def test_harness_catches_mutation(spark, sf_dir, mutation, expected_class):
    ok, detail = compare(
        spark, sf_dir, _selftest_query(mutation), _SELFTEST_ORACLE
    )
    assert not ok, f"harness failed to catch planted {mutation}"
    assert expected_class in detail, (
        f"planted {mutation} reported as the wrong class: {detail}"
    )


def test_harness_catches_float_perturbation(spark, sf_dir):
    """Floats are compared bit-exact via repr, so even a 1e-9 nudge on a
    value that became double must fail — both as a type change (int64 vs
    float64 canon prefix) and as a numeric drift."""
    ok, detail = compare(
        spark, sf_dir, _selftest_query("float_perturbed"), _SELFTEST_ORACLE
    )
    assert not ok, "harness failed to catch a 1e-9 float perturbation"
    assert "values:" in detail, detail
