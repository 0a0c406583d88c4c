"""session.scoped_conf: a conf swap is serialized across threads, and the
suite entries that swap conf leave the session's conf as they found it."""

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from dataselector_spark.catalog import ensure_session_defaults
from dataselector_spark.session import scoped_conf
from dataselector_spark.suite import QUERIES

KEY = "spark.sql.shuffle.partitions"


def test_two_threads_end_with_the_starting_value(spark):
    """B tries to open a scope while A holds one and keeps it until A has
    left: serialized, B enters only then, so A sees its own value
    throughout and the key ends as it began. Unserialized, B overwrites A's
    value, saves it, and restores it after A has restored the original."""
    start = spark.conf.get(KEY)
    a_in, b_started, a_out = (threading.Event() for _ in range(3))
    seen = {}

    def a():
        with scoped_conf(spark, {KEY: "3"}):
            a_in.set()
            b_started.wait(10)
            time.sleep(0.3)  # room for an unserialized B to enter
            seen["a"] = spark.conf.get(KEY)
        a_out.set()

    def b():
        a_in.wait(10)
        b_started.set()
        with scoped_conf(spark, {KEY: "5"}):
            a_out.wait(10)
            seen["b"] = spark.conf.get(KEY)

    with ThreadPoolExecutor(2) as pool:
        list(pool.map(lambda f: f(), (a, b)))
    assert seen == {"a": "3", "b": "5"}
    assert spark.conf.get(KEY) == start


@pytest.mark.parametrize(
    "name", ["b02_bloom_filter_join", "b02_aqe_skew_join", "b06_footer_stats_agg"]
)
def test_conf_swapping_entry_leaves_conf_unchanged(spark, sf_dir, name):
    """A key the entry sets that was not set before is unset again, not
    pinned to its default."""
    session = spark.newSession()
    ensure_session_defaults(session)
    before = session.conf.getAll
    QUERIES[name].fn(session, sf_dir)
    assert session.conf.getAll == before
