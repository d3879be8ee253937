"""The session-scoped memo (``session.session_memo``): its policy without
Spark (the context token monkeypatched), and one memo it backs on the
shared session; the generated-class cache size ``get_spark`` sets; and the
runtime-conf scope ``session.scoped_conf``."""

from __future__ import annotations

from collections import Counter

import pytest

from irio_mapreduce_spark import session


def test_session_memo_builds_once_per_key_and_context(monkeypatch):
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_MEMO_HITS", Counter())
    monkeypatch.setattr(session, "_MEMO_MISSES", Counter())
    monkeypatch.setattr(session, "_context_token", lambda: ("app-1", 100))
    builds = []

    def build(tag):
        def run():
            builds.append(tag)
            return [tag]

        return run

    a = session.session_memo(("replay", "sf0.01"), build("a"))
    assert session.session_memo(("replay", "sf0.01"), build("again")) is a
    # equal trailing parts under another name are another entry
    b = session.session_memo(("ordered_replay", "sf0.01"), build("b"))
    assert b == ["b"]
    assert builds == ["a", "b"]
    assert session._MEMO_HITS == {"replay": 1}
    assert session._MEMO_MISSES == {"replay": 1, "ordered_replay": 1}

    # a new context rebuilds, and its first miss evicts the old entries
    monkeypatch.setattr(session, "_context_token", lambda: ("app-2", 200))
    a2 = session.session_memo(("replay", "sf0.01"), build("a2"))
    assert a2 == ["a2"] and a2 is not a
    assert builds == ["a", "b", "a2"]
    assert list(session._MEMO) == [(("app-2", 200), "replay", "sf0.01")]
    assert session._MEMO_MISSES["replay"] == 2


def test_package_shipped_once_per_context(spark):
    """Shipping the package is a per-context memo: a media stage built on
    a second session of the same SparkContext is a ``package_shipped``
    memo hit, not a second zip."""
    from pyspark.sql import functions as F

    from irio_mapreduce_spark.llm.multimodal import synthesize_media

    synthesize_media(spark.range(1).select(F.col("id").alias("media_id")), "png")
    hits = session._MEMO_HITS["package_shipped"]
    other = spark.newSession()
    synthesize_media(other.range(1).select(F.col("id").alias("media_id")), "png")
    assert session._MEMO_HITS["package_shipped"] == hits + 1


def test_codegen_cache_keeps_a_warm_working_set(spark):
    """``get_spark`` sizes Spark's generated-class cache past its default
    of 100, so a working set of more classes than that compiles once: the
    second round over the same queries runs Janino on nothing. Each query
    carries its own int literal, which is inlined into the generated
    source, so every one is a distinct class."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compile_round():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for k in range(1000, 1150):
            assert spark.range(1).select(F.col("id") * k).collect()[0][0] == 0
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    assert compile_round() > 100
    assert compile_round() == 0


def test_scoped_conf_restores_on_error_and_unsets_fresh_keys(spark):
    """Inside the block both confs hold the scoped values; after an
    exception raised in it, a key that had a value gets it back and a key
    that had none is unset, so its default applies again."""
    held, fresh = "spark.sql.shuffle.partitions", "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(held)
    assert spark.conf.get(fresh, None) is None
    with pytest.raises(ZeroDivisionError):
        with session.scoped_conf(spark, {held: "3", fresh: "7"}):
            assert (spark.conf.get(held), spark.conf.get(fresh)) == ("3", "7")
            1 / 0
    assert spark.conf.get(held) == before
    assert spark.conf.get(fresh, None) is None
    assert spark.conf.get(fresh) == "100"
