"""The session-scoped memo (``session.session_memo``): its policy without
Spark (the context token monkeypatched), and one memo it backs on the
shared session."""

from __future__ import annotations

from collections import Counter

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
