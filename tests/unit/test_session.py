"""Session construction knobs (pure helpers — the shared SparkSession
fixture means build() can't be re-invoked with a different master here)."""

from __future__ import annotations

from canonicity_spark import session


def test_cap_local_threads_rewrites_and_caps(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_CORE_CAP", "1")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 32)
    assert session._cap_local_threads("local[32]") == "local[28,4]"
    assert session._cap_local_threads("local[8]") == "local[8,4]"
    assert session._cap_local_threads("local[*]") == "local[*]"
    assert session._cap_local_threads("yarn") == "yarn"


def test_local_core_count_parses_capped_form():
    """ADVICE round 1: the shuffle-partition heuristic must parse the
    core count from the rewritten local[K,4] form, not fall back to 32."""
    assert session._local_core_count("local[28,4]") == 28
    assert session._local_core_count("local[8]") == 8
    assert session._local_core_count("local[2,4]") == 2
    assert session._local_core_count(None) == 32
    assert session._local_core_count("yarn") == 32


def test_shuffle_partitions_track_capped_cores(monkeypatch):
    """End-to-end of the heuristic: local[32] -> capped local[28,4] ->
    2x28 shuffle partitions (not the n=32 fallback's 64)."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_CORE_CAP", "1")
    monkeypatch.setattr(session.os, "cpu_count", lambda: 32)
    master = session._cap_local_threads("local[32]")
    n = session._local_core_count(master)
    assert max(8, 2 * n) == 56


def test_scoped_conf_restores_on_error(spark):
    """An exception inside the scope restores every key: one that was
    unset ends up unset, one that was set gets its old value back."""
    import pytest

    unset_key = "spark.canonicity.test.scopedUnset"
    set_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(set_key)
    inside = str(int(before) + 1)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError, match="inside"):
        with session.scoped_conf(spark, **{unset_key: "x", set_key: inside}):
            assert spark.conf.get(unset_key) == "x"
            assert spark.conf.get(set_key) == inside
            raise RuntimeError("inside the scope")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(set_key) == before
