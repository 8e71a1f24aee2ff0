"""The shared-result memo (docling_api_spark/memo.py), without Spark: a
stub stands in for the session, exposing only what the memo reads."""

from types import SimpleNamespace

import pytest

from docling_api_spark.memo import memo


def _session(app_id: str, start_time: int):
    return SimpleNamespace(sparkContext=SimpleNamespace(
        applicationId=app_id, startTime=start_time))


class _CountingBuild:
    def __init__(self):
        self.calls = 0

    def __call__(self):
        self.calls += 1
        return object()


def test_one_session_builds_once():
    build, spark = _CountingBuild(), _session("local-1", 100)
    first = memo(("test_memo.once",), build, spark)
    assert memo(("test_memo.once",), build, spark) is first
    assert build.calls == 1


def test_restarted_context_with_same_app_id_rebuilds():
    # a new context can reuse the application id; its start time differs,
    # and a hit would hand back blocks of the stopped context
    build = _CountingBuild()
    old = memo(("test_memo.restart",), build, _session("local-2", 100))
    new = memo(("test_memo.restart",), build, _session("local-2", 101))
    assert new is not old
    assert build.calls == 2


def test_without_session_is_shared_across_sessions():
    build = _CountingBuild()
    a = memo(("test_memo.process",), build)
    assert memo(("test_memo.process",), build) is a
    # a session-scoped lookup of the same key is a different entry
    assert memo(("test_memo.process",), build, _session("local-3", 1)) \
        is not a
    assert build.calls == 2


def test_distinct_keys_stay_apart():
    build, spark = _CountingBuild(), _session("local-4", 100)
    a = memo(("test_memo.apart", "x"), build)
    b = memo(("test_memo.apart", "y"), build)
    c = memo(("test_memo.apart", "x"), build, spark)
    d = memo(("test_memo.apart", "y"), build, spark)
    assert len({id(a), id(b), id(c), id(d)}) == 4
    assert memo(("test_memo.apart", "x"), build) is a
    assert memo(("test_memo.apart", "y"), build, spark) is d
    assert build.calls == 4


def test_failed_build_memoizes_nothing():
    def fail():
        raise OSError("corpus unreachable")
    with pytest.raises(OSError):
        memo(("test_memo.fail",), fail)
    build = _CountingBuild()
    memo(("test_memo.fail",), build)
    assert build.calls == 1
