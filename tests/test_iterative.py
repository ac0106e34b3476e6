"""``functions/iterative.py::shuffle_width``: the one way an iterative
loop narrows ``spark.sql.shuffle.partitions`` for its small tail.

The scope must restore the session's width on every exit path, nest
LIFO on one thread, and keep two threads that share one session from
leaking a narrowed width into every later query.  A source scan keeps
hand-rolled conf save/set/restore blocks from coming back.
"""

from __future__ import annotations

import threading
import time
from pathlib import Path

import pytest

from bigdata_group4_app_spark.functions.iterative import shuffle_width

from .conftest import SF_SMOKE

KEY = "spark.sql.shuffle.partitions"
PACKAGE = Path(__file__).resolve().parent.parent / "bigdata_group4_app_spark"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_width_restored_after_block_raises(spark):
    before = spark.conf.get(KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with shuffle_width(spark, 3):
            assert spark.conf.get(KEY) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == before


def test_nested_scopes_restore_lifo(spark):
    before = spark.conf.get(KEY)
    with shuffle_width(spark, 4):
        with shuffle_width(spark, 2):
            assert spark.conf.get(KEY) == "2"
        assert spark.conf.get(KEY) == "4"
    assert spark.conf.get(KEY) == before


def test_concurrent_scoped_queries_restore_session_width(spark):
    """Thread A runs a scoped loop (k-core peel at width 4); once its
    narrowed width is visible, thread B starts a longer query with its
    own scope (semantic clusters at width 2).  Hand-rolled blocks let B
    save A's 4 as its "previous" width and restore it after A's scope
    has ended, leaving the session at 4 for every later query."""
    from bigdata_group4_app_spark.operators.graph import kcore_parts
    from bigdata_group4_app_spark.operators.similarity import (
        semantic_dedup_survivors,
    )

    want_b = _rows(semantic_dedup_survivors(spark, SF_SMOKE))
    before = spark.conf.get(KEY)
    assert before != "4"
    out: dict = {}
    errors: list = []

    def run(name, query):
        try:
            out[name] = _rows(query(spark, SF_SMOKE))
        except BaseException as e:  # surfaced by the main thread below
            errors.append(e)

    a = threading.Thread(target=run, args=("a", kcore_parts), daemon=True)
    a.start()
    deadline = time.monotonic() + 120
    while spark.conf.get(KEY) != "4":
        assert a.is_alive(), "thread A finished before its scope was seen"
        assert time.monotonic() < deadline, "thread A never narrowed the width"
        time.sleep(0.002)
    b = threading.Thread(
        target=run, args=("b", semantic_dedup_survivors), daemon=True
    )
    b.start()
    for t in (a, b):
        t.join(timeout=300)
        assert not t.is_alive()
    assert not errors, errors
    assert out["b"] == want_b
    assert spark.conf.get(KEY) == before


def test_no_hand_rolled_width_scopes_in_package():
    """``spark.sql.shuffle.partitions`` is set only by the session
    builder and by ``shuffle_width``; anything else may only read it."""
    allowed = {PACKAGE / "session.py", PACKAGE / "functions" / "iterative.py"}
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path in allowed:
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if KEY in line and "conf.get(" not in line:
                rel = path.relative_to(PACKAGE)
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, "use shuffle_width instead:\n" + "\n".join(offenders)
