"""Session-level plan-build cost.

``build_session`` turns off PySpark's per-call call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``). With it on, every
``Column`` method and ``F.col`` call adds about ten Py4J round trips to
record the calling Python line, and building ``dedup_minhash_pairs`` sends
~2,700 Py4J commands instead of ~1,000.
"""

from __future__ import annotations

import pyspark.errors.utils

from scala_etl_test_spark.plans.queries import QUERIES
from tools.py4j_count import count_py4j_commands

DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_disables_call_site_capture(spark):
    assert spark.conf.get(DEBUGGING_CONF) == "false"


def test_minhash_build_round_trips(spark, sf_dir, monkeypatch):
    # PySpark caches the flag per process on its first wrapped call, which
    # may have happened before this session existed; re-read it from the
    # session under test
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    QUERIES["dedup_minhash_pairs"](spark, sf_dir)  # warm file listings
    with count_py4j_commands(spark) as sent:
        QUERIES["dedup_minhash_pairs"](spark, sf_dir)
    assert sent.n < 1500, sent.n
