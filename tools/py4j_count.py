"""Count the Py4J commands (Python→JVM round trips) a block of PySpark code
sends — the plan-build cost that ``tools/profile_query.py`` prints as
``build_py4j=`` and ``tests/test_session.py`` bounds.

Usage::

    from tools.py4j_count import count_py4j_commands

    with count_py4j_commands(spark) as sent:
        df = QUERIES["dedup_minhash_pairs"](spark, sf_dir)
    print(sent.n)
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from types import SimpleNamespace

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.sql import SparkSession


@contextlib.contextmanager
def count_py4j_commands(spark: SparkSession) -> Iterator[SimpleNamespace]:
    """Count, as ``.n`` of the yielded object, the Py4J commands this
    process sends inside the block, by wrapping the gateway client's
    ``send_command``. Object-release commands are not counted: Python's
    garbage collector sends them for proxies of earlier work whenever it
    happens to run."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = SimpleNamespace(n=0)
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def counted(command, *args, **kwargs):
        if not command.startswith(release):
            count.n += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        client.send_command = send
