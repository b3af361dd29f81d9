"""REST/JSON product-dimension source.

Reference: ``getDataFromAPI`` (ApplaudoETL.scala:134-142) — a blocking HTTP
GET on the driver, a JSON path query ``\\ "results" \\ "items"``, extraction
into case classes, then parallelize. The pattern is driver-memory-bound *by
design* (the reference's own notebook comment: it "works because the data …
is small enough" — a ~1.9 MB payload for 49,688 rows).

Rebuild keeps the small-dim fast path (driver fetch →
``spark.createDataFrame``). ``file://`` URLs are accepted so tests need no
network.
"""

from __future__ import annotations

import json
import urllib.request
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from scala_etl_test_spark.schemas import PRODUCT_DETAIL_SCHEMA


def _walk_items(payload: Any) -> list[dict]:
    """Equivalent of the json4s recursive path query ``\\ "results" \\
    "items"``: collect every dict under any ``results``→``items`` nesting."""
    found: list[dict] = []

    def walk(node: Any) -> None:
        if isinstance(node, dict):
            results = node.get("results")
            if results is not None:
                items = results.get("items") if isinstance(results, dict) else None
                if isinstance(items, list):
                    found.extend(i for i in items if isinstance(i, dict))
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(payload)
    return found


def fetch_product_details(url: str, timeout: float = 30.0) -> list[dict]:
    """Driver-side HTTP(S)/file GET + JSON parse (the driver→API boundary)."""
    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        payload = json.load(resp)
    return _walk_items(payload)


def read_product_details_api(spark: SparkSession, url: str) -> DataFrame:
    """Small-dimension fast path: fetch on the driver, type with the declared
    schema (ApplaudoETL.scala:138-141 equivalent)."""
    rows = [
        (item.get("product_name"), item.get("aisle"), item.get("department"))
        for item in fetch_product_details(url)
    ]
    return spark.createDataFrame(rows, PRODUCT_DETAIL_SCHEMA)
