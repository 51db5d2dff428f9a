"""Small shared helpers."""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import TypeVar

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_T = TypeVar("_T")


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Create a small driver-side DataFrame through the pandas->Arrow
    path.

    ``createDataFrame`` from a plain Python list parallelizes into
    defaultParallelism RDD slices, and every downstream action pays a
    Python-serialization round per slice (~seconds of overhead for a
    100-row probe table). The Arrow path materializes a JVM
    LocalRelation once — ~100x faster for the broadcast-probe /
    origin-list tables this engine builds constantly.

    ``schema`` is a DDL string of columns (e.g. "cell long"); nested
    types are fine — the column split ignores commas inside <...>.
    """
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            fields.append(schema[start:i])
            start = i + 1
    fields.append(schema[start:])
    names = [f.split()[0] for f in fields]
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=schema)


_STAGE_LOCK = threading.RLock()
_stage_app: str | None = None
_stages: dict = {}


def session_stage(spark: SparkSession, key, build: Callable[[], _T]) -> _T:
    """The value staged under ``key`` in this Spark application, built
    by ``build()`` on first use.

    For one-time artifacts that many queries reuse: a checkpointed
    input frame, a trained quantizer, a prepared routing graph — the
    reference likewise loads its graph or raster once outside the
    benchmark loop. Entries are keyed by ``applicationId``, which is
    unique per SparkContext lifetime (``id(spark)`` can be reused by a
    new session after the old one is garbage-collected). Only the
    current application's entries are held: the first call from
    another application drops them all, so a stopped session's
    checkpointed DataFrames are not pinned. One re-entrant lock covers
    lookup and build, so concurrent callers build a key once and a
    build may stage another key.
    """
    global _stage_app
    try:
        app = spark.sparkContext.applicationId
    except Exception:  # stopped context: never match a live entry
        app = f"stopped-{id(spark)}"
    with _STAGE_LOCK:
        if app != _stage_app:
            _stages.clear()
            _stage_app = app
        if key not in _stages:
            _stages[key] = build()
        return _stages[key]
