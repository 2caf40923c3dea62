"""Per-session memo for build-once state.

Catalog entries with a build-once/query-many contract — a checkpointed
index frame, a driver-sized model, a fixture directory written once per
corpus, a peeked schema, a managed table — memoize it through one of
two decorators, never a module-level dict:

* ``per_session(fn)`` memoizes ``fn(spark, key, *args)`` on
  ``(spark.sparkContext.applicationId, key, *args)``, defaults filled
  in. That is the one key: a new SparkSession rebuilds, because
  checkpoints, managed tables and in-memory catalogs die with the
  session that built them.
* ``index(name)`` does the same and registers ``fn`` as the index
  ``name``. ``clear_index_caches()`` empties every index memo (the
  ``--fresh`` lever of bench.py and scripts/time_entries.py), and
  ``index_builders()`` gives one thunk per index that builds it and
  forces materialization, so the bench times each one-shot build as its
  own ``index_build`` line.

Stale-dir rule: a cached value that is a directory path, or a tuple of
paths, is rebuilt when any of those directories is gone. Fixture
directories come from ``make_tempdir`` and are removed at interpreter
exit.
"""
from __future__ import annotations

import atexit
import functools
import inspect
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_TEMP_DIRS: set[str] = set()
_INDEXES: dict[str, Callable] = {}


def _cleanup_tempdirs() -> None:
    for path in _TEMP_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _TEMP_DIRS.clear()


atexit.register(_cleanup_tempdirs)


def make_tempdir(prefix: str, dir: str | None = None) -> str:
    """mkdtemp (under ``dir`` when given) that is removed at interpreter
    exit."""
    path = tempfile.mkdtemp(prefix=prefix, dir=dir)
    _TEMP_DIRS.add(path)
    return path


def _dir_gone(value) -> bool:
    paths = value if isinstance(value, tuple) else (value,)
    return any(
        isinstance(p, str) and os.path.isabs(p) and not os.path.isdir(p)
        for p in paths
    )


def per_session(fn: Callable) -> Callable:
    """Memoize ``fn(spark, key, *args)`` per Spark application."""
    sig = inspect.signature(fn)
    memo: dict = {}

    @functools.wraps(fn)
    def cached(spark: SparkSession, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (
            spark.sparkContext.applicationId,
            *bound.args[1:],
            *sorted(bound.kwargs.items()),
        )
        if key not in memo or _dir_gone(memo[key]):
            memo[key] = fn(spark, *args, **kwargs)
        return memo[key]

    cached.memo = memo
    return cached


def index(name: str) -> Callable[[Callable], Callable]:
    """``per_session``, registered as the index ``name``."""

    def register(fn: Callable) -> Callable:
        _INDEXES[name] = per_session(fn)
        return _INDEXES[name]

    return register


def _registered() -> dict[str, Callable]:
    from . import queries  # noqa: F401  (importing the catalog registers every index)

    return _INDEXES


def clear_index_caches() -> list[str]:
    """Empty every index memo; returns the names that held entries."""
    cleared = [name for name, fn in _registered().items() if fn.memo]
    for fn in _INDEXES.values():
        fn.memo.clear()
    return cleared


def _build(fn: Callable, spark: SparkSession, sf_dir: str) -> None:
    n = len(fn.memo)
    value = fn(spark, sf_dir)
    if len(fn.memo) == n:
        return  # already built as part of an earlier index
    # count() materializes a lazily checkpointed frame; a tuple index
    # (the MinHash core) is forced through its last frame
    frame = value[-1] if isinstance(value, tuple) else value
    if isinstance(frame, DataFrame):
        frame.count()


def index_builders() -> dict[str, Callable[[SparkSession, str], None]]:
    """Name → thunk that builds the index for (spark, sf_dir) and forces
    materialization."""
    return {name: functools.partial(_build, fn) for name, fn in _registered().items()}
