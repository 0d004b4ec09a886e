"""Build-once artifacts: the one store for state the package builds once
and reuses — persisted ANN indexes, learned tokenizer tables, plan
statistics, bucket UDFs, the time-travel lake — and for every temp dir
it makes (those tables, the lake, the streaming kernels' roots).

- ``get_or_build`` memoizes a value per key: kind + params + the
  ``table_fingerprint`` of each ``(sf_dir, table)`` input + the Spark
  application id. Rewriting an input in place, or starting a new
  session, can never be served a value built from old bytes or for a
  dead context.
- ``persisted_table`` is its parquet form: ``build()`` is written once to
  a scratch dir and every caller reads it back.
- ``scratch_dir`` names every dir ``graft_pid<pid>_<kind>_*``, so one
  ``sweep_stale`` can tell a live process's dirs from stranded ones, and
  ``cleanup`` removes all of this process's dirs and clears the memo.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
from typing import Callable, Iterable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from .session import read_parquet, table_fingerprint

T = TypeVar("T")

_PREFIX = "graft_pid"
_MEMO: dict[str, object] = {}
_DIRS: list[str] = []


def scratch_dir(kind: str) -> str:
    """A new temp dir ``graft_pid<pid>_<kind>_*``, removed by ``cleanup``."""
    path = tempfile.mkdtemp(prefix=f"{_PREFIX}{os.getpid()}_{kind}_")
    _DIRS.append(path)
    return path


def get_or_build(
    spark: SparkSession,
    kind: str,
    params: object,
    inputs: Iterable[tuple[str, str]],
    build: Callable[[], T],
) -> T:
    """``build()``'s value, built once per key. A value that is a path
    is rebuilt when the dir has gone (a sweep or the tmp cleaner took
    it), instead of failing every later read until process restart."""
    fps = ",".join(f"{d}/{t}@{table_fingerprint(d, t)}" for d, t in inputs)
    key = f"{kind}:{params}:{fps}:{spark.sparkContext.applicationId}"
    value = _MEMO.get(key)
    if value is None or (isinstance(value, str) and not os.path.isdir(value)):
        value = _MEMO[key] = build()
    return value


def persisted_table(
    spark: SparkSession,
    kind: str,
    params: object,
    inputs: Iterable[tuple[str, str]],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Build-once-read-many table: ``build()`` is written as parquet to a
    scratch dir once per key and every call reads it back. The 100 TB
    form of an index is a lake table probes prune against; a per-query
    ``localCheckpoint`` would re-materialize it each time, pin
    non-fault-tolerant executor blocks, and share nothing."""

    def write() -> str:
        path = scratch_dir(kind)
        build().write.mode("overwrite").parquet(path)
        return path

    return read_parquet(spark, get_or_build(spark, kind, params, inputs, write))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def sweep_stale(min_age_sec: float = 3600.0, hard_ttl_sec: float = 7 * 86400.0) -> None:
    """Remove scratch dirs stranded by PRIOR processes (a crashed run).

    pid liveness alone is not trustworthy: pids are recycled, and
    ``os.kill(pid, 0)`` answers for THIS pid namespace, not the one the
    marker was written in (containers). So a dir goes when its pid looks
    dead AND it is older than ``min_age_sec`` (a recycled-dead pid can't
    strand a fresh live run's dirs), and unconditionally once older than
    ``hard_ttl_sec`` (a recycled-alive pid held by an unrelated daemon
    can't pin a stranded dir forever; a live owner rebuilds a swept table
    through ``get_or_build``'s isdir recheck)."""
    now = time.time()
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        m = re.match(rf"{_PREFIX}(\d+)_", name)
        if m is None:
            continue
        path = os.path.join(tmp, name)
        try:
            age = now - os.path.getmtime(path)
        except OSError:
            continue
        if age < hard_ttl_sec and (_pid_alive(int(m.group(1))) or age < min_age_sec):
            continue
        shutil.rmtree(path, ignore_errors=True)


def cleanup() -> None:
    """Remove every scratch dir this process made and clear the memo.
    Only call once the DataFrames read from those dirs are consumed."""
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)
    _MEMO.clear()
