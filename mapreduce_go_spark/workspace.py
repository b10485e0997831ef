"""Session workspace: the directory the engine owns for materialized
artifacts, the per-application scratch under it, and the one
write-once rule every session artifact follows.

A session artifact is a directory written once per session and read
by every later request:

- Key: `artifact_path` names it `<family>_<md5(abspath(sf_dir)|extra)[:8]>`
  under `session_scratch`. The absolute fixture path is hashed, so two
  spellings of one fixture share an artifact and two fixtures with the
  same last path component do not.
- Lock: `materialize_once` holds a per-path lock around the check and
  the write, so two driver threads asking for one artifact write it
  once, while unrelated artifacts never wait on each other.
- Commit marker: `_SUCCESS`. Spark's file committer publishes it after
  the data; a `write` that bypasses Spark writes it last itself. No
  marker means uncommitted: a write that raised or crashed is redone
  by the next request.
- Lifetime: the application's scratch directory, removed at
  interpreter exit. A killed session never runs that removal, so the
  first `session_scratch` call of each session sweeps the scratch of
  dead sessions. A vanished artifact (tmp cleaner, sweep) is rebuilt
  by the next request.

This module has no operator dependencies, so every consumer can import
it at the top level.
"""

from __future__ import annotations

import hashlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession

_CLEANUP_REGISTERED: set[str] = set()
_LOCKS_GUARD = threading.Lock()
_LOCKS: dict[str, threading.Lock] = {}


def _workspace_dir() -> str:
    """Directory the engine owns for materialized layouts:
    $SPARK_GRAFT_WORKSPACE, else <repo>/.bucketed_cache. NOT the OS
    temp dir — tmp cleaners delete long-lived session files out from
    under the catalog (the advisory's failure mode)."""
    import pathlib

    return os.environ.get(
        "SPARK_GRAFT_WORKSPACE",
        str(pathlib.Path(__file__).resolve().parents[1] / ".bucketed_cache"),
    )


def session_scratch(spark: SparkSession) -> str:
    """Per-application scratch directory under the workspace, removed
    at interpreter exit; every session artifact lives under it.

    Its first call in a session sweeps the siblings left by dead
    sessions. Ownership is a pidfile: each scratch carries
    .owner_pid; a sibling whose pid is gone is sweepable, a live one is
    left alone (concurrent pytest + driver sessions coexist). Legacy
    appId-patterned dirs with no pidfile are swept too; anything else
    under the workspace (the codebooks store) is durable and untouched.
    Every artifact is rebuilt on a vanished path, so a mis-sweep of a
    live legacy dir costs a rebuild, not correctness."""
    import atexit
    import shutil

    base = os.path.join(_workspace_dir(), spark.sparkContext.applicationId)
    if base not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(base)
        atexit.register(shutil.rmtree, base, True)
        _sweep_dead_sessions(base)
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, ".owner_pid"), "w") as fh:
            fh.write(str(os.getpid()))
    return base


def artifact_path(spark: SparkSession, family: str, sf_dir: str,
                  extra: str) -> str:
    """The session path of the `family` artifact built from `sf_dir`;
    `extra` keys whatever else the artifact depends on."""
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{extra}".encode()).hexdigest()[:8]
    return os.path.join(session_scratch(spark), f"{family}_{tag}")


def materialize_once(spark: SparkSession, family: str, sf_dir: str,
                     extra: str, write) -> str:
    """Call `write(path)` unless the artifact is committed, and return
    its path."""
    path = artifact_path(spark, family, sf_dir, extra)
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(path, threading.Lock())
    with lock:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            write(path)
    return path


def session_parquet(spark: SparkSession, family: str, sf_dir: str,
                    extra: str, build) -> DataFrame:
    """A parquet artifact (`build(path)` writes it) as a plain scan.

    The read handle is memoized per (application, path, _SUCCESS
    mtime): each read.parquet costs ~90 ms of driver py4j plus a footer
    read, and layout consumers reopen one artifact several times per
    construction. The mtime keeps the rebuild on a vanished path
    honest: the rebuilt artifact carries a new marker, so the stale
    handle, whose file index names deleted part files, is never
    served."""
    path = materialize_once(spark, family, sf_dir, extra, build)
    key = (spark.sparkContext.applicationId, path,
           os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns)
    df = _SESSION_PARQUET_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _SESSION_PARQUET_MEMO[key] = df
    return df


_SESSION_PARQUET_MEMO: dict[tuple[str, str, int], DataFrame] = {}


def _sweep_dead_sessions(current: str) -> None:
    """Remove sibling scratch dirs whose owning process is dead: a
    pidfile with a gone pid, or a legacy appId-patterned dir with no
    pidfile at all. PermissionError from kill(pid, 0) means ALIVE
    (another user's process) — kept."""
    import re
    import shutil

    ws = os.path.dirname(current)
    try:
        entries = os.listdir(ws)
    except FileNotFoundError:
        return
    for name in entries:
        path = os.path.join(ws, name)
        if path == current or not os.path.isdir(path):
            continue
        try:
            with open(os.path.join(path, ".owner_pid")) as fh:
                pid = int(fh.read().strip())
        except (OSError, ValueError):
            if re.fullmatch(r"(local|app)-[\w.-]+", name):
                shutil.rmtree(path, True)
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(path, True)
        except OSError:
            pass
