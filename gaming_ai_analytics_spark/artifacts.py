"""The one owner of derived artifacts: the directories, tables and
in-memory values that queries build once and then reuse.

- :func:`workdir` — a process-lifetime directory per (``sf_dir``,
  name), for tables that are overwritten in place.
- :func:`scratch` — a fresh directory per call, for landing zones two
  concurrent invocations must not share.
- :func:`once` — ``build()``'s value, built at most once per (session,
  ``sf_dir``, name) and cached: the "build once, probe many times
  within a session" pattern of incremental top-k serving. It rebuilds
  when the ``os.stat`` listing of the named source tables changes
  (first dropping their ``sources.star.load_table`` frames, so the
  rebuild reads the new files) or ``exists()`` reports the persisted
  artifact gone.
- :func:`token` — an ``sf_dir`` suffix for catalog-managed table names,
  which are process-global.

Every directory lives under one temp root, removed at interpreter
exit. ``sf_dir`` is normalised (``dir`` and ``dir/`` are one key).
Entries whose SparkContext has stopped are dropped on the next call,
so a stopped session is not pinned by its cached values.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from typing import Any, Callable, Iterable

from pyspark.sql import SparkSession

from gaming_ai_analytics_spark.sources.star import forget_tables

# re-entrant: a build may call `once` for an artifact it depends on
_lock = threading.RLock()
_root: str | None = None
_workdirs: dict[tuple[str, str], str] = {}
#: (id(session), sf_dir, name) -> (session, source fingerprint, value);
#: holding the session keeps its id from being reused while keyed
_entries: dict[tuple[int, str, str], tuple[SparkSession, str, Any]] = {}


def _norm(sf_dir: str) -> str:
    return os.path.normpath(os.path.abspath(sf_dir))


def _root_dir() -> str:
    global _root
    with _lock:
        if _root is None:
            _root = tempfile.mkdtemp(prefix="gaa_artifacts_")
            atexit.register(shutil.rmtree, _root, ignore_errors=True)
        return _root


def workdir(sf_dir: str, name: str) -> str:
    """The process-lifetime directory for artifact ``name`` at
    ``sf_dir``: created on first use, then the same path every call."""
    key = (_norm(sf_dir), name)
    with _lock:
        if key not in _workdirs:
            _workdirs[key] = tempfile.mkdtemp(
                prefix=f"{name}_", dir=_root_dir()
            )
        return _workdirs[key]


def scratch(prefix: str) -> str:
    """A fresh directory for one call, removed with the root at exit
    (a lazily read result may still point into it until then)."""
    return tempfile.mkdtemp(prefix=prefix, dir=_root_dir())


def token(sf_dir: str) -> str:
    """8-hex suffix that keeps one ``sf_dir``'s catalog-managed tables
    apart from another's."""
    return hashlib.md5(_norm(sf_dir).encode()).hexdigest()[:8]


def _fingerprint(sf_dir: str, sources: Iterable[str]) -> str:
    """(path, size, mtime) listing of ``{sf_dir}/{name}.parquet`` for
    each source table, file or directory: os.stat only, no Spark job."""
    out = []
    for name in sources:
        p = os.path.join(sf_dir, f"{name}.parquet")
        paths = [p]
        if os.path.isdir(p):
            paths = sorted(
                os.path.join(r, f)
                for r, _, fs in os.walk(p)
                for f in fs
                if not f.startswith((".", "_"))
            )
        for q in paths:
            st = os.stat(q)
            out.append(f"{q}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(out)


def _stopped(spark: SparkSession) -> bool:
    return getattr(spark.sparkContext, "_jsc", None) is None


def once(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], Any],
    *,
    sources: tuple[str, ...] = (),
    exists: Callable[[], bool] | None = None,
) -> Any:
    """``build()``'s value for (``spark``, ``sf_dir``, ``name``), built
    at most once under one lock and returned from the cache after.
    Rebuilt when the ``sources`` fingerprint drifts or ``exists()`` is
    false; on drift the sources' cached ``load_table`` frames are
    dropped first, since they still list the replaced files. Cache a
    loaded frame rather than re-loading it per call: a parquet load
    runs a schema-inference job."""
    key = (id(spark), _norm(sf_dir), name)
    with _lock:
        for k in [k for k, e in _entries.items() if _stopped(e[0])]:
            del _entries[k]
        fp = _fingerprint(sf_dir, sources)
        hit = _entries.get(key)
        if hit is not None and hit[1] == fp and (exists is None or exists()):
            return hit[2]
        if hit is not None and hit[1] != fp:
            forget_tables(sf_dir, sources)
        value = build()
        _entries[key] = (spark, fp, value)
        return value


def clear() -> None:
    """Forget every cached value (directories stay until exit)."""
    with _lock:
        _entries.clear()
