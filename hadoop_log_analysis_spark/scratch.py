"""What the package keeps for a Spark application, and where it writes.
Everything the package writes lives under ``ROOT`` (``.tmp`` at the
checkout root), and only this module knows how it is laid out; it is
also the only module that reads a Spark application id. There are two
ways to get a directory and one in-process cache:

* :func:`cached` — an input derived once per input directory (replay
  drop dirs, app-log text files, the IVF index) and reused across runs,
  at ``ROOT/<kind>_<input basename>_<hash>``;
* :func:`run_dir` — a directory owned by the session's application, at
  ``ROOT/<app_id>/...``, rewritten by its caller on every call; the
  first call for an application registers the removal of all of them
  when the process exits, so no caller cleans up;
* :func:`memo` — a value built once per application and kept in memory
  (scans, collected driver-side results, bucketed tables).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
from typing import Any, Callable, Hashable

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
)


def _entry(kind: str, sf_dir: str) -> str:
    # the basename keeps entries matchable by input name; the hash of
    # the resolved path keeps two inputs sharing a basename apart
    digest = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    return f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}_{digest}"


def stamp_replay_order(path: str) -> None:
    """mtime-stamp a drop dir's ``part-*.json`` files strictly increasing
    in name order. The file source replays files in modification-time
    order; a single batch write stamps them identically, which would
    randomize replay order and break every time-ordered-replay contract
    (T4/T5 watermarks, first-seen dedup, the outer joins' sentinels).
    Part numbering follows repartitionByRange order, so part-00000 is
    the earliest time slice, and sentinel files (``part-zz-…``) sort
    last. Idempotent on a stamped dir; repairs one whose mtimes were
    flattened (``cp -r``, archive extraction)."""
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".json")
    )
    base = (
        os.path.getmtime(os.path.join(path, parts[0]))
        if parts
        else os.path.getmtime(path)
    )
    for i, f in enumerate(parts):
        os.utime(os.path.join(path, f), (base + 10 * i, base + 10 * i))


def cached(kind: str, sf_dir: str, build: Callable[[str], None]) -> str:
    """The directory ``kind`` derived from the input ``sf_dir``, built by
    ``build(path)`` on first use.

    Its ``_READY`` marker records the input's resolved path, and only a
    matching marker counts as a hit. Replay order lives only in the
    files' mtimes, so every hit re-applies :func:`stamp_replay_order`:
    a cached dir whose mtimes were flattened replays in order again
    instead of silently changing the answer."""
    src = os.path.realpath(sf_dir)
    path = os.path.join(ROOT, _entry(kind, sf_dir))
    marker = os.path.join(path, "_READY")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == src:
                stamp_replay_order(path)
                return path
    shutil.rmtree(path, ignore_errors=True)
    build(path)
    stamp_replay_order(path)
    with open(marker, "w") as fh:
        fh.write(src)
    return path


# application ids whose run dirs are removed at process exit
_RELEASED: set[str] = set()
# one memo dict per application id
_MEMO: dict[str, dict[Hashable, Any]] = {}


def run_dir(spark: Any, kind: str, sf_dir: str | None = None) -> str:
    """The session's application's directory ``kind``, one per input
    when ``sf_dir`` is given. Touches nothing on disk; every run dir of
    the application is removed when the process exits."""
    app_id = spark.sparkContext.applicationId
    if app_id not in _RELEASED:
        _RELEASED.add(app_id)
        # filesystem only: at exit the JVM may already be gone
        atexit.register(
            shutil.rmtree, os.path.join(ROOT, app_id), ignore_errors=True
        )
    name = kind if sf_dir is None else _entry(kind, sf_dir)
    return os.path.join(ROOT, app_id, name)


def memo(spark: Any, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value ``build()`` returns, built once per application and
    ``key``."""
    values = _MEMO.setdefault(spark.sparkContext.applicationId, {})
    if key not in values:
        values[key] = build()
    return values[key]
