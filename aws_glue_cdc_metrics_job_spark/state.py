"""High-watermark control store.

The reference keeps one tiny text object per table in S3 holding the last
processed marker (scripts/cdc_metrics_job.py:31-39 for bronze,
:116-124 for silver), defaulting to ``"2020-01-01"`` on a miss. Semantics are
*at-least-once*: the watermark only advances after the downstream write
succeeds (:146-147, :170-171, :213-214), so a failed run replays.

This implementation keeps the same contract over any local/posix path (an
object store behaves the same through a mounted or hadoop-compatible FS).
Values are opaque strings; callers decide whether they are timestamps or
dates. ``advance`` enforces monotonicity so replays can never move the
watermark backwards (a hardening the reference lacks: its bronze stage writes
``now()`` unconditionally at :90, which can lose rows committed between the
query and the clock read -- SURVEY.md C1)."""

from __future__ import annotations

import json
import os
import tempfile
import threading

DEFAULT_WATERMARK = "2020-01-01"


class WatermarkStore:
    """File-backed map of table-name -> watermark string.

    One JSON file instead of one object per table (reference:
    one S3 key per table, scripts/cdc_metrics_job.py:30,116,151,196).
    Writes are atomic (tmp + rename) so a crashed run leaves the previous
    watermark intact, preserving at-least-once replay. ``set`` and
    ``advance`` rewrite the whole file, so they hold a per-instance lock:
    concurrent pipeline units advancing different keys must not lose each
    other's updates."""

    def __init__(self, path: str, default: str = DEFAULT_WATERMARK):
        self.path = path
        self.default = default
        # reentrant: advance() calls set() while holding it
        self._lock = threading.RLock()

    def _load(self) -> dict[str, str]:
        try:
            with open(self.path, encoding="utf-8") as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def get(self, table: str) -> str:
        return self._load().get(table, self.default)

    def set(self, table: str, value: str) -> None:
        with self._lock:
            state = self._load()
            state[table] = value
            os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path) or ".")
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump(state, f, indent=0, sort_keys=True)
            os.replace(tmp, self.path)

    def advance(self, table: str, value: str) -> str:
        """Monotonic set: keeps max(current, value) under string ordering
        (valid for ISO dates/timestamps). Returns the stored value."""
        with self._lock:
            newval = max(self.get(table), value)
            self.set(table, newval)
        return newval
