"""Watermark models and persistence (T2 / F7).

The reference serializes the source watermark as JSON into the **target
Iceberg table's ``comment`` property** and re-reads it at startup — the
target table itself is the exactly-once progress store (read:
``DefaultSourceDataProvider.scala:54-65``; write:
``WatermarkProcessingExtensions.scala:13-39``). Watermark JSON shapes per
source (F7):

- MSSQL:   ``{"version": "<ct_version>", "timestamp": "<iso>"}``
- Synapse: ``{"version": "<folder>", "timestamp": ..., "prefix": "<folder>/"}``
- Blob:    ``{"version": "<epoch_seconds>", "timestamp": ...,
  "boundary": ["<name>@<mtime_ms>", ...]}``

``boundary`` names every file of the ``version`` second that has been
merged (path relative to the bucket root, ``@`` its modification time in
milliseconds), so the next poll skips exactly those and still takes a
late file landing in that same second, or a file rewritten in place.
It is written only when set: the MSSQL and Synapse JSON is unchanged,
and a blob watermark without it (an older one, or the reference's) makes
the source re-read the boundary second inclusively, as the reference
does — a no-op merge by the version guard.

Two stores: ``TablePropertyWatermarkStore`` (catalog tables —
``ALTER TABLE ... SET TBLPROPERTIES``, the production path, same
transaction scope as the merge) and ``FileWatermarkStore`` (a JSON file —
local/parquet-dir targets and tests). Commit ordering is the engine's
exactly-once contract: the watermark is persisted only **after** a merge
succeeds; replays are no-ops thanks to the version-guarded merges (T9).
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Iterable, Protocol

from pyspark.sql import SparkSession

WATERMARK_PROPERTY = "comment"  # reference stores watermark in `comment`


@dataclass(frozen=True)
class Watermark:
    """An ordered, JSON-serializable progress marker."""

    version: str
    timestamp: str = ""
    prefix: str | None = None
    #: blob sources: ``name@mtime_ms`` of each file at the ``version``
    #: second already merged (see the module docstring)
    boundary: tuple[str, ...] | None = None

    @staticmethod
    def now(
        version: str,
        prefix: str | None = None,
        boundary: Iterable[str] | None = None,
    ) -> "Watermark":
        return Watermark(
            version=version,
            timestamp=datetime.now(timezone.utc).isoformat(),
            prefix=prefix,
            boundary=None if boundary is None else tuple(sorted(boundary)),
        )

    def to_json(self) -> str:
        d = {"version": self.version, "timestamp": self.timestamp}
        if self.prefix is not None:
            d["prefix"] = self.prefix
        if self.boundary is not None:
            d["boundary"] = list(self.boundary)
        return json.dumps(d, sort_keys=True)

    @staticmethod
    def from_json(s: str | None) -> "Watermark | None":
        if not s:
            return None
        try:
            d = json.loads(s)
        except json.JSONDecodeError:
            return None
        if "version" not in d:
            return None
        boundary = d.get("boundary")
        return Watermark(
            version=str(d["version"]),
            timestamp=str(d.get("timestamp", "")),
            prefix=d.get("prefix"),
            boundary=tuple(boundary) if isinstance(boundary, list) else None,
        )

    def _order_key(self) -> tuple:
        """Reference-parity ordering (MsSqlWatermarkTests /
        SynapseWatermarkTests 'compare correctly'): change-tracking
        versions are NUMERIC longs (version "9" < "12"), Synapse
        watermarks are timestamp folder names that order
        lexicographically ("2025-12-01T..." < "2026-01-01T...").
        Numeric-when-parseable covers the first, string fallback the
        second; a numeric version always compares below a non-numeric
        one so mixed comparisons are total (they never occur on one
        stream — a stream has one watermark kind)."""
        try:
            return (0, int(self.version), "")
        except ValueError:
            return (1, 0, self.version)

    def __lt__(self, other: "Watermark") -> bool:
        return self._order_key() < other._order_key()

    def __le__(self, other: "Watermark") -> bool:
        return self._order_key() <= other._order_key()

    def __gt__(self, other: "Watermark") -> bool:
        return self._order_key() > other._order_key()

    def __ge__(self, other: "Watermark") -> bool:
        return self._order_key() >= other._order_key()

    def age_seconds(self) -> float | None:
        """T12 watermark-age metric: now - watermark timestamp."""
        if not self.timestamp:
            return None
        try:
            ts = datetime.fromisoformat(self.timestamp)
        except ValueError:
            return None
        return (datetime.now(timezone.utc) - ts).total_seconds()


class WatermarkStore(Protocol):
    def read(self) -> Watermark | None: ...

    def commit(self, wm: Watermark) -> None: ...


@dataclass
class TablePropertyWatermarkStore:
    """Watermark in the target table's ``comment`` property — byte-level
    parity with the reference's progress store, so a target written by the
    reference can be resumed by this engine."""

    spark: SparkSession
    table: str

    def read(self) -> Watermark | None:
        # `comment` is a *reserved* property in Spark's catalog API: SET
        # TBLPROPERTIES('comment'=…) updates the table comment, and SHOW
        # TBLPROPERTIES hides it — read it from catalog metadata, falling
        # back to the property map for catalogs (e.g. Iceberg REST) that
        # surface it as a plain property
        try:
            desc = self.spark.catalog.getTable(self.table).description
            if desc:
                wm = Watermark.from_json(desc)
                if wm is not None:
                    return wm
        except Exception:  # noqa: BLE001 — table may be catalog-external
            pass
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.table}").collect()
        props = {r["key"]: r["value"] for r in rows}
        return Watermark.from_json(props.get(WATERMARK_PROPERTY))

    def commit(self, wm: Watermark) -> None:
        payload = wm.to_json().replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {self.table} SET TBLPROPERTIES "
            f"('{WATERMARK_PROPERTY}'='{payload}')"
        )


@dataclass
class FileWatermarkStore:
    """Watermark JSON in a file next to a path-based target; atomic
    rename-commit."""

    path: str

    def read(self) -> Watermark | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return Watermark.from_json(f.read())

    def commit(self, wm: Watermark) -> None:
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".wm-")
        try:
            with os.fdopen(fd, "w") as f:
                f.write(wm.to_json())
            os.replace(tmp, self.path)
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise
