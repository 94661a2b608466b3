"""CDC source protocol: a stream of (DataFrame, watermark) micro-batches.

Re-expresses the reference's ``StreamDataProvider`` /
``StructuredZStream`` model (``services/streaming/base/StreamDataProvider.
scala:8-12``, ``StructuredZStream.scala:10``): the top-level stream is a
sequence of change sets, each a typed batch plus the watermark reached when
the batch is fully applied. In Spark a change set is simply a DataFrame —
schema travels with it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Protocol

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class MicroBatch:
    """One change set: the rows plus the watermark value that becomes
    durable once this batch has been merged into the target."""

    df: DataFrame
    watermark: dict
    #: number of source units (files, versions) covered — observability only
    units: int = 0

    @property
    def is_watermark_only(self) -> bool:
        """True when the batch carries no rows and only advances progress
        (reference WatermarkOnlyBatch, ``StagedBatch.scala:54-55``)."""
        return self.df is None


class CdcSource(Protocol):
    """A pollable change source.

    ``current_version()`` is the cheap probe (reference
    ``getCurrentVersion`` / blob max-createdOn); ``changes(since)`` yields
    micro-batches strictly newer than the watermark. The listing sources
    (blob, CDM) hand the probe's listing to the next ``changes()`` call,
    so a poll that probes and then fetches lists once."""

    def current_version(self) -> dict: ...

    def changes(self, since: dict | None) -> Iterator[MicroBatch]: ...
