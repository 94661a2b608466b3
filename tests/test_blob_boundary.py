"""The blob watermark's boundary: each batch's watermark names the files
of its boundary second (``name@mtime_ms``), so the next poll re-reads
none of them yet still takes a late file landing in that second or a
file rewritten in place; a watermark without a boundary (an older one,
or the reference's) resumes with the inclusive re-read. The MSSQL and
Synapse watermark JSON stays byte-identical."""

import json
import os

import pytest

from arcane_framework_scala_spark.queries.merge import UPSERT_BLOB
from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.sources.blob import BlobCsvSource
from arcane_framework_scala_spark.streaming.runner import StreamRunner
from arcane_framework_scala_spark.streaming.watermark import (
    FileWatermarkStore,
    Watermark,
)

S = 1_700_000_000  # a creation second
MS = S * 1000


class Pipeline:
    """A CSV bucket polled by a StreamRunner into a snapshot target; it
    records the file names each poll reads."""

    def __init__(self, spark, root, bucket=None, sink_wrapper=None):
        self.bucket = bucket or os.path.join(root, "bucket")
        os.makedirs(self.bucket, exist_ok=True)
        self.target = SnapshotParquetTarget(spark, os.path.join(root, "target"))
        self.store = FileWatermarkStore(os.path.join(root, "wm.json"))
        self.reads = []
        source = BlobCsvSource(
            spark=spark, path=self.bucket, primary_keys=["id"], schema="id long, name string"
        )
        real_read = source._read

        def read(paths):
            self.reads.append(sorted(p.rsplit("/", 1)[-1] for p in paths))
            return real_read(paths)

        source._read = read
        self.source = source
        sink = MergeSink(target=self.target, dialect=UPSERT_BLOB)
        self.runner = StreamRunner(
            source=source,
            sink=sink_wrapper(sink) if sink_wrapper else sink,
            watermark_store=self.store,
        )

    def land(self, name, rows, mtime_ms):
        """Write one CSV blob under a hidden name, stamp it, then rename
        it into the listing."""
        tmp = os.path.join(self.bucket, "." + name)
        with open(tmp, "w") as f:
            f.write("id,name\n" + "\n".join(f"{i},{n}" for i, n in rows))
        os.utime(tmp, ns=(mtime_ms * 1_000_000,) * 2)
        os.rename(tmp, os.path.join(self.bucket, name))

    def poll(self):
        before = len(self.reads)
        n = self.runner.run_once()
        return n, sum(self.reads[before:], [])

    def rows(self):
        return sorted((r["id"], r["name"]) for r in self.target.read().collect())


def test_late_file_in_the_boundary_second_is_merged_by_the_next_newer_head(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))
    p.land("a.csv", [(1, "a")], MS)
    assert p.poll() == (1, ["a.csv"])
    wm = p.store.read()
    assert (wm.version, wm.boundary) == (str(S), (f"a.csv@{MS}",))

    p.land("late.csv", [(2, "late")], MS + 400)  # same second, after the poll
    assert p.poll() == (0, [])  # the head second is unchanged: idle
    assert p.store.read().boundary == (f"a.csv@{MS}",)  # idle keeps it

    p.land("b.csv", [(3, "b")], MS + 5000)
    # the late file rides with the newer head; a.csv is not read again
    assert p.poll() == (1, ["b.csv", "late.csv"])
    wm = p.store.read()
    assert (wm.version, wm.boundary) == (str(S + 5), (f"b.csv@{MS + 5000}",))
    assert p.rows() == [(1, "a"), (2, "late"), (3, "b")]
    assert p.poll() == (0, [])


def test_file_rewritten_in_place_is_read_again(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path))
    p.land("a.csv", [(1, "old")], MS)
    assert p.poll() == (1, ["a.csv"])
    since = {"version": str(S), "boundary": p.store.read().boundary}
    assert list(p.source.changes(since)) == []

    # a new modification time in the same second: a different file
    p.land("a.csv", [(1, "same-second")], MS + 700)
    [batch] = p.source.changes(since)
    # the boundary keeps the tag it was given: one that names no listed
    # file any more filters nothing
    assert batch.watermark == {
        "version": S, "boundary": [f"a.csv@{MS}", f"a.csv@{MS + 700}"]
    }
    assert [r["name"] for r in batch.df.collect()] == ["same-second"]

    # rewritten in a later second: merged over the old row
    p.land("a.csv", [(1, "new")], MS + 2000)
    assert p.poll() == (1, ["a.csv"])
    assert p.rows() == [(1, "new")]


def test_boundary_spans_batches_of_one_second(spark, tmp_path):
    """Files of one second split over several batches: each batch's
    boundary names every file of that second merged so far, and the
    earlier boundary's files when it is the same second."""
    p = Pipeline(spark, str(tmp_path))
    p.source.max_files_per_batch = 1
    for name in ("a.csv", "b.csv"):
        p.land(name, [(ord(name[0]), name)], MS)
    p.land("c.csv", [(3, "c")], MS + 1000)
    batches = list(p.source.changes({"version": str(S), "boundary": ["z.csv@1"]}))
    assert [b.watermark for b in batches] == [
        {"version": S, "boundary": [f"a.csv@{MS}", "z.csv@1"]},
        {"version": S, "boundary": [f"a.csv@{MS}", f"b.csv@{MS}", "z.csv@1"]},
        {"version": S + 1, "boundary": [f"c.csv@{MS + 1000}"]},
    ]


def test_crash_between_merge_and_watermark_commit_replays_into_identical_rows(
    spark, tmp_path
):
    """A sink that fails after its merge, before the runner commits the
    watermark: the next runner re-reads the same files from the stored
    watermark and boundary, and the replayed merge leaves the rows of a
    run that never crashed."""

    class CrashAfterMerge:
        def __init__(self, sink):
            self.sink = sink

        def apply(self, df):
            self.sink.apply(df)
            raise RuntimeError("crashed before the watermark commit")

    def land_all(p, step):
        if step == 0:
            p.land("a.csv", [(1, "a"), (2, "a")], MS)
        else:
            p.land("late.csv", [(3, "late"), (5, "late")], MS + 300)
            p.land("b.csv", [(1, "b"), (4, "b")], MS + 1000)

    clean = Pipeline(spark, str(tmp_path / "clean"))
    crashed_root = str(tmp_path / "crashed")
    first = Pipeline(spark, crashed_root)
    for step in (0, 1):
        land_all(clean, step)
        clean.poll()
    land_all(first, 0)
    first.poll()
    before = first.store.read()
    land_all(first, 1)
    crashing = Pipeline(spark, crashed_root, bucket=first.bucket, sink_wrapper=CrashAfterMerge)
    with pytest.raises(RuntimeError, match="crashed"):
        crashing.poll()
    assert crashing.store.read() == before  # the merge landed, the watermark did not
    replay = Pipeline(spark, crashed_root, bucket=first.bucket)
    assert replay.poll() == (1, ["b.csv", "late.csv"])
    assert replay.rows() == clean.rows() == [
        (1, "b"), (2, "a"), (3, "late"), (4, "b"), (5, "late")
    ]
    assert replay.store.read().boundary == clean.store.read().boundary


def test_watermark_without_boundary_resumes_with_the_inclusive_re_read(spark, tmp_path):
    """An older watermark (or the reference's) has no boundary: the poll
    re-reads its whole second, as the reference's createdOn >= watermark
    does, and commits a watermark that has one."""
    p = Pipeline(spark, str(tmp_path))
    p.land("a.csv", [(1, "a")], MS)
    p.land("b.csv", [(2, "b")], MS + 100)
    p.store.commit(Watermark(version=str(S), timestamp="2026-01-01T00:00:00+00:00"))
    assert [b.uri.rsplit("/", 1)[-1] for b in p.source._eligible()] == ["a.csv", "b.csv"]
    assert [b.watermark["version"] for b in p.source.changes({"version": str(S)})] == [S]

    p.land("c.csv", [(3, "c")], MS + 3000)
    assert p.poll() == (1, ["a.csv", "b.csv", "c.csv"])
    wm = p.store.read()
    assert (wm.version, wm.boundary) == (str(S + 3), (f"c.csv@{MS + 3000}",))
    assert p.rows() == [(1, "a"), (2, "b"), (3, "c")]


def test_watermark_json_without_boundary_is_byte_identical():
    """MSSQL and Synapse watermark JSON is what it was before the blob
    boundary existed; the boundary is written only when set, sorted."""
    ts = "2026-01-02T03:04:05+00:00"
    mssql = Watermark(version="12345", timestamp=ts)
    synapse = Watermark(
        version="2025-09-01T00.00.00Z", timestamp=ts, prefix="2025-09-01T00.00.00Z/"
    )
    assert mssql.to_json() == '{"timestamp": "2026-01-02T03:04:05+00:00", "version": "12345"}'
    assert synapse.to_json() == (
        '{"prefix": "2025-09-01T00.00.00Z/", "timestamp": "2026-01-02T03:04:05+00:00", '
        '"version": "2025-09-01T00.00.00Z"}'
    )
    for wm in (mssql, synapse):
        assert Watermark.from_json(wm.to_json()) == wm
        assert Watermark.from_json(wm.to_json()).boundary is None

    blob = Watermark.now(version=str(S), boundary=["b.csv@2", "a.csv@1"])
    assert json.loads(blob.to_json())["boundary"] == ["a.csv@1", "b.csv@2"]
    assert Watermark.from_json(blob.to_json()) == blob
