"""Synapse Link CDM source tests (S6/S7): folder gating, per-batch schema,
multiline CSV, typed conversion, merge key, watermark-driven incremental,
and the driver-side small-file reads (one JVM call per file)."""

import json

import pytest

from arcane_framework_scala_spark.sinks.merge_sink import (
    MergeSink,
    SnapshotParquetTarget,
)
from arcane_framework_scala_spark.queries.merge import SYNAPSE_LINK
from arcane_framework_scala_spark.sources.cdm import SynapseCdmSource, parse_cdm_model

MODEL = {
    "name": "cdm",
    "entities": [
        {
            "name": "account",
            "attributes": [
                {"name": "Id", "dataType": "guid"},
                {"name": "name", "dataType": "string"},
                {"name": "balance", "dataType": "decimal"},
                {"name": "versionnumber", "dataType": "int64"},
                {"name": "IsDelete", "dataType": "boolean"},
                {"name": "SinkModifiedOn", "dataType": "dateTime"},
            ],
        }
    ],
}


def _write_batch(root, folder, rows, in_progress=None):
    bdir = root / folder / "account"
    bdir.mkdir(parents=True, exist_ok=True)
    (root / folder / "model.json").write_text(json.dumps(MODEL))
    # two CSVs: deletes live in 1.csv (applied last per O1 ordering)
    (bdir / "2.csv").write_text(
        "\n".join(r for r in rows if not r.endswith(",True,9/1/2025 1:02:03 PM"))
    )
    (bdir / "1.csv").write_text(
        "\n".join(r for r in rows if r.endswith(",True,9/1/2025 1:02:03 PM"))
    )
    if in_progress:
        (root / "Changelog").mkdir(exist_ok=True)
        (root / "Changelog" / "changelog.info").write_text(f"blobs/{in_progress}")


@pytest.fixture()
def cdm_container(tmp_path):
    root = tmp_path / "cdm"
    _write_batch(
        root,
        "2025-09-01T00.00.00Z",
        [
            'a1,"first, quoted",10.5,1,False,9/1/2025 1:02:03 PM',
            'a2,"line1\nline2",20.0,2,False,9/1/2025 1:02:03 PM',
        ],
    )
    _write_batch(
        root,
        "2025-09-01T01.00.00Z",
        [
            "a1,renamed,11.0,3,False,9/1/2025 1:02:03 PM",
            "a2,gone,21.0,4,True,9/1/2025 1:02:03 PM",
        ],
    )
    # third folder is in-progress → must be excluded
    _write_batch(
        root,
        "2025-09-01T02.00.00Z",
        ["a3,should-not-appear,0.0,5,False,9/1/2025 1:02:03 PM"],
        in_progress="2025-09-01T02.00.00Z",
    )
    return str(root)


def test_parse_cdm_model_types():
    fields = parse_cdm_model(json.dumps(MODEL), "account")
    assert [n for n, _ in fields][:3] == ["Id", "name", "balance"]
    assert fields[2][1].typeName() == "double"
    assert fields[3][1].typeName() == "long"


def test_changelog_gates_in_progress_folder(spark, cdm_container):
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    assert src.completed_folders(None) == [
        "2025-09-01T00.00.00Z",
        "2025-09-01T01.00.00Z",
    ]
    assert src.current_version() == {"version": "2025-09-01T01.00.00Z"}


def test_batches_typed_with_merge_key(spark, cdm_container):
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    batches = list(src.changes(None))
    assert len(batches) == 2
    df = batches[0].df
    assert df.schema["balance"].dataType.typeName() == "double"
    assert df.schema["versionnumber"].dataType.typeName() == "long"
    assert df.schema["IsDelete"].dataType.typeName() == "boolean"
    assert df.schema["SinkModifiedOn"].dataType.typeName().startswith("timestamp")
    rows = {r["Id"]: r for r in df.collect()}
    assert rows["a1"]["ARCANE_MERGE_KEY"] == "a1"
    assert rows["a1"]["name"] == "first, quoted"
    assert rows["a2"]["name"] == "line1\nline2"  # multiline quoted field
    assert rows["a1"]["SinkModifiedOn"] is not None


def test_incremental_since_watermark(spark, cdm_container):
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    batches = list(src.changes({"version": "2025-09-01T00.00.00Z"}))
    assert [b.watermark["version"] for b in batches] == ["2025-09-01T01.00.00Z"]


def test_cdm_to_merge_pipeline(spark, cdm_container, tmp_path):
    """Vertical: CDM folders → M2 synapse merge → tombstone removes a2."""
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    target = SnapshotParquetTarget(spark, str(tmp_path / "target"))
    sink = MergeSink(target=target, dialect=SYNAPSE_LINK)
    for batch in src.changes(None):
        if batch.df is not None:
            sink.apply(batch.df)
    final = {r["Id"]: r for r in target.read().collect()}
    assert set(final) == {"a1"}  # a2 deleted by the versionnumber-4 tombstone
    assert final["a1"]["name"] == "renamed"
    assert final["a1"]["versionnumber"] == 3


def test_multibyte_model_json_parses_identically(spark, tmp_path):
    """Multi-byte UTF-8 attribute names survive the one-call read: the
    batch schema is exactly what parse_cdm_model makes of the file text."""
    model = {
        "name": "cdm",
        "entities": [
            {
                "name": "account",
                "attributes": [
                    {"name": "Id", "dataType": "guid"},
                    {"name": "näme_名前", "dataType": "string"},
                    {"name": "größe", "dataType": "int64"},
                ],
            }
        ],
    }
    text = json.dumps(model, ensure_ascii=False)
    folder = "2025-09-01T00.00.00Z"
    root = tmp_path / "cdm"
    (root / folder / "account").mkdir(parents=True)
    (root / folder / "model.json").write_text(text, encoding="utf-8")
    (root / folder / "account" / "1.csv").write_text("a1,zürich 東京,7\n", encoding="utf-8")
    src = SynapseCdmSource(spark=spark, container_path=str(root), entity="account")
    assert src._read_small_file(f"{folder}/model.json") == text
    df = src.read_batch(folder)
    fields = parse_cdm_model(text, "account")
    assert [(n, df.schema[n].dataType) for n, _ in fields] == fields
    row = df.collect()[0]
    assert row["näme_名前"] == "zürich 東京"
    assert row["größe"] == 7


@pytest.mark.parametrize("info", [None, "", "\n"])
def test_empty_or_absent_changelog_gives_no_cutoff(spark, tmp_path, info):
    root = tmp_path / "cdm"
    rows = ["a1,x,1.0,1,False,9/1/2025 1:02:03 PM"]
    for folder in ("2025-09-01T00.00.00Z", "2025-09-01T01.00.00Z"):
        _write_batch(root, folder, rows)
    if info is not None:
        (root / "Changelog").mkdir()
        (root / "Changelog" / "changelog.info").write_text(info)
    src = SynapseCdmSource(spark=spark, container_path=str(root), entity="account")
    assert src.in_progress_folder() is None
    assert src.completed_folders(None) == [
        "2025-09-01T00.00.00Z",
        "2025-09-01T01.00.00Z",
    ]


def _padded_model(pad_entities: int) -> dict:
    """MODEL plus other entities: a larger model.json with the same
    ``account`` schema."""
    pad = [
        {
            "name": f"pad{i}",
            "attributes": [{"name": f"col{j}", "dataType": "string"} for j in range(20)],
        }
        for i in range(pad_entities)
    ]
    return {**MODEL, "entities": MODEL["entities"] + pad}


def test_read_batch_round_trips_do_not_grow_with_model_json(spark, tmp_path, py4j_round_trips):
    """The py4j round trips of one read_batch, counted at the gateway
    client, are the same for a 4 KB and a 26 KB model.json: the file is
    read in one call, and parsed once."""
    root = tmp_path / "cdm"
    rows = ["a1,x,1.0,1,False,9/1/2025 1:02:03 PM"]
    sizes = {}
    for folder, pad in (("2025-09-01T00.00.00Z", 5), ("2025-09-01T01.00.00Z", 30)):
        _write_batch(root, folder, rows)
        text = json.dumps(_padded_model(pad))
        (root / folder / "model.json").write_text(text)
        sizes[folder] = len(text)
    small, big = sorted(sizes)
    assert 4_000 < sizes[small] < 5_000 and 24_000 < sizes[big] < 28_000

    src = SynapseCdmSource(spark=spark, container_path=str(root), entity="account")

    def round_trips(folder):
        return py4j_round_trips(lambda: src.read_batch(folder))

    assert src.read_batch(small) is not None  # warm-up
    assert src.read_batch(big) is not None
    assert round_trips(big) == round_trips(small)


def test_one_listing_per_poll(spark, cdm_container, tmp_path, monkeypatch):
    """The runner's T1 head probe and the changes() call of the same
    poll share one listing: each run_once lists the container and reads
    changelog.info once, whether it merges, probes then merges, or
    idles."""
    from arcane_framework_scala_spark.streaming.runner import StreamRunner
    from arcane_framework_scala_spark.streaming.watermark import (
        FileWatermarkStore,
    )

    calls = {"list": 0, "changelog": 0}
    for name, key in (("list_batch_folders", "list"), ("in_progress_folder", "changelog")):
        real = getattr(SynapseCdmSource, name)

        def counted(self, _real=real, _key=key):
            calls[_key] += 1
            return _real(self)

        monkeypatch.setattr(SynapseCdmSource, name, counted)
    src = SynapseCdmSource(spark=spark, container_path=cdm_container, entity="account")
    runner = StreamRunner(
        source=src,
        sink=MergeSink(
            target=SnapshotParquetTarget(spark, str(tmp_path / "target")),
            dialect=SYNAPSE_LINK,
        ),
        watermark_store=FileWatermarkStore(str(tmp_path / "wm.json")),
    )
    per_poll = []

    def poll():
        before = dict(calls)
        applied = runner.run_once()
        per_poll.append(
            (applied, calls["list"] - before["list"], calls["changelog"] - before["changelog"])
        )

    poll()  # no watermark yet: changes() lists on its own
    # the in-progress folder completes: the probe sees a new head
    (tmp_path / "cdm" / "Changelog" / "changelog.info").write_text(
        "blobs/2025-09-01T03.00.00Z"
    )
    poll()
    poll()  # idle: the probe alone
    assert per_poll == [(2, 1, 1), (1, 1, 1), (0, 1, 1)]
    assert runner.store.read().version == "2025-09-01T02.00.00Z"
