"""Behavioral tests for the core DataFrame operators: merge-key hashes,
W1/W2 dedup windows, field filtering and the three MERGE dialects."""

import hashlib
import base64

import pyspark.sql.functions as F
import pytest

from arcane_framework_scala_spark.functions.merge_key import (
    blob_merge_key,
    mssql_merge_key,
    synapse_merge_key,
)
from arcane_framework_scala_spark.operators.dedup_window import (
    backfill_commit_dedup,
    latest_version_per_key,
)
from arcane_framework_scala_spark.operators.field_filter import (
    FieldSelectionRule,
    apply_field_selection,
)
from arcane_framework_scala_spark.operators.merge_apply import merge_apply
from arcane_framework_scala_spark.queries.merge import (
    SQL_SERVER_CHANGE_TRACKING,
    SYNAPSE_LINK,
    UPSERT_BLOB,
)


def test_mssql_merge_key_parity(spark):
    # lower-hex SHA-256 over '#'-joined keys AS NVARCHAR — SQL Server's
    # HashBytes hashes UTF-16LE bytes (get_select_delta_query.sql:4,
    # QueryProvider.scala:217 casts every operand to nvarchar(128))
    df = spark.createDataFrame([(12, 34)], "a int, b int")
    got = df.select(mssql_merge_key("a", "b").alias("k")).first()["k"]
    assert got == hashlib.sha256("12#34".encode("utf-16-le")).hexdigest()


def test_mssql_merge_key_duckdb_oracle_matches_spark(spark):
    import duckdb

    from arcane_framework_scala_spark.functions.merge_key import (
        mssql_merge_key_sql,
    )

    df = spark.createDataFrame([(4711, "x9")], "a int, b string")
    got = df.select(mssql_merge_key("a", "b").alias("k")).first()["k"]
    oracle = duckdb.sql(
        f"SELECT {mssql_merge_key_sql('a', 'b')} AS k "
        "FROM (SELECT 4711 AS a, 'x9' AS b)"
    ).fetchone()[0]
    assert got == oracle == hashlib.sha256(
        "4711#x9".encode("utf-16-le")
    ).hexdigest()


def test_blob_merge_key_parity(spark):
    # Base64(SHA-256(lowercase(concat(keys)))) (BlobBatchCommons.scala:21-36)
    df = spark.createDataFrame([("AbC", 7)], "a string, b int")
    got = df.select(blob_merge_key("a", "b").alias("k")).first()["k"]
    expected = base64.b64encode(hashlib.sha256(b"abc7").digest()).decode()
    assert got == expected


def test_synapse_merge_key_is_raw_id(spark):
    df = spark.createDataFrame([("guid-1",)], "Id string")
    assert df.select(synapse_merge_key().alias("k")).first()["k"] == "guid-1"


def _staged(spark):
    # key k1: versions 1..3 incl. a tie at v3 (delete marker + data row)
    rows = [
        ("k1", 1, "old", False),
        ("k1", 3, "newest", False),
        ("k1", 3, "tombstone", True),
        ("k2", 2, "only", False),
    ]
    return spark.createDataFrame(
        rows, "ARCANE_MERGE_KEY string, versionnumber long, payload string, IsDelete boolean"
    )


def test_with_ties_keeps_delete_markers(spark):
    out = latest_version_per_key(_staged(spark), "versionnumber").collect()
    got = {(r.ARCANE_MERGE_KEY, r.payload) for r in out}
    # rank()==1 keeps BOTH rows tied at v3 — row_number would drop the marker
    assert got == {("k1", "newest"), ("k1", "tombstone"), ("k2", "only")}


def test_backfill_commit_dedup_drops_tombstones(spark):
    out = backfill_commit_dedup(
        _staged(spark), "versionnumber", drop_synapse_deletes=True
    ).collect()
    assert {(r.ARCANE_MERGE_KEY, r.payload) for r in out} == {
        ("k1", "newest"),
        ("k2", "only"),
    }


def test_field_selection_include_exclude(spark):
    df = spark.createDataFrame(
        [("k", 1, "a", "b")], "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, x string, y string"
    )
    inc = apply_field_selection(df, FieldSelectionRule("include", frozenset({"x"})))
    # essential fields always survive (FieldsFilteringService essential validation)
    assert set(inc.columns) == {"ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "x"}
    exc = apply_field_selection(
        df, FieldSelectionRule("exclude", frozenset({"y", "arcane_merge_key"}))
    )
    assert set(exc.columns) == {"ARCANE_MERGE_KEY", "SYS_CHANGE_VERSION", "x"}
    with pytest.raises(ValueError):
        FieldSelectionRule("bogus")


def _target(spark):
    rows = [("k1", 1, "t1"), ("k2", 5, "t2"), ("k3", 1, "t3")]
    return spark.createDataFrame(
        rows, "ARCANE_MERGE_KEY string, versionnumber long, payload string"
    )


def test_merge_apply_synapse_dialect(spark):
    target = _target(spark)
    changes = spark.createDataFrame(
        [
            ("k1", 7, "updated", False),   # newer → update
            ("k2", 2, "stale", False),     # older than target v5 → ignored (T9)
            ("k3", 9, None, True),         # delete marker → row removed
            ("k4", 1, "inserted", False),  # new key → insert
            ("k5", 1, None, True),         # delete for absent key → no-op
        ],
        "ARCANE_MERGE_KEY string, versionnumber long, payload string, IsDelete boolean",
    )
    out = merge_apply(target, changes, SYNAPSE_LINK)
    got = {(r.ARCANE_MERGE_KEY, r.versionnumber, r.payload) for r in out.collect()}
    assert got == {("k1", 7, "updated"), ("k2", 5, "t2"), ("k4", 1, "inserted")}
    assert out.columns == target.columns


def test_merge_apply_delete_wins_on_tie(spark):
    target = _target(spark)
    changes = spark.createDataFrame(
        [("k1", 9, "phoenix", False), ("k1", 9, None, True)],
        "ARCANE_MERGE_KEY string, versionnumber long, payload string, IsDelete boolean",
    )
    out = merge_apply(target, changes, SYNAPSE_LINK)
    keys = {r.ARCANE_MERGE_KEY for r in out.collect()}
    assert "k1" not in keys  # tombstone carried by WITH TIES applied last
    assert keys == {"k2", "k3"}


def test_merge_apply_mssql_dialect(spark):
    target = spark.createDataFrame(
        [("k1", 1, "a"), ("k2", 1, "b")],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, v string",
    )
    changes = spark.createDataFrame(
        [
            ("k1", 2, "a2", "U"),
            ("k2", 2, None, "D"),
            ("k3", 2, "c", "I"),
        ],
        "ARCANE_MERGE_KEY string, SYS_CHANGE_VERSION long, v string, SYS_CHANGE_OPERATION string",
    )
    out = merge_apply(target, changes, SQL_SERVER_CHANGE_TRACKING)
    got = {(r.ARCANE_MERGE_KEY, r.v) for r in out.collect()}
    assert got == {("k1", "a2"), ("k3", "c")}
    # replay the same batch → idempotent (version guard)
    out2 = merge_apply(out, changes, SQL_SERVER_CHANGE_TRACKING)
    assert {(r.ARCANE_MERGE_KEY, r.v) for r in out2.collect()} == got


def test_merge_apply_upsert_blob(spark):
    target = spark.createDataFrame(
        [("k1", 100, "old")], "ARCANE_MERGE_KEY string, createdon long, v string"
    )
    changes = spark.createDataFrame(
        [("k1", 200, "new"), ("k2", 50, "fresh")],
        "ARCANE_MERGE_KEY string, createdon long, v string",
    )
    out = merge_apply(target, changes, UPSERT_BLOB)
    got = {(r.ARCANE_MERGE_KEY, r.v) for r in out.collect()}
    assert got == {("k1", "new"), ("k2", "fresh")}



def test_merge_apply_matches_columns_without_regard_to_case(spark):
    """A batch column ``REGION`` is the target's ``region`` (Spark
    resolves names case-insensitively, and so does the MERGE SQL): its
    values land in that column instead of being replaced by NULL."""
    target = spark.createDataFrame(
        [("k1", 1, "eu"), ("k2", 1, "us")],
        "ARCANE_MERGE_KEY string, createdon long, region string",
    )
    changes = spark.createDataFrame(
        [("k1", 2, "apac"), ("k3", 2, "emea")],
        "ARCANE_MERGE_KEY string, createdon long, REGION string",
    )
    out = merge_apply(target, changes, UPSERT_BLOB)
    assert out.columns == ["ARCANE_MERGE_KEY", "createdon", "region"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("k1", 2, "apac"), ("k2", 1, "us"), ("k3", 2, "emea"),
    ]

def test_merge_apply_quotes_every_column_name(spark):
    """The plan is SQL text over backtick-quoted names: columns holding
    a backtick, a dot, a space or a SQL keyword merge like any other."""
    schema = (
        "ARCANE_MERGE_KEY string, createdon long, `we``ird` string, "
        "`a.b` long, `two words` string, `select` string"
    )
    target = spark.createDataFrame(
        [("k1", 1, "t1", 1, "x", "s1"), ("k2", 1, "t2", 2, "y", "s2")], schema
    )
    changes = spark.createDataFrame(
        [("k1", 2, "c1", 10, "z", "s9"), ("k3", 2, "c3", 30, None, "s3")], schema
    )
    out = merge_apply(target, changes, UPSERT_BLOB)
    assert out.columns == target.columns
    assert sorted(tuple(r) for r in out.collect()) == [
        ("k1", 2, "c1", 10, "z", "s9"),
        ("k2", 1, "t2", 2, "y", "s2"),
        ("k3", 2, "c3", 30, None, "s3"),
    ]


def test_merge_apply_plan_round_trips_do_not_grow_with_columns(spark, py4j_round_trips):
    """Building the merge plan costs at most 2 py4j round trips per added
    column (5 vs 80 columns): the plan is a few DataFrame calls over SQL
    text, not a tree of Column calls (about 70 round trips per column).
    The fewest of three builds is taken, so an unrelated proxy release
    counted in one build does not decide the test."""

    def frame(n):
        cols = ", ".join(f"c{i} long" for i in range(n))
        return spark.createDataFrame([], f"ARCANE_MERGE_KEY string, createdon long, {cols}")

    def round_trips(n):
        target, source = frame(n), frame(n)
        target.columns, source.columns  # schemas fetched before counting
        merge_apply(target, source, UPSERT_BLOB)  # warm-up
        return min(
            py4j_round_trips(lambda: merge_apply(target, source, UPSERT_BLOB))
            for _ in range(3)
        )

    narrow, wide = round_trips(5), round_trips(80)
    assert wide - narrow <= 2 * 75, (narrow, wide)


def test_in_band_watermark_rows_roundtrip(spark):
    from arcane_framework_scala_spark.operators.watermark_rows import (
        attach_watermark_row,
        split_watermark_rows,
    )
    from arcane_framework_scala_spark.streaming.watermark import Watermark

    df = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v long")
    wm = Watermark.now(version="77", prefix="p/")
    banded = attach_watermark_row(df, wm)
    assert banded.count() == 3

    data, wms = split_watermark_rows(banded)
    assert data.count() == 2
    assert "__watermark" not in data.columns
    assert len(wms) == 1 and wms[0].version == "77" and wms[0].prefix == "p/"

    # a frame without the marker column passes through untouched
    same, none = split_watermark_rows(df)
    assert none == [] and same is df


def test_dedup_clusters_connected_components(spark):
    from arcane_framework_scala_spark.functions.dedup import dedup_clusters

    # chain 1-2-3-4 (diameter forces >1 propagation round), clique {10,11,12},
    # pair {20,21} — three components, labeled by their minimum id
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_clusters_star_matches_label_propagation(spark):
    """Large-star/small-star must produce the identical labeling as plain
    label propagation on every graph shape — including a 40-node chain,
    where propagation needs ~diameter rounds but star contraction must
    converge in O(log n)."""
    import random

    from arcane_framework_scala_spark.functions.dedup import (
        dedup_clusters,
        dedup_clusters_star,
    )

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(100, 140)]  # diameter-40 path
    clique = [(200 + a, 200 + b) for a in range(5) for b in range(a + 1, 5)]
    rand = [
        (rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(30)
    ]
    pairs = spark.createDataFrame(
        chain + clique + [(a, b) for a, b in rand if a != b],
        "id_a long, id_b long",
    )
    want = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs, max_iterations=60).collect()
    }
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_star(pairs).collect()
    }
    assert got == want
    # chain labels all collapse to the min of the path
    assert all(got[i] == 100 for i in range(100, 141))


def test_dedup_clusters_star_round_count_logarithmic(spark):
    """On the pathological chain the star variant must converge well under
    the diameter bound — the reason it exists."""
    from arcane_framework_scala_spark.functions.dedup import dedup_clusters_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    # max_iterations=10 << diameter 64: only a logarithmic-round algorithm
    # can fully collapse the path within this budget
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters_star(pairs, max_iterations=10).collect()
    }
    assert got == {i: 0 for i in range(65)}


def test_dedup_canonical_keeps_min_id_and_singletons(spark):
    from arcane_framework_scala_spark.functions.dedup import dedup_canonical

    docs = spark.createDataFrame(
        [(i, f"text-{i}") for i in (1, 2, 3, 4, 10, 11, 12, 20, 21, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    kept = sorted(
        r["doc_id"] for r in dedup_canonical(docs, pairs).collect()
    )
    # one min-id survivor per component; 99 (no pair) untouched
    assert kept == [1, 10, 20, 99]


def test_multiple_watermark_rows_compose_and_sort_numerically(spark):
    from arcane_framework_scala_spark.operators.watermark_rows import (
        attach_watermark_row,
        split_watermark_rows,
    )
    from arcane_framework_scala_spark.streaming.watermark import Watermark

    df = spark.createDataFrame([("k1", 1)], "k string, v long")
    # attaching a second marker must not wipe the first (regression: the
    # marker column used to be re-initialized to NULL on every attach),
    # and split must order '10' after '9' despite lexicographic order
    banded = attach_watermark_row(df, Watermark(version="9", timestamp=""))
    banded = attach_watermark_row(banded, Watermark(version="10", timestamp=""))
    data, wms = split_watermark_rows(banded)
    assert data.count() == 1
    assert [w.version for w in wms] == ["9", "10"]


def test_recall_at_k_counts_overlap_per_query(spark):
    from arcane_framework_scala_spark.functions.similarity import recall_at_k

    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 99)],
        "query_id long, vec_id long",
    )
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22), (3, 30)],
        "query_id long, vec_id long",
    )
    got = {r["query_id"]: r for r in recall_at_k(approx, exact, k=3).collect()}
    assert got[1]["hits"] == 3 and got[1]["recall_ppm"] == 1_000_000
    assert got[2]["hits"] == 2 and got[2]["recall_ppm"] == 666_666
    # query 3 exists only in the exact side → recall 0, never dropped
    assert got[3]["hits"] == 0 and got[3]["recall_ppm"] == 0


def test_scd2_history_intervals(spark):
    from arcane_framework_scala_spark.operators.dedup_window import scd2_history

    df = spark.createDataFrame(
        [("k1", 1, "a"), ("k1", 5, "b"), ("k1", 9, "c"), ("k2", 3, "x")],
        "ARCANE_MERGE_KEY string, v long, payload string",
    )
    rows = {
        (r["ARCANE_MERGE_KEY"], r["v"]): r
        for r in scd2_history(df, "v").collect()
    }
    assert rows[("k1", 1)]["valid_to"] == 5 and not rows[("k1", 1)]["is_current"]
    assert rows[("k1", 5)]["valid_to"] == 9
    assert rows[("k1", 9)]["valid_to"] is None and rows[("k1", 9)]["is_current"]
    assert rows[("k2", 3)]["is_current"]
    # intervals partition the version line per key: from(next) == to(prev)
    assert rows[("k1", 5)]["valid_from"] == rows[("k1", 1)]["valid_to"]
