"""The producers land the same inputs for the same seed."""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import producers as P  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    """Relative path -> content hash of every file under ``root``;
    blob files add their creation second, the version the source reads."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as f:
                h = hashlib.sha256(f.read()).hexdigest()
            out[os.path.relpath(path, root)] = (h, int(os.path.getmtime(path)) if n.endswith(".parquet") else 0)
    return out


def _cdm(root, seed):
    p = P.CdmProducer(root, seed, initial_keys=50, changes_per_folder=20,
                      delete_share=0.2, drift_folder=2)
    heads = [p.land().head for _ in range(4)]
    return heads, p.ledger.latest


def test_cdm_producer_is_deterministic(tmp_path):
    a = _cdm(str(tmp_path / "a"), 7)
    b = _cdm(str(tmp_path / "b"), 7)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    c = _cdm(str(tmp_path / "c"), 8)
    assert c[1] != a[1]


def _blob(root, seed):
    p = P.BlobProducer(root, seed, partitions=4, key_space=200, files_per_drop=2,
                       rows_per_file=10, insert_share=0.2)
    heads = [p.land_bulk_file().head for _ in range(2)] + [p.land_drop().head for _ in range(3)]
    return heads, p.ledger.latest


def test_blob_producer_is_deterministic(tmp_path):
    a = _blob(str(tmp_path / "a"), 3)
    b = _blob(str(tmp_path / "b"), 3)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _blob(str(tmp_path / "c"), 4)[1] != a[1]


def test_blob_drops_have_their_own_second_and_cluster_in_partitions(tmp_path):
    p = P.BlobProducer(str(tmp_path), 1, partitions=8, key_space=400, files_per_drop=3,
                       rows_per_file=10, insert_share=0.1)
    heads = []
    for _ in range(4):
        heads.append(p.land_drop().head)
        rows = [v for version, v in p.ledger.latest.values() if version == int(heads[-1])]
        assert len(rows) == 30  # keys are unique within a drop
        assert 1 <= len({r["part"] for r in rows}) <= 2
    assert len(set(heads)) == 4


def test_delta_plan_is_deterministic():
    def plan(seed):
        pl = P.DeltaPlan(seed, initial_keys=100, deletes=5, updates=10)
        return pl.initial_rows(), [pl.next_round() for _ in range(3)]

    assert plan(11) == plan(11)
    assert plan(11) != plan(12)


def test_delta_plan_never_touches_a_key_twice_in_a_round():
    pl = P.DeltaPlan(5, initial_keys=60, deletes=5, updates=10)
    pl.initial_rows()
    for _ in range(10):
        before = set(pl.live)
        deletes, updates, appends = pl.next_round()
        assert not set(deletes) & set(updates)
        assert set(deletes) | set(updates) <= before
        assert not {r["id"] for r in appends} & before
