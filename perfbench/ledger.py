"""The producer's ledger of logical changes and the final-state check.

Every change a producer lands in a source is also recorded here: key,
version, the full row image and whether it is a delete. At the end of a
run the expected table is rebuilt from the ledger in plain Python and
compared row for row with a pyarrow read of the target's current
snapshot. No Spark runs in the check, so it shares no code path with the
program it checks.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import pyarrow.dataset as ds


@dataclass
class Ledger:
    #: key -> (version, values or None for a delete), latest version only
    latest: dict = field(default_factory=dict)

    def record(self, key: str, version: int, values: dict | None) -> None:
        """One logical change; ``values`` is None for a delete."""
        prior = self.latest.get(key)
        if prior is not None and prior[0] >= version:
            raise ValueError(
                f"ledger: key {key!r} changed at version {version}, "
                f"not above its previous version {prior[0]}"
            )
        self.latest[key] = (version, values)


def expected_table(
    ledger: Ledger, columns: list[str], dropped: frozenset[str] = frozenset()
) -> dict[str, dict]:
    """key -> expected row: the latest version per key, deletes removed,
    ``dropped`` fields absent, and any column a row was last written
    without (a field added later by schema drift) null."""
    cols = [c for c in columns if c not in dropped]
    return {
        key: {c: values.get(c) for c in cols}
        for key, (_, values) in ledger.latest.items()
        if values is not None
    }


def current_snapshot_dir(target_path: str) -> str:
    """``<target>/v=N`` named by the ``_CURRENT`` pointer."""
    with open(os.path.join(target_path, "_CURRENT")) as f:
        return os.path.join(target_path, f"v={int(f.read().strip())}")


def snapshot_files(target_path: str) -> list[str]:
    """Data files of the current snapshot (what a reader of it opens)."""
    out = []
    for root, _, names in os.walk(current_snapshot_dir(target_path)):
        out.extend(
            os.path.join(root, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
    return sorted(out)


def _normal(value):
    """Timestamps compare as naive UTC; everything else as read."""
    if isinstance(value, dt.datetime) and value.tzinfo is not None:
        return value.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return value


def read_snapshot(target_path: str, key_column: str, hive: bool) -> tuple[list[str], list[dict]]:
    """(columns, rows) of the target's current snapshot, read by pyarrow."""
    table = ds.dataset(
        snapshot_files(target_path),
        format="parquet",
        partitioning="hive" if hive else None,
        partition_base_dir=current_snapshot_dir(target_path) if hive else None,
    ).to_table()
    if key_column not in table.column_names:
        raise ValueError(f"snapshot has no {key_column} column")
    rows = [{k: _normal(v) for k, v in r.items()} for r in table.to_pylist()]
    return table.column_names, rows


def compare(
    expected: dict[str, dict],
    columns: list[str],
    rows: list[dict],
    key_column: str,
    limit: int = 5,
) -> list[str]:
    """Differences between the expected table and the snapshot's rows;
    an empty list means they agree row for row."""
    problems: list[str] = []
    want_cols = set(next(iter(expected.values()), {}).keys()) or None
    if want_cols is not None and set(columns) != want_cols:
        problems.append(
            f"columns differ: extra {sorted(set(columns) - want_cols)}, "
            f"missing {sorted(want_cols - set(columns))}"
        )
        return problems
    seen: set = set()
    for row in rows:
        key = row[key_column]
        if key in seen:
            problems.append(f"key {key!r} appears more than once")
        seen.add(key)
        want = expected.get(key)
        if want is None:
            problems.append(f"key {key!r} present but expected absent")
        elif row != want:
            diff = {c: (row.get(c), want.get(c)) for c in want if row.get(c) != want.get(c)}
            problems.append(f"key {key!r} differs (got, want): {diff}")
        if len(problems) >= limit:
            return problems
    for key in expected:
        if key not in seen:
            problems.append(f"key {key!r} expected but missing")
            if len(problems) >= limit:
                break
    return problems


def check_target(
    ledger: Ledger,
    target_path: str,
    columns: list[str],
    key_column: str,
    hive: bool = False,
    dropped: frozenset[str] = frozenset(),
) -> list[str]:
    """Final-state check of one target against its ledger."""
    expected = expected_table(ledger, columns, dropped)
    got_cols, rows = read_snapshot(target_path, key_column, hive)
    return compare(expected, got_cols, rows, key_column)
