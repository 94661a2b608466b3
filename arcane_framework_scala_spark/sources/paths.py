"""Filesystem-path hygiene for multi-path DataFrame reads.

``spark.read.parquet(*paths)`` runs every path through Hadoop's glob
expansion (``GlobPattern``: ``* ? [ ] { } \\`` are metacharacters), so a
literal table path containing any of them silently expands to EXTRA
files — in a pruned-merge rewrite that duplicates rows between the
rewrite group and the carried complement — or fails to resolve at all.
Percent-encoded URI strings from ``input_file_name()`` are not
filesystem paths either. Every multi-path read in this package rebuilds
literal local paths itself and passes them through :func:`glob_escape`.
"""

from __future__ import annotations

import re

_GLOB_META = re.compile(r"([*?\[\]{}\\])")


def glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a literal path so
    ``spark.read.<fmt>(path)`` opens exactly that file."""
    return _GLOB_META.sub(r"\\\1", path)


#: Above this many (guess, value) entries the physical-path map rides a
#: broadcast join instead of a literal ``create_map`` expression: a
#: codegen'd map lookup removes a BroadcastExchange (and its fixed
#: per-job cost) from every lineage scan, but a 10^5-file table would
#: bloat the expression tree, so big maps keep the join.
PATH_MAP_LITERAL_MAX = 4096


def _sql_str_literal(s: str) -> str:
    """Render ``s`` as a single-quoted Spark SQL string literal. The
    default parser (escapedStringLiterals=false) unescapes ``\\x``
    sequences, so backslash and quote must be escaped; ``\\n``/``\\r``/
    ``\\t`` are escaped too so the rendered expression stays one line."""
    return "'" + (
        s.replace("\\", "\\\\")
        .replace("'", "\\'")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    ) + "'"


def _sql_map_literal(map_rows) -> str:
    """``map('k1','v1',...)`` as ONE SQL string. Building the same map
    from per-entry ``F.lit`` calls costs two py4j round trips per entry
    (~1 ms each, measured r11) — at the 4096-entry cap that is ~8 s of
    driver time per lineage scan, worse than the BroadcastExchange the
    literal map exists to remove; one parsed expression is ~ms total.
    String values render as escaped literals, ints as bigint (``L``)."""
    parts = []
    for k, v in map_rows:
        parts.append(_sql_str_literal(k))
        if isinstance(v, str):
            parts.append(_sql_str_literal(v))
        elif isinstance(v, bool) or not isinstance(v, int):
            raise TypeError(f"string/int map values only, got {type(v)}")
        else:
            parts.append(f"{v}L")
    return "map(" + ",".join(parts) + ")"


def path_map_lookup(map_rows, key_col):
    """``try_element_at(<literal map>, key_col)`` for small maps, or
    ``None`` when ``map_rows`` is too large (caller falls back to the
    broadcast-join path). ``map_rows`` is ``[(key, value), ...]`` with
    string keys; values may be strings or ints."""
    if len(map_rows) > PATH_MAP_LITERAL_MAX:
        return None
    keys = [k for k, _ in map_rows]
    if len(set(keys)) != len(keys):
        # colliding guesses (two files spelling the same candidate URI):
        # create_map would reject the duplicate key — keep the join path,
        # whose per-row assert reports the unmapped file loudly
        return None
    from pyspark.sql import functions as F

    return F.try_element_at(F.expr(_sql_map_literal(map_rows)), key_col)
