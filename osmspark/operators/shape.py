"""A13-A16 — element shaping (data.py:~L28-L66 shape_element [C]) + sinks.

Reproduces the reference's shaped-document semantics as a single declarative
projection (no UDFs):

  * CREATED = [version, changeset, timestamp, user, uid] -> nested struct
    (data.py:~L20 [C])
  * pos = [lat, lon] float pair (data.py:~L44 [C]); flat lat/lon kept for
    spatial math (SURVEY §1.3)
  * addr:* single-level keys -> `address` map with prefix stripped
    (data.py:~L50 [C]); two-level keys (addr:street:name) dropped
  * keys containing problemchars dropped (tags.py problemchars regex [C])
  * all other tags flattened into `tags` map
  * ways keep the ordered node_refs list (data.py:~L58 [C], SURVEY A15)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import RE_PROBLEMCHARS

_CREATED = ["version", "changeset", "timestamp", "user", "uid"]


def _clean_tags(tags_col):
    """Drop problemchars keys (data.py/tags.py [C])."""
    return F.map_filter(tags_col, lambda k, v: ~k.rlike(RE_PROBLEMCHARS))


def _address(tags_col):
    """addr:<one-level> keys, prefix stripped (k[5:]); two-level dropped."""
    addr = F.map_filter(
        tags_col,
        lambda k, v: k.startswith("addr:")
        & ~F.substring(k, 6, 10_000).contains(":"),
    )
    entries = F.transform(
        F.map_entries(addr),
        lambda e: F.struct(
            F.substring(e["key"], 6, 10_000).alias("key"), e["value"].alias("value")
        ),
    )
    return F.map_from_entries(entries)


def _other_tags(tags_col):
    """Everything that is neither addr:* nor problem-keyed, flattened."""
    return F.map_filter(
        _clean_tags(tags_col), lambda k, v: ~k.startswith("addr:")
    )


def shape_nodes(parsed_nodes: DataFrame) -> DataFrame:
    """parsed node rows -> shaped documents (A13/A14).

    Output: id, type, created struct, pos array<double>, lat, lon,
    address map, tags map.
    """
    return parsed_nodes.select(
        "id",
        F.lit("node").alias("type"),
        F.struct(*_CREATED).alias("created"),
        F.array(F.col("lat"), F.col("lon")).alias("pos"),
        "lat",
        "lon",
        _address(_clean_tags(F.col("tags"))).alias("address"),
        _other_tags(F.col("tags")).alias("tags"),
    )


def shape_ways(parsed_ways: DataFrame) -> DataFrame:
    """parsed way rows -> shaped docs incl. ordered node_refs (A15)."""
    return parsed_ways.select(
        "id",
        F.lit("way").alias("type"),
        F.struct(*_CREATED).alias("created"),
        _address(_clean_tags(F.col("tags"))).alias("address"),
        _other_tags(F.col("tags")).alias("tags"),
        F.col("nd").alias("node_refs"),
    )


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """A16 — JSON-lines sink (data.py:~L68 process_map writes json.dumps+\\n
    [C]). One JSON object per line, distributed writers."""
    df.write.mode(mode).json(path)
