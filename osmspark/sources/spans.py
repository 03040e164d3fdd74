"""B1 — span extraction from interleaved text+media documents.

The engine's source is the `documents` table (BASELINE.json:input_hint [D]):
    documents(doc_id string,
              spans array<struct<kind,text,media_ref,offset>>)

This module is the Spark analogue of the reference's streaming XML scan +
element shaping entry (ET.iterparse in mapparser.py:~L8 / audit.py:~L35 /
data.py:~L72 [C], SURVEY A1): `posexplode(spans)` yields one row per element
*with its original position*, which carries the per-document span-order
invariant (SURVEY A15 / input_hint "span-sequence equality").

Scale notes:
  * `filter(exists(spans, ...))` BEFORE exploding is the manual pushdown
    Catalyst cannot do through a Generate node (SURVEY §4.2) — at 100 TB it
    skips whole documents (and with parquet stats, whole row groups) that
    contain no node/way spans.
  * Parsing is `from_json` — JVM-side, whole-stage-codegen'd; no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# JSON payload schema for node spans (FIXTURES.md §1 grammar)
NODE_JSON_SCHEMA = (
    "id string, lat double, lon double, version string, changeset string, "
    "timestamp string, user string, uid string, tags map<string,string>"
)
# way spans add the ordered node-ref list (reference node_refs, data.py:~L58 [C])
WAY_JSON_SCHEMA = NODE_JSON_SCHEMA + ", nd array<string>"
# relations add ordered typed members; also a parse-anything superset schema
RELATION_JSON_SCHEMA = (
    NODE_JSON_SCHEMA
    + ", members array<struct<type:string,ref:string,role:string>>"
)
ANY_JSON_SCHEMA = WAY_JSON_SCHEMA + (
    ", members array<struct<type:string,ref:string,role:string>>"
    ", n_tags int"  # raw <tag> child count (osm_xml keeps it because the
    # tags MAP collapses duplicate k attributes; null for synthetic spans)
)


def explode_spans(docs: DataFrame, kinds: list[str] | None = None) -> DataFrame:
    """documents -> one row per span: (doc_id, pos, kind, text, media_ref, offset).

    `pos` is the array position from posexplode — the span-order invariant
    surface. When `kinds` is given, documents containing none of those kinds
    are dropped BEFORE the explode (manual pushdown, see module docstring).
    """
    if kinds:
        kinds_arr = F.array(*[F.lit(k) for k in kinds])
        docs = docs.filter(
            F.exists("spans", lambda s: F.array_contains(kinds_arr, s["kind"]))
        )
    out = docs.select("doc_id", F.posexplode("spans").alias("pos", "span")).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    if kinds:
        out = out.filter(F.col("kind").isin(kinds))
    return out


def _parse(docs_or_spans: DataFrame, kind: str, schema: str) -> DataFrame:
    if "spans" in docs_or_spans.columns:
        spans = explode_spans(docs_or_spans, kinds=[kind])
    else:
        spans = docs_or_spans.filter(F.col("kind") == kind)
    # inline(array(from_json)) instead of `alias(el) -> select el.*`
    # (round 6, guide §4.4's duplication in JVM form): the aliased-struct
    # shape let Catalyst push the id-notnull filter below the projection,
    # re-evaluating from_json per row with a second (id-pruned) parse —
    # every span's JSON was tokenized twice.  A Generate is a pushdown
    # barrier, so the single full parse feeds both the filter and the
    # output columns (measured 1.4x on the 200k-doc extract).  Row
    # semantics identical: the array always has exactly one element, a
    # null/unparseable payload yields a null-field row that the same id
    # filter drops.
    out = spans.select(
        "doc_id", "pos", "offset",
        F.inline(F.array(F.from_json("text", schema))),
    )
    return out.filter(F.col("id").isNotNull())  # drop unparseable payloads


def parse_nodes(docs_or_spans: DataFrame) -> DataFrame:
    """node spans -> flat element rows (SURVEY A1+A3+A13 input shape).

    Columns: doc_id, pos, offset, id, lat, lon, version, changeset,
    timestamp(string), user, uid, tags(map).
    """
    return _parse(docs_or_spans, "node", NODE_JSON_SCHEMA)


def parse_ways(docs_or_spans: DataFrame) -> DataFrame:
    """way spans -> flat rows incl. ordered `nd` node-ref array (SURVEY A15)."""
    return _parse(docs_or_spans, "way", WAY_JSON_SCHEMA)


def parse_relations(docs_or_spans: DataFrame) -> DataFrame:
    """relation spans -> flat rows incl. ordered typed `members` array."""
    return _parse(docs_or_spans, "relation", RELATION_JSON_SCHEMA)


def count_xml_tags(docs: DataFrame) -> DataFrame:
    """A4 FULL parity with the reference's count_tags (mapparser.py:~L6 [C]):
    counts every XML tag NAME the original .osm carried — element kinds
    (node/way/relation) plus their nested children (tag/nd/member).  The
    'tag' count prefers the parse-time n_tags field (exact even when one
    element repeats a k attribute, which the tags MAP collapses — round-2
    ADVICE) and falls back to the map size for spans without it.  The
    <osm>/<bounds> wrapper elements are not represented post-extraction
    (documented deviation).

    Shape: one explode + one shuffle of (name, partial count) pairs."""
    spans = explode_spans(docs, kinds=["node", "way", "relation"])
    parsed = spans.select(
        "kind", F.from_json("text", ANY_JSON_SCHEMA).alias("el")
    )

    def _n(col):  # size() of a NULL array/map is NULL (or -1 pre-ANSI)
        return F.greatest(F.coalesce(F.size(col), F.lit(0)), F.lit(0))

    pairs = parsed.select(
        F.explode(
            F.array(
                F.struct(F.col("kind").alias("name"), F.lit(1).alias("cnt")),
                F.struct(F.lit("tag").alias("name"),
                         F.coalesce(F.col("el.n_tags"),
                                    _n(F.map_keys("el.tags"))).alias("cnt")),
                F.struct(F.lit("nd").alias("name"),
                         _n(F.col("el.nd")).alias("cnt")),
                F.struct(F.lit("member").alias("name"),
                         _n(F.col("el.members")).alias("cnt")),
            )
        ).alias("p")
    )
    return (
        pairs.select("p.name", "p.cnt")
        .groupBy("name").agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )


def span_sequence_violations(docs: DataFrame) -> DataFrame:
    """Invariant check (input_hint [D]): explode -> reassemble in `pos` order
    -> compare (kind,text,media_ref,offset) sequence to the stored array.
    Returns the violating doc_ids (empty DataFrame == invariant holds).

    This is the distributed analogue of the reference preserving XML child
    order in node_refs (data.py:~L58 [C]).
    """
    exploded = docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    reassembled = (
        exploded.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda x: x["span"],
            ).alias("rebuilt")
        )
    )
    joined = docs.join(reassembled, "doc_id", "left")
    return joined.filter(
        ~(F.col("rebuilt").isNotNull() & (F.col("rebuilt") == F.col("spans")))
    ).select("doc_id")
