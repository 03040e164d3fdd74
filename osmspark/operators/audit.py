"""Tier-A audit operators (SURVEY.md §2.1) as distributed DataFrame ops.

Each function reproduces one reference behavior, cited by the canonical
module/function it re-expresses ([C]-tier, SURVEY §0). All are pure native
`pyspark.sql.functions` pipelines — zero UDFs — so every one of them stays
inside whole-stage codegen and benefits from pushdown/pruning at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import (
    EXPECTED_STREET_TYPES,
    MALAY_PREFIX_TYPES,
    RE_LOWER,
    RE_LOWER_COLON,
    RE_POSTCODE_MY,
    RE_POSTCODE_SG,
    RE_PROBLEMCHARS,
    RE_STREET_TYPE_LAST,
    STREET_TYPE_MAPPING,
)


# --------------------------------------------------------------------------
# A4 — tag-name frequency (mapparser.py:~L6 count_tags [C])
# --------------------------------------------------------------------------
def tag_name_frequency(spans: DataFrame) -> DataFrame:
    """Count spans per kind — the engine analogue of count_tags' dict of XML
    tag-name counts. partial+final HashAggregate; shuffle only |kinds| groups."""
    return spans.groupBy(F.col("kind").alias("kind")).agg(F.count("*").alias("cnt"))


# --------------------------------------------------------------------------
# A5 — regex key classification (tags.py:~L8 key_type/process_map [C])
# --------------------------------------------------------------------------
def key_class(col: Column | str) -> Column:
    """lower | lower_colon | problemchars | other — tags.py regex order [C]:
    lower first, then lower_colon, then problemchars, else other."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.rlike(RE_LOWER), F.lit("lower"))
        .when(c.rlike(RE_LOWER_COLON), F.lit("lower_colon"))
        .when(c.rlike(RE_PROBLEMCHARS), F.lit("problemchars"))
        .otherwise(F.lit("other"))
    )


def key_class_counts(nodes: DataFrame) -> DataFrame:
    return (
        nodes.select(F.explode(F.map_keys("tags")).alias("k"))
        .select(key_class("k").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


# --------------------------------------------------------------------------
# A6 — distinct contributors (users.py:~L8 process_map -> set [C])
# --------------------------------------------------------------------------
def distinct_users(elements: DataFrame, approx: bool = False) -> DataFrame:
    """Exact count-distinct of uid; approx=True switches to HLL
    (approx_count_distinct) — the 10^12-row variant (SURVEY A6)."""
    agg = (
        F.approx_count_distinct("uid") if approx else F.countDistinct("uid")
    ).alias("n_users")
    return elements.agg(agg)


# --------------------------------------------------------------------------
# A7/A8 — street extraction (audit.py:~L30 is_street_name, ~L15-28
#          audit_street_type + street_type_re [C]; Malay prefix [R])
# --------------------------------------------------------------------------
def streets(nodes: DataFrame) -> DataFrame:
    """Elements carrying addr:street (A7: k == 'addr:street')."""
    return nodes.select(
        "doc_id", "id", "lat", "lon",
        F.col("tags")["addr:street"].alias("street"),
    ).filter(F.col("street").isNotNull())


def street_type(col: Column | str) -> Column:
    """A8: type token = FIRST word when it is a Malay prefix type (or its
    abbreviation), else LAST word (street_type_re \\b\\S+\\.?$ [C])."""
    c = F.col(col) if isinstance(col, str) else col
    first = F.split(c, " ")[0]
    # prefix candidates: canonical Malay types + abbreviations mapping to them
    prefix_forms = sorted(
        set(MALAY_PREFIX_TYPES)
        | {abbr for abbr, full in STREET_TYPE_MAPPING.items()
           if full in MALAY_PREFIX_TYPES}
    )
    last = F.regexp_extract(c, RE_STREET_TYPE_LAST, 1)
    return F.when(first.isin(prefix_forms), first).otherwise(last)


# --------------------------------------------------------------------------
# A9/A10 — unexpected street types + example sets
#          (audit.py:~L22 `not in expected`, ~L33-48 audit() [C])
# --------------------------------------------------------------------------
def unexpected_street_types(streets_df: DataFrame) -> DataFrame:
    """group unexpected types -> sorted example names + count (defaultdict(set)
    in the reference). isin on a literal whitelist == broadcast anti-semantics;
    Catalyst folds it into the scan filter."""
    return (
        streets_df.withColumn("stype", street_type("street"))
        .filter(~F.col("stype").isin(EXPECTED_STREET_TYPES))
        .groupBy("stype")
        .agg(
            F.array_sort(F.collect_set("street")).alias("examples"),
            F.count("*").alias("cnt"),
        )
    )


# --------------------------------------------------------------------------
# A11 — dictionary-rewrite normalization (audit.py:~L50 update_name [C];
#        north_star "street-type normalization counts" [D])
# --------------------------------------------------------------------------
def _mapping_expr() -> Column:
    """The reference's `mapping` dict as a literal create_map — constant-folded
    JVM-side."""
    pairs = []
    for k, v in STREET_TYPE_MAPPING.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def normalized_street_type(col: Column | str) -> Column:
    st = street_type(col)
    return F.coalesce(_mapping_expr()[st], st)


def normalize_streets(streets_df: DataFrame) -> DataFrame:
    """street -> (street, stype, normalized_type, normalized_street)."""
    df = streets_df.withColumn("stype", street_type("street")).withColumn(
        "normalized_type", normalized_street_type("street"))
    # re-substitute the type token in the full name (re.sub in update_name):
    # suffix position -> replace last token; prefix position -> first token.
    first = F.split(F.col("street"), " ")[0]
    is_prefix = F.col("stype") == first
    repl = F.col("normalized_type")
    normalized = F.when(
        is_prefix,
        F.concat(repl, F.regexp_replace(F.col("street"), r"^\S+", "")),
    ).otherwise(F.regexp_replace(F.col("street"), r"\S+\.?$", repl))
    return df.withColumn("normalized_street", normalized)


def normalized_street_counts(streets_df: DataFrame) -> DataFrame:
    """Flagship query (SURVEY §7.1 M1, BASELINE north_star [D]):
    street-type normalization counts."""
    return (
        normalize_streets(streets_df)
        .groupBy("normalized_type")
        .agg(F.count("*").alias("cnt"))
    )


# --------------------------------------------------------------------------
# A12 — postcode-validity partition (audit.py postcode audit [R];
#        north_star "postcode-validity partitioning" [D])
# --------------------------------------------------------------------------
def postcode_class(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.rlike(RE_POSTCODE_SG), F.lit("valid_sg"))
        .when(c.rlike(RE_POSTCODE_MY), F.lit("out_of_area"))
        .otherwise(F.lit("invalid"))
    )


def postcode_partition(nodes: DataFrame) -> DataFrame:
    return (
        nodes.select(F.col("tags")["addr:postcode"].alias("pc"))
        .filter(F.col("pc").isNotNull())
        .select(postcode_class("pc").alias("pc_class"))
        .groupBy("pc_class")
        .agg(F.count("*").alias("cnt"))
    )


def repair_postcode(col: Column | str) -> Column:
    """update_postcode analogue [R]: strip a leading letter + spaces; keep
    digits; 6-digit results are repaired, others pass through unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    digits = F.regexp_replace(c, r"[^0-9]", "")
    return F.when(digits.rlike(r"^[0-9]{6}$"), digits).otherwise(c)


# --------------------------------------------------------------------------
# A17-A20 — the MongoDB aggregation-pipeline query set [R] as DataFrame ops
# --------------------------------------------------------------------------
def element_counts(spans: DataFrame) -> DataFrame:
    """A17: total + per-type counts (find().count())."""
    return spans.groupBy("kind").agg(F.count("*").alias("cnt"))


def top_users(elements: DataFrame, k: int = 10) -> DataFrame:
    """A18: $group/$sort/$limit top contributors. orderBy+limit compiles to
    TakeOrderedAndProject (true top-k, no global sort). Ties: user asc."""
    return (
        elements.groupBy("user")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("user"))
        .limit(k)
    )


def single_post_users(elements: DataFrame) -> DataFrame:
    """A19: histogram-of-histogram — #users having exactly n posts."""
    return (
        elements.groupBy("user")
        .agg(F.count("*").alias("n_posts"))
        .groupBy("n_posts")
        .agg(F.count("*").alias("n_users"))
        .orderBy("n_posts")
    )


def composed_tag_counts(
    nodes: DataFrame, match_key: str, match_val: str, group_key: str
) -> DataFrame:
    """A20b: composed two-tag aggregation — the notebook's "cuisines of
    restaurants / religions of places of worship" query ($match on one tag,
    $group on a second [R]).  Both tag lookups are native map extractions,
    so the filter folds into the scan."""
    return (
        nodes.filter(F.col("tags")[match_key] == match_val)
        .select(F.col("tags")[group_key].alias(group_key))
        .filter(F.col(group_key).isNotNull())
        .groupBy(group_key)
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(group_key))
    )


def top_amenities(nodes: DataFrame, k: int = 10) -> DataFrame:
    """A20: $match exists(amenity) -> $group -> $sort -> $limit."""
    return (
        nodes.select(F.col("tags")["amenity"].alias("amenity"))
        .filter(F.col("amenity").isNotNull())
        .groupBy("amenity")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("amenity"))
        .limit(k)
    )
