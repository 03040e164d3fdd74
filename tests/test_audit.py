"""Tier-A audit operators vs the pure-Python oracle (SURVEY §5.2.1)."""

from pyspark.sql import functions as F

from osmspark.config import STREET_TYPE_MAPPING
from osmspark.operators import audit
from osmspark.sources import explode_spans

from . import oracle


def test_tag_name_frequency(docs, docs_py):
    got = {
        r["kind"]: r["cnt"]
        for r in audit.tag_name_frequency(explode_spans(docs)).collect()
    }
    assert got == oracle.tag_name_frequency(docs_py)


def test_key_class_counts(nodes, docs_py):
    got = {r["bucket"]: r["cnt"] for r in audit.key_class_counts(nodes).collect()}
    assert got == oracle.key_class_counts(docs_py)


def test_distinct_users(nodes, ways, docs_py):
    els = nodes.select("uid").unionByName(ways.select("uid"))
    got = audit.distinct_users(els).collect()[0]["n_users"]
    assert got == oracle.distinct_users(docs_py)


def test_unexpected_street_types_with_examples(nodes, docs_py):
    got = {
        r["stype"]: (list(r["examples"]), r["cnt"])
        for r in audit.unexpected_street_types(audit.streets(nodes)).collect()
    }
    assert got == oracle.audit_streets(docs_py)


def test_normalized_street_counts(nodes, docs_py):
    got = {
        r["normalized_type"]: r["cnt"]
        for r in audit.normalized_street_counts(audit.streets(nodes)).collect()
    }
    assert got == oracle.normalized_street_counts(docs_py)


def test_normalize_streets_matches_python_mapping(nodes):
    """normalize_streets' type is STREET_TYPE_MAPPING applied in Python to
    the oracle's street type, for every distinct street of the fixture."""
    got = audit.normalize_streets(audit.streets(nodes)).select(
        "street", "normalized_type").distinct().collect()
    assert got
    for r in got:
        t = oracle.street_type(r["street"])
        assert r["normalized_type"] == STREET_TYPE_MAPPING.get(t, t), r


def test_normalized_street_full_name_rewrite(spark):
    """update_name semantics: the type token is substituted in place."""
    df = spark.createDataFrame(
        [("Bedok St.",), ("Jln Ahmad Ibrahim",), ("Orchard Rd",), ("Marina Walk",)],
        "street string",
    )
    got = {
        r["street"]: r["normalized_street"]
        for r in audit.normalize_streets(df).collect()
    }
    assert got == {
        "Bedok St.": "Bedok Street",
        "Jln Ahmad Ibrahim": "Jalan Ahmad Ibrahim",
        "Orchard Rd": "Orchard Road",
        "Marina Walk": "Marina Walk",
    }


def test_postcode_partition(nodes, docs_py):
    got = {r["pc_class"]: r["cnt"] for r in audit.postcode_partition(nodes).collect()}
    assert got == oracle.postcode_partition(docs_py)


def test_repair_postcode(spark):
    df = spark.createDataFrame(
        [("S 018956",), ("018956",), ("81234",), ("xx",)], "pc string"
    )
    got = [r[0] for r in df.select(audit.repair_postcode("pc")).collect()]
    assert got == ["018956", "018956", "81234", "xx"]


def test_top_users(nodes, ways, docs_py):
    els = nodes.select("user").unionByName(ways.select("user"))
    got = [(r["user"], r["cnt"]) for r in audit.top_users(els, 5).collect()]
    assert got == oracle.top_users(docs_py, 5)


def test_top_amenities(nodes, docs_py):
    got = [(r["amenity"], r["cnt"]) for r in audit.top_amenities(nodes, 5).collect()]
    assert got == oracle.top_amenities(docs_py, 5)


def test_single_post_users_sums_to_users(nodes):
    hist = audit.single_post_users(nodes.select("user"))
    total = hist.agg(F.sum(F.col("n_users") * 1)).collect()[0][0]
    assert total == nodes.select("user").distinct().count()


def test_no_python_udf_in_audit_plans(nodes):
    """Engine rule [D]: zero row-wise Python in the audit path — plans must
    not contain BatchEvalPython/ArrowEvalPython nodes."""
    for df in [
        audit.normalized_street_counts(audit.streets(nodes)),
        audit.key_class_counts(nodes),
        audit.postcode_partition(nodes),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
