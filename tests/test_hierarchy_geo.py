import pytest
from pyspark.sql import functions as F

from anything2rdf_spark.operators import hierarchy as H


def test_rollup_content(spark):
    # statute tree: root ← a ← a1, a2 ; root ← b
    nodes = spark.createDataFrame(
        [
            ("root", None, "ROOT"),
            ("root/a", "root", "A"),
            ("root/a/1", "root/a", "A1"),
            ("root/a/2", "root/a", "A2"),
            ("root/b", "root", "B"),
        ],
        "id string, parent_id string, content string",
    )
    got = {r["id"]: r["complete_content"] for r in H.rollup_content(nodes).collect()}
    assert got["root/a"] == "A\nA1\nA2"
    assert got["root"] == "ROOT\nA\nA1\nA2\nB"
    assert got["root/b"] == "B"


def test_flatten_tree(spark):
    data = [
        (
            "r1",
            "Rome",
            [("c1", "Trip1", []), ("c2", "Trip2", [])],
        )
    ]
    df = spark.createDataFrame(
        data,
        "id string, name string, children array<struct<id:string, name:string, children:array<struct<id:string>>>>",
    )
    out = H.flatten_tree(df)
    rows = {r["id"]: (r["parent_id"], r["depth"]) for r in out.collect()}
    assert rows["r1"] == (None, 0)
    assert rows["c1"] == ("r1", 1) and rows["c2"] == ("r1", 1)


def test_dynamic_subclass_triples(spark):
    df = spark.createDataFrame([("letter",), ("letter",), ("postcard",)], "work_type string")
    t = H.dynamic_subclass_triples(df, "work_type", "http://x/Work")
    rows = {(r["subj"], r["obj_iri"]) for r in t.collect()}
    assert len(rows) == 2
    assert all(o == "http://x/Work" for _, o in rows)


def test_consistency_check(spark):
    edges = spark.createDataFrame([("paris", "france"), ("lyon", "france")], "place string, within string")
    forbidden = spark.createDataFrame([("paris", "england")], "place string, within string")
    H.consistency_check(edges, forbidden, ["place", "within"])  # passes
    bad_forbidden = spark.createDataFrame([("paris", "france")], "place string, within string")
    with pytest.raises(ValueError):
        H.consistency_check(edges, bad_forbidden, ["place", "within"])


def test_tm35fin_to_wgs84(spark):
    from anything2rdf_spark.functions.geo import tm35fin_to_wgs84

    # known point: Helsinki Cathedral ~ (E 386316, N 6672285) → ~60.170N, 24.952E
    df = spark.createDataFrame([(386316.0, 6672285.0)], "e double, n double")
    r = df.select(tm35fin_to_wgs84("e", "n").alias("g")).collect()[0]["g"]
    assert abs(r["lat"] - 60.170) < 0.01, r
    assert abs(r["lon"] - 24.952) < 0.01, r
    # round-trip sanity at projection origin: E=500000 → lon = 27
    df0 = spark.createDataFrame([(500000.0, 6653097.0)], "e double, n double")
    r0 = df0.select(tm35fin_to_wgs84("e", "n").alias("g")).collect()[0]["g"]
    assert abs(r0["lon"] - 27.0) < 1e-6


def test_statute_stack_hierarchy(spark):
    """G5: Finlex-style statute XML → typed node rows with running titles
    (FinlexXML2RDF.scala:54-231 stack semantics) → triples."""
    from anything2rdf_spark.operators.hierarchy import (
        parse_statute_xml,
        statute_triples,
        STATUTE_NODE_SCHEMA,
    )
    from anything2rdf_spark.sources.readers import xml_records_udf

    xml = """<sd id="1928/161"><nu>Laki X</nu>
      <os id="1928/161:o1"><nu>Osa 1</nu>
        <lu id="1928/161:l1"><nu>Luku 1</nu>
          <py id="1928/161:p1"><nu>1 §</nu>
            <py>momentin teksti</py>
          </py>
          <py id="1928/161:p2"><nu>2 §</nu></py>
        </lu>
      </os>
    </sd>"""
    rows = parse_statute_xml(xml)
    by_id = {r["node_id"]: r for r in rows}
    assert by_id["1928/161"]["kind"] == "Statute" and by_id["1928/161"]["parent_id"] is None
    assert by_id["1928/161:o1"]["kind"] == "Part" and by_id["1928/161:o1"]["parent_id"] == "1928/161"
    assert by_id["1928/161:l1"]["kind"] == "Chapter"
    assert by_id["1928/161:p1"]["kind"] == "Section"
    # running title accumulates down the ancestor chain (ot + ", " + nu)
    assert by_id["1928/161:p1"]["running_title"] == "Laki X, Osa 1, Luku 1, 1 §"
    # id-less <py> folds its text into the enclosing section's body
    assert by_id["1928/161:p1"]["body"] == "momentin teksti"

    # Spark path: xml payload rows → node rows → triples
    df = spark.createDataFrame([(xml,)], "payload string")
    nodes = df.mapInPandas(
        xml_records_udf(STATUTE_NODE_SCHEMA, parse_statute_xml), STATUTE_NODE_SCHEMA
    )
    trip = statute_triples(nodes)
    preds = {r["pred"] for r in trip.collect()}
    assert "http://purl.org/dc/terms/isPartOf" in preds
    part_of = {
        (r["subj"], r["obj_iri"])
        for r in trip.filter("pred = 'http://purl.org/dc/terms/isPartOf'").collect()
    }
    assert any("statute_node_1928%2F161%3Ao1" in s or "1928" in s for s, _ in part_of)
    assert len(part_of) == 4  # every non-root node links to its parent


def _path_tree(spark, depth):
    """One root-to-leaf path whose leaf is at ``depth``, as flatten_tree
    input."""
    t = "struct<id:string>"
    v = (f"n{depth}",)
    for k in range(depth - 1, 0, -1):
        t = f"struct<id:string,children:array<{t}>>"
        v = (f"n{k}", [v])
    return spark.createDataFrame([("n0", [v])], f"id string, children array<{t}>")


def _path_nodes(spark, depth):
    return spark.createDataFrame(
        [(f"n{k}", f"n{k - 1}" if k else None, f"c{k:02d}") for k in range(depth + 1)],
        "id string, parent_id string, content string",
    )


def test_hierarchy_deeper_than_max_depth_raises(spark):
    """A tree of depth 33 exceeds the default max_depth=32: both iterative
    operators raise instead of silently truncating."""
    with pytest.raises(RuntimeError, match="max_depth=32"):
        H.flatten_tree(_path_tree(spark, 33))
    with pytest.raises(RuntimeError, match="max_depth=32"):
        H.rollup_content(_path_nodes(spark, 33))


def test_hierarchy_max_depth_boundary(spark):
    """A tree exactly max_depth deep is complete; one level more raises."""
    out = {r["id"]: r["depth"] for r in H.flatten_tree(_path_tree(spark, 4), max_depth=4).collect()}
    assert out == {f"n{k}": k for k in range(5)}
    got = {r["id"]: r["complete_content"] for r in H.rollup_content(_path_nodes(spark, 4), max_depth=4).collect()}
    assert got["n0"] == "\n".join(f"c{k:02d}" for k in range(5))
    with pytest.raises(RuntimeError):
        H.flatten_tree(_path_tree(spark, 5), max_depth=4)
    with pytest.raises(RuntimeError):
        H.rollup_content(_path_nodes(spark, 5), max_depth=4)


def test_flatten_tree_custom_column_names(spark):
    """id_col/children_col must apply below depth 0 too (they used to be
    hardcoded to 'id'/'children' for nested levels: AnalysisException for a
    custom id, silently-dropped grandchildren for custom children)."""
    schema = (
        "nid string, name string, kids array<struct<nid:string, name:string,"
        " kids:array<struct<nid:string, name:string>>>>"
    )
    data = [("r", "Root", [("c", "Child", [("g", "Grand")])])]
    df = spark.createDataFrame(data, schema)
    out = {r["id"]: (r["parent_id"], r["depth"])
           for r in H.flatten_tree(df, id_col="nid", children_col="kids").collect()}
    assert out == {"r": (None, 0), "c": ("r", 1), "g": ("c", 2)}


def test_statute_idless_wrapper_keeps_descendants(spark):
    """An id-less structural wrapper folds only its OWN text into the
    enclosing node; id-bearing descendants inside it still become nodes."""
    xml = (
        '<sd id="a"><nu>One</nu>'
        "<os>wrapper text"
        '<py id="p1"><nu>P</nu>leaf text</py>'
        "</os></sd>"
    )
    rows = {r["node_id"]: r for r in H.parse_statute_xml(xml)}
    assert set(rows) == {"a", "p1"}
    assert rows["p1"]["parent_id"] == "a"
    assert "wrapper text" in rows["a"]["body"]
    assert "leaf text" not in rows["a"]["body"]  # not double-counted


def test_dynamic_subclass_skips_null_and_blank(spark):
    vals = spark.createDataFrame([("Novel",), (None,), ("  ",)], "work_type string")
    out = H.dynamic_subclass_triples(vals, "work_type", "http://x/Work")
    assert out.count() == 1 and out.collect()[0]["subj"] is not None


def test_geo_null_inputs_yield_null_coords(spark):
    """NULL east/north must yield NULL lat/lon, not a non-null NaN struct
    that slips past isNotNull guards downstream."""
    from anything2rdf_spark.functions.geo import tm35fin_to_wgs84

    df = spark.createDataFrame(
        [(386249.8, 6672257.0), (None, 6672257.0)], "e double, n double"
    )
    rows = df.select(tm35fin_to_wgs84("e", "n").alias("g")).collect()
    assert rows[0]["g"]["lat"] is not None
    assert rows[1]["g"]["lat"] is None and rows[1]["g"]["lon"] is None
