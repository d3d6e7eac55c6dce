"""Hierarchy operators (SURVEY G4, G5, A5, E6): nested/recursive structures
decomposed with bounded iterative DataFrame passes — never driver-side
recursion over rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import RDFS_SUBCLASSOF
from ..schemas import TRIPLE_COLS


def flatten_tree(
    df: DataFrame,
    id_col: str = "id",
    children_col: str = "children",
    max_depth: int = 32,
) -> DataFrame:
    """G4: recursive nested-record decomposition (grandtourjson2rdf.scala:57-94
    ``processCity`` over JSON ``children``) as an iterative explode with a
    parent accumulator. Returns (id, parent_id, depth, node) where node is
    the struct minus its children.

    Each round explodes one level; terminates when a level is empty.
    Depth-bounded loops are the Spark shape for recursion: real document
    trees are shallow, so this is O(depth) narrow stages, not O(nodes)
    driver calls. Raises if the tree is deeper than ``max_depth`` (a node
    at depth max_depth still has children) rather than truncating it.
    """
    level = df.select(
        F.col(id_col).alias("id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit(0).alias("depth"),
        F.struct(*[c for c in df.columns if c != children_col]).alias("node"),
        F.col(children_col).alias("_kids"),
    )
    out = level.drop("_kids")
    for depth in range(1, max_depth + 2):
        # checkpointed: each level's plan stays one level deep
        kids = level.filter(F.size("_kids") > 0).select(
            F.col("id").alias("parent_id"), F.explode("_kids").alias("_k"), F.lit(depth).alias("depth")
        ).localCheckpoint()
        if kids.isEmpty():
            break
        if depth > max_depth:
            raise RuntimeError(f"flatten_tree: tree deeper than max_depth={max_depth}")
        # nested levels use the same configurable column names as the root
        has_kids = children_col in [f.name for f in kids.schema["_k"].dataType.fields]
        level = kids.select(
            F.col(f"_k.{id_col}").alias("id"),
            "parent_id",
            "depth",
            F.struct(*[F.col(f"_k.{f.name}") for f in kids.schema["_k"].dataType.fields if f.name != children_col]).alias("node"),
            (F.col(f"_k.{children_col}") if has_kids else F.array().cast(f"array<struct<{id_col}:string>>")).alias("_kids"),
        )
        out = out.unionByName(level.drop("_kids"), allowMissingColumns=True)
        if not has_kids:
            break
    return out


def rollup_content(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
    content_col: str = "content",
    max_depth: int = 32,
) -> DataFrame:
    """A5: content rollup over a hierarchy (FinlexXML2RDF.scala:218-227
    ``completeContent`` accumulation): each node's complete content = its own
    + all descendants', ordered by id. Implemented by propagating each
    node's content up to every ancestor via iterative parent joins (depth-
    bounded), then grouping per ancestor. Raises if the tree is deeper than
    ``max_depth`` rather than dropping the deeper ancestors."""
    edges = nodes.select(F.col(id_col).alias("child"), F.col(parent_col).alias("anc")).filter(
        F.col("anc").isNotNull()
    )
    # transitive closure by iterated join (bounded by tree depth)
    closure = edges
    frontier = edges
    for _ in range(max_depth):
        step = edges.withColumnRenamed("anc", "anc2").withColumnRenamed("child", "anc")
        nxt = (
            frontier.join(step, "anc")
            .select(F.col("child"), F.col("anc2").alias("anc"))
            .exceptAll(closure)
            .localCheckpoint()  # the next frontier: keeps each round's plan one join deep
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt).localCheckpoint()
        frontier = nxt
    else:
        raise RuntimeError(f"rollup_content: tree deeper than max_depth={max_depth}")
    contrib = closure.unionByName(
        nodes.select(F.col(id_col).alias("child"), F.col(id_col).alias("anc"))
    )
    return (
        contrib.join(
            nodes.select(F.col(id_col).alias("child"), F.col(content_col).alias("_c")), "child"
        )
        .groupBy(F.col("anc").alias(id_col))
        .agg(
            F.concat_ws(
                "\n", F.array_sort(F.collect_list(F.struct("child", "_c"))).getField("_c")
            ).alias("complete_content")
        )
    )


def dynamic_subclass_triples(values: DataFrame, value_col: str, parent_class: str) -> DataFrame:
    """E6: dynamic subclass minting per distinct row value
    (EMLOCSV2RDF.scala:264-265: a class per work-type, subClassOf the static
    parent)."""
    from .. import iri

    return (
        values.select(F.col(value_col))
        # ANE guard like every sibling emitter: a null value would mint a
        # null subj (TRIPLE_SCHEMA declares it non-nullable) and an empty
        # one the bare schema namespace
        .filter(F.col(value_col).isNotNull() & (F.trim(F.col(value_col)) != ""))
        .distinct()
        .select(
            iri.schema_class_iri(value_col).alias("subj"),
            F.lit(RDFS_SUBCLASSOF).alias("pred"),
            F.lit(parent_class).alias("obj_iri"),
            F.lit(None).cast("string").alias("obj_lit"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dtype"),
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
        )
        .select(*TRIPLE_COLS)
    )


def consistency_violations(df: DataFrame, forbidden: DataFrame, on: list[str]) -> DataFrame:
    """P8: the rows of ``df`` matching a forbidden key combination — one
    semi-join, set-at-a-time (eecsv2rdf.scala:92-99's per-row check)."""
    return df.join(forbidden, on, "left_semi")


def consistency_check(df: DataFrame, forbidden: DataFrame, on: list[str]) -> None:
    """P8: runtime consistency assertion (eecsv2rdf.scala:92-99) — abort the
    job when a forbidden edge appears."""
    bad = consistency_violations(df, forbidden, on)
    n = bad.limit(1).count()
    if n:
        rows = [tuple(r) for r in bad.limit(5).collect()]
        raise ValueError(f"consistency check failed; offending rows: {rows}")


# --- G5: statute-style stack hierarchy (FinlexXML2RDF.scala:54-231) ---------

STATUTE_ELEMENT_KINDS = {
    "sd": "Statute",
    "os": "Part",
    "lu": "Chapter",
    "vo": "Subheading",
    "py": "Section",
    "mo": "Moment",
}

STATUTE_NODE_SCHEMA = (
    "node_id string, kind string, parent_id string, label string, "
    "running_title string, body string"
)


def parse_statute_xml(xml: str) -> list[dict]:
    """Recursive-descent re-expression of the reference's imperative stack
    walk (FinlexXML2RDF.scala:54-231: Stack[Resource] hbuf + running-title
    otbuf): each structural element (sd/os/lu/vo/py/mo) with an ``id``
    becomes a node typed by its element kind, linked isPartOf its enclosing
    node, labelled by its <nu> title, carrying the comma-joined running
    title of its ancestor chain (the ``ot + ", " + nu`` accumulation). An
    id-less <py> contributes its text to the enclosing node's body (the
    reference's EvText loop). One dict per node — feed through
    sources.readers.xml_records_udf(STATUTE_NODE_SCHEMA, parse_statute_xml).
    """
    import xml.etree.ElementTree as ET

    out: list[dict] = []

    def title_of(el) -> str:
        nu = el.find("nu")
        return (nu.text or "").strip() if nu is not None else ""

    def own_text(el) -> str:
        """Element text EXCLUDING nested structural elements' subtrees —
        those are handled by their own walk step (an id-less wrapper must
        not swallow an id-bearing descendant's text)."""
        parts = [el.text or ""]
        for ch in el:
            if ch.tag not in STATUTE_ELEMENT_KINDS:
                parts.append(own_text(ch))
            parts.append(ch.tail or "")
        return "".join(parts)

    def walk(el, parent_id: str | None, running: str):
        for child in el:
            if child.tag in STATUTE_ELEMENT_KINDS:
                cid = child.get("id")
                if cid is None:
                    # id-less structural element: its OWN body text folds
                    # into the enclosing node (FinlexXML2RDF.scala:111-119),
                    # but its id-bearing descendants are still walked —
                    # previously the whole subtree (descendants' text
                    # included) was folded and the descendants dropped
                    if out and parent_id is not None:
                        enclosing = next(
                            (r for r in reversed(out) if r["node_id"] == parent_id), None
                        )
                        if enclosing is not None:
                            text = own_text(child).strip()
                            if text:
                                enclosing["body"] = (
                                    enclosing["body"] + "\n" + text
                                    if enclosing["body"]
                                    else text
                                )
                    walk(child, parent_id, running)
                    continue
                label = title_of(child)
                rt = f"{running}, {label}" if running and label else (label or running)
                out.append(
                    {
                        "node_id": cid,
                        "kind": STATUTE_ELEMENT_KINDS[child.tag],
                        "parent_id": parent_id,
                        "label": label,
                        "running_title": rt,
                        "body": "",
                    }
                )
                walk(child, cid, rt)
            else:
                walk(child, parent_id, running)

    root = ET.fromstring(xml)
    if root.tag in STATUTE_ELEMENT_KINDS and root.get("id"):
        label = title_of(root)
        out.append(
            {
                "node_id": root.get("id"),
                "kind": STATUTE_ELEMENT_KINDS[root.tag],
                "parent_id": None,
                "label": label,
                "running_title": label,
                "body": "",
            }
        )
        walk(root, root.get("id"), label)
    else:
        walk(root, None, "")
    return out


def statute_triples(nodes: DataFrame, ns: str | None = None) -> DataFrame:
    """Statute node rows → triples: rdf:type (kind class under SCHEMA_NS),
    dcterms:isPartOf parent, skos:prefLabel running title (lang 'fi' like
    the reference), rdfs:label own title (FinlexXML2RDF.scala:69-77)."""
    from .. import NS, RDF_TYPE, RDFS_LABEL, SCHEMA_NS, SKOS_PREF_LABEL
    from .. import iri
    from .extract import _t

    ns = ns or NS
    DCTERMS_IS_PART_OF = "http://purl.org/dc/terms/isPartOf"
    node = iri.mint("statute_node", "node_id", ns=ns)
    parent = iri.mint("statute_node", "parent_id", ns=ns)
    kls = F.concat(F.lit(SCHEMA_NS), F.col("kind"))
    rules = [
        _t(node, RDF_TYPE, obj_iri=kls),
        _t(node, DCTERMS_IS_PART_OF, obj_iri=parent, guard=F.col("parent_id").isNotNull()),
        _t(node, SKOS_PREF_LABEL, obj_lit=F.col("running_title"), lang="fi",
           guard=F.col("running_title") != ""),
        _t(node, RDFS_LABEL, obj_lit=F.col("label"), lang="fi", guard=F.col("label") != ""),
        _t(node, SCHEMA_NS + "fulltext", obj_lit=F.col("body"), guard=F.col("body") != ""),
    ]
    return (
        nodes.select(F.explode(F.array(*rules)).alias("r"))
        .filter(F.col("r").isNotNull())
        .select(
            "r.*",
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
        )
        .select(*TRIPLE_COLS)
    )
