"""Stage 4: canonicalization (SURVEY §2.10 G1-G2, §2.6 J7, §2.7 A2).

The hard core: connected components over an alias-edges DataFrame via
iterative joins — the distributed re-expression of schoenberg's in-memory
union-find (schoenbergcsv2rdf.scala:105-168: pass-1 min-id map, path
compression, pass-2 substitution + owl:sameAs emission).

Algorithm: min-label propagation with pointer jumping over the undirected
edge relation, which keeps a self-loop per node. Each round (1) hooks:
every node takes the min label among its neighbors and itself — one
``groupBy`` that also carries the node's old label — then (2) jumps twice
to its label's label. A chain of length L converges in O(log L) rounds
(tests: 1000-node chain). Each round is ONE action: a ``localCheckpoint``
that cuts lineage (SURVEY §4.2 custom-work item 1; at cluster scale an
Iceberg temp table) and carries an ``Observation`` of changed labels and
rows. A checkpoint has no size statistics, so AQE would sort-merge every
join against it and switch to broadcast only after both shuffles ran; the
label side is hinted as a broadcast while its row count is under
``broadcast_max_rows``, the policy ``rewrite_triples`` follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .. import NS, OWL_SAMEAS
from .. import iri
from ..schemas import TRIPLE_COLS


def connected_components(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    max_iter: int = 50,
    broadcast_max_rows: int = 5_000_000,
) -> DataFrame:
    """Edges → canonical map (node_id, canonical_id) with canonical = min id
    of the component (min-id semantics, schoenbergcsv2rdf.scala:135).

    Isolated nodes (self-loops) map to themselves. Deterministic under any
    partitioning. Raises if not converged within ``max_iter`` rounds (a
    10^12-scale run would page instead)."""
    a, b = F.col("a"), F.col("b")

    def pair(x: str, y: str):
        return F.struct(F.col(x).alias("a"), F.col(y).alias("b"))

    # both directions plus a self-loop per endpoint; a NULL endpoint is a
    # node of its own (label NULL) and never an edge to anything
    und = (
        edges.select(
            F.explode(F.array(pair(src, dst), pair(dst, src), pair(src, src), pair(dst, dst))).alias("e")
        )
        .select("e.*")
        .filter(a.eqNullSafe(b) | (a.isNotNull() & b.isNotNull()))
        .distinct()
    )
    obs = Observation()
    und = und.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    # rows of the label side of the next join; |und| bounds the node count
    n_labels = obs.get["n"]

    def label_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if n_labels <= broadcast_max_rows else df

    # (a, b, cb): an edge and b's current label — in round 1, b itself
    nbr = und.withColumn("cb", b)
    for _ in range(max_iter):
        # (1) hook; _old is the node's own label, read off its self-loop
        p = nbr.groupBy(a.alias("node")).agg(
            F.min("cb").alias("comp"),
            F.min(F.when(a.eqNullSafe(b), F.col("cb"))).alias("_old"),
        )
        # (2) two pointer jumps: comp := comp(comp). A label never exceeds
        # its node, so the jumped label is never larger.
        for _jump in range(2):
            lut = p.select(F.col("node").alias("comp"), F.col("comp").alias("_next"))
            p = p.join(label_side(lut), "comp", "left").select(
                "node", "_old", F.coalesce("_next", "comp").alias("comp")
            )
        obs = Observation()
        chg = F.count_if(F.col("comp") != F.col("_old")).alias("chg")
        labels = p.observe(obs, chg, F.count(F.lit(1)).alias("n")).select("node", "comp").localCheckpoint()
        changed, n_labels = obs.get["chg"], obs.get["n"]
        if changed == 0:
            return labels.select(F.col("node").alias("node_id"), F.col("comp").alias("canonical_id"))
        lb = labels.select(F.col("node").alias("_b"), F.col("comp").alias("cb"))
        # null-safe so the NULL node keeps its row through the hook
        nbr = und.join(label_side(lb), b.eqNullSafe(F.col("_b"))).select("a", "b", "cb")
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def sameas_triples(canonical_map: DataFrame, ns: str = NS) -> DataFrame:
    """owl:sameAs canonical→original for every non-root member
    (schoenbergcsv2rdf.scala:168 emits from the canonical id)."""
    return (
        canonical_map.filter(F.col("node_id") != F.col("canonical_id"))
        .select(
            iri.mint("entity", "canonical_id", ns=ns).alias("subj"),
            F.lit(OWL_SAMEAS).alias("pred"),
            iri.mint("entity", "node_id", ns=ns).alias("obj_iri"),
            F.lit(None).cast("string").alias("obj_lit"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dtype"),
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
        )
        .select(*TRIPLE_COLS)
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame, broadcast_map: bool = True) -> DataFrame:
    """G2: post-hoc triple rewrite — substitute canonical IRIs everywhere a
    mapped IRI appears as subject or object (PNR2RDF.scala:213-226
    ``replaceMap`` semantics: two passes, subject then object, via two left
    joins + coalesce)."""
    m = mapping.select(F.col("from_iri"), F.col("to_iri"))
    if broadcast_map:
        m = F.broadcast(m)
    out = (
        triples.join(m.withColumnRenamed("from_iri", "subj").withColumnRenamed("to_iri", "_s2"), "subj", "left")
        .withColumn("subj", F.coalesce("_s2", "subj"))
        .drop("_s2")
    )
    out = (
        out.join(m.withColumnRenamed("from_iri", "obj_iri").withColumnRenamed("to_iri", "_o2"), "obj_iri", "left")
        .withColumn("obj_iri", F.coalesce("_o2", "obj_iri"))
        .drop("_o2")
    )
    return out.select(*TRIPLE_COLS)


def canonical_rewrite_map(canonical_map: DataFrame, ns: str = NS) -> DataFrame:
    """canonical map → IRI rewrite map (from_iri, to_iri) for G2."""
    return canonical_map.filter(F.col("node_id") != F.col("canonical_id")).select(
        iri.mint("entity", "node_id", ns=ns).alias("from_iri"),
        iri.mint("entity", "canonical_id", ns=ns).alias("to_iri"),
    )


def degree_constrained_merge(
    edges: DataFrame,
    left_key: str,
    right_key: str,
    left_name: str | None = None,
    right_name: str | None = None,
    partnership_col: str | None = None,
) -> DataFrame:
    """J7: FBTEE's 1:1 client↔person merge decision
    (FBTEETSV2RDF.scala:395-431): merge left into right IFF both degrees are
    exactly 1 AND (names equal when given) AND NOT partnership. Returns the
    edge rows with a boolean ``merge`` column — canonicalization decided via
    two group-degree aggregations (A1) + joins, no row-at-a-time logic."""
    # degree = DISTINCT partner count: the same edge row appearing twice
    # must not make a genuinely 1:1 pair look 1:2 and block its merge
    ldeg = edges.groupBy(left_key).agg(F.countDistinct(right_key).alias("_ldeg"))
    rdeg = edges.groupBy(right_key).agg(F.countDistinct(left_key).alias("_rdeg"))
    out = edges.join(ldeg, left_key).join(rdeg, right_key)
    cond = (F.col("_ldeg") == 1) & (F.col("_rdeg") == 1)
    if left_name and right_name:
        # null-safe: a null name means "names do not match", never a null
        # merge flag (a null would leak through ~merge filters downstream)
        cond = cond & F.coalesce(F.col(left_name) == F.col(right_name), F.lit(False))
    if partnership_col:
        cond = cond & (~F.coalesce(F.col(partnership_col), F.lit(False)))
    return out.withColumn("merge", cond).drop("_ldeg", "_rdeg")


def min_dup_map(edges: DataFrame, src: str = "src_id", dst: str = "dst_id") -> DataFrame:
    """A2: per-id minimum duplicate id (schoenbergcsv2rdf.scala:135 pass-1
    map before compression)."""
    return edges.groupBy(src).agg(F.min(dst).alias("min_dup"))
