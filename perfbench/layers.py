"""The traced pass: Spark's event log, job labels, and the per-layer probes.

Tracing is switched on inside a running session by attaching Spark's own
``EventLoggingListener`` (its directory comes from ``get_spark``'s
``extra_conf``), so the same warm process gives both the untraced and the
traced wall. Every call is made under ``SparkContext.setJobDescription``
with a ``<layer>.<what>`` label; the log's task metrics are then summed per
label.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anything2rdf_spark.operators import canonicalize as CN
from anything2rdf_spark.operators import extract as EX
from anything2rdf_spark.operators import link as LK
from anything2rdf_spark.operators import windows as WD
from anything2rdf_spark.operators.dedupe import normalized_text
from anything2rdf_spark.operators.textstats import lang_id, quality_score, redact_pii, ws_token_count
from anything2rdf_spark.sources.catalog import Catalog

LAYERS = ["pipeline", "catalog", "normalize", "extract", "link", "canonicalize", "materialize", "curate"]
# The probes run for a second or two at benchmark sizes and mostly see no
# collection at all; GC is reported for the traced builds, which do.
GC_LAYERS = ["pipeline"]
MB = 2**20


def event_log_conf(work: str) -> dict[str, str]:
    d = os.path.join(work, "events")
    os.makedirs(d, exist_ok=True)
    return {
        "spark.eventLog.dir": "file://" + d,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Attaches an event-log listener; ``timed(label, fn)`` runs ``fn``
    under a job label."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        sc = spark.sparkContext
        jvm, self._jsc = sc._jvm, sc._jsc.sc()  # noqa: SLF001
        self.dir = self._jsc.conf().get("spark.eventLog.dir")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"perfbench-{os.getpid()}-{time.time_ns()}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI(self.dir),
            self._jsc.conf(),
            sc._jsc.hadoopConfiguration(),  # noqa: SLF001
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    @contextmanager
    def label(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        try:
            yield
        finally:
            sc.setJobDescription(None)

    def timed(self, name: str, fn):
        with self.label(name):
            return fn()

    def timed_wall(self, name: str, fn) -> float:
        t = time.perf_counter()
        self.timed(name, fn)
        return time.perf_counter() - t

    def _detach(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()  # deliver what is queued first
        self._jsc.removeSparkListener(self._listener)

    @contextmanager
    def paused(self):
        """Calls in this block run with the event log off."""
        self._detach()
        try:
            yield
        finally:
            self._jsc.addSparkListener(self._listener)

    def close(self) -> dict[str, dict]:
        """Detach, flush, and sum the log's task metrics per label."""
        self._detach()
        self._listener.stop()
        events = []
        for f in glob.glob(os.path.join(self.dir.removeprefix("file://"), "*")):
            with open(f) as fh:
                events += [json.loads(line) for line in fh if line.strip()]
        return per_label(events)


def per_label(events: list[dict]) -> dict[str, dict]:
    stage_label: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_runs: dict[tuple, list[float]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            lbl = (e.get("Properties") or {}).get("spark.job.description") or "unlabelled"
            out[lbl]["jobs"] += 1
            for s in e["Stage IDs"]:
                stage_label[s] = lbl
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            lbl = stage_label.get(e["Stage ID"], "unlabelled")
            m, o = e["Task Metrics"], out[lbl]
            o["cpu_s"] += m["Executor CPU Time"] / 1e9
            o["gc_s"] += m["JVM GC Time"] / 1e3
            o["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
            o["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
            o["output_mb"] += m["Output Metrics"]["Bytes Written"] / MB
            info = e["Task Info"]
            stage_runs[(lbl, e["Stage ID"])].append(info["Finish Time"] - info["Launch Time"])
    # task skew: max/median task duration in each label's busiest stage
    busiest: dict[str, list[float]] = {}
    for (lbl, _), runs in stage_runs.items():
        if sum(runs) >= sum(busiest.get(lbl, [])):
            busiest[lbl] = runs
    for lbl, runs in busiest.items():
        out[lbl]["task_skew"] = max(runs) / max(statistics.median(runs), 1)
    return out


def layer_totals(labels: dict[str, dict]) -> dict[str, float]:
    res = {}
    for layer in LAYERS:
        rows = [v for k, v in labels.items() if k.split(".")[0] == layer]
        res[f"{layer}.task_cpu_s"] = sum(r["cpu_s"] for r in rows)
        if layer in GC_LAYERS:
            res[f"{layer}.gc_s"] = sum(r["gc_s"] for r in rows)
    return res


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / MB


def kg_probes(tr: Tracer, kg, probe_wh: str) -> dict[str, float]:
    """Each pipeline operator, over the checkpoints ``kg``'s last build left
    behind, timed into a noop sink; ``Catalog.write`` is timed once, on the
    largest checkpoint read back."""
    spark = tr.spark
    cat = Catalog(spark, kg.wh)
    shutil.rmtree(probe_wh, ignore_errors=True)
    probe_cat = Catalog(spark, probe_wh)
    norm = cat.read("transcripts_norm")
    surfaces = spark.sparkContext.broadcast(list(kg.surfaces))
    triple_tables = sorted(
        t for t in os.listdir(kg.wh) if t.startswith("triples_") and cat.exists(t)
    )
    ops = {
        "normalize.compute": lambda: WD.ordered_turns_skew_safe(EX.admissible(kg.transcripts)),
        "extract.emit": lambda: EX.extract_triples(norm),
        "extract.mentions": lambda: EX.extract_mentions(norm, surfaces),
        "link.compute": lambda: LK.link_mentions(cat.read("mentions"), kg.dictionary),
        "canonicalize.cc": lambda: CN.connected_components(kg.alias_edges),
        "canonicalize.rewrite": lambda: CN.rewrite_triples(
            cat.read("triples_candidate"),
            CN.canonical_rewrite_map(cat.read("canonical_map")),
        ),
        "materialize.dedup": lambda: EX.dedup_triples(
            reduce(DataFrame.unionByName, [cat.read(t) for t in triple_tables])
        ),
    }
    m: dict[str, float] = {}
    for name, build in ops.items():
        m[name + "_s"] = tr.timed_wall(name, lambda: noop(build()))
    # Catalog.write alone: the largest checkpoint read back, once into a
    # noop sink and once through the catalog
    biggest = cat.read("triples_candidate")
    read_only = tr.timed_wall("catalog.noop", lambda: noop(biggest))
    m["catalog.write_s"] = tr.timed_wall(
        "catalog.write", lambda: probe_cat.write(biggest, "catalog_write")
    ) - read_only
    tables = [t for t in sorted(os.listdir(kg.wh)) if cat.exists(t)]
    m["catalog.read_s"] = tr.timed_wall("catalog.read", lambda: [noop(cat.read(t)) for t in tables])
    # counts of the build itself, from parquet footers
    m["catalog.files_written"] = len(glob.glob(os.path.join(kg.wh, "**", "*.parquet"), recursive=True))
    m["extract.mention_rows"] = cat.row_count("mentions")
    m["materialize.dedup_ratio"] = cat.row_count("triples") / sum(cat.row_count(t) for t in triple_tables)
    m["link.matched_ratio"] = cat.read("mentions_linked").agg(
        F.avg(F.col("matched").cast("double"))
    ).first()[0]
    return m


CURATE_OPS = {
    "curate.hash": lambda d: d.select("doc_id", F.sha2(normalized_text("text"), 256).alias("h")),
    "curate.lang_id": lambda d: d.select("doc_id", lang_id("text").alias("l")),
    "curate.quality": lambda d: d.select("doc_id", F.round(quality_score("text"), 6).alias("q")),
    "curate.redact_pii": lambda d: d.select("doc_id", redact_pii("text").alias("c")),
    "curate.ws_tokens": lambda d: d.select("doc_id", ws_token_count("text").alias("n")),
}


def curate_probes(tr: Tracer, docs: DataFrame) -> dict[str, float]:
    """Each curation component alone, into a noop sink."""
    return {name + "_s": tr.timed_wall(name, lambda: noop(op(docs))) for name, op in CURATE_OPS.items()}


def from_labels(labels: dict[str, dict]) -> dict[str, float]:
    """Per-layer figures that only the event log knows."""

    def get(lbl, key):
        return labels.get(lbl, {}).get(key, 0.0)

    m = {
        "normalize.shuffle_mb": get("normalize.compute", "shuffle_write_mb"),
        "normalize.task_skew": get("normalize.compute", "task_skew"),
        "link.shuffle_mb": get("link.compute", "shuffle_write_mb"),
        "canonicalize.jobs": get("canonicalize.cc", "jobs"),
        "materialize.shuffle_mb": get("materialize.dedup", "shuffle_write_mb"),
        "materialize.spill_mb": get("materialize.dedup", "spill_mb"),
        "catalog.bytes_written_mb": get("pipeline.build", "output_mb"),
    }
    m.update(layer_totals(labels))
    return m
