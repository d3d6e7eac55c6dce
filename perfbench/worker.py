"""One benchmark run inside a fresh Python process with its own Spark
driver. ``run.py`` starts it; see README.md for the workloads and metrics.

Writes its result as JSON to ``<work>/result.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

import inputs  # noqa: E402
import layers  # noqa: E402
import proctree  # noqa: E402
from anything2rdf_spark.operators.curation import curate_corpus  # noqa: E402
from anything2rdf_spark.plans.pipeline import STAGES, Pipeline  # noqa: E402
from anything2rdf_spark.session import get_spark  # noqa: E402
from anything2rdf_spark.sources import synth  # noqa: E402
from anything2rdf_spark.sources.catalog import Catalog  # noqa: E402

MASTER = "local[4]"
SETUP_REPEATS = 3  # input generation runs this many times; setup_s takes the median
TRIPLE6 = ["subj", "pred", "obj_iri", "obj_lit", "obj_lang", "obj_dtype"]
BIG_DICT = (10_000, 300)  # surfaces, of which filler-word n-grams
ALIAS_CHAIN = 2000  # nodes in the alias chain canonicalize collapses

E2E_UNITS = {"wall_s": "s", "cpu_s": "s", "setup_s": "s"}
LAYER_UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_frac": "frac", "_skew": "ratio"}


class KG:
    """A fresh pipeline build over synth transcripts and the synth
    dictionary.

    It is not warmed up: a warm-up build costs more than the warm build it
    would make room for, and with it the runs would not fit the time the
    benchmark gets, so the timed build is the process's first, as for
    ``run_pipeline.py``."""

    def __init__(self, spark, work, seed, n_convs):
        self.spark, self.seed, self.n_convs = spark, seed, n_convs
        self.in_path = os.path.join(work, "transcripts")
        self.wh = os.path.join(work, "wh")

    def prepare(self) -> None:
        synth.transcripts(self.spark, n_convs=self.n_convs, seed=self.seed).write.mode("overwrite").parquet(
            self.in_path
        )

    def load(self) -> None:
        self.transcripts = self.spark.read.parquet(self.in_path)
        self.dictionary, self.surfaces = synth.entity_dictionary(self.spark), synth.ALL_MENTION_NAMES
        self.alias_edges = synth.alias_edges(self.spark, big_chain=ALIAS_CHAIN)

    def build(self, force: bool = True) -> dict:
        return Pipeline(self.spark, self.wh).run(
            transcripts=self.transcripts,
            dictionary=self.dictionary,
            code_tables=synth.code_tables(self.spark),
            alias_edges=self.alias_edges,
            dictionary_surfaces=self.surfaces,
            force=force,
        )

    def warmup(self) -> None:
        pass

    def resume_run(self) -> dict:
        """Drops ``triples`` and reruns: four stages skip and materialize
        rebuilds it from the checkpoints."""
        Catalog(self.spark, self.wh).drop("triples")
        return self.build(force=False)

    def call(self) -> dict:
        return self.build()

    def output(self) -> dict:
        cat = Catalog(self.spark, self.wh)
        t = cat.read("triples").select(*TRIPLE6)
        r = t.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*TRIPLE6).cast("decimal(38,0)")).alias("d"),
        ).first()
        return {
            "rows": r["n"],
            "digest": str(r["d"]),
            # set semantics, and the footer count the pipeline reports agrees
            "ok": 0 < r["n"] == t.distinct().count() == cat.row_count("triples"),
        }


class Curate:
    """``curate_corpus`` over a generated corpus, every output column
    written to a noop sink (``count()`` would let the optimizer prune
    ``redact_pii``). The noop sink keeps nothing, so the output is
    recomputed once after the timed calls and checked."""

    def __init__(self, spark, work, seed, n_docs):
        self.spark, self.seed, self.n_docs = spark, seed, n_docs
        self.path = os.path.join(work, "documents")

    def prepare(self) -> None:
        inputs.documents(self.spark, self.n_docs, self.seed).write.mode("overwrite").parquet(self.path)

    def load(self) -> None:
        self.docs = self.spark.read.parquet(self.path)
        self.n_in = self.docs.count()

    def chain(self):
        return curate_corpus(self.docs, langs=("en",), min_quality=0.5)

    def warmup(self) -> None:
        self.call()

    def call(self) -> None:
        layers.noop(self.chain())

    def output(self) -> dict:
        cols = ["doc_id", "lang_guess", "quality", "ws_tokens", "clean_text"]
        bad = (F.col("lang_guess") != "en") | (F.col("quality") < 0.5) | F.col("clean_text").contains("@example.org")
        r = self.chain().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("d"),
            F.sum(bad.cast("int")).alias("bad"),
            F.sum(F.col("clean_text").contains("<EMAIL>").cast("int")).alias("masked"),
        ).first()
        return {
            "rows": r["n"],
            "digest": str(r["d"]),
            # survivors are English, above the quality cut, and scrubbed
            "ok": 0 < r["n"] <= self.n_in and r["bad"] == 0 and r["masked"] > 0,
        }


WORKLOADS = {
    "kg_build": (KG, {"n_convs": 300}),
    "curate": (Curate, {"n_docs": 20_000}),
}
# A traced run reports every layer: the family the workload does not
# exercise runs once on these small inputs.
SMALL_KG = (KG, {"n_convs": 60})
SMALL_CURATE = (Curate, {"n_docs": 2_000})


def make(spark, work, seed, spec):
    cls, params = spec
    return cls(spark, work, seed, **params)


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def setup(spark, work, seed, spec, repeats=SETUP_REPEATS, warm=True):
    """Generate the inputs ``repeats`` times, load them, warm up. Returns
    (workload, median generation seconds, warm-up seconds)."""
    w = make(spark, work, seed, spec)
    gen = [timed(w.prepare) for _ in range(repeats)]
    w.load()
    warm_s = timed(w.warmup) if warm else 0.0
    return w, statistics.median(gen), warm_s


def pinned(workload: str, seed: int) -> dict | None:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def check(out: dict, ref: dict | None, pin: dict | None) -> bool:
    """The output passes its own invariants and equals the reference (an
    earlier output of this run) and the pinned output, where those exist."""
    return out["ok"] and all(
        x is None or (out["rows"], out["digest"]) == (x["rows"], x["digest"]) for x in (ref, pin)
    )


def overhead(tr, label, fn, pairs=2) -> tuple[float, float]:
    """Alternates untraced and traced calls of ``fn``; returns the median
    traced wall and traced ÷ untraced − 1."""
    untraced, traced = [], []
    for _ in range(pairs):
        with tr.paused():
            untraced.append(timed(fn))
        traced.append(tr.timed_wall(label, fn))
    return statistics.median(traced), sum(traced) / sum(untraced) - 1.0


def traced_pass(spark, args, w, pin) -> dict:
    """Per-layer metrics, from one traced build and every layer probe. The
    family this workload does not run is probed on the SMALL_* inputs
    generated from the same seed. Tracing overhead compares traced with
    untraced calls made in this process: the curate chain on curate, a
    resumed run on kg_build (a second build would not fit the run's
    time budget)."""
    tr = layers.Tracer(spark)
    small = os.path.join(args.work, "small")
    m: dict[str, float] = {}
    if isinstance(w, KG):
        kg, docs = w, make(spark, small, args.seed, SMALL_CURATE)
    else:
        kg, docs = make(spark, small, args.seed, SMALL_KG), w
        m["trace.overhead_frac"] = overhead(tr, "curate.chain", w.call, pairs=1)[1]
        if not check(w.output(), None, pin):
            raise RuntimeError("curate output check failed")
        kg.prepare()
        kg.load()

    stages = tr.timed("pipeline.build", kg.build)
    kg_ref = kg.output()
    if not check(kg_ref, None, pin if kg is w else None):
        raise RuntimeError("build output check failed")
    m.update({f"stage.{s}_s": stages[s]["wall_s"] for s in STAGES})
    m["warehouse_mb"] = layers.dir_mb(kg.wh)
    m.update(layers.kg_probes(tr, kg, os.path.join(args.work, "probe_wh")))
    kg.resume_run()  # the first resume compiles materialize's plans; not timed
    m["resume.wall_s"], frac = overhead(tr, "pipeline.resume", kg.resume_run)
    if kg is w:
        m["trace.overhead_frac"] = frac
    if not check(kg.output(), kg_ref, None):
        raise RuntimeError("resumed output differs from the build's")
    _, big_surfaces = inputs.big_dictionary(spark, *BIG_DICT, args.seed)
    norm = Catalog(spark, kg.wh).read("transcripts_norm")
    m["extract.mentions_bigdict_s"] = tr.timed_wall(
        "extract.mentions_bigdict",
        lambda: layers.noop(layers.EX.extract_mentions(norm, spark.sparkContext.broadcast(big_surfaces))),
    )

    if docs is not w:
        docs.prepare()
        docs.load()
        docs.warmup()
    m.update(layers.curate_probes(tr, docs.docs))
    m["curate.survivor_ratio"] = docs.output()["rows"] / docs.n_in
    m.update(layers.from_labels(tr.close()))
    return m


def layer_unit(name: str) -> str:
    return next((u for suffix, u in LAYER_UNITS.items() if name.endswith(suffix)), "count")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    conf = {
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(args.work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update(layers.event_log_conf(args.work))
    spark = get_spark(master=MASTER, app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - T_START
    spec = WORKLOADS[args.workload]
    if args.pin:
        w = setup(spark, args.work, args.seed, spec, repeats=1, warm=False)[0]
        w.call()
        _write(args.work, {"ref": w.output()})
        spark.stop()
        return 0
    w, gen_s, warm_s = setup(spark, args.work, args.seed, spec)
    setup_s = session_s + gen_s + warm_s
    print(f"perfbench: setup {setup_s:.2f}s (session {session_s:.2f}, generate {gen_s:.2f}, "
          f"warm-up {warm_s:.2f})", flush=True)
    pin = pinned(args.workload, args.seed)
    if pin is None:
        print(f"perfbench: no pinned output for seed {args.seed}", flush=True)
    if args.trace:
        try:
            with proctree.PeakRss() as rss:
                metrics, failed = traced_pass(spark, args, w, pin), 0
            metrics["session.peak_rss_mb"] = rss.peak_mb
            metrics["session.heap_max_mb"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20  # noqa: SLF001
        except Exception:
            traceback.print_exc()
            metrics, failed = {}, 1
        _write(args.work, {
            "correct": failed == 0,
            "attempted": 1,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(metrics.items())},
        })
        spark.stop()
        return 0

    # timed calls until --seconds of calls have been measured
    ref = None
    walls, cpus, attempted, failed, measured = [], [], 0, 0, 0.0
    per_call_check = isinstance(w, KG)
    while attempted == 0 or measured < args.seconds:
        attempted += 1
        c0 = proctree.cpu_s()
        t = time.perf_counter()
        try:
            w.call()
            wall = time.perf_counter() - t
            cpu = proctree.cpu_s() - c0
            if per_call_check:
                out = w.output()
                ok = check(out, ref, pin)
                ref = ref or (out if ok else None)
            else:
                ok = True
        except Exception:  # a failed call is counted, never fatal
            traceback.print_exc()
            wall, ok = time.perf_counter() - t, False
        measured += wall
        if not ok:
            failed += 1
            continue
        walls.append(wall)
        cpus.append(cpu)
    if per_call_check:
        out = ref
    elif walls:
        out = w.output()
        if not check(out, None, pin):
            failed, walls = attempted, []
    print(f"perfbench: {len(walls)} of {attempted} calls ok, walls {[round(x, 3) for x in walls]}, "
          f"output {out if walls else None}", flush=True)

    metrics = {}
    if walls:
        metrics = {"wall_s": statistics.median(walls), "cpu_s": statistics.median(cpus), "setup_s": setup_s}
    _write(args.work, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
    })
    spark.stop()
    return 0


def _write(work: str, result: dict) -> None:
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    raise SystemExit(main())
