"""The benchmark's workloads.

Each workload is built from a seed and a private work directory.  `setup()`
makes its inputs and starting state, `reference()` computes what the checks
compare against (untimed, before the timed loop), `prepare(i)` readies the
input of operation i (untimed), `op(i, tracer)` runs one operation and
returns the items it completed, `check(i)` verifies that operation's output
(untimed), and `final_check()` verifies what the operations built together
(after the loop; if it fails, every operation counts as failed).  The
tracer argument wraps each call into a program module in a layer span; an
untimed run passes a NullTracer.
"""

from __future__ import annotations

import contextlib
import logging
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import replica
from shacl_js_spark.pipeline.emit import EX

DEDUP_THRESHOLD = 0.5
MAX_MISSED = 0.02  # share of planted near-duplicate pairs LSH may miss


@contextlib.contextmanager
def dedup_steps(tr):
    """Within the block, the dedup module's stages each run in a step span of
    `ops.dedup`, their outputs materialized there; the rest of
    minhash_jaccard_pairs (the exact-jaccard verify) is the layer's self
    time.  Buckets the LSH stage drops are noted from its log record."""
    from shacl_js_spark.ops import dedup

    class Dropped(logging.Handler):
        def emit(self, record):
            if record.msg.startswith("lsh_candidate_pairs: dropping"):
                tr.note("dropped_buckets", record.args[0])

    log = logging.getLogger(dedup.__name__)
    handler = Dropped()
    if tr.active:
        log.addHandler(handler)
    try:
        with tr.wrap(dedup, "shingles", "ops.dedup.shingles", materialize=True), \
                tr.wrap(dedup, "minhash_signatures", "ops.dedup.minhash_signatures",
                        materialize=True), \
                tr.wrap(dedup, "lsh_candidate_pairs", "ops.dedup.lsh_candidate_pairs",
                        materialize=True):
            yield
    finally:
        log.removeHandler(handler)


class KgBuild:
    """Raw documents -> near-duplicate screening (the later document of each
    pair is dropped) -> interleaved spans -> mentions -> links -> triples ->
    canonical triples -> a committed snapshot.  Items are triples committed."""

    name = "kg_build"
    N_DOCS = 2000
    N_DUPS = 200  # planted near copies among the N_DOCS

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.checksums: dict[int, str] = {}
        self.pairs = {}  # operation -> its near-duplicate pairs, until checked

    def setup(self) -> None:
        from shacl_js_spark.pipeline.snapshots import SnapshotCatalog

        self.docs, self.bases = inputs.kg_corpus(self.seed, self.N_DOCS, self.N_DUPS)
        self.docs_path = inputs.write_parquet(self.docs, f"{self.work}/docs.parquet")
        self.catalog = SnapshotCatalog(self.spark, f"{self.work}/catalog")

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int, tr) -> int:
        from pyspark.sql import functions as F

        from shacl_js_spark.ops import dedup
        from shacl_js_spark.pipeline.canonicalize import (
            alias_edges, canonicalize_triples, connected_components,
        )
        from shacl_js_spark.pipeline.emit import emit_triples
        from shacl_js_spark.pipeline.extract import extract_mentions
        from shacl_js_spark.pipeline.link import link_entities
        from shacl_js_spark.pipeline.synth import raw_to_interleaved

        spark = self.spark
        par = spark.sparkContext.defaultParallelism
        raw = spark.read.parquet(self.docs_path).repartition(par)
        with tr.layer("ops.dedup"), dedup_steps(tr):
            pairs = tr.materialize(dedup.minhash_jaccard_pairs(raw, DEDUP_THRESHOLD))
        self.pairs[i] = pairs
        if tr.active:  # outside the dedup layer: the benchmark's own job
            with tr.layer("kgbench.recall"):
                tr.note("missed_pairs", len(self.expected_pairs.keys() - self._pairs(i).keys()))
        # persisted at the fan-out points, as the repository's bench does:
        # docs feed extract and emit, links feed four emit branches
        with tr.layer("pipeline.synth"):
            kept = raw.join(pairs.select(F.col("b").alias("doc_id")), "doc_id", "left_anti")
            docs = tr.materialize(raw_to_interleaved(kept).persist())
        with tr.layer("pipeline.extract"):
            mentions = tr.materialize(extract_mentions(spark, docs))
        with tr.layer("pipeline.link"):
            links = tr.materialize(link_entities(spark, mentions).persist())
        with tr.layer("pipeline.emit"):
            raw_triples = tr.materialize(emit_triples(spark, docs, links))
        with tr.layer("pipeline.canonicalize"):
            mapping = connected_components(spark, alias_edges(spark))
            triples = tr.materialize(
                canonicalize_triples(spark, raw_triples, mapping, EX + "entity/")
            )
        with tr.layer("pipeline.snapshots"):
            manifest = self.catalog.commit("triples", triples, run_id=f"op{i}")
            tr.note("rows_out", manifest["rows"])
        docs.unpersist()
        links.unpersist()
        self.checksums[i] = manifest["checksum"]
        self.data_path = manifest["data_path"]
        return manifest["rows"]

    def reference(self) -> None:
        """The planted pairs' exact jaccard, the pairs the warm-up found, and
        the replica's triples of the documents that screening kept."""
        import pyarrow.compute as pc

        self.expected_pairs = inputs.planted_pairs(self.docs, self.bases, DEDUP_THRESHOLD)
        self.found = self._pairs(0)
        dropped = pa.array(sorted({b for _, b in self.found}), pa.int64())
        kept = self.docs.filter(pc.invert(pc.is_in(self.docs.column("doc_id"), dropped)))
        self.expected = f"{self.work}/expected.parquet"
        replica.write_triples(kept, self.expected)

    def _pairs(self, i: int) -> dict:
        return {(r["a"], r["b"]): r["jaccard"] for r in self.pairs[i].collect()}

    def pairs_ok(self, got: dict) -> bool:
        """Every reported pair is a planted pair with its exact jaccard, and
        at most MAX_MISSED of the planted pairs are missing.  LSH finds a
        pair with a probability, not surely, so recall is bounded, not
        required to be whole; `ops.dedup.missed_pairs` reports it."""
        exact = all(k in self.expected_pairs and abs(j - self.expected_pairs[k]) <= 1e-6
                    for k, j in got.items())
        return exact and len(self.expected_pairs) - len(got) <= MAX_MISSED * len(self.expected_pairs)

    def check(self, i: int) -> bool:
        """The near-duplicate pairs are exact (see `pairs_ok`) and the same
        as the warm-up's; the snapshot equals the replica row for row, and
        its checksum equals the warm-up's."""
        got = self._pairs(i)
        del self.pairs[i]
        con = replica.connect()
        try:
            same = replica.diff_count(con, self.expected, f"{self.data_path}/*.parquet") == 0
        finally:
            con.close()
        return (self.pairs_ok(got) and got == self.found and same
                and self.checksums[i] == self.checksums[0])

    def final_check(self) -> bool:
        return True


def report_rows(path: str) -> Counter:
    """Multiset of report rows, keyed by (source_shape, full record)."""
    t = pq.read_table(path)
    cols = [c for c in t.column_names if c != "bubble"]
    rows = zip(*(t.column(c).to_pylist() for c in cols))
    i = cols.index("source_shape")
    return Counter((r[i], r) for r in rows)


def shape_mismatches(actual: Counter, expected: Counter, must_fail, must_pass) -> list[str]:
    """Names of the property shapes whose rows differ between the wide report
    and the single-shape runs, or whose violation count contradicts the
    shape's design (must_fail shapes report rows, must_pass shapes none)."""
    by_shape: dict[str, list[Counter]] = {}
    for which, counter in enumerate((actual, expected)):
        for (shape, row), n in counter.items():
            by_shape.setdefault(shape, [Counter(), Counter()])[which][row] = n
    bad = sorted(s for s, (a, e) in by_shape.items() if a != e)
    bad += [s for s in must_fail if not any(k[0] == s for k in actual)]
    bad += [s for s in must_pass if any(k[0] == s for k in actual)]
    return bad


class ShaclWide:
    """One Engine over a persisted KG with a wide shape set; one operation
    parses the shapes, builds the report and writes it to parquet.  Items
    are data triples validated."""

    name = "shacl_wide"
    N_DOCS = 2000
    N_SHAPES = 14  # the ten constraint families, then the four violating variants

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.decls = inputs.shape_decls(self.N_SHAPES)
        self.ttl = inputs.shapes_ttl(self.decls)
        prop = {fails: [f"<{EX}{name}P>" for name, _, f in self.decls if f is fails]
                for fails in (True, False)}
        self.must_fail, self.must_pass = prop[True], prop[False]

    def setup(self) -> None:
        kg = f"{self.work}/kg.parquet"
        replica.write_triples(inputs.kg_documents(self.seed, self.N_DOCS), kg)
        par = self.spark.sparkContext.defaultParallelism
        self.triples = self.spark.read.parquet(kg).repartition(par, "s").persist()
        self.n_triples = self.triples.count()

    def prepare(self, i: int) -> None:
        pass

    def _report_path(self, i) -> str:
        return f"{self.work}/report/op{i}"

    def op(self, i: int, tr) -> int:
        from shacl_js_spark import validation
        from shacl_js_spark.localgraph import LocalGraph

        # the shapes layer is the turtle parse plus the ShapesIR compile
        # that Engine runs in its constructor
        with tr.layer("shapes"):
            shapes = LocalGraph.from_turtle(self.ttl)
        with tr.layer("validation.build"), tr.wrap(validation, "ShapesIR", "shapes"):
            engine = validation.Engine(self.spark, self.triples, shapes)
            report = engine.report_df()
        with tr.layer("validation.action"):
            report.write.mode("overwrite").parquet(self._report_path(i))
        engine.release()
        return self.n_triples

    def reference(self) -> None:
        """Each shape validated alone, by its own Engine; all single-shape
        reports are written by one action."""
        from shacl_js_spark.localgraph import LocalGraph
        from shacl_js_spark.validation import Engine

        engines = [
            Engine(self.spark, self.triples,
                   LocalGraph.from_turtle(inputs.shapes_ttl([decl])))
            for decl in self.decls
        ]
        union = engines[0].report_df()
        for e in engines[1:]:
            union = union.unionByName(e.report_df())
        path = f"{self.work}/expected"
        union.write.mode("overwrite").parquet(path)
        for e in engines:
            e.release()
        self.expected = report_rows(path)

    def check(self, i: int) -> bool:
        """Per shape, the wide report's rows equal those of a single-shape
        run; the three failing variants report violations, the control none."""
        actual = report_rows(self._report_path(i))
        return not shape_mismatches(actual, self.expected, self.must_fail, self.must_pass)

    def final_check(self) -> bool:
        return True


def _bucket_dirs(report_dir: str) -> dict[str, int]:
    """Bucket directory of the report store -> its inode (a rewritten
    bucket is swapped in as a new directory)."""
    if not os.path.isdir(report_dir):
        return {}
    return {e: os.stat(os.path.join(report_dir, e)).st_ino
            for e in os.listdir(report_dir) if e.startswith("bucket=")}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class ShaclStream:
    """An IncrementalValidator over a seeded graph and bucketed report store;
    one operation applies a delta of DELTA_TRIPLES triples with
    `process_batch`, then reads `report()`.  Items are delta triples applied."""

    name = "shacl_stream"
    N_DOCS = 1000  # documents of the seeded graph
    # a delta is a seeded sample of the triples of the next BATCH_DOCS
    # documents (520-640 of them), so every delta has the same size
    BATCH_DOCS = 8
    DELTA_TRIPLES = 400
    MAX_BATCHES = 100
    N_SHAPES = 4  # the four violating variants

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.ttl = inputs.shapes_ttl(inputs.shape_decls(self.N_SHAPES))

    def _write(self, triples: pa.Table, name: str) -> str:
        path = f"{self.work}/delta/{name}.parquet"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(triples, path)
        return path

    def setup(self) -> None:
        from shacl_js_spark.localgraph import LocalGraph
        from shacl_js_spark.streaming.incremental import IncrementalValidator

        self.docs = inputs.kg_documents(
            self.seed, self.N_DOCS + self.BATCH_DOCS * self.MAX_BATCHES
        )
        self.applied = [self._write(replica.kg_triples(self.docs.slice(0, self.N_DOCS)), "seed")]
        self.v = IncrementalValidator(
            self.spark, LocalGraph.from_turtle(self.ttl), f"{self.work}/stream"
        )
        self.v.process_batch(self.spark.read.parquet(self.applied[0]), 0)

    def prepare(self, i: int) -> None:
        """Untimed: the delta of operation i, written as parquet."""
        if i >= self.MAX_BATCHES:
            raise RuntimeError(f"more than {self.MAX_BATCHES} batches")
        batch = replica.kg_triples(
            self.docs.slice(self.N_DOCS + i * self.BATCH_DOCS, self.BATCH_DOCS)
        )
        rng = np.random.default_rng([self.seed, i])
        pick = np.sort(rng.choice(batch.num_rows, self.DELTA_TRIPLES, replace=False))
        path = self._write(batch.take(pick), f"op{i}")
        self.delta = self.spark.read.parquet(path)
        self.applied.append(path)

    @contextlib.contextmanager
    def _steps(self, tr):
        """Traced: the graph append, the engine's evaluation of the
        re-validated rows and the bucket upsert each run in a step span of
        `streaming.incremental` (all three are parquet writes of the batch
        callback; the upsert's rows are materialized in the engine step);
        then the buckets rewritten and their bytes per delta byte are noted."""
        from pyspark.sql.readwriter import DataFrameWriter

        if not tr.active:
            yield
            return
        v = self.v

        def parquet(orig, writer, path, *args, **kwargs):
            if path == v.graph_dir:
                with tr.layer("streaming.incremental.graph_append"):
                    return orig(writer, path, *args, **kwargs)
            with tr.layer("streaming.incremental.engine"):
                tr.materialize(writer._df)
            with tr.layer("streaming.incremental.bucket_upsert"):
                return orig(writer, path, *args, **kwargs)

        before, graph_before = _bucket_dirs(v.report_dir), _tree_bytes(v.graph_dir)
        with tr.patch(DataFrameWriter, "parquet", parquet):
            yield
        after = _bucket_dirs(v.report_dir)
        rewritten = [b for b, ino in after.items() if before.get(b) != ino]
        delta_bytes = _tree_bytes(v.graph_dir) - graph_before
        tr.note("buckets_rewritten", len(rewritten))
        tr.note("bytes_rewritten_per_delta_byte", sum(
            _tree_bytes(os.path.join(v.report_dir, b)) for b in rewritten) / delta_bytes)

    def op(self, i: int, tr) -> int:
        with tr.layer("streaming.incremental"):
            with self._steps(tr):
                self.v.process_batch(self.delta, i + 1)
            self.v.report().count()
        return self.DELTA_TRIPLES

    def reference(self) -> None:
        pass

    def check(self, i: int) -> bool:
        """Per operation nothing: the report store is cumulative, so
        `final_check` verifies every batch at once."""
        return True

    def final_check(self) -> bool:
        """The report store equals the report of one Engine over the
        accumulated graph (the seed and every applied delta, distinct)."""
        from shacl_js_spark.localgraph import LocalGraph
        from shacl_js_spark.validation import VIOL_COLS, Engine

        cols = [c for c in VIOL_COLS if c != "bubble"]  # report_df() has no bubble
        graph = self.spark.read.parquet(*self.applied).distinct()
        engine = Engine(self.spark, graph, LocalGraph.from_turtle(self.ttl))
        expected = Counter(tuple(r) for r in engine.report_df().select(*cols).collect())
        engine.release()
        actual = Counter(tuple(r) for r in self.v.report().select(*cols).collect())
        return actual == expected and len(actual) > 0


WORKLOADS = {w.name: w for w in (KgBuild, ShaclWide, ShaclStream)}

# Per-layer metrics of the traced run.  Each layer reports COMMON_METRICS
# plus its extras; a layer a workload does not run reports 0.
COMMON_METRICS = ("wall_s", "self_s", "driver_s", "py4j_calls", "jobs", "tasks",
                  "exec_run_s", "shuffle_write_mb", "spill_mb")
LAYERS = {
    "ops.dedup": ("rows_out",),
    "pipeline.synth": ("rows_out",),
    "pipeline.extract": ("rows_out",),
    "pipeline.link": ("rows_out",),
    "pipeline.emit": ("rows_out",),
    "pipeline.canonicalize": ("rows_out",),
    "pipeline.snapshots": ("rows_out", "write_mb"),
    "shapes": (),
    "validation.build": ("driver_only_s",),
    "validation.action": ("write_mb", "exec_busy_share"),
    "streaming.incremental": ("buckets_rewritten", "bytes_rewritten_per_delta_byte"),
}
# metric -> the step span whose wall time it is
STEPS = {
    "ops.dedup.shingles_s": "ops.dedup.shingles",
    "ops.dedup.minhash_signatures_s": "ops.dedup.minhash_signatures",
    "ops.dedup.lsh_candidate_pairs_s": "ops.dedup.lsh_candidate_pairs",
    "streaming.incremental.graph_append_s": "streaming.incremental.graph_append",
    "streaming.incremental.engine_s": "streaming.incremental.engine",
    "streaming.incremental.bucket_upsert_s": "streaming.incremental.bucket_upsert",
}
COUNTS = ("py4j_calls", "jobs", "tasks", "rows_out", "buckets_rewritten", "candidates",
          "dropped_buckets", "missed_pairs")
RATIOS = ("exec_busy_share", "bytes_rewritten_per_delta_byte", "pair_yield")


def layer_metrics(t) -> dict[str, float]:
    """One traced operation's per-layer metrics from its `layer_totals`."""
    def get(span, m):
        return t[span].get(m, 0.0) if span in t else 0.0

    out = {f"{layer}.{m}": get(layer, m)
           for layer, extra in LAYERS.items() for m in COMMON_METRICS + extra}
    out.update({metric: get(span, "wall_s") for metric, span in STEPS.items()})
    cands = get("ops.dedup.lsh_candidate_pairs", "rows_out")
    out["ops.dedup.candidates"] = cands
    out["ops.dedup.pair_yield"] = out["ops.dedup.rows_out"] / cands if cands else 0.0
    out["ops.dedup.dropped_buckets"] = get("ops.dedup.lsh_candidate_pairs", "dropped_buckets")
    out["ops.dedup.missed_pairs"] = get("kgbench.recall", "missed_pairs")
    return out


def unit(metric: str) -> str:
    m = metric.rsplit(".", 1)[1]
    if m in COUNTS:
        return "count"
    if m in RATIOS:
        return "ratio"
    return "MB" if m.endswith("_mb") else "s"
