"""The three benchmark workloads: inputs, one pass, and its correctness gate.

Each workload calls only the engine's public functions. ``run_pass``
returns the outputs the gate needs; ``check`` may run Spark jobs of its own
and is never inside a timed region. Spans (see tracing.py) bracket each
public call; with tracing off they only take timestamps.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landlensdb_spark import synth
from landlensdb_spark.checkpoint import CheckpointTable
from landlensdb_spark.entry_queries import corpus_prep_over
from landlensdb_spark.extract import extract_geotags
from landlensdb_spark.operators.fused import extract_pip
from landlensdb_spark.operators.knn import knn_join
from landlensdb_spark.operators.snap import snap_to_network
from landlensdb_spark.operators.tiles import assign_tiles, tile_stats
from landlensdb_spark.pipeline import run_geo_pipeline

from perfbench import inputs

MB = 1024 * 1024


def size_splits(spark: SparkSession, total_bytes: int) -> None:
    """bench.py's split rule: ~4 tasks per core over the input bytes,
    clamped to [4 MB, 128 MB]."""
    cpus = spark.sparkContext.defaultParallelism
    split = min(max(total_bytes // (4 * cpus), 4 * MB), 128 * MB)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(MB))


def table_hash(df: DataFrame) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of a DataFrame."""
    h = F.pmod(F.xxhash64(*df.columns), F.lit(1 << 40))
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


class Workload:
    """Base: ``name``, ``queries`` per pass, inputs and ``input_rows``."""

    name = ""
    queries: tuple[str, ...] = ()
    layers: tuple[str, ...] = ()

    def __init__(self, sizes: dict, seed: int, cache: inputs.InputCache, work_dir: str):
        self.sizes = sizes
        self.seed = seed
        self.cache = cache
        self.work_dir = work_dir

    def generate(self) -> None:
        """Write missing cached inputs; runs before the Spark session starts."""

    def prep(self, spark: SparkSession) -> None:
        """Read the inputs and build the dimension tables (timed set-up)."""

    def run_pass(self, spark: SparkSession, tr) -> dict:
        raise NotImplementedError

    def check(self, spark: SparkSession, out: dict) -> list[str]:
        """Names of the queries whose output is wrong."""
        raise NotImplementedError

    def decompose(self, spark: SparkSession, tr) -> None:
        """Traced-only layer split of the workload's input (default: none)."""


class _PagesWorkload(Workload):
    clustered = False

    def generate(self):
        self.cache.generate_pages(self.seed, self.sizes["rows"], self.clustered)

    def prep(self, spark):
        path = self.cache.pages(self.seed, self.sizes["rows"], self.clustered)
        self.input_bytes = inputs.parquet_bytes([path])
        size_splits(spark, self.input_bytes)
        self.pages = spark.read.parquet(path)
        n = self.pages.count()
        if n != self.sizes["rows"]:
            raise RuntimeError(f"cached pages hold {n} rows, expected {self.sizes['rows']}")
        self.input_rows = n
        self.polys = synth.admin_polygons(spark)
        self.expected_tagged = inputs.expected_tagged(self.seed, n)

    def decompose(self, spark, tr):
        """scan -> noop sink, identity mapInArrow, extraction alone and the
        fused operator alone, each over the same pages; then the tile
        rollups alone, over the fused and extraction outputs cached first,
        so that no extraction work lands in ``tiles``."""
        cols = self.pages.select("url", "html")

        def identity(batches):
            yield from batches

        with tr.layer("scan"), tr.part("noop"):
            cols.write.format("noop").mode("overwrite").save()
        with tr.layer("arrow_boundary"), tr.part("identity"):
            cols.mapInArrow(identity, cols.schema).count()
        with tr.layer("extract") as s:
            with tr.part("construct"):
                geo = extract_geotags(self.pages, with_text=False, keep=["url"])
            with tr.part("action"):
                s.counters["tagged_ratio"] = geo.count() / self.input_rows
        with tr.layer("fused") as s:
            with tr.part("construct"):
                joined = extract_pip(self.pages, self.polys, keep=["url", "lang"])
            with tr.part("action"):
                s.counters["rows_out"] = joined.count()
        joined = joined.cache()
        geo = geo.select("url", "lon", "lat").cache()
        joined.count(), geo.count()
        with tr.layer("tiles"), tr.part("rollup"):
            assign_tiles(joined).groupBy("admin_id", "tile_x", "tile_y").count().count()
            tile_stats(geo, zoom=12).count()
        joined.unpersist(), geo.unpersist()


class GeotagScan(_PagesWorkload):
    """extract_pip -> assign_tiles -> rollup, then extract_geotags ->
    tile_stats(zoom=12), over clustered pages."""

    name = "geotag_scan"
    queries = ("extract_pip_tile", "tile_export")
    layers = ("scan", "arrow_boundary", "extract", "fused", "tiles")
    clustered = True

    def run_pass(self, spark, tr):
        # the actions run the whole chain, so they time no layer: the
        # layer split comes from decompose
        with tr.layer("fused"), tr.part("construct"):
            joined = extract_pip(self.pages, self.polys, keep=["url", "lang"])
        rollup = assign_tiles(joined).groupBy("admin_id", "tile_x", "tile_y").count()
        r = rollup.agg(F.count(F.lit(1)).alias("groups"), F.sum("count").alias("rows")).first()
        with tr.layer("extract"), tr.part("construct"):
            geo = extract_geotags(self.pages, with_text=False, keep=["url"])
        stats = tile_stats(geo.select("url", "lon", "lat"), zoom=12)
        t = stats.agg(F.count(F.lit(1)).alias("groups"), F.sum("n_records").alias("rows")).first()
        return {
            "tiles": r["groups"],
            "tile_rows": r["rows"],
            "export_tiles": t["groups"],
            "export_rows": t["rows"],
        }

    def check(self, spark, out):
        bad = []
        # every tagged page lands in exactly one admin polygon and one tile
        if out["tile_rows"] != self.expected_tagged:
            bad.append("extract_pip_tile")
        if out["export_rows"] != self.expected_tagged:
            bad.append("tile_export")
        return bad


class DriverBound(Workload):
    """kNN, snap and corpus_prep: html-free, at bench.py's sf0.1 shape."""

    name = "driver_bound"
    queries = ("knn", "snap", "corpus_prep")
    layers = ("knn", "snap", "corpus_prep")

    def generate(self):
        self.cache.documents(self.seed, self.sizes["documents"])

    def prep(self, spark):
        sz = self.sizes
        self.docs_path = self.cache.documents(self.seed, sz["documents"])
        n_docs = spark.read.parquet(self.docs_path).count()
        if n_docs != sz["documents"]:
            raise RuntimeError(f"documents hold {n_docs} rows, expected {sz['documents']}")
        self.points = inputs.probe_points(spark, self.seed, sz["knn_points"], "point_id")
        self.probes = inputs.knn_probes(spark, self.seed, sz["knn_probes"])
        self.snap_probes = inputs.probe_points(spark, self.seed, sz["snap_probes"], "key")
        self.network = synth.road_network(spark)
        self.input_rows = sz["knn_points"] + sz["knn_probes"] + sz["snap_probes"] + n_docs

    def run_pass(self, spark, tr):
        sz = self.sizes
        with tr.layer("knn"):
            with tr.part("construct"):
                nn = knn_join(
                    self.probes,
                    self.points,
                    k=sz["k"],
                    broadcast_probes=sz["knn_probes"] <= 10_000,
                )
            with tr.part("action"):
                knn_rows = nn.count()
        with tr.layer("snap") as s:
            with tr.part("construct"):
                snapped = snap_to_network(self.snap_probes, self.network, tolerance_m=sz["tolerance_m"])
            with tr.part("action"):
                hits = snapped.filter(F.col("line_id").isNotNull()).count()
            s.counters["hit_ratio"] = hits / sz["snap_probes"]
        with tr.layer("corpus_prep"):
            with tr.part("construct"):
                prepped = corpus_prep_over(spark.read.parquet(self.docs_path))
            with tr.part("action"):
                docs = prepped.count()
        return {"knn_rows": knn_rows, "snapped": hits, "corpus_docs": docs}

    def check(self, spark, out):
        sz = self.sizes
        bad = []
        if out["knn_rows"] != sz["k"] * sz["knn_probes"]:
            bad.append("knn")
        if not 0 < out["snapped"] <= sz["snap_probes"]:
            bad.append("snap")
        if not 0 < out["corpus_docs"] <= sz["documents"]:
            bad.append("corpus_prep")
        return bad


class TracedCheckpoint(CheckpointTable):
    """CheckpointTable whose pending/log calls open ``checkpoint`` spans."""

    def __init__(self, spark, path, tracer):
        super().__init__(spark, path)
        self.tracer = tracer

    def pending(self, work, stage, unit_col):
        with self.tracer.layer("checkpoint"), self.tracer.part("pending"):
            return super().pending(work, stage, unit_col)

    def log(self, rows):
        with self.tracer.layer("checkpoint"), self.tracer.part("log"):
            super().log(rows)


class ResumeWrite(_PagesWorkload):
    """run_geo_pipeline: a crash-injected run, the resume and a no-op
    re-run into fresh directories, over uniform pages."""

    name = "resume_write"
    queries = ("crash_run", "resume", "noop_rerun")
    layers = ("pipeline", "checkpoint", "scan", "arrow_boundary", "extract", "fused")
    clustered = False
    _reference = None

    def _run(self, spark, out_dir, ckpt, fail=None):
        return run_geo_pipeline(
            spark,
            self.pages,
            self.polys,
            out_dir,
            ckpt,
            n_buckets=self.sizes["buckets"],
            fail_buckets=fail,
        )

    def run_pass(self, spark, tr):
        n_buckets = self.sizes["buckets"]
        pass_dir = os.path.join(self.work_dir, f"pipeline_{tr.pass_id}")
        shutil.rmtree(pass_dir, ignore_errors=True)
        out_dir = os.path.join(pass_dir, "out")
        ckpt = TracedCheckpoint(spark, os.path.join(pass_dir, "ckpt"), tr)
        with tr.layer("pipeline") as s:
            with tr.part("crash_run"):
                crash = self._run(spark, out_dir, ckpt, set(range(self.sizes["fail_buckets"])))
            with tr.part("resume"):
                resume = self._run(spark, out_dir, ckpt)
            with tr.part("noop_rerun"):
                noop = self._run(spark, out_dir, ckpt)
        written = inputs.parquet_bytes([pass_dir])
        s.counters["skip_ratio"] = (n_buckets - resume["pending_before"]) / n_buckets
        s.counters["bytes_written"] = written
        s.counters["bytes_out_per_in"] = written / self.input_bytes
        return {"dir": pass_dir, "ckpt": ckpt, "runs": (crash, resume, noop)}

    def reference_hash(self, spark) -> list[int]:
        """(rows, hash) of the final table of one uninterrupted run over the
        same pages by the same code; computed once per run, off the clock."""
        if self._reference is None:
            ref_dir = os.path.join(self.work_dir, "pipeline_reference")
            shutil.rmtree(ref_dir, ignore_errors=True)
            ckpt = CheckpointTable(spark, os.path.join(ref_dir, "ckpt"))
            self._run(spark, os.path.join(ref_dir, "out"), ckpt)
            self._reference = list(table_hash(spark.read.parquet(os.path.join(ref_dir, "out"))))
            shutil.rmtree(ref_dir)
        return self._reference

    def check(self, spark, out):
        crash, resume, noop = out["runs"]
        fail = self.sizes["fail_buckets"]
        n_buckets = self.sizes["buckets"]
        bad = []
        if crash["processed_units"] != n_buckets - fail:
            bad.append("crash_run")
        lineage = out["ckpt"].metrics().agg(F.sum("rows_in").alias("rows_in")).first()
        final = list(table_hash(spark.read.parquet(os.path.join(out["dir"], "out"))))
        if (
            resume["processed_units"] != fail
            or lineage["rows_in"] != self.input_rows
            or final[0] != self.expected_tagged
            or final != self.reference_hash(spark)
        ):
            bad.append("resume")
        if noop["processed_units"] != 0:
            bad.append("noop_rerun")
        shutil.rmtree(out["dir"], ignore_errors=True)
        return bad


WORKLOADS = {w.name: w for w in (GeotagScan, DriverBound, ResumeWrite)}
