"""The runner's workloads reproduce bench.py's frozen checks at seed 0.

bench.py at sf0.1 (600k clustered pages) prints ``checks``: tiles 240029,
snapped 43128, knn_rows 20000, export_tiles 240007, corpus_docs 3221. At
seed 0 the runner draws the same row ids and keys, so one pass of each
workload at bench.py's sizes must give the same counts. corpus_docs needs
bench.py's documents table: set ``SPARK_GRAFT_SF_DIR`` to the sf0.1
directory, as for bench.py; without it that check is skipped.

    python3 -m pytest perfbench/test_run.py -q

Takes a few minutes on 4 cores (it writes 600k pages once).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, workloads  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

BENCH_CHECKS = {
    "tiles": 240029,
    "snapped": 43128,
    "knn_rows": 20000,
    "export_tiles": 240007,
    "corpus_docs": 3221,
}


@pytest.fixture(scope="module")
def spark():
    from landlensdb_spark.session import get_spark

    # Python workers import the package through PYTHONPATH, as in run.py
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    cpus = len(os.sched_getaffinity(0))
    s = get_spark("perfbench-test", master=f"local[{cpus}]", shuffle_partitions=max(2 * cpus, 16))
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def cfg():
    with open(os.path.join(ROOT, "perfbench", "workloads.json")) as fh:
        return json.load(fh)


def _one_pass(spark, wl):
    wl.generate()
    wl.prep(spark)
    out = wl.run_pass(spark, Tracer(spark, wl.name, "test", False))
    assert wl.check(spark, out) == []
    return out


def test_geotag_scan_matches_bench(spark, cfg, tmp_path):
    sizes = {**cfg["workloads"]["geotag_scan"], "rows": 600_000}
    wl = workloads.GeotagScan(sizes, 0, inputs.InputCache(str(tmp_path)), str(tmp_path))
    out = _one_pass(spark, wl)
    assert out["tiles"] == BENCH_CHECKS["tiles"]
    assert out["export_tiles"] == BENCH_CHECKS["export_tiles"]


def test_driver_bound_matches_bench(spark, cfg, tmp_path):
    wl = workloads.DriverBound(
        cfg["workloads"]["driver_bound"], 0, inputs.InputCache(str(tmp_path)), str(tmp_path)
    )
    out = _one_pass(spark, wl)
    assert out["knn_rows"] == BENCH_CHECKS["knn_rows"]
    assert out["snapped"] == BENCH_CHECKS["snapped"]


def test_corpus_prep_matches_bench(spark):
    from landlensdb_spark.entry_queries import corpus_prep_over

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    docs = os.path.join(sf_dir or "", "documents.parquet")
    if not sf_dir or not os.path.exists(docs):
        pytest.skip("SPARK_GRAFT_SF_DIR does not name bench.py's sf0.1 directory")
    assert corpus_prep_over(spark.read.parquet(docs)).count() == BENCH_CHECKS["corpus_docs"]


def test_resume_write_passes_its_gate(spark, cfg, tmp_path):
    sizes = {**cfg["workloads"]["resume_write"], **cfg["probe_sizes"]["resume_write"]}
    wl = workloads.ResumeWrite(sizes, 3, inputs.InputCache(str(tmp_path)), str(tmp_path))
    _one_pass(spark, wl)


def test_gate_catches_a_wrong_count(spark, cfg, tmp_path):
    sizes = {**cfg["workloads"]["geotag_scan"], **cfg["probe_sizes"]["geotag_scan"]}
    wl = workloads.GeotagScan(sizes, 2, inputs.InputCache(str(tmp_path)), str(tmp_path))
    out = _one_pass(spark, wl)
    assert wl.check(spark, {**out, "tile_rows": out["tile_rows"] - 1}) == ["extract_pip_tile"]


def test_inputs_follow_the_seed():
    a, b = inputs.build_documents(1, 200), inputs.build_documents(1, 200)
    assert a.equals(b)
    assert not a.equals(inputs.build_documents(2, 200))
    # seed s draws ids [s * n, (s + 1) * n): no two seeds share an input row
    assert inputs.key_offset(0, 600_000) == 0
    assert inputs.key_offset(3, 600_000) == 1_800_000
