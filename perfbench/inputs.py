"""Seeded benchmark inputs, generated through the engine's public generators.

Pages come from :func:`landlensdb_spark.tables.build_page_row` over the
row-id range ``[seed * rows, (seed + 1) * rows)``, so two seeds never share a
page. They are written by a pool of plain Python processes (no JVM) and
cached as one parquet directory per (seed, rows, clustered), renamed into
place once complete. kNN/snap keys are lazy ``spark.range`` columns through
``synth.probe_*_col`` (as in bench.py), shifted the same way, and need no
cache. Documents for corpus_prep are drawn from a numpy generator seeded
with the seed and written as one parquet file, so the corpus_prep input
arrives in one split exactly as bench.py's documents table does.
"""

from __future__ import annotations

import multiprocessing
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from landlensdb_spark import synth, tables

SEED_PERIOD = 1000  # keeps every shifted key far below synth's int64 limit
FILE_ROWS = 12_500  # pages per parquet file (at least 8 files per input)

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def key_offset(seed: int, span: int) -> int:
    """First key of a seed's input whose keys fill a range of ``span``
    (seed 0 gives bench.py's keys)."""
    return (seed % SEED_PERIOD) * span


def _write_pages(task: tuple[str, int, int, bool]) -> None:
    path, start, stop, clustered = task
    rows = [tables.build_page_row(i, clustered) for i in range(start, stop)]
    url, ts, html, text, lang = zip(*rows)
    table = pa.table(
        [
            pa.array(url, pa.string()),
            pa.array([t * 1_000_000 for t in ts], pa.int64()).cast(PAGES_ARROW.field("warc_ts").type),
            pa.array(html, pa.binary()),
            pa.array(text, pa.string()),
            pa.array(lang, pa.string()),
        ],
        schema=PAGES_ARROW,
    )
    pq.write_table(table, path, compression="zstd")


class InputCache:
    """Parquet inputs under ``root``."""

    def __init__(self, root: str):
        self.root = root

    def pages(self, seed: int, rows: int, clustered: bool) -> str:
        kind = "clustered" if clustered else "uniform"
        return os.path.join(self.root, f"pages_{kind}_{rows}_{seed}")

    def generate_pages(self, seed: int, rows: int, clustered: bool) -> None:
        """Write a seed's pages unless they are cached; the Spark session
        must not be running yet, so that none of this work lands in it."""
        path = self.pages(seed, rows, clustered)
        if os.path.isdir(path):
            return
        staging = f"{path}.staging-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        first = key_offset(seed, rows)
        bounds = np.linspace(first, first + rows, max(8, rows // FILE_ROWS) + 1).astype(np.int64)
        tasks = [
            (os.path.join(staging, f"part-{n:05d}.parquet"), int(a), int(b), clustered)
            for n, (a, b) in enumerate(zip(bounds[:-1], bounds[1:]))
        ]
        workers = min(len(os.sched_getaffinity(0)), len(tasks))
        try:
            with multiprocessing.get_context("spawn").Pool(workers) as pool:
                pool.map(_write_pages, tasks)
            if not os.path.isdir(path):  # another run may have written it
                os.replace(staging, path)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def documents(self, seed: int, n: int) -> str:
        """One parquet file of ``n`` generated documents (doc_id, text)."""
        path = os.path.join(self.root, f"documents_{n}_{seed}.parquet")
        if not os.path.exists(path):
            os.makedirs(self.root, exist_ok=True)
            pq.write_table(build_documents(seed, n), path + ".tmp")
            os.replace(path + ".tmp", path)
        return path


def build_documents(seed: int, n: int) -> pa.Table:
    """Word-salad documents shaped like the sf0.1 documents table: 10-100
    words from a 30-word vocabulary, with every 20th document repeating an
    earlier one so the exact-dedup stage has work to do."""
    rng = np.random.default_rng(abs(seed))
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(_DOC_WORDS), size=int(lengths.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lengths):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(_DOC_WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    doc_ids = np.arange(n, dtype=np.int64) + key_offset(seed, n)
    langs = [_DOC_LANGS[i % len(_DOC_LANGS)] for i in range(n)]
    return pa.table({"doc_id": doc_ids, "text": texts, "lang": langs})


def probe_points(spark: SparkSession, seed: int, n: int, id_col: str) -> DataFrame:
    """``n`` points of the dense probe window, keys shifted by the seed."""
    k = F.col("id") + F.lit(key_offset(seed, n))
    return spark.range(n).select(
        k.alias(id_col), synth.probe_lon_col(k).alias("lon"), synth.probe_lat_col(k).alias("lat")
    )


def knn_probes(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """bench.py's kNN probe set (keys 13 i + 7), shifted by the seed."""
    pk = F.col("id") * 13 + 7 + F.lit(key_offset(seed, 13 * n))
    return spark.range(n).select(
        pk.alias("probe_id"),
        synth.probe_lon_col(pk).alias("lon"),
        synth.probe_lat_col(pk).alias("lat"),
    )


def expected_tagged(seed: int, rows: int) -> int:
    """Pages carrying a geotag, from the generator's own numpy predicate."""
    ids = np.arange(rows, dtype=np.int64) + key_offset(seed, rows)
    return int(tables.np_has_geo(ids).sum())


def parquet_bytes(paths: list[str]) -> int:
    """Bytes of the parquet files under ``paths`` (recursively)."""
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if f.endswith(".parquet")
            )
    return total
