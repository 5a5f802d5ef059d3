"""Byte-range I/O seam and the chunked-scan skeleton.

Every ranged reader reduces file access to one primitive: open a
path, ``seek``, ``read`` a length — the reference's VSI layer
(port/cpl_vsil*.cpp VSIFOpenL/SeekL/ReadL, with /vsis3/, /vsigs/, …
backends). Readers take an ``opener``: a PICKLABLE callable ``path ->
binary file-like with seek/read``, default :func:`local_opener`. An
object-store cluster passes an fsspec-style opener (s3fs/gcsfs file
objects turn seek+read into ranged GETs) and nothing else changes.
:class:`PrefixOpener` is the test instrument: it remaps paths, so a
read that bypasses the opener fails loudly. The sqlite readers
(GeoPackage, MBTiles) sit outside the seam: sqlite opens a path, so
an object store needs a download-to-scratch step first.

:func:`scan_chunks` is the one way a chunked reader becomes Spark
tasks. The driver reads only metadata (headers, indexes, rowid
bounds) and plans chunk descriptors that are O(chunks), never one
entry per record, because they ride the task closure: FlatGeobuf
byte runs, Shapefile ``(file, first_rec, end_rec)``, an OSM PBF byte
range of consecutive blobs, GeoPackage ``(file, rowid_lo,
rowid_hi)``, MBTiles rowid ranges, one GeoJSON path. Each chunk is
ONE task, placed by ``spark.range(0, n, 1, n)``: no sampling job, no
exchange, no cap, so ``*_per_task`` arguments mean what they say.

Outside the skeleton on purpose: ``read_pmtiles`` and
``read_gtiff_ranged`` (their chunk tables are per-record index rows —
tile directory entries, the block index built in tasks — so they stay
row-borne); ``read_gtiff`` and ``gtiff_meta_df`` (they read through
Spark's ``binaryFile``, i.e. Hadoop FS); and the granule sinks with
their ``rdd.getNumPartitions()`` probe.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def local_opener(path: str):
    """The default: shared-FS / POSIX open."""
    return open(path, "rb")


class PrefixOpener:
    """Picklable opener that serves ``path`` from ``path + suffix`` —
    a stand-in for a remote-FS scheme translation. Any byte read that
    bypasses the opener (a bare ``open(path)``) misses the shadow
    file and fails, which is exactly what the tests pin."""

    def __init__(self, suffix: str = ".shadow"):
        self.suffix = suffix

    def __call__(self, path: str):
        return open(path + self.suffix, "rb")


def scan_chunks(
    spark: SparkSession,
    chunks: Sequence,
    read_chunk: Callable[[object], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """One task per chunk: task ``i`` yields ``read_chunk(chunks[i])``
    (a pandas frame matching ``schema``; empty frames are dropped).
    ``chunks`` and ``read_chunk`` must pickle; both ship with every
    task."""
    n = len(chunks)
    if n == 0:
        return spark.createDataFrame([], schema)

    def gen(batches):
        for b in batches:
            for cid in b["id"]:
                pdf = read_chunk(chunks[int(cid)])
                if len(pdf):
                    yield pdf

    return spark.range(0, n, 1, n).mapInPandas(gen, schema)
