"""Byte-range I/O seam, the chunked-scan skeleton and the granule sink.

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
Spark's ``binaryFile``, i.e. Hadoop FS).

:func:`write_granules` is the one granule sink: the FlatGeobuf,
GeoJSONSeq, GeoParquet, GeoPackage and Shapefile writers supply only
an encoder and their manifest columns. :func:`commit` is the one
publish step for every file a task writes (shared-FS contract: tasks
open plain paths).
"""
from __future__ import annotations

import os
import uuid
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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


def commit(path: str, data: bytes) -> None:
    """Publish ``data`` at ``path``: write a tmp name unique to this
    attempt, make it durable, then ``os.replace`` it. A retried or
    speculative attempt of the same task never shares a tmp file, and
    a reader sees either a whole file or none."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def write_granules(
    df: DataFrame,
    out_dir: str,
    geometry_col: str,
    encode: Callable[[pd.DataFrame], tuple[dict, dict]],
    manifest: str = "path string, n_rows long",
) -> DataFrame:
    """Granule-parallel vector sink: input partition ``pid`` becomes
    ``part-{pid:05d}`` plus each extension ``encode`` returns, and one
    manifest row. ``encode(rows)`` gets one partition's rows and
    returns ``(files, extra)``: ``files`` maps extension -> bytes (the
    first names the manifest ``path``); ``extra`` holds the values of
    the manifest columns after ``path, n_rows``. A missing
    ``geometry_col`` raises ``ValueError`` here, before any Spark job.

    Rows are tagged with their partition id and regrouped by a hash
    exchange pinned to the input's partition count: a bare
    ``repartition("__pid")`` is a default-numbered shuffle, which AQE
    coalesces into ONE task for small inputs and so serializes the
    encode. The exchange may hand one task several pids; the task
    splits its rows by pid, so each pid is still its own file. The
    exchange is kept because a narrow ``mapInPandas`` right after a
    reader's own ``mapInPandas`` runs two Python workers per task.

    ``write_pmtiles_dir`` and ``write_warc_dir`` are not on this
    helper: they run ``mapInPandas`` on the upstream partitions with
    no exchange and no probe. Their inputs can end in shuffles (the
    tile pyramid does), and the partition-count probe below would run
    every upstream stage in a job of its own before the write ran
    them again."""
    if geometry_col not in df.columns:
        raise ValueError(f"missing geometry column {geometry_col!r}")
    os.makedirs(out_dir, exist_ok=True)

    def sink(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pids = pdf.pop("__pid")
        for pid, rows in pdf.groupby(pids):
            files, extra = encode(rows.reset_index(drop=True))
            base = os.path.join(out_dir, f"part-{int(pid):05d}")
            for ext, data in files.items():
                commit(base + ext, data)
            yield pd.DataFrame([{
                "path": base + next(iter(files)),
                "n_rows": len(rows),
                **extra,
            }])

    n_gran = max(1, df.rdd.getNumPartitions())
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .repartition(n_gran, "__pid")
        .mapInPandas(sink, manifest)
    )
