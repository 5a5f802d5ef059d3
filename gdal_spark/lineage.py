"""Per-partition checkpointed writes with lineage manifests + resume.

North-rule mandate (BASELINE.json): "checkpoint every partition with
per-partition lineage (input cell range, row count, digest) so a
killed run resumes without recompute". The reference has no analog —
GDAL jobs restart from scratch (progress callbacks only); this is new
engineering on the Spark side.

Model: output is bucketed by a caller-supplied bucket expression
(typically a cell-range or tile-id bucket aligned with the source
partitioning so filters prune at the scan). Buckets are processed in
groups; each group is one parallel Spark job that writes
``out_dir/data/__bucket=N/`` directories, then per-bucket manifests
``manifest/bucket-N.json`` — containing row count and an
order-independent content digest (bit_xor of xxhash64 over the digest
columns) computed by **reading back the written files** — are
committed via write-to-temp + atomic rename (the plain-FS stand-in
for an Iceberg commit). A kill loses at most the in-flight group;
rerunning the same call skips every bucket whose manifest exists and
redoes the rest, deleting stale partial directories first so the
operation is idempotent.

Scale posture: group_size trades commit granularity against job
overhead (group_size=1 → per-bucket commits; larger groups amortize
job startup across buckets). The per-group filter is a partition /
predicate-pushdown prune when the bucket derives from the source
layout, so resume does NOT rescan completed input.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"


def digest_agg(cols: list[str]) -> Column:
    """Order-independent content digest: bit_xor of xxhash64 rows.
    Partitioning/shuffle order cannot change it, so the same data
    always produces the same lineage digest."""
    return F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("digest")


def _data_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(_manifest_dir(out_dir), f"bucket-{bucket:05d}.json")


def read_manifest(out_dir: str) -> dict[int, dict]:
    """All committed bucket manifests (invalid/partial JSON ignored)."""
    mdir = _manifest_dir(out_dir)
    done: dict[int, dict] = {}
    if not os.path.isdir(mdir):
        return done
    for name in os.listdir(mdir):
        if not name.startswith("bucket-") or not name.endswith(".json"):
            continue
        try:
            with open(os.path.join(mdir, name)) as f:
                m = json.load(f)
            done[int(m["bucket"])] = m
        except (json.JSONDecodeError, KeyError, ValueError):
            continue
    return done


def _commit_manifest(out_dir: str, entry: dict) -> None:
    """Atomic write-then-rename (checkpoint atomicity discipline,
    SURVEY.md §7.3)."""
    from .io import commit

    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    commit(
        _manifest_path(out_dir, entry["bucket"]), json.dumps(entry).encode()
    )


def checkpointed_write(
    df: DataFrame,
    out_dir: str,
    bucket_expr: Column,
    n_buckets: int,
    digest_cols: list[str],
    group_size: int = 4,
    fail_after_groups: int | None = None,
    materialize: bool = True,
) -> dict:
    """Write ``df`` to ``out_dir`` bucketed by ``bucket_expr`` with
    per-bucket lineage; resumable and idempotent (see module doc).

    ``fail_after_groups`` injects a crash after N committed groups —
    test hook for kill/resume semantics.

    Returns {"written": [...], "skipped": [...], "manifest": {...}}.
    """
    spark = df.sparkSession
    done = read_manifest(out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    skipped = sorted(done)
    written: list[int] = []

    dfb = df.withColumn(BUCKET_COL, bucket_expr.cast("int"))
    if materialize and len(todo) > group_size:
        # several groups will each pull from the same upstream plan;
        # unless the bucket filter prunes at the source (aligned
        # layout), recomputing it per group multiplies the pipeline
        # cost — persist once (MEMORY_AND_DISK, the moral equivalent
        # of a shuffle-stage materialization) and unpersist at the end
        from pyspark import StorageLevel

        dfb = dfb.persist(StorageLevel.MEMORY_AND_DISK)
    groups = [
        todo[i : i + group_size] for i in range(0, len(todo), group_size)
    ]
    for gi, group in enumerate(groups):
        if fail_after_groups is not None and gi >= fail_after_groups:
            raise RuntimeError(
                f"injected failure before group {gi} (buckets {group})"
            )
        t0 = time.perf_counter()
        # idempotence: clear any partial output from a killed run
        for b in group:
            bdir = os.path.join(_data_dir(out_dir), f"{BUCKET_COL}={b}")
            if os.path.isdir(bdir):
                shutil.rmtree(bdir)
        part = dfb.filter(F.col(BUCKET_COL).isin([int(b) for b in group]))
        part.write.partitionBy(BUCKET_COL).mode("append").parquet(
            _data_dir(out_dir)
        )
        # lineage stats from what actually landed on disk (also proves
        # the files read back cleanly)
        back = spark.read.parquet(_data_dir(out_dir)).filter(
            F.col(BUCKET_COL).isin([int(b) for b in group])
        )
        stats = {
            int(r[BUCKET_COL]): r
            for r in back.groupBy(BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("rows"), digest_agg(digest_cols))
            .collect()
        }
        dt = time.perf_counter() - t0
        for b in group:
            r = stats.get(b)
            entry = {
                "bucket": int(b),
                "rows": int(r["rows"]) if r is not None else 0,
                "digest": int(r["digest"]) if r is not None else 0,
                "digest_cols": digest_cols,
                "wall_s": round(dt, 3),
                "group": group,
            }
            _commit_manifest(out_dir, entry)
            written.append(int(b))
    if materialize and len(todo) > group_size:
        dfb.unpersist()
    return {
        "written": written,
        "skipped": skipped,
        "manifest": read_manifest(out_dir),
    }


def verify_output(
    out_dir: str, digest_cols: list[str], spark
) -> dict[int, bool]:
    """Lineage audit: recompute each bucket's (rows, digest) from the
    stored files and compare with its manifest."""
    done = read_manifest(out_dir)
    if not done:
        return {}
    back = spark.read.parquet(_data_dir(out_dir))
    actual = {
        int(r[BUCKET_COL]): (int(r["rows"]), int(r["digest"]))
        for r in back.groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("rows"), digest_agg(digest_cols))
        .collect()
    }
    out = {}
    for b, m in done.items():
        got = actual.get(b, (0, 0))
        out[b] = got == (m["rows"], m["digest"])
    return out
