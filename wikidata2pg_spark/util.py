"""Shared helpers for write-once roundtrip fixtures.

Roundtrip queries (sinks, foreachBatch, bucketed tables) write once per
sf_dir under a deterministic temp location and skip straight to the read
path on repeat invocations (t2 reruns, warm benchmark loops) — keyed on the
committer's ``_SUCCESS`` marker so an uncommitted partial write is never
mistaken for data.
"""

from __future__ import annotations

import hashlib
import os
import tempfile


def tmpdir(sf_dir: str, tag: str) -> str:
    """Deterministic per-(sf_dir, tag) temp directory (created if absent)."""
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), "wikidata2pg_spark", h, tag)
    os.makedirs(d, exist_ok=True)
    return d


def written(path: str) -> bool:
    """True iff a Hadoop-committer write finished here (``_SUCCESS`` exists)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def fixture_files(sf_dir: str, table: str) -> list[str]:
    """The physical file(s) behind one fixture table — a bare parquet file
    or every ``*.parquet`` under a directory-style table."""
    import glob

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


# One shared small-corpus ceiling for "broadcast the vocab/df side" style
# guards (tfidf, ppjoin prefix join): by Heaps' law the token-frequency
# side of a <=4 GiB corpus broadcasts comfortably; past it, fall back to a
# shuffle join. A single constant so the guards can only move together.
SMALL_CORPUS_BROADCAST_MAX = 4 << 30


def fixture_bytes(sf_dir: str, table: str):
    """Total on-disk bytes of a fixture table (None if unreadable) — the
    free size signal for broadcast/block heuristics."""
    try:
        return sum(os.path.getsize(f) for f in fixture_files(sf_dir, table))
    except OSError:
        return None


def source_stamp(sf_dir: str, *tables: str) -> str:
    """Short digest of the (mtime_ns, size) of every file behind the given
    tables. Folding this into a derived-artifact location means a DRIVER
    FIXTURE REGENERATION (same path, new data — the r3 incident class)
    lands derived data at a NEW location instead of silently serving stale
    roundtrip output; the orphaned old dir is a bounded temp leak."""
    h = hashlib.md5()
    for t in tables:
        for f in fixture_files(sf_dir, t):
            try:
                st = os.stat(f)
                h.update(f"{f}:{st.st_mtime_ns}:{st.st_size};".encode())
            except OSError:
                h.update(f"{f}:missing;".encode())
    return h.hexdigest()[:10]


def tmpdir_for(sf_dir: str, tag: str, *source_tables: str) -> str:
    """Like :func:`tmpdir`, but keyed on the SOURCE table contents as well
    (via :func:`source_stamp`), so regenerated fixtures invalidate every
    derived roundtrip artifact automatically."""
    return tmpdir(sf_dir, f"{tag}-{source_stamp(sf_dir, *source_tables)}")


def split_fixture_tables(
    src_sf_dir: str, dst_dir: str, n_files: int, tables=None
) -> None:
    """Split fixture tables of ``src_sf_dir`` into an ``n_files``-part
    directory-style parquet layout under ``dst_dir`` — the multi-split
    layout a real corpus has. Shared by the partition-invariance, TPC-H
    extension and plan test fixtures (file count is the caller's knob).
    ``tables`` restricts the split to a subset (e.g. a plan test that reads
    only events need not rewrite all ten tables)."""
    import pyarrow.parquet as pq

    from wikidata2pg_spark.tables import TABLE_NAMES

    for t in tables if tables is not None else TABLE_NAMES:
        tbl = pq.read_table(f"{src_sf_dir}/{t}.parquet")
        tdir = os.path.join(dst_dir, f"{t}.parquet")
        os.makedirs(tdir, exist_ok=True)
        step = max(1, -(-tbl.num_rows // n_files))
        for i, lo in enumerate(range(0, tbl.num_rows, step)):
            pq.write_table(
                tbl.slice(lo, step), os.path.join(tdir, f"part-{i:02d}.parquet")
            )


def truncate_plan(df, eager: bool = True):
    """Plan/lineage truncation for iterative and multi-consumer
    derivations (guide §3.3/§5): materialize ``df`` and return a frame
    whose plan no longer embeds the upstream derivation.

    Default: ``localCheckpoint`` — blocks live on executor local
    disk/memory, which is cheap and right on a single box or a healthy
    cluster, but it SEVERS lineage: an executor loss makes the job fail
    rather than recompute (guide §5). For long iterative jobs on a
    cluster set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``: every truncation
    point then goes through the fault-tolerant ``DataFrame.checkpoint``
    API instead — same plan truncation, recomputable-from-storage
    blocks. That needs a checkpoint directory on storage every executor
    can reach, set with ``SparkContext.setCheckpointDir``; without one
    this raises ``ValueError`` rather than guess a driver-local path."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "SPARK_GRAFT_RELIABLE_CHECKPOINT=1 needs a checkpoint "
                "directory on shared storage: call "
                "SparkContext.setCheckpointDir first"
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
