"""The one touched-partition merge of every keyed layout: parquet tables
partitioned on one column whose incremental maintenance rewrites only
the partition directories a batch touches, under a crash-fenced swap.

Three functions carry the merge; every layout that upserts or deletes
by key goes through them:

- :func:`rewrite_partitions` writes ``rows`` as the whole new content
  of the ``touched`` partitions (one file per partition) into
  ``<path>._tmp`` and swaps them in with :func:`swap_partition_dirs`.
  A touched partition with no rows disappears. When ``path`` does not
  exist yet the write IS the table and is renamed into place.
- :func:`delete_keys` finds the partitions holding the keys and the
  number of rows they hold in one broadcast join + grouped count,
  then rewrites those partitions without the keys.
- :func:`upsert_keys` finds the partitions holding old versions of the
  incoming keys and the partitions the new rows go to in one collect,
  drops the old versions and rewrites the union with the new rows.

Callers:

- ``sources.index_table.VectorIndex``: ``delete_ids`` (over its
  bucket-pruned read) via :func:`delete_keys`; the merge of ``upsert``
  via :func:`rewrite_partitions` (its version-aware last-write-wins
  is :func:`pick_survivors` with a version column);
- ``operators.ann`` and ``operators.pq``: the IVF and IVFPQ upserts
  via :func:`upsert_keys` and their per-id deletes via
  :func:`delete_keys`;
- ``sources.lexical_index.LexicalIndex``: the postings, term-df and
  doc-store rewrites via :func:`rewrite_partitions`;
- the ``batch_id`` takedown deletes of ``streaming.neardup``,
  ``streaming.web_ingest`` and ``streaming.boilerplate`` via
  :func:`delete_keys`.

:func:`pick_survivors` is the shared intra-batch survivor rule: one row
per key, newest version first, then an md5 over the payload columns,
so duplicates resolve to the same row on every run.

The swap is the dangerous window: a crash between deleting the live
partition and moving the new one in leaves a missing-or-mixed layout
that a plain reader would silently serve. The protocol makes a torn
swap *detectable* and *recoverable*:

1. write a ``_swap_inprogress.json`` marker (the fence) listing the
   touched partitions and the tmp dir;
2. per partition: rename the live dir aside to ``_old_<part>``
   (underscore prefix → invisible to Spark's file scanner), rename
   the new dir in, delete the aside — each step an atomic rename on
   the same filesystem;
3. delete the tmp dir, then the marker.

Readers call :func:`check_not_torn` first; a surviving marker means
the swap died mid-flight, and the error message points at the aside
dirs that still hold the pre-swap data. On an object store swap the
rename-aside for a manifest-commit (write new files, then atomically
flip a manifest pointer — the Iceberg/Delta pattern); the marker
discipline is the same.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SWAP_MARKER = "_swap_inprogress.json"


def marker_path_for(data_path: str) -> str:
    """Default marker location: inside the partitioned table dir
    (underscore prefix keeps it invisible to Spark)."""
    return os.path.join(data_path, SWAP_MARKER)


def check_not_torn(data_path: str, marker_path: str | None = None) -> None:
    """Raise loudly if a previous swap died mid-flight."""
    mp = marker_path or marker_path_for(data_path)
    if os.path.exists(mp):
        with open(mp) as f:
            marker = json.load(f)
        raise RuntimeError(
            f"layout at {data_path} has a torn partition swap (marker "
            f"{os.path.basename(mp)} present, touched partitions "
            f"{marker.get('partitions')}); pre-swap data is preserved in "
            f"'_old_<partition>' aside dirs — recover manually, then "
            f"delete the marker"
        )


def swap_partition_dirs(
    data_path: str,
    tmp_path: str,
    partitions: list[str],
    marker_path: str | None = None,
) -> None:
    """Swap ``partitions`` (dir names like ``bucket=3``) from
    ``tmp_path`` into ``data_path`` under the marker fence described in
    the module doc. Partitions present in ``partitions`` but absent
    from ``tmp_path`` are treated as deletions of the live dir (the
    merge produced no rows for them). An entry may also be a file (a
    layout's sidecar); it is swapped the same way."""
    mp = marker_path or marker_path_for(data_path)
    with open(mp, "w") as f:
        json.dump({"partitions": partitions, "tmp": tmp_path}, f)
    for part in partitions:
        src = os.path.join(tmp_path, part)
        dst = os.path.join(data_path, part)
        old = os.path.join(data_path, f"_old_{part}")
        _remove(old)  # stale aside from a recovered run
        if os.path.exists(dst):
            os.rename(dst, old)
        if os.path.exists(src):
            os.rename(src, dst)
        _remove(old)
    shutil.rmtree(tmp_path)
    os.remove(mp)


def _remove(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p)
    elif os.path.exists(p):
        os.remove(p)


def pick_survivors(
    df: DataFrame,
    key_col: str,
    version_col: str | None = None,
    ignore: tuple[str, ...] = (),
) -> DataFrame:
    """One row per ``key_col``: the highest ``version_col`` first (when
    given), then the lowest md5 over the remaining columns in sorted
    order (minus ``ignore``) — a TOTAL order, so two different rows
    sharing a key resolve to the same survivor on every run."""
    payload = sorted(
        c for c in df.columns if c not in (key_col, version_col, *ignore)
    )
    order = [F.col(version_col).desc()] if version_col else []
    order.append(F.md5(F.to_json(F.struct(*payload))).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def rewrite_partitions(
    rows: DataFrame,
    path: str,
    part_col: str,
    touched: list,
    marker_path: str | None = None,
) -> None:
    """Replace the ``touched`` partitions of ``path`` with ``rows``.
    The repartition co-locates each partition into one task, so each
    touched partition gets one file and only touched rows move."""
    tmp = path.rstrip("/") + "._tmp"
    (
        rows.repartition(max(len(touched), 1), F.col(part_col))
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(tmp)
    )
    if not os.path.exists(path):
        os.rename(tmp, path)
        return
    swap_partition_dirs(
        path, tmp, [f"{part_col}={p}" for p in touched], marker_path
    )


def delete_keys(
    layout: DataFrame,
    path: str,
    part_col: str,
    keys: DataFrame,
    key_col: str,
    marker_path: str | None = None,
) -> tuple[int, list]:
    """Remove the rows of ``layout`` (a read of ``path``, possibly
    partition-pruned) whose ``key_col`` is in ``keys``, rewriting only
    the partitions that hold them. Absent keys are a no-op. Returns
    ``(rows deleted, touched partitions)``."""
    hits = (
        layout.join(F.broadcast(keys), key_col)
        .groupBy(part_col)
        .count()
        .collect()
    )
    touched = sorted(r[part_col] for r in hits)
    if touched:
        kept = layout.filter(F.col(part_col).isin(touched)).join(
            F.broadcast(keys), key_col, "left_anti"
        )
        rewrite_partitions(kept, path, part_col, touched, marker_path)
    return sum(r["count"] for r in hits), touched


def upsert_keys(
    layout: DataFrame,
    path: str,
    part_col: str,
    fresh: DataFrame,
    key_col: str,
) -> list:
    """Last write wins by key: the rows of ``fresh`` (one per key)
    replace every row of ``layout`` sharing their key, wherever it
    lives. Rewrites the partitions the old versions leave and the new
    rows enter; returns them."""
    ids = F.broadcast(fresh.select(key_col).distinct())
    touched = sorted(
        r[part_col]
        for r in fresh.select(part_col)
        .union(layout.join(ids, key_col).select(part_col))
        .distinct()
        .collect()
    )
    survivors = layout.filter(F.col(part_col).isin(touched)).join(
        ids, key_col, "left_anti"
    )
    merged = survivors.unionByName(fresh.select(*survivors.columns))
    rewrite_partitions(merged, path, part_col, touched)
    return touched
