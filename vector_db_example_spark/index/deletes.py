"""Delete-by-id for every mutable layout, in its two designs.

* Deletion vectors (IVF ``ivf_delete_lazy``, the inverted and
  positional layouts, the dedup layout): victim ids append to a small
  tombstone table, every read anti-joins it (broadcast: tombstones are
  small between compactions), and the layout's compactor folds it in
  for real. A delete is O(k); the price is one join on the read side
  until the next compaction.
* Eager partition rewrite (IVF ``ivf_delete``, LSH ``lsh_delete``): a
  row lives in exactly one partition directory, so a k-id delete
  rewrites only the partitions holding the victims and leaves every
  other partition's files untouched. Search plans stay join-free.

Each layout names its tombstone table once (a ``tombstones_path``
property on its handle) and passes it here. Single-writer assumption,
as for every layout mutation in the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsio

#: Above this many ids, ``matching`` switches from an inlined ``isin``
#: literal to a broadcast ids DataFrame (semi/anti join), so the plan
#: size stays O(1) in the batch size.
_DELETE_ISIN_MAX = 10_000


def tombstoned(df: DataFrame, tomb_path: str, id_col: str) -> DataFrame | None:
    """The tombstone table of the layout ``df`` reads, or ``None``
    before its first delete. The probe goes through ``fsio``: a
    local-filesystem probe of an s3:// or hdfs:// layout would skip the
    anti-join and resurrect deleted rows. The table is read with
    ``df``'s id field as its declared schema (tombstones are written
    from that same column), so no schema-inference job runs per read."""
    spark = df.sparkSession
    if not fsio.exists(tomb_path, spark):
        return None
    return spark.read.schema(T.StructType([df.schema[id_col]])).parquet(
        fsio.glob_escape(tomb_path)
    )


def live(df: DataFrame, tomb_path: str, id_col: str) -> DataFrame:
    """``df`` without its tombstoned ids: a broadcast anti-join, or
    ``df`` itself while no tombstone table exists, so the plan is
    unchanged until the first delete."""
    tomb = tombstoned(df, tomb_path, id_col)
    if tomb is None:
        return df
    return df.join(F.broadcast(tomb), id_col, "left_anti")


def matching(df: DataFrame, ids: list[int], id_col: str, how: str = "semi") -> DataFrame:
    """Rows of ``df`` whose id is in ``ids`` (``how="semi"``) or is not
    (``how="anti"``). Up to ``_DELETE_ISIN_MAX`` ids inline as an
    ``isin`` literal, the cheapest plan; above it the ids become a
    broadcast DataFrame, so a million-id batch never puts a
    million-literal expression in the plan."""
    if len(ids) <= _DELETE_ISIN_MAX:
        hit = F.col(id_col).isin(ids)
        return df.filter(hit if how == "semi" else ~hit)
    ids_df = df.sparkSession.createDataFrame(
        [(i,) for i in ids], f"{id_col} long"
    ).coalesce(1)
    return df.join(F.broadcast(ids_df), id_col, how)


def tombstone(live_ids: DataFrame, ids, tomb_path: str, id_col: str) -> int:
    """Append the ids of ``live_ids`` (a layout's live id column) that
    are in ``ids`` to the tombstone table. Victims resolve through the
    live view, so re-deleting a tombstoned or absent id is a no-op.
    Returns the number of ids newly tombstoned."""
    ids = [int(i) for i in ids]
    if not ids:
        return 0
    victims = matching(live_ids, ids, id_col).distinct().localCheckpoint(eager=True)
    n = victims.count()
    if n:
        victims.write.mode("append").parquet(tomb_path)
    return n


def rewrite_partitions_without(
    layout: DataFrame, root: str, part_col: str, ids, id_col: str
) -> int:
    """Eager delete: find the ``part_col`` partitions of the layout at
    ``root`` that hold the ids (one pruned-column scan), rewrite only
    those without the victims (dynamic partition overwrite), and remove
    the directory of a partition left empty. Cost is O(rows in the
    affected partitions). ``layout`` is the layout's live view, so the
    count excludes rows a tombstone already hides. Returns the number
    of rows deleted."""
    ids = [int(i) for i in ids]
    if not ids:
        return 0
    victims = matching(layout, ids, id_col).select(part_col).distinct()
    parts = sorted(r[part_col] for r in victims.collect())
    if not parts:
        return 0
    affected = layout.filter(F.col(part_col).isin(parts))  # partition pruning
    n_before = affected.count()
    survivors = matching(affected, ids, id_col, "anti").localCheckpoint(eager=True)
    (
        survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(root)
    )
    # an emptied partition writes nothing back: remove its directory so
    # it does not linger as an empty partition
    remaining = {r[part_col] for r in survivors.select(part_col).distinct().collect()}
    for part in set(parts) - remaining:
        fsio.delete(f"{root}/{part_col}={part}")
    return n_before - survivors.count()
