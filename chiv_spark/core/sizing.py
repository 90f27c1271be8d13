"""Cheap relation-size estimate for the archive encode-spread gate.

The gate only needs an ORDER-OF-MAGNITUDE size. The estimate is the
total size of the relation's leaf input files — the number the
optimizer's own leaf estimate starts from (HadoopFsRelation's
sizeInBytes is the file index's total × ``fileCompressionFactor``,
default 1.0) — capped by the rows the plan can produce: when the
analyzed plan has a row bound (``maxRows``, e.g. from a LIMIT), the
estimate is at most that bound × the schema's default row size. An
``ORDER BY … LIMIT 6000`` over a 9 MB file is ~0.9 MB of output, not
9 MB; a plan without a bound keeps the file total. Plans with no file
leaf (in-memory relations, Python-built frames, non-file
sources) fall back to the analyzed plan's stats visitor, which
applies LIMIT bounds itself.

Cost: everything is read off the ANALYZED plan, which exists from
DataFrame creation — its leaves' file indexes already hold the file
sizes for any scheme (``file:``, ``s3a://``), and ``maxRows`` and the
stats are lazy values of it. No optimizer run, no file-system call:
1–2.5 ms per warm call on sf0.1 frames (4-vCPU VM).

Where it differs from the total of the distinct files read: a leaf
read twice (a self-join) is charged twice; a partitioned catalog
table's index (``CatalogFileIndex``) reports the catalog's table
stats, or ``spark.sql.defaultSizeInBytes`` (Long.MaxValue) when the
table was never analyzed — which reads as unknown, so the archive
keeps its one-partition path — and a filter on the partition columns
does not shrink it.
"""

from __future__ import annotations

_UNKNOWN = 1 << 62


def relation_size_est(df) -> int:
    """Order-of-magnitude size estimate of ``df``: its file leaves'
    total, capped by its row bound. Over-estimates projections and
    filters (it charges the whole file, not the selected columns or
    rows), which is the safe direction for the gate that consumes
    it: the corpus-scale form engages no later than it should.
    ``1 << 62`` when unknown."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        files = _file_leaf_bytes(analyzed)
        if files is not None:
            return min(files, _row_bound_bytes(analyzed))
        return int(analyzed.stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — estimate only steers a form gate
        return _UNKNOWN


def _file_leaf_bytes(analyzed) -> int | None:
    """Sum of ``sizeInBytes`` over the plan's file-backed leaves
    (``LogicalRelation`` over a ``HadoopFsRelation``), or None when
    the plan has none."""
    leaves = analyzed.collectLeaves()
    total = None
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            total = (total or 0) + int(rel.sizeInBytes())
    return total


def _row_bound_bytes(analyzed) -> int:
    """The analyzed plan's row bound × its schema's default row size
    (Spark's per-type width, e.g. 8 for a long, 20 for a string), or
    ``1 << 62`` for a plan with no bound."""
    rows = analyzed.maxRows()
    if rows.isDefined():
        return int(rows.get()) * int(analyzed.schema().defaultSize())
    return _UNKNOWN
