"""Cheap relation-size estimates for the scale-adaptive
form gates (quality verdict, media codec spread, archive encode
spread).

The gates only need an ORDER-OF-MAGNITUDE size (thresholds are
8 MiB / 256 MiB / 1 GiB). The estimate is the total on-disk size of
the relation's leaf input files — the number the optimizer's own leaf
estimate starts from (HadoopFsRelation's sizeInBytes is the file total
× ``fileCompressionFactor``, default 1.0) — from one ``inputFiles()``
call plus one filesystem stat per file, capped by the rows the plan
can produce: when the analyzed plan has a row bound (``maxRows``, e.g.
from a LIMIT), the estimate is at most that bound × the schema's
default row size. An ``ORDER BY … LIMIT 6000`` over a 9 MB file is
~0.9 MB of output, not 9 MB; a plan without a bound keeps the file
total. Relations with no resolvable input files (in-memory relations,
streaming microbatches) fall back to the ANALYZED plan's stats
visitor, which applies LIMIT bounds itself.

Cost: ``inputFiles()`` walks the DataFrame's optimized plan, which
Spark builds once per DataFrame; ``maxRows`` and the analyzed stats
are lazy values of the analyzed plan, which exists from DataFrame
creation.
"""

from __future__ import annotations

import os

from chiv_spark.core.state import local_path

_UNKNOWN = 1 << 62


def relation_size_est(df) -> int:
    """Order-of-magnitude size estimate of ``df``: its input files'
    total, capped by its row bound. Over-estimates projections and
    filters (it charges the whole file, not the selected columns or
    rows), which is the safe direction for every gate that consumes
    it: the corpus-scale form engages no later than it should.
    ``1 << 62`` when unknown."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimate only steers a form gate
        files = None
    paths = [local_path(f) for f in files or ()]
    if paths and None not in paths:
        try:
            size = sum(os.path.getsize(p) for p in paths)
        except OSError:
            pass
        else:
            return min(size, _row_bound_bytes(df))
    # no leaf files (LocalRelation, microbatch, non-local FS): the
    # analyzed plan's stats visitor — a plan walk, not an optimizer run
    try:
        return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return _UNKNOWN


def _row_bound_bytes(df) -> int:
    """The analyzed plan's row bound × its schema's default row size
    (Spark's per-type width, e.g. 8 for a long, 20 for a string), or
    ``1 << 62`` for a plan with no bound. ``maxRows`` is a lazy val of
    the analyzed plan: no optimizer run."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        rows = analyzed.maxRows()
        if rows.isDefined():
            return int(rows.get()) * int(analyzed.schema().defaultSize())
    except Exception:  # noqa: BLE001 — estimate only steers a form gate
        pass
    return _UNKNOWN
