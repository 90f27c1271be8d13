"""Cheap relation-size estimates for the scale-adaptive
form gates (quality verdict, media codec spread, archive encode
spread).

Why this exists (r18, guide §1.2 / §5 "the driver should do almost no
data work"): the r17 gates probed
``df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()`` on
every call — each probe forces a full driver-side Catalyst
analyze+optimize of the subtree over py4j, and the composed quality
consumers rebuild their verdict branches on every bench rep, so a
~1-second query paid several optimizer runs per execution (the r17
driver bench showed quality_domain_gate 2.2× slower at 32 cores with
an 8-core ratio of 0.51 — a core-count-independent, driver-side cost).

The gates only need an ORDER-OF-MAGNITUDE input size (thresholds are
8 MiB / 256 MiB / 1 GiB), so the estimate here is the total on-disk
size of the relation's leaf input files — the same number the
optimizer's own leaf estimate starts from (HadoopFsRelation's
sizeInBytes is the file total × ``fileCompressionFactor``, default
1.0) — computed from one ``inputFiles()`` plan walk (no optimizer
run) plus one filesystem stat per file.
Relations with no resolvable input files (in-memory test relations,
streaming microbatches) fall back to the ANALYZED plan's stats
visitor: still no optimizer run, and the analyzed plan is already
materialized eagerly at DataFrame creation.
"""

from __future__ import annotations

import os

from chiv_spark.core.state import local_path


def relation_size_est(df) -> int:
    """Order-of-magnitude size estimate of ``df``'s input, without a
    per-call Catalyst optimizer run. Over-estimates projections (it
    charges the whole file, not the selected columns), which is the
    safe direction for every gate that consumes it: the corpus-scale
    form engages no later than before."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimate only steers a form gate
        files = None
    paths = [local_path(f) for f in files or ()]
    if paths and None not in paths:
        try:
            return sum(os.path.getsize(p) for p in paths)
        except OSError:
            pass
    # no leaf files (LocalRelation, microbatch, non-local FS): the
    # analyzed plan's stats visitor — a plan walk, not an optimizer run
    try:
        return int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except Exception:  # noqa: BLE001
        return 1 << 62
