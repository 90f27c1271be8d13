"""The generational store (chiv_spark/streaming/store.py): metadata
steps fire no jobs, forget and compaction are job-bounded, a
``file://`` root runs the same lifecycle as a bare path, and the swap
never leaves a live store nested, half-moved or unreadable."""

from __future__ import annotations

import os
import pathlib

import pytest
from pyspark.sql import functions as F

from chiv_spark.operators import dedup
from chiv_spark.streaming import dedup_index, store

GENS = 4  # streamed generations on top of the seed


def _jobs(spark, fn):
    """(fn's result, Spark jobs submitted while it ran) by job-id window."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()  # noqa: SLF001

    def nid():
        n = dag.nextJobId()
        return int(n if isinstance(n, int) else n.get())

    first = nid()
    out = fn()
    return out, nid() - first


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def _seed_band_index(spark, sf_dir, root):
    """A 16-bucket band index: the seed plus GENS one-slice generations."""
    docs = _docs(spark, sf_dir)
    dedup_index.write_index_generation(
        dedup.minhash_band_index(docs.filter(F.col("doc_id") % 10 >= GENS)),
        "bh",
        root,
        dedup_index.SEED_BATCH,
    )
    for g in range(GENS):
        dedup_index.write_index_generation(
            dedup.minhash_band_index(docs.filter(F.col("doc_id") % 10 == g)), "bh", root, g
        )
    return docs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestMetadataJobs:
    """Pinned by job-id window on a seeded 16-bucket band index. Before
    the store, building the pruned read fired 2 jobs (schema inference
    of the index and of the tombstones), a forget without ``thru`` 4
    (a max(src_batch) scan of the index) and a compaction up to 10."""

    def test_job_counts(self, spark, sf_dir, tmp_path):
        root = str(tmp_path / "index")
        docs = _seed_band_index(spark, sf_dir, root)
        assert len(os.listdir(root)) >= dedup_index.P_BUCKETS  # pb=0..15 + sidecar

        idx, jobs = _jobs(
            spark, lambda: dedup_index.read_index_pruned(spark, root, list(range(16)))
        )
        assert jobs == 0
        scanned = spark.read.parquet(root).agg(F.max("src_batch")).collect()[0][0]

        doomed = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
        _, jobs = _jobs(spark, lambda: dedup_index.write_tombstones(spark, root, doomed))
        assert jobs == 1
        # the listing thru equals the scan it replaced
        thrus = {r.thru for r in dedup_index.read_tombstones(spark, root).collect()}
        assert thrus == {scanned} == {GENS - 1}

        live = idx.count()  # built before the forget: no tombstones in its plan
        after = dedup_index.read_index_pruned(spark, root, list(range(16))).count()
        assert after < live

        (before, files_after), jobs = _jobs(
            spark, lambda: dedup_index.compact_index(spark, root)
        )
        # one tombstone collect + one data write (its shuffle map stage
        # and its result stage)
        assert jobs == 3
        assert files_after < before
        assert dedup_index.read_tombstones(spark, root) is None
        assert dedup_index.read_index_pruned(spark, root, list(range(16))).count() == after


class TestRemoteRootLifecycle:
    def test_file_uri_root_matches_bare_path(self, spark, sf_dir, tmp_path):
        """forget → probe → fold → compact on a ``file://`` root runs
        through the Hadoop FileSystem end to end (compaction's listing
        and swap included) and leaves the same rows as a bare-path
        twin."""
        bare = str(tmp_path / "bare")
        uri = "file://" + str(tmp_path / "uri")
        docs = _seed_band_index(spark, sf_dir, bare)
        _seed_band_index(spark, sf_dir, uri)
        shard = docs.filter(F.col("doc_id") % 10 == 8)
        doomed = docs.filter(F.col("doc_id") % 10 == 9).select("doc_id")

        def lifecycle(root):
            dedup_index.write_tombstones(spark, root, doomed)
            index = dedup_index.read_index_pruned(spark, root, list(range(16)))
            pairs = _rows(dedup.incremental_lsh_pairs(shard, index))
            dedup_index.write_index_generation(
                dedup.minhash_band_index(shard), "bh", root, GENS
            )
            files = dedup_index.compact_index(spark, root, committed_through=GENS - 1)
            rows = _rows(dedup_index.read_index_pruned(spark, root, list(range(16))))
            tomb = dedup_index.read_tombstones(spark, root)
            return pairs, files, rows, tomb is None

        got, want = lifecycle(uri), lifecycle(bare)
        assert got == want
        pairs, (before, after), rows, consumed = got
        assert pairs and rows and consumed
        assert after < before
        # generation GENS was past committed_through: it kept its label
        assert {r[-1] for r in rows} == {dedup_index.SEED_BATCH, GENS}


class TestSwap:
    def _tree(self, d):
        return sorted(
            (os.path.relpath(os.path.join(r, f), d), open(os.path.join(r, f), "rb").read())
            for r, _, fs in os.walk(d)
            for f in fs
        )

    def _store(self, spark, root, ids):
        rel = spark.createDataFrame([(i, i % 4) for i in ids], "doc_id long, pb int")
        store.write_gen(rel, root, store.SEED_BATCH, "pb")

    def test_missing_staged_raises_and_keeps_live(self, spark, tmp_path):
        live = str(tmp_path / "live")
        self._store(spark, live, range(8))
        snap = self._tree(live)
        with pytest.raises(FileNotFoundError):
            store.swap(spark, live, str(tmp_path / "nope"))
        assert self._tree(live) == snap
        assert store.read(spark, live).count() == 8

    def test_unmovable_staged_rolls_back(self, spark, tmp_path):
        """A staged dir that cannot be moved in (here it lives inside
        live, so it leaves with live when live moves aside) raises,
        and live is put back unchanged."""
        live = str(tmp_path / "live")
        self._store(spark, live, range(8))
        staged = f"{live}/_staged"
        self._store(spark, staged, range(3))
        snap = self._tree(live)
        with pytest.raises(OSError, match="unchanged"):
            store.swap(spark, live, staged)
        assert self._tree(live) == snap
        assert not os.path.exists(f"{live}.precompact")
        assert store.read(spark, live).count() == 8

    def test_swap_over_live_never_nests(self, spark, tmp_path):
        live, staged = str(tmp_path / "live"), str(tmp_path / "staged")
        self._store(spark, live, range(8))
        self._store(spark, staged, range(3))
        want = self._tree(staged)
        store.swap(spark, live, staged)
        assert self._tree(live) == want
        assert not os.path.exists(staged)
        assert not os.path.exists(f"{live}.precompact")
        assert sorted(r.doc_id for r in store.read(spark, live).collect()) == [0, 1, 2]

    def test_forgotten_and_compacted_store_reads_with_zero_jobs(self, spark, tmp_path):
        root = str(tmp_path / "s")
        self._store(spark, root, range(8))
        store.forget(spark, root, range(8))
        before, after = store.compact(spark, root, n_buckets=4)
        assert before > 0 and after == 0
        rel, jobs = _jobs(spark, lambda: store.read(spark, root, [0, 1]))
        assert jobs == 0  # the sidecar survived the swap: no inference
        assert rel.columns == ["doc_id", "pb", "src_batch"]
        assert rel.count() == 0


def test_generation_writes_and_swaps_live_only_in_the_store():
    """One generation writer and one swap: no module other than
    streaming/store.py sets dynamic partition overwrite or renames or
    moves directories by hand. streaming/cdc.py is the one exception:
    its merge-rewrite keeps a ``kb``-bucketed table with no
    generations, so it overwrites touched buckets itself."""
    pkg = pathlib.Path(store.__file__).resolve().parents[1]
    allowed = {pathlib.Path("streaming/store.py"), pathlib.Path("streaming/cdc.py")}
    offenders = sorted(
        f"{p.relative_to(pkg)}: {needle}"
        for p in pkg.rglob("*.py")
        if p.relative_to(pkg) not in allowed
        for needle in ("partitionOverwriteMode", "os.rename", "shutil.move")
        if needle in p.read_text(encoding="utf-8")
    )
    assert offenders == []


def test_driver_threads_live_only_in_overlap():
    """One way to overlap Spark jobs from the driver: no module other
    than session.py (home of ``overlap``) starts a thread pool or wraps
    a thread target by hand."""
    pkg = pathlib.Path(store.__file__).resolve().parents[1]
    offenders = sorted(
        f"{p.relative_to(pkg)}: {needle}"
        for p in pkg.rglob("*.py")
        if p.relative_to(pkg) != pathlib.Path("session.py")
        for needle in ("ThreadPoolExecutor", "concurrent.futures", "inheritable_thread_target")
        if needle in p.read_text(encoding="utf-8")
    )
    assert offenders == []


def test_tombstone_dir_without_part_files_reads_as_none(spark, tmp_path):
    """Tombstones are read through a part-file glob: a ``_tombstones``
    dir holding no part file is no pending deletion set."""
    tomb = tmp_path / "store" / "_tombstones"
    tomb.mkdir(parents=True)
    (tomb / "_SUCCESS").write_bytes(b"")
    assert store.read_tombstones(spark, str(tmp_path / "store")) is None

