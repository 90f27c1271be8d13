"""The benchmark's two workloads, each a closed loop of ops run one
at a time from the driver thread against the program's public API.

A workload has a set-up (inside ``setup_s``), a number of warm-up
passes, a pass (the op sequence that is timed), the number of timed
passes its medians are taken over, and a check of every timed op's
output. ``run_pass`` returns the ids of the ops it ran;
``check`` returns the ids whose output was wrong.

With a :class:`tracing.Tracer`, a pass also records per-layer spans and
job counters; without one it runs exactly the same calls.
"""

from __future__ import annotations

import contextlib
import os
import sys
from dataclasses import dataclass

import checks
import tracing

MB = 1 << 20


@dataclass
class Ctx:
    spark: object
    in_dir: str
    work: str
    sampler: object
    tracer: tracing.Tracer | None = None


def _op(ctx: Ctx, archiver: bool = False):
    return ctx.tracer.op(archiver) if ctx.tracer else contextlib.nullcontext()


def _span(ctx: Ctx, name: str, count: str | None = None):
    return ctx.tracer.span(name, count) if ctx.tracer else contextlib.nullcontext()


def _plan(ctx: Ctx, df) -> None:
    if ctx.tracer:
        n, secs = tracing.exchanges(df)
        ctx.tracer.add("plans.exchanges", n)
        ctx.tracer.add("plans.plan_s", secs)


def _report(op: str, problem: str) -> None:
    print(f"check failed: {op}: {problem}", file=sys.stderr)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files


class Archive:
    """chiv's own job: one seeded lineitem-shaped table archived each
    pass as single-object CSV, JSON and YAML with a ``null=``
    placeholder, and once as distributed NDJSON.

    The distributed op writes JSON, not CSV: the distributed CSV sink
    drops leading and trailing spaces from strings (NOTES.md, "Known
    defect"), so its output is not the table's.

    The single-object input is ``ORDER BY ... LIMIT``: one partition,
    read from a parquet file above the archiver's 8 MiB spread gate,
    so the gate's range-partitioned encode is on the measured path.
    """

    warmup = 5
    passes = 7
    limit = 6_000
    formats = ("csv", "json", "yaml")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.bucket = os.path.join(ctx.work, "bucket")
        self.digests: dict[str, list[str]] = {}

    def setup(self) -> None:
        from chiv_spark.core.archiver import Archiver

        self.archiver = Archiver(self.ctx.spark, null=checks.NULL)

    def _frames(self):
        from chiv_spark.sources.catalog import read_table

        table = read_table(self.ctx.spark, self.ctx.in_dir, "archive")
        return table.orderBy("l_orderkey", "l_linenumber").limit(self.limit), table

    def _archive(self, key: str, df, fmt: str, distributed: bool) -> None:
        ctx = self.ctx
        before = ctx.sampler.snapshot() if ctx.tracer else None
        with _op(ctx, archiver=True), _span(ctx, f"archiver.call_s.{key}"):
            self.archiver.archive_df(
                df, self.bucket, format=fmt, key=key, distributed=distributed
            )
        path = os.path.join(self.bucket, key)
        if ctx.tracer:
            after = ctx.sampler.snapshot()
            ctx.tracer.add("formats.pyworker_cpu_s", after["pyworker"] - before["pyworker"])
            size, files = dir_usage(path) if distributed else (os.path.getsize(path), 1)
            ctx.tracer.add("storage.written_mb", size / MB)
            ctx.tracer.add("storage.objects", files)
        self.digests.setdefault(key, []).append(checks.sha256(path))

    def run_pass(self, p: int) -> list[str]:
        single, table = self._frames()
        _plan(self.ctx, single)
        ids = []
        for fmt in self.formats:
            self._archive(fmt, single, fmt, distributed=False)
            ids.append(f"{p}:{fmt}")
        self._archive("dist", table, "json", distributed=True)
        ids.append(f"{p}:dist")
        return ids

    def check(self, ids: list[str]) -> set[str]:
        import duckdb

        con = duckdb.connect()
        parquet = os.path.join(self.ctx.in_dir, "archive.parquet")
        want_single = checks.expected_summary(con, parquet, self.limit)
        want_dist = checks.expected_summary(con, parquet)
        bad = set()
        for key in (*self.formats, "dist"):
            path = os.path.join(self.bucket, key)
            fmt = "ndjson" if key == "dist" else key
            want = want_dist if key == "dist" else want_single
            digests = self.digests.get(key, [])
            if len(set(digests)) != 1:
                _report(key, f"bytes differ between passes: {[d[:8] for d in digests]}")
                bad.add(key)
            elif (got := checks.object_summary(con, path, fmt)) != want:
                names = ("row count", *checks.ARCHIVE_COLS)
                differ = [c for c, a, b in zip(names, got, want) if a != b]
                _report(key, f"read back differs from the input in: {', '.join(differ)}")
                bad.add(key)
        con.close()
        return {i for i in ids if i.split(":")[1] in bad}

    def stored_bytes(self) -> int:
        return dir_usage(self.bucket)[0]


class Curation:
    """Near-dup curation over the seeded corpus, in its batch and its
    incremental form.

    - **Batch:** the registry's MinHash-LSH near-dup query into the
      noop sink, so query construction, Catalyst planning and a
      shuffle-heavy band join are on the measured path.
    - **Incremental:** the persisted MinHash band index of
      ``streaming.dedup_index``, the store the incremental ingest path
      is built on, through its whole lifecycle. The corpus is split
      into ten slices by ``doc_id % 10``; set-up seeds the index with
      nine. Pass ``p`` arrives slice ``s = p % 10`` and takes down
      slice ``n = (p + 1) % 10``:

      1. forget: tombstone slice ``n`` (read-time suppression);
      2. probe: near-dup pairs of the arriving slice against the
         index, which still holds ``n``'s rows under tombstones;
      3. fold: write the arriving slice as a new index generation;
      4. compact: fold generations and physically drop slice ``n``.

      Every pass starts from an index of nine slices, so the state's
      size is the same at every pass.

    NOTES.md says why this is one workload and why the mix is small.
    """

    warmup = 4
    passes = 3
    queries = ("dedup_minhash_lsh",)
    slices = 10

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.index = os.path.join(ctx.work, "band_index")
        self.probes: dict[str, tuple[int, int, list]] = {}
        self.last_out: int | None = None

    def _docs(self):
        from chiv_spark.sources.catalog import read_table

        return read_table(self.ctx.spark, self.ctx.in_dir, "documents").select("doc_id", "text")

    def _slice(self, docs, k: int):
        from pyspark.sql import functions as F

        return docs.filter(F.col("doc_id") % self.slices == k)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from chiv_spark.operators import dedup
        from chiv_spark.queries import REGISTRY
        from chiv_spark.streaming import dedup_index

        self.registry = REGISTRY
        resident = self._docs().filter(F.col("doc_id") % self.slices != 0)
        dedup_index.write_index_generation(
            dedup.minhash_band_index(resident), "bh", self.index, dedup_index.SEED_BATCH
        )

    def run_pass(self, p: int) -> list[str]:
        return self._batch(p) + self._lifecycle(p)

    def _batch(self, p: int) -> list[str]:
        ctx = self.ctx
        ids = []
        for name in self.queries:
            with _op(ctx):
                with _span(ctx, "queries.construct_s"):
                    if ctx.tracer:
                        df, jobs = ctx.tracer.jobs_between(
                            lambda: self.registry[name].fn(ctx.spark, ctx.in_dir)
                        )
                        ctx.tracer.add("queries.construct_jobs", jobs)
                    else:
                        df = self.registry[name].fn(ctx.spark, ctx.in_dir)
                _plan(ctx, df)
                df.write.format("noop").mode("overwrite").save()
            ids.append(f"{p}:{name}")
        return ids

    def _lifecycle(self, p: int) -> list[str]:
        from chiv_spark.operators import dedup
        from chiv_spark.streaming import dedup_index

        ctx = self.ctx
        spark = ctx.spark
        docs = self._docs()
        s, n = p % self.slices, (p + 1) % self.slices
        shard = self._slice(docs, s)
        with _op(ctx), _span(ctx, "streaming.forget_s"):
            dedup_index.write_tombstones(spark, self.index, self._slice(docs, n).select("doc_id"))
        with _op(ctx), _span(ctx, "streaming.probe_s"):
            index = dedup_index.read_index_pruned(
                spark, self.index, list(range(dedup_index.P_BUCKETS))
            )
            pairs = dedup.incremental_lsh_pairs(shard, index)
            _plan(ctx, pairs)
            rows = pairs.collect()
        with _op(ctx), _span(ctx, "streaming.fold_s"):
            dedup_index.write_index_generation(
                dedup.minhash_band_index(shard), "bh", self.index, p + 1
            )
        with _op(ctx), _span(ctx, "streaming.compact_s"):
            dedup_index.compact_index(spark, self.index)
        if ctx.tracer:
            size, files = dir_usage(self.index)
            ctx.tracer.add("streaming.state_mb", size / MB)
            ctx.tracer.add("streaming.state_files", files)
        self.probes[f"{p}:probe"] = (s, n, [tuple(r) for r in rows])
        self.last_out = n
        return [f"{p}:{op}" for op in ("forget", "probe", "fold", "compact")]

    def check(self, ids: list[str]) -> set[str]:
        """After the last timed pass, against DuckDB oracles over the
        same parquet files:

        - every registry query once, against its own oracle;
        - each probe against the oracle of the batch near-dup query
          over the docs the index showed it (all but the slice under
          tombstones), restricted to pairs touching the arriving
          slice;
        - the compacted index's rows against the docs that should be
          live.
        """
        import duckdb

        from chiv_spark.operators import dedup

        docs_pq = f"{self.ctx.in_dir}/documents.parquet"
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx.in_dir}/{t}.parquet'")
        bad = set()
        for name in self.queries:
            spec = self.registry[name]
            sdf = spec.fn(self.ctx.spark, self.ctx.in_dir)
            ocols, orows = checks.oracle_rows(con, spec.oracle)
            problem = checks.rows_problem(sdf.columns, sdf.collect(), ocols, orows)
            if problem:
                _report(name, problem)
                bad.update(i for i in ids if i.endswith(f":{name}"))

        oracle = self.registry["dedup_minhash_lsh"].oracle
        timed = {i.split(":")[0] for i in ids}
        by_out: dict[int, tuple] = {}
        for op_id, (s, n, rows) in self.probes.items():
            if op_id.split(":")[0] not in timed:
                continue
            if n not in by_out:
                con.execute(
                    "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"'{docs_pq}' WHERE doc_id % {self.slices} <> {n}"
                )
                by_out[n] = checks.oracle_rows(con, oracle)
            ocols, orows = by_out[n]
            a, b = ocols.index("doc_a"), ocols.index("doc_b")
            want = [r for r in orows if r[a] % self.slices == s or r[b] % self.slices == s]
            problem = checks.rows_problem(["doc_a", "doc_b", "est_jaccard"], rows, ocols, want)
            if problem:
                _report(op_id, problem)
                bad.add(op_id)

        index_rows = f"read_parquet('{self.index}/pb=*/*/*.parquet', hive_partitioning = false)"
        live = con.execute(f"SELECT COUNT(*), COUNT(DISTINCT doc_id) FROM {index_rows}").fetchone()
        want_docs = con.execute(
            f"SELECT COUNT(*) FROM '{docs_pq}' WHERE doc_id % {self.slices} <> {self.last_out}"
        ).fetchone()[0]
        dead = con.execute(
            f"SELECT COUNT(*) FROM {index_rows} WHERE doc_id % {self.slices} = {self.last_out}"
        ).fetchone()[0]
        con.close()
        if live != (dedup.NUM_BANDS * want_docs, want_docs) or dead:
            _report("index", f"(rows, docs) {live}, want {want_docs} docs; {dead} rows of forgotten docs")
            # the state itself is wrong: every write op is suspect
            bad.update(i for i in ids if i.split(":")[1] in ("forget", "fold", "compact"))
        return bad

    def stored_bytes(self) -> int:
        return dir_usage(self.index)[0]


WORKLOADS = {"archive": Archive, "curation": Curation}
