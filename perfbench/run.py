"""Benchmark of chiv_spark: one seeded workload per run, end to end or
traced layer by layer.

    python3 perfbench/run.py --workload archive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` (without the program), starts one ``local[2]`` Spark
session, sets the workload up and warms it up, then runs timed passes
until ``--seconds`` have passed, checks every timed op's output, and
prints a summary followed by one JSON line.

The medians are taken over the workload's first ``passes`` timed
passes (twice as many when traced), a fixed number: a faster program runs more passes in the
window, and they would be warmer ones. Later passes in the window are
run and checked but feed no metric. The summary lists wall time, CPU
and box steal of every pass, warm-up passes included: the warm-up
curve.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics (medians
over the traced passes) plus the tracing overhead. All files go under
``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1 << 20
WORKLOAD_NAMES = ("archive", "curation")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "CPU-s",
    "peak_rss_mb": "MB",
}

#: per-layer metric -> unit; every one is printed on every workload,
#: 0 where the workload does not enter that layer
PER_LAYER = {
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "CPU-s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "driver.gap_s": "s",
    "archiver.call_s.csv": "s",
    "archiver.call_s.json": "s",
    "archiver.call_s.yaml": "s",
    "archiver.call_s.dist": "s",
    "archiver.jobs": "count",
    "archiver.encode_task_s": "s",
    "archiver.relay_s": "s",
    "formats.pyworker_cpu_s": "CPU-s",
    "storage.written_mb": "MB",
    "storage.objects": "count",
    "sizing.est_calls": "count",
    "sizing.est_s": "s",
    "streaming.probe_s": "s",
    "streaming.fold_s": "s",
    "streaming.forget_s": "s",
    "streaming.compact_s": "s",
    "streaming.state_mb": "MB",
    "streaming.state_files": "count",
    "proc.jvm_cpu_s": "CPU-s",
    "proc.pyworker_cpu_s": "CPU-s",
    "proc.driver_py_cpu_s": "CPU-s",
    "box.steal_s": "s",
    "stored_mb": "MB",
    "trace.overhead_frac": "ratio",
}


def isolate(work: str) -> None:
    """Keep every file the run writes under ``work``: Python's and the
    JVM's temp dirs, Spark's scratch dirs."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # this env var overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # executors' Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    # the short launcher JVM that spark-submit starts first takes no
    # driver options; without this it writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def session(work: str, name: str):
    from chiv_spark.session import get_spark

    java_opts = (
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby -XX:-UsePerfData"
    )
    spark = get_spark(
        f"perfbench-{name}",
        master="local[2]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # below the program's 8g default: under a cap that high the
            # JVM's heap grows by a different amount each run, and peak
            # RSS spread past its bound (NOTES.md, "Why 1 GiB")
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # the traced run reads every op's jobs back from the
            # status store; keep them all, in both modes alike
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit:
    pyspark's gateway JVM ends when its stdin closes, which otherwise
    happens only as the interpreter exits."""
    jvm = spark.sparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _point(p: int, phase: str, wall: float, after: dict, before: dict) -> dict:
    """One pass of the warm-up curve."""
    return {"pass": p, "phase": phase, "wall_s": round(wall, 3),
            "cpu_s": round(after["total"] - before["total"], 3),
            "steal_s": round(after["steal"] - before["steal"], 3)}


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def proc_groups(spark):
    import procstat

    jvm = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    if procstat.comm(jvm) != "java":
        raise RuntimeError(f"gateway pid {jvm} is {procstat.comm(jvm)!r}, not java")
    me = os.getpid()
    return {
        "driver_py": lambda pid: pid == me,
        "jvm": lambda pid: pid == jvm,
        "pyworker": lambda pid: procstat.comm(pid).startswith("python"),
    }


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import gen
    import procstat
    import tracing
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    isolate(work)
    in_dir = os.path.join(work, "inputs")
    digest = gen.write_inputs(in_dir, seed)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session(work, workload)
        sampler = procstat.TreeSampler(os.getpid(), proc_groups(spark))
        ctx = workloads.Ctx(spark=spark, in_dir=in_dir, work=work, sampler=sampler)
        wl = workloads.WORKLOADS[workload](ctx)
        wl.setup()
        curve = []
        for p in range(wl.warmup):
            before = sampler.snapshot()
            t = time.perf_counter()
            wl.run_pass(p)
            curve.append(_point(p, "warm", time.perf_counter() - t, sampler.snapshot(), before))
        setup_s = time.perf_counter() - t0

        jobs = tracing.SparkJobs(spark) if traced else None
        # a traced run alternates plain and traced passes: twice as many
        counted = wl.passes * (1 + traced)
        timed, ids, errors = [], [], 0
        p = wl.warmup
        start = time.perf_counter()
        with sampler:
            while len(timed) < counted or time.perf_counter() - start < seconds:
                trace_this = traced and len(timed) % 2 == 1
                ctx.tracer = tracing.Tracer(jobs) if trace_this else None
                before = sampler.snapshot()
                t = time.perf_counter()
                try:
                    if trace_this:
                        with tracing.Patches(ctx.tracer):
                            ids += wl.run_pass(p)
                    else:
                        ids += wl.run_pass(p)
                except Exception as e:  # noqa: BLE001 — counted, reported, run goes on
                    print(f"pass {p} failed: {e!r}", file=sys.stderr)
                    errors += 1
                wall = time.perf_counter() - t
                now = sampler.snapshot()
                rec = {"pass_s": wall, "cpu": procstat.delta(now, before), "traced": trace_this}
                if trace_this:
                    rec["layers"] = ctx.tracer.reset()
                timed.append(rec)
                phase = "timed" if len(timed) <= counted else "extra"
                curve.append(_point(p, phase, wall, now, before))
                if len(timed) == counted:
                    peak = sampler.peak()
                p += 1
        ctx.tracer = None
        bad = wl.check(ids)
        stored = wl.stored_bytes()
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    plain = [r for r in timed[:counted] if not r["traced"]]
    layered = [r for r in timed[:counted] if r["traced"]]
    attempted = len(ids) + errors
    failed = len(bad) + errors
    summary = {
        "workload": workload,
        "seed": seed,
        "inputs_sha256": digest,
        "passes": len(plain),
        "traced_passes": len(layered),
        "extra_passes": len(timed) - counted,
        "attempted": attempted,
        "failed": failed,
        "failed_ops": sorted(bad),
        "curve": curve,
    }
    n = len(plain)
    if traced:
        metrics = {k: (v, len(layered)) for k, v in _layer_metrics(layered, plain, stored).items()}
        extra = {}
    else:
        metrics = {
            "setup_s": (setup_s, 1),
            "pass_s": (_median([r["pass_s"] for r in plain]), n),
            "cpu_s": (_median([r["cpu"]["total"] for r in plain]), n),
            "peak_rss_mb": (peak / MB, n),
        }
        # user-facing, but 0 on some workloads: printed, not reported
        extra = {"stored_mb": (stored / MB, 1, "MB"), "fail_ratio": (failed / attempted, attempted, "ratio")}
    return {"summary": summary, "metrics": metrics, "extra": extra}


def _layer_metrics(layered: list[dict], plain: list[dict], stored: int) -> dict:
    """Median over traced passes of every per-layer metric."""
    def med(fn):
        return _median([fn(r) for r in layered])

    out = {name: med(lambda r, n=name: r["layers"].get(n, 0.0)) for name in PER_LAYER}
    out["proc.jvm_cpu_s"] = med(lambda r: r["cpu"]["jvm"])
    out["proc.pyworker_cpu_s"] = med(lambda r: r["cpu"]["pyworker"])
    out["proc.driver_py_cpu_s"] = med(lambda r: r["cpu"]["driver_py"])
    out["box.steal_s"] = med(lambda r: r["cpu"]["steal"])
    out["stored_mb"] = stored / MB
    untraced = _median([r["pass_s"] for r in plain])
    out["trace.overhead_frac"] = med(lambda r: r["pass_s"]) / untraced - 1.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import chiv_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    summary, metrics = out["summary"], out["metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(summary))
    for name, (value, n) in metrics.items():
        print(f"{name:28s} {value:14.6f} {units[name]:6s} n={n}")
    for name, (value, n, unit) in out["extra"].items():
        print(f"{name:28s} {value:14.6f} {unit:6s} n={n}")
    result = {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, (v, _n) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
