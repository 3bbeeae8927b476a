"""Benchmark entry point.

    python3 perfbench/run.py --workload pcap_etl --seed 1 --seconds 20 --trace 0

Runs one workload on a ``local[nproc]`` session in one closed loop (one
client, jobs back to back), checks every output, and prints one JSON
object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the run's spans to ``.perfbench_out/``.  Run from the root of a
checkout; every file it writes stays under that root.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

from workloads import LLM_CURATION  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "packets_per_s": "records/s",
    "input_mb_per_s": "MB/s",
    "bytes_out_per_in": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.pcap.index_s": "s",
    "sources.pcap.chunks": "count",
    "sources.pcap.records": "count",
    "sources.pcap.parse_s": "s",
    "sources.pcap.rows_out": "count",
    "sources.pcap.drop_ratio": "ratio",
    "sources.pcap.filter_s": "s",
    "sources.pcap.filter_keep_ratio": "ratio",
    "functions.bytes.featurize_s": "s",
    "functions.bytes.kernel_us_per_row": "us",
    "operators.labeling.label_s": "s",
    "operators.labeling.attack_rows": "count",
    "operators.labeling.forward_rows": "count",
    "pipeline.data_sink_s": "s",
    "pipeline.data_sink_mb": "MB",
    "pipeline.data_sink_files": "count",
    "pipeline.adv_sink_s": "s",
    "pipeline.adv_sink_mb": "MB",
    "pipeline.residual_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.failed_tasks": "count",
    "sources.tables.scan_s": "s",
    "sources.tables.scan_mb": "MB",
    **{f"queries.{e}_s": "s" for e in LLM_CURATION},
    "operators.caching.memo_build_s": "s",
    "operators.caching.builds_in_job": "count",
    "operators.dedup.lsh_candidates": "count",
    "operators.dedup.lsh_precision": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "host.canary_s": "s",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--split-packets", type=int, default=12_500,
                    help="records per chunk of the pcap split reader")
    return ap.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Point every scratch path of Spark, its Python workers and this
    process into ``work``, and let the workers import the engine."""
    import tempfile

    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # no JVM (Spark's launcher included) writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = str(work / "tmp")


def run_job(spark, wl, group: str | None = None) -> list[tuple[str, float, bool]]:
    """One job as (op, seconds, raised) per op; an op that raises is
    recorded, not propagated."""
    ops = []
    for name, call in wl.ops(spark, group):
        t0 = time.perf_counter()
        try:
            call()
            raised = False
        except Exception:
            traceback.print_exc()
            raised = True
        ops.append((name, time.perf_counter() - t0, raised))
    return ops


def _setup(wl, work: Path, since: float, event_log: bool = False):
    """Start a session, write the seeded inputs and run the warm-up;
    returns the session and the seconds since ``since``."""
    import harness

    spark = harness.start_session(str(work), event_log=event_log)
    wl.prepare(spark)
    return spark, time.perf_counter() - since


def _verdict(jobs, job_problems, run_problems) -> tuple[int, int]:
    """(attempted, failed) ops.  An op fails when it raised, when its
    job's output check failed, or when its entry's oracle check failed."""
    bad_entries = {name for name, p in run_problems.items() if p}
    attempted = failed = 0
    for ops, problems in zip(jobs, job_problems):
        for name, _t, raised in ops:
            attempted += 1
            failed += bool(raised or problems or name in bad_entries)
    for i, p in enumerate(job_problems):
        for line in p:
            print(f"CHECK FAIL job {i}: {line}")
    for name, p in run_problems.items():
        for line in p:
            print(f"CHECK FAIL {name}: {line}")
    return attempted, failed


def _result(attempted, failed, values: dict, units: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def untraced_run(wl, args, work: Path, since: float) -> dict:
    """One set-up, then jobs back to back.  The job count is
    ``--seconds`` over the workload's nominal job time, fixed so that
    every run takes the median over the same jobs.  Output checks run
    between jobs and after the loop, outside the timing.  ``setup_s``
    counts from ``since``."""
    import harness
    from bytesprocessor_spark.operators import caching

    spark, setup_s = _setup(wl, work, since)
    memo = dict(caching.MEMO_BUILD_SEC)
    jobs, job_times, job_problems = [], [], []
    rss = harness.PeakRss()
    try:
        for _ in range(max(1, round(args.seconds / wl.nominal_job_s))):
            with rss.sampling():
                t0 = time.perf_counter()
                jobs.append(run_job(spark, wl))
                job_times.append(time.perf_counter() - t0)
            job_problems.append(wl.check_job(spark))
    finally:
        rss.close()
    if dict(caching.MEMO_BUILD_SEC) != memo:
        print(f"note: memo substrates rebuilt during timed jobs: {caching.MEMO_BUILD_SEC}")
    attempted, failed = _verdict(jobs, job_problems, wl.check_run())

    ops = [t for job in jobs for _n, t, _r in job]
    job_s = harness.median(job_times)
    tail, pct, n = harness.tail(ops)
    size = wl.sizes()
    print(f"{wl.name}: {len(jobs)} jobs, {n} ops; op_s_tail is p{pct} of {n} ops; "
          f"set-up {setup_s:.3f} s; jobs {[round(j, 3) for j in job_times]} s; "
          f"fail_ratio {failed}/{attempted}")
    return _result(attempted, failed, {
        "setup_s": setup_s,
        "job_s": job_s,
        "op_s_p50": harness.median(ops),
        "op_s_tail": tail,
        "packets_per_s": size["records"] / job_s,
        "input_mb_per_s": size["in_bytes"] / 2**20 / job_s,
        "bytes_out_per_in": size["out_bytes"] / size["in_bytes"],
        "peak_rss_mb": rss.peak_mb,
    }, END_TO_END)


def traced_run(wl, args, work: Path, since: float) -> dict:
    """One set-up on a session with Spark's event log on, two untraced
    jobs (the second, as warm as the traced one, is the overhead
    baseline), one traced job with every op under its own job group
    ``perfbench-traced/<op>``, then the layer probes.  Layers a workload
    never calls read 0."""
    import harness
    from bytesprocessor_spark.operators import caching

    wl.tracer.enabled = False
    spark, _ = _setup(wl, work, since, event_log=True)
    memo = dict(caching.MEMO_BUILD_SEC)
    sc = spark.sparkContext
    jobs, job_problems = [], []
    for _ in range(2):
        t0 = time.perf_counter()
        jobs.append(run_job(spark, wl))
        plain_s = time.perf_counter() - t0
        job_problems.append(wl.check_job(spark))

    wl.tracer.enabled = True
    group = "perfbench-traced"
    wl.tracer.job = "traced"
    t0 = time.perf_counter()
    jobs.append(run_job(spark, wl, group))
    traced_s = time.perf_counter() - t0
    builds_in_job = sum(1 for k, v in caching.MEMO_BUILD_SEC.items() if memo.get(k) != v)
    sc.setJobGroup("perfbench-check", "output check")  # keep the check out of the op groups
    job_problems.append(wl.check_job(spark))

    values = dict.fromkeys(PER_LAYER, 0.0)
    names = [name for name, _t, _r in jobs[-1]]
    op_groups = {f"{group}/{name}" for name in names}
    counts = [harness.group_counts(spark, g) for g in op_groups]
    for k in ("jobs", "stages", "tasks"):
        values[f"session.{k}_per_op"] = sum(c[k] for c in counts) / len(counts)
    values["session.failed_tasks"] = sum(c["failed_tasks"] for c in counts)
    values["operators.caching.memo_build_s"] = sum(memo.values())
    values["operators.caching.builds_in_job"] = builds_in_job
    values.update(wl.layers(spark, traced_s))
    attempted, failed = _verdict(jobs, job_problems, wl.check_run())
    spark.stop()

    values.update({f"spark.{k}": v for k, v in harness.reduce_event_log(str(work / "eventlog"), op_groups).items()})
    values["trace.overhead_ratio"] = traced_s / plain_s
    wl.tracer.dump(str(ROOT / ".perfbench_out" / f"trace-{wl.name}-seed{args.seed}.jsonl"))
    self_times = {k: round(v, 4) for k, v in wl.tracer.self_times().items()}
    print(f"{wl.name} traced: job {traced_s:.3f} s vs untraced {plain_s:.3f} s; self times {json.dumps(self_times)}")
    undeclared = {k: round(v, 4) for k, v in values.items() if k not in PER_LAYER}
    if undeclared:  # lake_sql's per-entry times
        print(f"{wl.name} traced, not in BENCHMARK.json: {json.dumps(undeclared)}")
    return _result(attempted, failed, values, PER_LAYER)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        sys.path[:0] = [str(ROOT), str(HERE)]
        import bytesprocessor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    wl = WORKLOADS[args.workload](str(work), args.seed, harness.Tracer(bool(args.trace)), args.split_packets)
    try:
        canary_start = harness.canary_s()
        # set-up counts from process start (interpreter, JVM, session,
        # inputs, warm-up) but leaves out the canary's own loop
        since = PROCESS_START + canary_start
        result = (traced_run if args.trace else untraced_run)(wl, args, work, since)
        canary_end = harness.canary_s()
        if args.trace:
            result["metrics"]["host.canary_s"]["value"] = (canary_start + canary_end) / 2
        print(f"host canary: start {canary_start:.4f} s, end {canary_end:.4f} s")
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
