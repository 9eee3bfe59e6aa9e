"""edgar-crawler-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload fresh_crawl --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository. Prints a report
line, then (last line of stdout) one JSON object:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` the per-layer
metrics of one traced job (spans written to ``.perfbench_out/``). See
perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "job_wall_s": "s",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "frontier.submit_s": "s",
    "frontier.admitted": "count",
    "frontier.admit_ratio": "ratio",
    "frontier.waves": "count",
    "frontier.fetch_phase_s": "s",
    "frontier.non_fetch_s": "s",
    "frontier.retried": "count",
    "frontier.failed": "count",
    "fetch.stage_task_s": "s",
    "fetch.task_skew": "ratio",
    "fetch.attempts_per_url": "ratio",
    "fetch.politeness_wait_s": "s",
    "fetch.decode_ok_ratio": "ratio",
    "seen.filter_update_s": "s",
    "seen.filter_read_s": "s",
    "seen.maybe_ratio": "ratio",
    "seen.fp_ratio": "ratio",
    "seen.filter_bytes": "B",
    "state.commits": "count",
    "state.commit_s": "s",
    "state.bytes_written": "B",
    "state.bytes_per_url": "B",
    "state.files": "count",
    "near_dup.pass_s": "s",
    "near_dup.rows_in": "count",
    "near_dup.pairs": "count",
    "near_dup.pairs_per_row": "ratio",
    "near_dup.exact_precision": "ratio",
    "extract.records_s": "s",
    "extract.docs": "count",
    "extract.error_docs": "count",
    "extract.items_per_doc": "ratio",
    "extract.task_skew": "ratio",
    "sink.write_s": "s",
    "sink.files": "count",
    "sink.bytes": "B",
    **{f"catalog.{q}_s": "s" for q in (
        "flagship_frontier_pipeline", "a5_agg_summary", "j2_anti_join_dedup",
        "a6_argmax_per_group", "a3_per_host_rank", "dedup_exact",
        "dedup_minhash_lsh_pairs", "dedup_simhash", "ann_bruteforce_topk",
        "ann_lsh_topk", "text_quality_score", "text_fingerprint",
        "ev_sessionize", "ev_tumbling_hourly",
    )},
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.task_skew_max": "ratio",
    "tracing.overhead_s": "s",
    "baseline.local1_job_wall_s": "s",
    "baseline.parallel_speedup": "ratio",
}

SETUP_REPS = 3
WARMUP_JOBS = 2
OUT_DIR = os.path.join(harness.ROOT, ".perfbench_out")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _setup(wl, ctx, slots: int) -> tuple[float, float]:
    """Prepare the inputs of ``slots`` timed jobs and WARMUP_JOBS
    probe-size jobs SETUP_REPS times (median reported), then warm up
    with the probe-size jobs. The first job in a session pays for Python
    worker start and imports and runs two to three times as long as the
    next; the jobs after it keep getting faster while the JVM compiles
    the per-wave planning and commit paths, which run as often in a
    small job as in a full one, so small jobs warm them as well as full
    ones at a fraction of the time. Returns (median prepare seconds,
    warm-up seconds)."""
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.time()
        wl.prepare(ctx, "full", slots)
        wl.prepare(ctx, "probe", WARMUP_JOBS)
        reps.append(time.time() - t0)
    t0 = time.time()
    for k in range(WARMUP_JOBS):
        wl.job(ctx, k, "probe")
    return harness.median(reps), time.time() - t0


def run_plain(args, settings, wl, ctx_factory) -> tuple[list, dict, dict]:
    n_jobs = max(1, round(args.seconds / wl.nominal_job_s))
    rss = harness.RssSampler().start()
    t0 = time.time()
    spark = harness.start_session(settings, f"perfbench-{wl.name}")
    start_s = time.time() - t0
    ctx = ctx_factory(spark)
    prep_s, warm_s = _setup(wl, ctx, n_jobs)
    jobs = [wl.job(ctx, k) for k in range(n_jobs)]
    spark.stop()
    peak_mb = rss.stop()
    walls = [j.wall_s for j in jobs]
    metrics = {
        "setup_s": start_s + warm_s + prep_s,
        "job_wall_s": harness.median(walls),
        "items_per_s": harness.median([j.items / j.wall_s for j in jobs]),
    }
    detail = {
        "peak_rss_mb": peak_mb,
        "session_start_s": start_s, "warmup_s": warm_s, "prepare_s": prep_s,
        "job_walls_s": walls, **wl.summary(jobs),
    }
    return jobs, metrics, detail


def run_traced(args, settings, wl, ctx_factory) -> tuple[list, dict, dict]:
    """One traced job (spans + event log), small probes of the layers
    this workload does not reach, then one job on local[1].

    The tracing overhead is measured directly, as the traced job's span
    count times the cost of one empty span: the spans cost a few
    milliseconds in all, far below the job-to-job scatter that a traced
    minus untraced wall difference would report."""
    import workloads

    event_log = os.path.join(settings.work, "eventlog")
    rss = harness.RssSampler().start()
    t0 = time.time()
    spark = harness.start_session(settings, f"perfbench-{wl.name}-traced", event_log=event_log)
    start_s = time.time() - t0
    ctx = ctx_factory(spark)
    prep_s, warm_s = _setup(wl, ctx, 2)
    ctx.tracer = harness.Tracer(spark)
    traced = wl.job(ctx, 0)
    ctx.tracer = None
    span_cost = traced.tracer.span_cost()
    layer = wl.spark_layer_metrics(ctx, traced)

    covered = set(wl.layers)
    probes = []
    for other_cls in (
        workloads.FreshCrawl, workloads.RecrawlDelta, workloads.ExtractFilings, workloads.CurateSql
    ):
        if set(other_cls.layers) <= covered:
            continue
        other = other_cls()
        other.prepare(ctx, "probe", 1)
        ctx.tracer = harness.Tracer(spark)
        pj = other.job(ctx, 0, "probe")
        ctx.tracer = None
        for k, v in other.spark_layer_metrics(ctx, pj).items():
            layer.setdefault(k, v)
        probes.append((other, pj))
        covered |= set(other.layers)
    spark.stop()

    log = harness.EventLog(event_log)
    layer.update(wl.log_layer_metrics(traced, log))
    for other, pj in probes:
        for k, v in other.log_layer_metrics(pj, log).items():
            layer.setdefault(k, v)
    layer.update(log.counters(log.select(traced.window)))

    ctx.spark = harness.start_session(settings, f"perfbench-{wl.name}-local1", cpus=1)
    single = wl.job(ctx, 1)
    ctx.spark.stop()

    layer.update(
        {
            "process.peak_rss_mb": rss.stop(),
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "tracing.overhead_s": len(traced.tracer.spans) * span_cost,
            "baseline.local1_job_wall_s": single.wall_s,
            "baseline.parallel_speedup": single.wall_s / traced.wall_s,
        }
    )
    os.makedirs(OUT_DIR, exist_ok=True)
    spans = os.path.join(OUT_DIR, f"spans-{wl.name}-seed{args.seed}.json")
    traced.tracer.dump(spans)
    detail = {
        "spans_file": os.path.relpath(spans, harness.ROOT),
        "traced_job_wall_s": traced.wall_s,
        "spans": len(traced.tracer.spans),
        "span_cost_s": span_cost,
        "prepare_s": prep_s,
        **wl.summary([traced]),
        # layer numbers outside the BENCHMARK.json list (recrawl_delta's
        # measured input shape)
        "extra_layer_metrics": {k: v for k, v in layer.items() if k not in PER_LAYER},
    }
    jobs = [traced, single] + [pj for _, pj in probes]
    return jobs, layer, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not harness.program_present():
        print(
            "perfbench: the program (edgar_crawler_spark/, spark_submit_main.py) "
            f"is not in {harness.ROOT}; run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, harness.ROOT)
    work = os.path.join(harness.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    settings = harness.Settings(work)
    settings.export()

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()

    def ctx_factory(spark):
        return workloads.Ctx(spark, settings, work, args.seed)

    try:
        runner = run_traced if args.trace else run_plain
        jobs, metrics, detail = runner(args, settings, wl, ctx_factory)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(harness.WORK_ROOT) and not os.listdir(harness.WORK_ROOT):
            os.rmdir(harness.WORK_ROOT)

    wanted = PER_LAYER if args.trace else END_TO_END
    missing = sorted(set(wanted) - set(metrics))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    errors = [e for j in jobs for e in j.errors]
    attempted = sum(j.attempted for j in jobs)
    failed = sum(j.failed for j in jobs)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        **settings.describe(),
        "output_ok": int(not errors),
        "failed_ratio": failed / max(1, attempted),
        "errors": errors,
        **detail,
    }
    print("perfbench report: " + json.dumps(report, default=str))
    result = {
        "correct": not errors,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in wanted.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
