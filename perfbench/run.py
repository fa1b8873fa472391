#!/usr/bin/env python3
"""Benchmark of the ocaml_lucene_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. The last
line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a detail record (host facts, the workload's own metrics, module self
times). Every run writes its detail record, and a traced run its spans,
under ``.perfbench/results/``. Workloads, metrics and the layer map are
described in ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_input_byte": "ratio",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
}

_LAYER_UNITS = {
    "session.start_s": "s",
    "term_index.load_s": "s",
    "term_index.seek_us": "us",
    "exec.construct_s": "s",
    "exec.construct_jobs": "count",
    "exec.collect_s": "s",
    "exec.driver_s": "s",
    "exec.jobs_per_query": "count",
    "exec.stages_per_query": "count",
    "exec.tasks_per_query": "count",
    "exec.route.wand": "count",
    "exec.route.parallel": "count",
    "exec.route.indexed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.failed_tasks": "count",
    "wand.decoded_blocks": "count",
    "wand.total_blocks": "count",
    "wand.decode_ratio": "ratio",
    "codecs.decode_postings_per_s": "1/s",
    "codecs.encode_postings_per_s": "1/s",
    "build.wall_s": "s",
    "build.postings_per_s": "1/s",
    "build.cores_used": "cores",
    "build.bytes_packed": "bytes",
    "append.wall_s": "s",
    "merge.wall_s": "s",
    "merge.bytes_rewritten_ratio": "ratio",
    "proc.cpu_s": "s",
    "proc.cores_used": "cores",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}
# self time per module: the span names' part before "/"; "bench" is the
# benchmark's own code between calls into the engine
MODULES = (
    "session", "query.term_index", "query.exec", "query.bm25", "index.build",
    "index.merge", "codecs.blocks", "operators.dedup", "operators.ann",
    "functions.textstats", "spark.status", "bench",
)


def per_layer_units() -> dict[str, str]:
    import inputs

    units = dict(_LAYER_UNITS)
    units.update({m: "s" for m in inputs.CORPUS_OPS.values()})
    units.update({f"self_s.{m}": "s" for m in MODULES})
    return units


def tail(latencies: list[float]) -> tuple[float, int]:
    """(latency, rank from the top): the slowest latency that still has
    TAIL_BEYOND samples beyond it, or the maximum of a short run."""
    from workloads import TAIL_BEYOND

    xs = sorted(latencies)
    rank = TAIL_BEYOND + 1 if len(xs) > TAIL_BEYOND else 1
    return xs[-rank], rank


def end_to_end(run) -> dict[str, float]:
    import inputs
    from workloads import median

    return {
        "setup_s": (run.session_start_s + run.warmup_s + median(run.setup_reps)
                    + run.warm_pass_s),
        "build_docs_per_s": inputs.INDEX_DOCS / run.ingest["build"],
        "index_bytes_per_input_byte": run.ingest["bytes_per_input_byte"],
        # median over the window's rounds: a stall on a shared host
        # slows one round, not the figure
        "queries_per_s": median(run.round_rates()),
        "query_p50_s": median(run.latencies),
    }


def per_layer(run, peak_rss: int) -> dict[str, float]:
    from workloads import median

    s, c = run.samples, run.counts
    out = dict.fromkeys(per_layer_units(), 0.0)
    for name in out:
        if name in s and not name.startswith("spark."):
            out[name] = median(s[name])
        elif name in c:
            out[name] = c[name]
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        out[f"spark.{k}"] = median(s[f"spark.{k}"])
    out["spark.failed_tasks"] = sum(s["spark.failed_tasks"])
    for k in ("jobs", "stages", "tasks"):
        xs = s[f"spark.{k}"]
        out[f"exec.{k}_per_query"] = sum(xs) / len(xs) if xs else 0.0
    out["exec.construct_jobs"] = (
        sum(s["exec.construct_jobs"]) / len(s["exec.construct_jobs"])
        if s["exec.construct_jobs"] else 0.0
    )
    out["session.start_s"] = run.session_start_s
    if c["wand.total_blocks"]:
        out["wand.decode_ratio"] = c["wand.decoded_blocks"] / c["wand.total_blocks"]
    out["proc.cpu_s"] = run.window_cpu_s
    out["proc.cores_used"] = run.window_cpu_s / run.window_s
    out["proc.peak_rss_mb"] = peak_rss / 2**20
    if run.pairs:
        out["trace.overhead_frac"] = median([t / u - 1.0 for t, u in run.pairs])
    by_module: dict[str, float] = {}
    for name, secs in run.tracer.self_times().items():
        module = name.split("/", 1)[0]
        module = "bench" if module in ("op", "setup") else module
        by_module[module] = by_module.get(module, 0.0) + secs
    for m in MODULES:
        out[f"self_s.{m}"] = by_module.get(m, 0.0)
    return out


def detail_metrics(run, peak_rss: int) -> dict:
    """Figures recorded in the detail line but not gated: peak memory,
    the failed share, the latency tail, and (traced runs) append, merge
    and the corpus operators."""
    import inputs
    from workloads import median

    out = {
        "peak_rss_mb": peak_rss / 2**20,
        "failed_frac": (run.errors + run.wrong) / max(run.attempted, 1),
        "query_tail_s": tail(run.latencies)[0] if run.latencies else 0.0,
        "query_tail_rank_from_top": tail(run.latencies)[1] if run.latencies else 0,
        "queries_timed": len(run.latencies),
        "queries_per_s_whole_window": sum(run.ok) / run.window_s if run.window_s else 0.0,
        "round_walls_s": run.round_walls,
        "latencies_s": run.latencies,
    }
    if "merge" in run.ingest:
        out["append_docs_per_s"] = inputs.DELTA_DOCS / run.ingest["append"]
        out["merge_s"] = run.ingest["merge"]
    ops = [run.samples[m][0] for m in inputs.CORPUS_OPS.values() if run.samples[m]]
    if ops:
        out["corpus_ops.op_p50_s"] = median(ops)
        out["corpus_ops.ops_per_s"] = len(ops) / sum(ops)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import ocaml_lucene_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    import probes
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    isolate_environment()
    host_start = probes.host_facts()
    ticks0 = probes.cpu_ticks()
    run = workloads.Run(ROOT, args.seed, args.seconds, bool(args.trace))
    try:
        with probes.RssSampler() as rss:
            workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop()
    leftover = [p for p in probes.descendants() if p != os.getpid()]
    ticks1 = probes.cpu_ticks()
    # CPU time the hypervisor gave to other guests while this run waited
    steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host_start": host_start, "host_end": probes.host_facts(),
        "cpu_steal_frac": steal,
        "errors": run.errors, "wrong": run.wrong, "setup_reps_s": run.setup_reps,
        "warm_pass_s": run.warm_pass_s,
        "ingest_s": run.ingest, "metrics": detail_metrics(run, rss.peak_bytes),
        "leftover_processes": leftover, "phases_s": run.phases,
    }
    if args.trace:
        metrics, units = per_layer(run, rss.peak_bytes), per_layer_units()
    else:
        metrics, units = end_to_end(run), END_TO_END
    detail["reported"] = metrics
    os.makedirs(os.path.join(run.work, "results"), exist_ok=True)
    stem = os.path.join(run.work, "results", f"{args.workload}-{args.seed}-t{args.trace}")
    with open(f"{stem}.json", "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        run.tracer.dump(f"{stem}.spans.json")
    failed = run.errors + run.wrong
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0 and bool(run.latencies),
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and give the
    engine its defaults: overrides a caller's shell may carry are
    dropped, so driver heap, cores and partitions are what users get."""
    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "OLSPARK_IO_CODEC",
                "OLSPARK_TF_AGG", "OLSPARK_BUILD_PROFILE", "OLSPARK_PERSIST_TOKENS",
                "OLSPARK_SALT_SAMPLE_FRAC", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    os.environ["SPARK_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.chdir(work)  # spark-warehouse / derby files land here, not in the repo


if __name__ == "__main__":
    sys.exit(main())
