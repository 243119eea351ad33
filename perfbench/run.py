"""Benchmark entry point.

    python3 perfbench/run.py --workload handles --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[nproc]`` in this process and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` drives the same workload with every
call wrapped in a span, rolls the Spark event log up per layer and
reports the per-layer metrics instead. ``--smoke`` shrinks the inputs.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: the stores of each run in ``run-*`` and the per-call record
of each run in ``records/``. Nothing is deleted on the way out (see
README.md, "Host fit").
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "index_s": "s",
    "search_ms": "ms",
    "traverse_ms": "ms",
    "kg_bytes_per_input_byte": "bytes/byte",
}
TAGS = ("discover", "extract", "link", "materialize", "index", "search", "traverse")
PER_LAYER = {
    **{f"{p}.s": "s" for p in ("discover", "extract", "link", "materialize")},
    "extract.mentions": "count",
    "extract.udf_turns_per_s": "turns/s",
    "embed.s": "s",
    "embed.udf_turns_per_s": "turns/s",
    "link.surfaces": "count",
    "link.candidate_pairs": "count",
    "link.pair_yield": "ratio",
    "link.cc_s": "s",
    "link.largest_component": "count",
    "materialize.compute_s": "s",
    "materialize.write_s": "s",
    "write.bytes": "bytes",
    "write.files": "count",
    "write.amplification": "bytes/byte",
    "search.semantic_ms": "ms",
    "search.hybrid_ms": "ms",
    "search.text_ms": "ms",
    "search.metadata_ms": "ms",
    "search.similar_ms": "ms",
    "search.jobs_per_call": "jobs",
    "traverse.mentioners_ms": "ms",
    "traverse.conv_entities_ms": "ms",
    "traverse.find_path_ms": "ms",
    "traverse.stats_ms": "ms",
    "traverse.find_path_jobs": "jobs",
    **{
        f"{t}.{m}": u
        for t in TAGS
        for m, u in (("shuffle_bytes", "bytes"), ("task_s", "s"), ("tasks", "count"),
                     ("jobs", "count"))
    },
    "index.gc_s": "s",
    "setup.session_s": "s",
    "setup.corpus_s": "s",
    "setup.base_build_s": "s",
    "session.peak_mem_mb": "MiB",
}
# spans under these tags are set-up or checking, not the workload
UNCOUNTED_TAGS = ("warmup", "check", "probe")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("handles", "reindex"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    try:
        import pyspark  # noqa: F401
        import hikma_engine_spark  # noqa: F401
        import oracle_kg  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2

    import host
    import spans as tr
    import workloads
    from hikma_engine_spark.session import get_spark

    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, f"run-{tag}-{os.getpid()}")
    records = os.path.join(base, "records")
    os.makedirs(work)
    os.makedirs(records, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp

    load_start = host.loadavg()
    trace = bool(args.trace)
    confs = host.spark_confs(work, trace)
    with host.MemSampler(active=trace) as mem:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=host.nproc(),
                          extra_conf=confs)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        stamp = host.stamp(spark, confs, load_start)
        tracer = tr.Tracer(spark) if trace else None
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds,
                            "smoke" if args.smoke else "full", tracer, mem)
        ctx.layers["setup.session_s"] = session_s
        try:
            workloads.WORKLOADS[args.workload](ctx)
            workloads.phase_layers(ctx)
        except Exception:  # noqa: BLE001 -- the run is void: no result line
            traceback.print_exc()
            stop(spark)
            return 1
        t_stop = time.perf_counter()
        stop(spark)
        ctx.record["stop_s"] = time.perf_counter() - t_stop
    stamp["loadavg_end"] = host.loadavg()
    if trace:
        ctx.layers["session.peak_mem_mb"] = mem.window_peak_mib
        ctx.record["run_peak_mem_mb"] = mem.peak_kib / 1024.0

    if trace:
        tracer.write(os.path.join(records, f"{tag}-spans.json"))
        engine_layers(ctx, tracer, os.path.join(work, "eventlog"))
        out = {k: (ctx.layers.get(k), u) for k, u in PER_LAYER.items()}
    else:
        ctx.metrics["setup_s"] = (
            session_s + ctx.layers["setup.corpus_s"] + ctx.layers["setup.base_build_s"]
        )
        out = {k: (ctx.metrics.get(k), u) for k, u in END_TO_END.items()}
    missing = [k for k, (v, _u) in out.items() if v is None]
    problems = ctx.problems + [f"metric {k} not measured" for k in missing]
    errors = ctx.errors
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(
            {"host": stamp, "workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace, "problems": problems,
             "errors": errors,
             "metrics": ctx.metrics, "layers": ctx.layers, **ctx.record},
            f, indent=1, default=str,
        )
    for p in errors + problems:
        print(f"perfbench: {p}", file=sys.stderr)
    # a failed operation is counted in `failed`; `correct` speaks of the rest
    print(json.dumps({
        "correct": not problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v) if v is not None else None, "unit": u}
                    for k, (v, u) in out.items()},
    }))
    return 0


def engine_layers(ctx, tracer, log_dir: str) -> None:
    """Per-tag engine totals and jobs-per-call from the event log."""
    import spans as tr

    for s in tracer.spans:
        anc = s
        while anc is not None:
            if anc["tag"] in UNCOUNTED_TAGS:
                s["tag_counted"] = False
                break
            anc = tracer.spans[anc["parent"]] if anc["parent"] is not None else None
    counted = [dict(s, tag=(s["tag"] if s.get("tag_counted", True) else "uncounted"))
               for s in tracer.spans]
    per_tag, per_span = tr.rollup(log_dir, counted)
    jobs = {sid: agg["jobs"] for sid, agg in per_span.items()}
    ctx.record["engine"] = per_tag
    ctx.record["engine_per_call"] = [
        {"name": s["name"], "tag": s["tag"], "sec": s["sec"], **per_span.get(s["id"], {})}
        for s in counted if s["tag"] in ("index", "search", "traverse")
    ]
    for t in TAGS:
        agg = per_tag.get(t, dict(tr._ZERO))  # noqa: SLF001
        for m in ("shuffle_bytes", "task_s", "tasks", "jobs"):
            ctx.layers[f"{t}.{m}"] = agg[m]
    idx = per_tag.get("index", dict(tr._ZERO))  # noqa: SLF001
    ctx.layers["index.gc_s"] = idx["gc_s"]
    per_kind: dict[str, list[int]] = {}
    for s in counted:
        if s["tag"] in ("search", "traverse"):
            per_kind.setdefault(s["name"], []).append(jobs.get(s["id"], 0))
    ctx.record["jobs_per_call_kind"] = {k: statistics.mean(v) for k, v in per_kind.items()}
    search_jobs = [jobs.get(s["id"], 0) for s in counted if s["tag"] == "search"]
    path_jobs = [jobs.get(s["id"], 0) for s in counted if s["name"] == "find_path"
                 and s["tag"] == "traverse"]
    if search_jobs:
        ctx.layers["search.jobs_per_call"] = statistics.mean(search_jobs)
    if path_jobs:
        ctx.layers["traverse.find_path_jobs"] = statistics.mean(path_jobs)


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from hikma_engine_spark.session import stop_all

    sc = spark.sparkContext
    gateway = sc._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    stop_all()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 -- already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
