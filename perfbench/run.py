"""The repository benchmark: one workload, one seed, one closed-loop client.

Usage, from the repository root::

    python3 perfbench/run.py --workload ingest_dbc --seed 1 --seconds 20 --trace 0

Workloads (``perfbench/workloads.py``): ``ingest_dbc``, ``analytics_mix``,
``corpus_incremental``. Spark runs on ``local[<cores>]`` with shuffle
partitions = cores; ops run one at a time.

A run: generate the workload's inputs from ``--seed`` (excluded from every
metric); start the session (``session.get_spark``) and load the query
registry (``plans.query_fns``); run one warm-up pass (``ingest_dbc``: on its
first file alone); then ``round(seconds / nominal pass)`` timed passes, at
least one. Every op's output is checked once per run, outside the timed
region: registry ops in the warm-up pass against their DuckDB oracle,
``ingest_dbc`` in its first timed pass against the generator's
expectations. ``setup_s`` runs from process start to the end of the
warm-up, less input generation and checks.

With ``--trace 1`` untraced and traced passes alternate (at least one of
each): spans, Spark status-store counters per op, streaming progress and
decode logs give the per-layer metrics, spans are written to
``perfbench/out/trace-<workload>-s<seed>.json``, and the traced minus the
untraced median pass time is reported as tracing overhead.

stdout: a report of every metric with unit and sample count, then one JSON
line ``{"correct", "attempted", "failed", "metrics"}`` carrying the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in ``BENCHMARK.json``. Exit code 2 without a result when the engine
or the input tables are missing.

All files are written under ``perfbench/.work`` (removed at exit) and
``perfbench/out``. Tables for ``analytics_mix`` and ``corpus_incremental``
are read from ``$SPARK_GRAFT_SF_DIR``, by default the ``sf0.1`` directory
beside the test suite's tables (``SF_DIR`` in ``tests/conftest.py``).

Self-tests: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, as near as the script can see it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# (name, unit) of the metrics on the result line; BENCHMARK.json lists the same
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("plans.import_s", "s"),
    ("session.warmup_s", "s"),
    ("plans.build_s", "s"),
    ("plans.action_s", "s"),
    ("plans.fixture_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.driver_gap_s", "s"),
    ("spark.jvm_heap_peak_mb", "MB"),
    ("sources.implode.decompress_mb_per_s", "MB/s"),
    ("sources.dbc.parse_mb_per_s", "MB/s"),
    ("sources.dbc_datasource.scan_s", "s"),
    ("sources.dbc_datasource.files_decoded", "count"),
    ("sources.dbc_datasource.decode_s", "s"),
    ("sources.dbc_datasource.useful_file_ratio", "ratio"),
    ("sinks.writer.load_s", "s"),
    ("sinks.writer.files_written", "count"),
    ("sinks.writer.mb_written", "MB"),
    ("sinks.store.files_written", "count"),
    ("sinks.store.mb_written", "MB"),
    ("streaming.batches", "count"),
    ("streaming.batch_p50_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("peak_rss_mb", "MB"),
    ("worker_peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
]
# per-op figures summed over a pass; the reported value is the median pass
_ADDITIVE = [
    "plans.build_s", "plans.action_s", "plans.fixture_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.driver_gap_s",
    "sinks.writer.load_s", "sinks.writer.files_written", "sinks.writer.mb_written",
    "sinks.store.files_written", "sinks.store.mb_written",
    "sources.dbc_datasource.scan_s", "sources.dbc_datasource.files_decoded",
    "sources.dbc_datasource.decode_s",
]


def _sf_dir() -> str:
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    from tests.conftest import SF_DIR

    return os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.1")


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run (and the JVM and Python workers it starts)
    writes inside ``work``; make the engine importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    from perfbench.trace import DECODE_LOG_ENV

    os.environ[DECODE_LOG_ENV] = os.path.join(work, "decode.log")


def _session(workload: str, work: str):
    from etl_lala_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        app_name=f"perfbench_{workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage of a run in the status store so per-op
            # watermark deltas never see evicted entries
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    ), cores


def _shutdown(spark, timeout: float = 60.0) -> None:
    """Stop Spark, the JVM and every process under it, and wait for them."""
    import signal

    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _per_pass(passes, key_fn) -> float:
    from perfbench.stats import median

    return median([key_fn(p) for p in passes]) if passes else 0.0


def _layer_metrics(ctx, traced, untraced, setup: dict, extras: dict, progress_marks: list[int],
                   heap_mb: float, memory: tuple[float, float]) -> dict[str, float]:
    from perfbench.stats import median

    out = {name: 0.0 for name, _ in PER_LAYER}
    out.update(setup)
    for key in _ADDITIVE:
        out[key] = _per_pass(
            traced, lambda p: p.layer.get(key, 0.0) + sum(o.layer.get(key, 0.0) for o in p.ops)
        )

    def useful(p) -> float:
        decoded = p.layer.get("sources.dbc_datasource.files_decoded", 0)
        return sum(o.layer.get("useful_files", 0) for o in p.ops) / decoded if decoded else 0.0

    out["sources.dbc_datasource.useful_file_ratio"] = _per_pass(traced, useful)
    batches = ctx.progress.batches if ctx.progress else []
    per_pass = [batches[a:b] for a, b in zip(progress_marks[::2], progress_marks[1::2])]
    if batches:
        out["streaming.batches"] = median([len(b) for b in per_pass])
        out["streaming.batch_p50_s"] = median([b["trigger_s"] for b in batches])
        out["streaming.add_batch_s"] = median([sum(x["add_batch_s"] for x in b) for b in per_pass])
        out["streaming.wal_commit_s"] = median([sum(x["wal_commit_s"] for x in b) for b in per_pass])
        out["streaming.state_rows"] = max(b["state_rows"] for b in batches)
    out["spark.jvm_heap_peak_mb"] = heap_mb
    out.update(extras)
    out["peak_rss_mb"], out["worker_peak_rss_mb"] = memory
    out["trace.overhead_s"] = _per_pass(traced, lambda p: p.wall_s) - _per_pass(untraced, lambda p: p.wall_s)
    return out


def bench(args: argparse.Namespace, work: str) -> tuple[dict, list[str]]:
    """Run the workload; returns (result line, report lines)."""
    from etl_lala_spark.plans import query_fns
    from perfbench import stats
    from perfbench.trace import LoggedDbcDataSource, ProcMemory, ProgressLog, SparkCounters, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    tracer = Tracer(enabled=bool(args.trace))
    sf_dir = _sf_dir()
    ctx = Ctx(spark=None, fns={}, sf_dir=sf_dir, work=work, seed=args.seed, tracer=tracer)

    t = time.perf_counter()
    wl.prepare(ctx)
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark, cores = _session(args.workload, work)
    session_s = time.perf_counter() - t
    ctx.spark = spark
    try:
        t = time.perf_counter()
        with tracer.span("plans.query_fns"):
            ctx.fns = query_fns()
        import_s = time.perf_counter() - t
        mem = ProcMemory(spark.sparkContext._gateway.proc.pid)

        t = time.perf_counter()
        with tracer.span("session.warmup"):
            warm = wl.warm_up(ctx)
        warm_s = time.perf_counter() - t - ctx.check_s
        setup_s = time.perf_counter() - T0 - gen_s - ctx.check_s

        n_passes = max(1, round(args.seconds / wl.nominal_pass_s))
        tracer.enabled = False
        passes, traced, extras, heap_mb, marks = [], [], {}, 0.0, []
        if not args.trace:
            passes = [wl.run_pass(ctx, first=i == 0) for i in range(n_passes)]
        else:
            # untraced and traced passes alternate, so host drift during the
            # run shifts both sides of the tracing-overhead difference alike
            spark.dataSource.register(LoggedDbcDataSource)
            ctx.progress = ProgressLog()
            spark.streams.addListener(ctx.progress)
            counters = SparkCounters(spark)
            for i in range(max(2, n_passes)):
                traced_pass = i % 2 == 1
                if traced_pass:
                    counters.mark()
                    ctx.counters, tracer.enabled = counters, True
                    marks.append(len(ctx.progress.batches))
                record = wl.run_pass(ctx, first=i == 0)
                if traced_pass:
                    counters.drain()
                    marks.append(len(ctx.progress.batches))
                    ctx.counters, tracer.enabled = None, False
                (traced if traced_pass else passes).append(record)
            tracer.enabled = True
            extras = wl.traced_extras(ctx)
            heap_mb = counters.jvm_heap_peak_mb()
        mem.stop()
        peak_rss = mem.driver_plus_jvm_mb()
        worker_rss = mem.worker_peak_mb()
    finally:
        _shutdown(spark)

    all_ops = [o for p in [warm, *passes, *traced] for o in p.ops]
    attempted, failed = len(all_ops), sum(not o.ok for o in all_ops)
    lat = [o.latency_s for p in passes for o in p.ops if o.ok]  # untraced passes only
    tail_p, tail_v = stats.tail(lat)
    e2e = [
        ("setup_s", setup_s, "s", 1),
        ("pass_s", _per_pass(passes, lambda p: p.wall_s), "s", len(passes)),
        ("op_p50_s", stats.median(lat), "s", len(lat)),
        (f"op_tail_s (p{tail_p})" if tail_p else "op_tail_s (n<11)", tail_v, "s", len(lat)),
        ("ops_failed_ratio", failed / attempted if attempted else 1.0, "ratio", attempted),
        *wl.report(passes),
        ("worker_peak_rss_mb", worker_rss, "MB", len(mem.worker_peak)),
        ("peak_rss_mb", peak_rss, "MB", 1),
    ]
    lines = [
        f"perfbench workload={args.workload} seed={args.seed} cores={cores} "
        f"passes={len(passes)} traced_passes={len(traced)} ops/pass={len(passes[0].ops)} "
        f"(input generation {gen_s:.2f}s and output checks {ctx.check_s:.2f}s excluded)",
        *(f"  {n:<40} {v:>12.4f} {u:<6} n={k}" for n, v, u, k in e2e),
    ]
    lines.append(f"  setup: session {session_s:.3f}s, registry {import_s:.3f}s, warm-up {warm_s:.3f}s")
    lines.append("  pass walls (s): " + " ".join(f"{p.wall_s:.3f}" for p in passes))
    lines += [f"  FAILED {f}" for f in ctx.failures]
    e2e_values = {n: v for n, v, _u, _k in e2e}
    metrics = {n: {"value": e2e_values[n], "unit": u} for n, u in END_TO_END}
    if args.trace:
        setup_layer = {"session.start_s": session_s, "plans.import_s": import_s,
                       "session.warmup_s": warm_s}
        layer = _layer_metrics(ctx, traced, passes, setup_layer, extras, marks, heap_mb,
                               (peak_rss, worker_rss))
        lines.append("  per layer (median of traced passes, interleaved with untraced ones):")
        lines += [f"  {n:<40} {layer[n]:>12.4f} {u}" for n, u in PER_LAYER]
        out_dir = os.path.join(BENCH_DIR, "out")
        os.makedirs(out_dir, exist_ok=True)
        span_path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
        with open(span_path, "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed, "end_to_end": e2e_values,
                "per_layer": layer, "spans": tracer.dump(T0),
                "ops": [[{"name": o.name, "latency_s": o.latency_s, "ok": o.ok, **o.layer}
                         for o in p.ops] for p in traced],
            }, fh, indent=1)
        lines.append(f"  spans: {os.path.relpath(span_path, ROOT)} ({len(tracer.spans)} spans)")
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, lines


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    try:
        import etl_lala_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS, RegistryWorkload
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sf_dir = _sf_dir()
    if issubclass(WORKLOADS[args.workload], RegistryWorkload) and not os.path.isdir(sf_dir):
        print(f"perfbench: input tables not found at {sf_dir}", file=sys.stderr)
        return 2
    work_root = os.path.join(BENCH_DIR, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    try:
        _environment(work)
        result, lines = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)  # only when no other run is using it
        except OSError:
            pass
    print("\n".join(lines), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
