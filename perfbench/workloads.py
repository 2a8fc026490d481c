"""The benchmark's workloads and the op runner they share.

A workload is a fixed list of ops run one at a time (closed loop, one
client). ``warm_up(ctx)`` runs the untimed warm-up pass and ``run_pass``
a timed one; every op's output is checked once per run, outside the op's
timing.
"""

from __future__ import annotations

import os
import queue
import random
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from etl_lala_spark.plans import _gates
from etl_lala_spark.sinks.writer import load_incremental
from etl_lala_spark.sources.dbc import dbc_to_dbf, parse_dbf_columns
from etl_lala_spark.sources.dbc_datasource import PROVENANCE_COL, register_dbc_source
from perfbench import datagen
from perfbench.stats import median
from perfbench.trace import (
    DECODE_LOG_ENV,
    ProgressLog,
    SparkCounters,
    Tracer,
    read_decode_log,
)

MB = 1024 * 1024


@dataclass
class OpRecord:
    name: str
    latency_s: float = 0.0
    ok: bool = True
    error: str = ""
    # per-layer figures of this op: additive counts and seconds
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class PassRecord:
    wall_s: float
    ops: list[OpRecord]
    # per-layer figures measured once per pass, outside its ops
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    fns: dict[str, Callable]
    sf_dir: str
    work: str
    seed: int
    tracer: Tracer
    counters: SparkCounters | None = None  # set for traced passes only
    progress: ProgressLog | None = None
    check_s: float = 0.0  # time spent checking outputs, excluded from setup
    failures: list[str] = field(default_factory=list)
    op_seq: int = 0

    def run_op(self, name: str, body: Callable[[OpRecord], None]) -> OpRecord:
        """Run one op; ``body`` fills in the record's latency (and may raise
        or mark it failed). Spark counters are attributed by watermark."""
        rec = OpRecord(name)
        self.op_seq += 1
        t_epoch = time.time()
        t0 = time.perf_counter()
        with self.tracer.span(f"op:{name}", op=f"{self.op_seq}:{name}"):
            try:
                body(rec)
            except Exception as exc:  # an op failure is counted, not fatal
                rec.ok = False
                rec.error = f"{type(exc).__name__}: {exc}"[:500]
        if not rec.latency_s:
            rec.latency_s = time.perf_counter() - t0
        if self.counters is not None:
            rec.layer.update(self.counters.collect(t_epoch, time.time()))
        if not rec.ok:
            self.failures.append(f"{name}: {rec.error}")
        return rec

    def checked(self, rec: OpRecord, check: Callable[[], str | None]) -> None:
        """Run an output check outside the op's timing; a mismatch fails it."""
        t0 = time.perf_counter()
        try:
            problem = check()
        except Exception as exc:
            problem = f"check raised {type(exc).__name__}: {exc}"
        self.check_s += time.perf_counter() - t0
        if problem:
            rec.ok = False
            rec.error = problem[:500]
            self.failures.append(f"{rec.name}: {rec.error}")


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> tuple[int, float]:
    """(files, MB) new or rewritten between two directory snapshots."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new) / MB


# --- registry workloads: analytics_mix, corpus_incremental --------------------------


class RegistryWorkload:
    """Registered query functions, each forced through the noop sink. The
    seed shuffles op order per pass. Gate fixture time is excluded from an
    op's latency, as ``bench.py`` does."""

    name = ""
    ops: list[str] = []
    # nominal length of one pass on a 4-core host; passes per run =
    # round(seconds / nominal_pass_s), at least 1
    nominal_pass_s = 1.0

    def prepare(self, ctx: Ctx) -> None:
        self._con = None
        self._rng = random.Random(ctx.seed)

    def _oracle_check(self, ctx: Ctx, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        from tests.test_oracle_parity import QUERIES, duck_con, normalize

        oracle = QUERIES[name].oracle
        if oracle is None:
            return None
        if self._con is None:
            self._con = duck_con(ctx.sf_dir)
        res = self._con.execute(oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{len(rows)} rows != oracle {len(orows)}"
        if normalize(rows, cols) != normalize(orows, ocols):
            return "values differ from the DuckDB oracle"
        return None

    def _op(self, ctx: Ctx, name: str, check: bool) -> OpRecord:
        spark, tracer = ctx.spark, ctx.tracer
        store_before = self._store_tree(ctx)
        out: dict[str, object] = {}

        def body(rec: OpRecord) -> None:
            spark.catalog.clearCache()
            _gates.reset_fixture(name)
            t0 = time.perf_counter()
            with tracer.span(f"plans.{name}"):
                df = ctx.fns[name](spark, ctx.sf_dir)
            t1 = time.perf_counter()
            with tracer.span("spark.action"):
                if check:
                    out["cols"], out["rows"] = df.columns, [tuple(r) for r in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            fix = _gates.FIXTURE_SECONDS.get(name, 0.0)
            rec.latency_s = t2 - t0 - fix
            rec.layer.update({
                "plans.build_s": t1 - t0 - fix,
                "plans.action_s": t2 - t1,
                "plans.fixture_s": fix,
            })

        rec = ctx.run_op(name, body)
        if store_before is not None:
            files, mb = written(store_before, self._store_tree(ctx))
            rec.layer.update({"sinks.store.files_written": files, "sinks.store.mb_written": mb})
        if check and rec.ok:
            ctx.checked(rec, lambda: self._oracle_check(ctx, name, out["cols"], out["rows"]))
        return rec

    def _store_tree(self, ctx: Ctx) -> dict | None:
        """Snapshot of the gates' durable state (traced passes only)."""
        if ctx.counters is None:
            return None
        root = os.path.join(
            tempfile.gettempdir(), f"etl_lala_gates-{ctx.spark.sparkContext.applicationId}"
        )
        return _tree(root)

    def _pass(self, ctx: Ctx, check: bool) -> PassRecord:
        order = list(self.ops)
        self._rng.shuffle(order)
        t0 = time.perf_counter()
        ops = [self._op(ctx, name, check) for name in order]
        return PassRecord(time.perf_counter() - t0 - sum(o.layer.get("plans.fixture_s", 0.0) for o in ops), ops)

    def warm_up(self, ctx: Ctx) -> PassRecord:
        """Every op once, collected and checked against its oracle."""
        return self._pass(ctx, check=True)

    def run_pass(self, ctx: Ctx, first: bool) -> PassRecord:
        return self._pass(ctx, check=False)

    def traced_extras(self, ctx: Ctx) -> dict[str, float]:
        return {}

    def report(self, passes: list[PassRecord]) -> list[tuple[str, float, str, int]]:
        return []


class AnalyticsMix(RegistryWorkload):
    """Read-only, oracle-backed, task-bound queries of five shapes: TPC-H
    aggregate and join, a per-customer window, the DATASUS PA summary (the
    largest shuffle) and BM25 text retrieval. A pass is one execution each;
    the JIT keeps speeding passes up for about five executions per query, so
    a few shapes repeated four times measure steadier than many shapes once
    or twice in the same time."""

    name = "analytics_mix"
    ops = [
        "q1_pricing_summary", "q3_shipping_priority", "window_topk_per_customer",
        "datasus_pa_summary", "text_bm25_retrieval",
    ]
    nominal_pass_s = 5.0


class CorpusIncremental(RegistryWorkload):
    """Multi-stage corpus gates that write durable state and run streaming
    twins: 12-118 Spark jobs per op, so per-job driver overhead and store
    commits show. A pass takes ~40 s warm on 4 cores (~90 s cold)."""

    name = "corpus_incremental"
    ops = [
        "web_corpus_build", "web_recrawl_incremental", "web_bloom_sketch_lifecycle",
        "stream_twin_url_frontier_sketch", "versioned_table_lifecycle",
        "stream_twin_versioned_ingest",
    ]
    nominal_pass_s = 40.0


# --- ingest_dbc ----------------------------------------------------------------------------

ARRIVAL_TIMEOUT_S = 120.0


class IngestDbc:
    """The paper's DATASUS path on a seeded landing directory: batch load
    (``spark.read.format("dbc")`` -> ``load_incremental`` into a fresh
    month-partitioned table), an idempotent replay of the same directory,
    and a running ``readStream.format("dbc")`` stream fed one file at a
    time, each only after the previous file's rows are committed.

    The warm-up pass runs the same three legs on the first file alone; the
    full-size outputs are checked in the first timed pass, outside the
    timed region."""

    name = "ingest_dbc"
    nominal_pass_s = 10.5

    def prepare(self, ctx: Ctx) -> None:
        self.landing = os.path.join(ctx.work, "landing")
        self.files = datagen.generate(ctx.seed, self.landing)
        self.warm_landing = os.path.join(ctx.work, "warm_landing")
        os.makedirs(self.warm_landing)
        os.link(self.files[0].path, os.path.join(self.warm_landing, os.path.basename(self.files[0].path)))
        self._pass_no = 0
        self._schema = None

    def _with_competencia(self, df):
        return df.withColumn("competencia", F.col("PA_CMP"))

    def _check_table(self, ctx: Ctx, path: str, files: list[datagen.PaFile]) -> str | None:
        df = ctx.spark.read.parquet(path)
        want_cols = sorted([*datagen.PA_COLUMNS, PROVENANCE_COL, "competencia"])
        if sorted(df.columns) != want_cols:
            return f"table columns {sorted(df.columns)} != {want_cols}"
        got = {
            r["competencia"]: (r["n"], r["checksum"], sorted(r["origem"]))
            for r in df.groupBy("competencia").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(datagen.spark_checksum(datagen.PA_COLUMNS)).alias("checksum"),
                F.collect_set(PROVENANCE_COL).alias("origem"),
            ).collect()
        }
        want = {f.competencia: (f.rows, f.checksum, [f.stem]) for f in files}
        if got != want:
            bad = sorted(k for k in want.keys() | got.keys() if got.get(k) != want.get(k))
            return f"loaded table differs from the generator at competências {bad}"
        return None

    def _load(self, ctx: Ctx, landing: str, files: list[datagen.PaFile], table: str,
              replay: bool) -> OpRecord:
        tracer = ctx.tracer
        expect = 0 if replay else sum(f.rows for f in files)
        before = _tree(table) if ctx.counters is not None else None

        def body(rec: OpRecord) -> None:
            t0 = time.perf_counter()
            with tracer.span("sources.dbc_datasource.read"):
                df = ctx.spark.read.format("dbc").load(landing)
            with tracer.span("sinks.writer.load_incremental"):
                res = load_incremental(ctx.spark, self._with_competencia(df), table)
            rec.latency_s = time.perf_counter() - t0
            inserted = res["registros_inseridos"]
            rec.layer["rows_inserted"] = inserted
            rec.layer["sinks.writer.load_s"] = rec.latency_s
            if inserted > 0:
                skipped = set(res["competencias_existentes"])
                rec.layer["useful_files"] = sum(f.competencia not in skipped for f in files)
            if inserted != expect:
                rec.ok = False
                rec.error = f"inserted {inserted} rows, expected {expect}"

        rec = ctx.run_op("replay" if replay else "load", body)
        if before is not None:
            files_n, mb = written(before, _tree(table))
            rec.layer.update({"sinks.writer.files_written": files_n, "sinks.writer.mb_written": mb})
        return rec

    def _stream(self, ctx: Ctx, files: list[datagen.PaFile], base: str) -> tuple[list[OpRecord], str]:
        """Start a stream on an empty landing dir, land the files one at a
        time (atomic rename), and time each arrival until the sink has
        written the micro-batch carrying it. Returns (ops, table path)."""
        spark, tracer = ctx.spark, ctx.tracer
        landing, table = os.path.join(base, "stream_landing"), os.path.join(base, "stream_table")
        os.makedirs(landing)
        committed: queue.Queue = queue.Queue()
        current: dict[str, object] = {}

        def upsert(batch_df, batch_id: int) -> None:
            t0 = time.perf_counter()
            with tracer.span("sinks.writer.load_incremental", parent=current.get("span")):
                res = load_incremental(batch_df.sparkSession, self._with_competencia(batch_df), table)
            t1 = time.perf_counter()
            committed.put((t1, t1 - t0, res))

        if self._schema is None:
            self._schema = spark.read.format("dbc").load(self.files[0].path).schema
        with tracer.span("streaming.start"):
            query = (
                spark.readStream.format("dbc").schema(self._schema).load(landing)
                .writeStream.foreachBatch(upsert)
                .option("checkpointLocation", os.path.join(base, "stream_ckpt"))
                .start()
            )
        before = _tree(table) if ctx.counters is not None else None
        recs = []
        try:
            for f in files:
                def body(rec: OpRecord, f=f) -> None:
                    current["span"] = tracer.current()
                    staged = os.path.join(landing, f".{f.stem}.staged")
                    os.link(f.path, staged)
                    t_land = time.perf_counter()
                    os.rename(staged, os.path.join(landing, f"{f.stem}.dbc"))
                    deadline = t_land + ARRIVAL_TIMEOUT_S
                    while True:
                        try:
                            t_done, load_s, res = committed.get(timeout=0.5)
                        except queue.Empty:
                            if query.exception() is not None or not query.isActive:
                                raise RuntimeError(f"stream stopped: {query.exception()}")
                            if time.perf_counter() > deadline:
                                raise TimeoutError(f"{f.stem} not committed in {ARRIVAL_TIMEOUT_S}s")
                            continue
                        inserted = res["registros_inseridos"]
                        if inserted:
                            break
                    rec.latency_s = t_done - t_land
                    rec.layer["rows_inserted"] = inserted
                    rec.layer["useful_files"] = 1
                    rec.layer["sinks.writer.load_s"] = load_s
                    if inserted != f.rows:
                        rec.ok = False
                        rec.error = f"stream inserted {inserted} rows, expected {f.rows}"

                recs.append(ctx.run_op(f"arrival:{f.stem}", body))
                if not recs[-1].ok:
                    break
        finally:
            with tracer.span("streaming.stop"):
                query.stop()
        if before is not None and recs:
            files_n, mb = written(before, _tree(table))
            recs[-1].layer.update({"sinks.writer.files_written": files_n, "sinks.writer.mb_written": mb})
        return recs, table

    def _pass(self, ctx: Ctx, landing: str, files: list[datagen.PaFile], check: bool) -> PassRecord:
        self._pass_no += 1
        base = os.path.join(ctx.work, f"pass{self._pass_no}")
        shutil.rmtree(os.path.join(ctx.work, f"pass{self._pass_no - 1}"), ignore_errors=True)
        os.makedirs(base)
        table = os.path.join(base, "table")
        decode_log = os.environ[DECODE_LOG_ENV]
        if os.path.exists(decode_log):
            os.remove(decode_log)
        check_before = ctx.check_s
        t0 = time.perf_counter()
        load = self._load(ctx, landing, files, table, replay=False)
        if check and load.ok:
            ctx.checked(load, lambda: self._check_table(ctx, table, files))
        replay = self._load(ctx, landing, files, table, replay=True)
        arrivals, stream_table = self._stream(ctx, files, base)
        wall = time.perf_counter() - t0
        if check and arrivals and all(a.ok for a in arrivals):
            ctx.checked(arrivals[-1], lambda: self._check_table(ctx, stream_table, files))
        wall -= ctx.check_s - check_before
        layer = {}
        if ctx.counters is not None:
            decodes = read_decode_log(decode_log)
            layer["sources.dbc_datasource.files_decoded"] = len(decodes)
            layer["sources.dbc_datasource.decode_s"] = sum(d.end - d.start for d in decodes)
            t_scan = time.perf_counter()
            with ctx.tracer.span("sources.dbc_datasource.scan"):
                ctx.spark.read.format("dbc").load(landing).write.format("noop").mode("overwrite").save()
            layer["sources.dbc_datasource.scan_s"] = time.perf_counter() - t_scan
            ctx.counters.mark()
        return PassRecord(wall, [load, replay, *arrivals], layer)

    def warm_up(self, ctx: Ctx) -> PassRecord:
        register_dbc_source(ctx.spark)
        return self._pass(ctx, self.warm_landing, self.files[:1], check=True)

    def run_pass(self, ctx: Ctx, first: bool) -> PassRecord:
        return self._pass(ctx, self.landing, self.files, check=first)

    def traced_extras(self, ctx: Ctx) -> dict[str, float]:
        """Single-file codec throughput on the large-state file (MiB of DBF
        per second, median of three)."""
        big = max(self.files, key=lambda f: f.rows)
        with open(big.path, "rb") as fh:
            data = fh.read()
        dec, par = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            with ctx.tracer.span("sources.implode.dbc_to_dbf"):
                dbf = dbc_to_dbf(data)
            t1 = time.perf_counter()
            with ctx.tracer.span("sources.dbc.parse_dbf_columns"):
                parse_dbf_columns(dbf)
            t2 = time.perf_counter()
            dec.append(t1 - t0)
            par.append(t2 - t1)
        size = len(dbf) / MB
        return {
            "sources.implode.decompress_mb_per_s": size / sorted(dec)[1],
            "sources.dbc.parse_mb_per_s": size / sorted(par)[1],
        }

    def report(self, passes: list[PassRecord]) -> list[tuple[str, float, str, int]]:
        """Ingest end-to-end metrics: (name, value, unit, samples)."""
        loads = [p.ops[0] for p in passes if p.ops[0].ok]
        replays = [p.ops[1] for p in passes if len(p.ops) > 1 and p.ops[1].ok]
        arrivals = [o for p in passes for o in p.ops[2:] if o.ok]
        return [
            ("ingest_rec_per_s", median([o.layer["rows_inserted"] / o.latency_s for o in loads]), "rec/s", len(loads)),
            ("replay_s", median([o.latency_s for o in replays]), "s", len(replays)),
            ("first_record_s", median([o.latency_s for o in arrivals]), "s", len(arrivals)),
        ]


WORKLOADS = {w.name: w for w in (IngestDbc, AnalyticsMix, CorpusIncremental)}
