"""Structured Streaming tests: watermarked windows, stateful dedup, custom
stateful progress operator, tagged NDJSON stream (reference §2.9)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_lala_spark.io import load_events
from etl_lala_spark.streaming import stateful, windows

TMP = os.path.join(os.path.dirname(__file__), ".tmp", "stream")


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir):
    """Events as a µs-timestamp parquet dir (streaming file source)."""
    shutil.rmtree(TMP, ignore_errors=True)
    path = os.path.join(TMP, "events")
    load_events(spark, sf_dir).write.mode("overwrite").parquet(path)
    return path


def test_streaming_tumbling_matches_batch(spark, sf_dir, event_dir):
    stream = windows.read_event_stream(spark, event_dir)
    got = windows.run_to_memory(windows.tumbling_counts(stream), "t_tumbling")
    batch = (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
    )
    # append mode only emits windows the watermark has passed: the tail
    # window (containing max ts) stays open at end-of-stream, everything
    # else must match batch exactly
    assert batch.count() - got.count() in (0, 1, 2)
    emitted_match = got.join(
        batch.select(
            F.col("w.start").alias("w_start"), "event_type", "n_events", "value_sum"
        ),
        ["w_start", "event_type", "n_events", "value_sum"],
        "inner",
    )
    assert emitted_match.count() == got.count(), "emitted windows must equal batch"


def test_streaming_session_windows(spark, event_dir):
    stream = windows.read_event_stream(spark, event_dir)
    got = windows.run_to_memory(windows.session_aggregates(stream), "t_session")
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


def test_streaming_dedup_collapses_replay(spark, event_dir):
    # replay the same files twice under one stream dir -> dedup collapses
    dup_dir = os.path.join(TMP, "events_dup")
    shutil.rmtree(dup_dir, ignore_errors=True)
    os.makedirs(dup_dir)
    for f in os.listdir(event_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(event_dir, f), os.path.join(dup_dir, "a_" + f))
            shutil.copy(os.path.join(event_dir, f), os.path.join(dup_dir, "b_" + f))
    stream = windows.read_event_stream(spark, dup_dir, max_files_per_trigger=1)
    deduped = windows.run_to_memory(
        windows.dedup_stream(stream).select("event_id"), "t_dedup"
    )
    n_unique = spark.read.parquet(event_dir).select("event_id").distinct().count()
    assert deduped.count() == n_unique


def test_stateful_progress_operator(spark, event_dir):
    stream = windows.read_event_stream(spark, event_dir)
    got = windows.run_to_memory(stateful.attach_progress(stream), "t_progress")
    rows = got.collect()
    assert len(rows) > 0
    # one row per crossed stride per user; totals are monotone per user
    by_user: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["emitted"])):
        by_user.setdefault(r["user_id"], []).append(r)
    for user_rows in by_user.values():
        strides = [r["emitted"] for r in user_rows]
        assert strides == sorted(set(strides)), "strides must be unique & increasing"
        assert user_rows[-1]["total_events"] >= strides[-1] * 50


def test_tagged_ndjson_streaming(spark):
    from etl_lala_spark.sources import ndjson

    ndir = os.path.join(TMP, "ndjson_stream")
    shutil.rmtree(ndir, ignore_errors=True)
    os.makedirs(ndir)
    with open(os.path.join(ndir, "chunk1.ndjson"), "w") as fh:
        fh.write(
            "\n".join(
                json.dumps(x)
                for x in [
                    {"tipo": "metadados", "arquivo": "F1", "total_colunas": 1, "colunas": ["A"]},
                    {"tipo": "registro", "dados": {"A": "1"}},
                    {"tipo": "registro", "dados": {"A": "2"}},
                ]
            )
        )
    meta, recs = ndjson.read_tagged_ndjson(spark, ndir, record_fields=["A"], streaming=True)
    out = windows.run_to_memory(recs, "t_ndjson")
    assert sorted(r["A"] for r in out.collect()) == ["1", "2"]


def test_stream_static_enrichment_matches_batch(spark, sf_dir, event_dir):
    """Stream-static broadcast join: the streaming micro-batch form of
    events_user_enrichment must agree with its batch twin."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.plans import query_fns

    c = load_table(spark, sf_dir, "customer")
    stream = windows.read_event_stream(spark, event_dir)
    # streaming forbids exact distinct aggregates — the live form carries the
    # supported columns; the batch twin's n_users is checked by its oracle.
    enriched = (
        stream.join(F.broadcast(c), stream.user_id == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )
    got = {
        tuple(r)
        for r in windows.run_to_memory(enriched, "enrich_test", output_mode="complete")
        .orderBy("c_mktsegment", "event_type")
        .collect()
    }
    want = {
        (r["c_mktsegment"], r["event_type"], r["n_events"], r["value_sum"])
        for r in query_fns()["events_user_enrichment"](spark, sf_dir).collect()
    }
    assert got == want


def test_checkpoint_recovery_no_double_count(spark, sf_dir, tmp_path):
    """T6 at-least-once + checkpointed recovery: a restarted query resumes
    from the checkpoint — already-processed files are not re-counted, new
    files are picked up exactly once."""
    from etl_lala_spark.io import load_events

    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    ev = load_events(spark, sf_dir)
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src)

    def run_once():
        q = (
            windows.read_event_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()
    # restart with no new data: nothing re-processed
    run_once()
    assert spark.read.parquet(out).count() == n1
    # append the second half, restart: picked up exactly once
    half2.write.mode("append").parquet(src)
    run_once()
    assert spark.read.parquet(out).count() == ev.count()


def test_stream_incremental_load_skips_existing_partitions(spark, sf_dir, tmp_path):
    """T5 streaming form: a replayed stream (same files seen twice, no
    checkpoint) must not duplicate partitions already loaded."""
    from etl_lala_spark.sinks import writer as w

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ev = load_events(spark, sf_dir).withColumn(
        "competencia", F.date_format("ts", "yyyyMM")
    )
    ev.write.mode("overwrite").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        )
        q = w.stream_incremental(stream, table)
        q.awaitTermination(120)
        q.stop()

    run()
    n1 = spark.read.parquet(table).count()
    assert n1 == ev.count()
    # no checkpoint: the second run re-reads every file, but the partition
    # skip-list makes the reload a no-op
    run()
    assert spark.read.parquet(table).count() == n1


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, event_dir):
    """Stream-stream watermarked interval join produces exactly the batch
    join's pairs (availableNow processes everything, so no rows are lost to
    the watermark in this bounded run)."""
    views_s = windows.read_event_stream(spark, event_dir).filter(
        F.col("event_type") == "view"
    )
    clicks_s = windows.read_event_stream(spark, event_dir).filter(
        F.col("event_type") == "click"
    )
    got = windows.run_to_memory(
        windows.stream_stream_interval_join(views_s, clicks_s), "t_ssjoin"
    )
    stream_pairs = {(r["view_id"], r["click_id"]) for r in got.collect()}

    ev = load_events(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts"), F.col("event_id").alias("vid")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    batch_pairs = {
        (r["vid"], r["cid"])
        for r in v.join(
            c,
            (F.col("vu") == F.col("cu"))
            & (F.col("cts") >= F.col("vts"))
            & (F.col("cts") <= F.col("vts") + F.expr("interval 10 minutes")),
        ).collect()
    }
    assert len(batch_pairs) > 0
    assert stream_pairs == batch_pairs


def test_stream_scd2_merges_batches_and_replay_is_noop(spark, tmp_path):
    """Streaming SCD2: sequential update batches build version history;
    replaying a batch (at-least-once upstream) leaves the table unchanged."""
    from etl_lala_spark.sinks import writer as w

    table = str(tmp_path / "dim")

    def run(src_dir: str) -> None:
        df = spark.read.parquet(src_dir)
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        q = w.stream_scd2(stream, table, key="k", tracked=["seg"])
        q.awaitTermination(120)
        q.stop()

    b1 = spark.createDataFrame(
        [(1, "A", 1), (2, "B", 1)], "k long, seg string, effective_batch long"
    )
    src1 = str(tmp_path / "src1")
    b1.write.parquet(src1)
    run(src1)
    assert spark.read.parquet(table).count() == 2

    b2 = spark.createDataFrame(
        [(1, "A2", 2), (2, "B", 2), (3, "C", 2)],
        "k long, seg string, effective_batch long",
    )
    src2 = str(tmp_path / "src2")
    b2.write.parquet(src2)
    run(src2)
    rows = {(r.k, r.valid_from): r for r in spark.read.parquet(table).collect()}
    assert len(rows) == 4
    assert rows[(1, 1)].valid_to == 2 and rows[(1, 1)].is_current is False
    assert rows[(1, 2)].seg == "A2" and rows[(1, 2)].is_current is True
    assert rows[(2, 1)].is_current is True  # no-op update passed through
    assert rows[(3, 2)].seg == "C"

    run(src2)  # replay: same files again, no checkpoint
    again = {(r.k, r.valid_from): (r.valid_to, r.is_current, r.seg)
             for r in spark.read.parquet(table).collect()}
    assert again == {kf: (r.valid_to, r.is_current, r.seg) for kf, r in rows.items()}


def test_dbc_streaming_source_incremental_and_recovery(spark, tmp_path):
    """`spark.readStream.format("dbc")`: the custom DataSource's stream
    reader picks up newly-arriving .dbc files per micro-batch (the streaming
    form of the reference's per-competência arrival loop,
    datasus.service.ts:222-237), and after a checkpointed restart only
    genuinely-new files are processed — no re-decode of committed ones."""
    import os

    from etl_lala_spark.sources.dbc import dbf_to_dbc, write_dbf
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cols = ["AP_CONDIC", "AP_VL_TOTAL"]

    def put(name, rows):
        (land / f"{name}.dbc").write_bytes(dbf_to_dbc(write_dbf(cols, rows)))

    put("PAPE2501", [["EP", "10.00"], ["AB", "20.50"]])
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("dbc")
            .load(str(land))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
        put("PAPE2502", [["EP", "30.00"]])
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        assert got == [
            ("AB", "20.50", "PAPE2501"),
            ("EP", "10.00", "PAPE2501"),
            ("EP", "30.00", "PAPE2502"),
        ]
    finally:
        q.stop()

    # restart from the checkpoint: only the file that arrived while the
    # stream was down is decoded — committed files are not replayed
    put("PAPE2503", [["ZZ", "1.00"]])
    q2 = start()
    try:
        q2.processAllAvailable()
        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        assert got == [
            ("AB", "20.50", "PAPE2501"),
            ("EP", "10.00", "PAPE2501"),
            ("EP", "30.00", "PAPE2502"),
            ("ZZ", "1.00", "PAPE2503"),
        ]
    finally:
        q2.stop()


def test_streaming_dedup_bounded_state_collapses_replay(spark, event_dir):
    """`dropDuplicatesWithinWatermark` — the bounded-state dedup (state
    evicted as the watermark passes, O(window) not O(all keys)) — collapses
    replayed files exactly like the unbounded-state form when duplicates
    arrive within the watermark horizon."""
    dup_dir = os.path.join(TMP, "events_dup_bounded")
    shutil.rmtree(dup_dir, ignore_errors=True)
    os.makedirs(dup_dir)
    for f in os.listdir(event_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(event_dir, f), os.path.join(dup_dir, "a_" + f))
            shutil.copy(os.path.join(event_dir, f), os.path.join(dup_dir, "b_" + f))
    stream = windows.read_event_stream(spark, dup_dir)
    deduped = windows.run_to_memory(
        windows.dedup_stream_bounded(stream).select("event_id"), "t_dedup_bounded"
    )
    n_unique = spark.read.parquet(event_dir).select("event_id").distinct().count()
    assert deduped.count() == n_unique


def test_stream_dedup_ingest_only_novel_docs(spark, sf_dir, tmp_path):
    """Dedup-on-ingest (exact dedup ∘ T5): across micro-batches only
    never-seen content is appended, and a full replay of the stream (no
    checkpoint) inserts nothing — the fingerprint lives in the data table,
    so there is no two-store commit problem."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks import writer as w

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 60)           # includes exact dups
    b2 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 100))
    b1.write.mode("overwrite").parquet(src)

    def run():
        q = w.stream_dedup_ingest(
            spark.readStream.schema(docs.schema).parquet(src), table
        )
        q.awaitTermination(120)
        q.stop()

    run()
    n_batch1 = spark.read.parquet(table).count()
    distinct_b1 = b1.select("text").distinct().count()
    assert n_batch1 == distinct_b1

    # second batch overlaps the first (40..59) and its own dup texts
    b2.write.mode("append").parquet(src)
    run()
    got = spark.read.parquet(table)
    want = docs.filter(F.col("doc_id") < 100).select("text").distinct().count()
    assert got.count() == want
    assert got.select("_fp").distinct().count() == want

    # full replay (fresh stream over the same files): nothing new
    run()
    assert spark.read.parquet(table).count() == want


def test_stream_ivf_index_incremental_and_pruned_search(spark, sf_dir, tmp_path):
    """Incremental ANN index: two streamed batches land cell-partitioned and
    exactly once (replay is a no-op); query routing joins on the partition
    column so the scan prunes unprobed cells; every corpus query finds its
    planted exact twin at cosine 1.0."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import similarity as sim
    from etl_lala_spark.sinks import writer as w

    emb = load_table(spark, sf_dir, "embeddings")
    codebook_lazy = sim.ivf_codebook(emb, n_cells=8)
    # Fix the codebook as a literal: the index contract is that it never
    # changes once rows are written.
    codebook = spark.createDataFrame(
        codebook_lazy.collect(), schema=codebook_lazy.schema
    )

    src = str(tmp_path / "vec_src")
    index = str(tmp_path / "ivf_index")
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src)

    def run():
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = w.stream_ivf_index(stream, index, codebook)
        q.awaitTermination(120)
        q.stop()

    run()
    assert spark.read.parquet(index).count() == half1.count()
    run()  # replay without checkpoint: anti-join keeps it exactly-once
    assert spark.read.parquet(index).count() == half1.count()
    half2.write.mode("append").parquet(src)
    run()
    assert spark.read.parquet(index).count() == emb.count()
    # cell-partitioned layout on disk
    import os

    assert any(e.startswith("cell=") for e in os.listdir(index))

    # Planted twins: copies of every 25th vector under shifted ids must be
    # found at rank 1 with cosine 1.0 (same argmax cell by construction).
    queries = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    res = w.ivf_index_search(spark, index, queries, codebook, k=3, nprobe=2)
    top1 = {r.query_id: (r.neighbor_id, r.cos_sim) for r in res.filter("rank = 1").collect()}
    for qid, (nid, cs) in top1.items():
        assert nid == qid - 100000 and cs == 1.0
    assert len(top1) == queries.count()

    # Partition pruning: the index scan carries a PartitionFilters entry on
    # the routed cell key (dynamic pruning via the broadcast join).
    plan = w.ivf_index_search(
        spark, index, queries, codebook, k=3, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("Scan parquet") :]
    assert "dynamicpruningexpression" in scan  # unprobed cells never read


def test_streaming_ewma_matches_batch(spark, sf_dir, tmp_path):
    """The bounded-state streaming EWMA (two scalars per key) agrees exactly
    with the batch ordered-array fold when batches arrive in time order."""
    from etl_lala_spark.io import load_events
    from etl_lala_spark.plans import query_fns
    from etl_lala_spark.streaming import stateful

    ev = load_events(spark, sf_dir)
    # Two time-ordered files: all of file1's events precede file2's.
    mid = ev.selectExpr("percentile(cast(ts as double), 0.5) AS m").first().m
    early = ev.where(F.col("ts").cast("double") <= mid)
    late = ev.where(F.col("ts").cast("double") > mid)
    src = str(tmp_path / "ewma_src")
    early.write.mode("overwrite").parquet(src + "/b1")
    late.write.mode("overwrite").parquet(src + "/b2")

    out = str(tmp_path / "ewma_out")
    stream = (
        spark.readStream.schema(early.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    q = (
        stateful.attach_ewma(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got_rows = spark.read.parquet(out).collect()
    # keep the final emission per user (largest n_events)
    final = {}
    for r in got_rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, round(r.ewma_value, 6))
    want = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in query_fns()["events_ewma_smoothing"](spark, sf_dir).collect()
    }
    assert final == want


def test_live_leaderboard_matches_batch(spark, sf_dir, event_dir):
    """Complete-mode top-k: the streamed leaderboard equals the batch
    ranking (sorting is legal only because complete mode re-emits the whole
    result each trigger)."""
    got = [
        tuple(r)
        for r in windows.run_to_memory(
            windows.live_leaderboard(windows.read_event_stream(spark, event_dir)),
            "t_leaderboard",
            output_mode="complete",
        )
        .orderBy(F.col("n_events").desc(), "event_type")
        .collect()
    ]
    want = [
        tuple(r)
        for r in windows.live_leaderboard(load_events(spark, sf_dir)).collect()
    ]
    assert got == want and len(got) > 0


def test_ivf_index_compaction_preserves_search(spark, sf_dir, tmp_path):
    """Micro-batch appends leave small files per cell; the generic partition
    compactor consolidates them without changing search results."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import similarity as sim
    from etl_lala_spark.sinks import writer as w

    emb = load_table(spark, sf_dir, "embeddings")
    cb_lazy = sim.ivf_codebook(emb, n_cells=8)
    codebook = spark.createDataFrame(cb_lazy.collect(), schema=cb_lazy.schema)
    src = str(tmp_path / "vsrc")
    index = str(tmp_path / "ivf_idx")
    for i in range(3):  # three arrivals → three appends per touched cell
        emb.filter(F.col("vec_id") % 3 == i).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        q = w.stream_ivf_index(
            spark.readStream.schema(emb.schema).parquet(src), index, codebook
        )
        q.awaitTermination(120)
        q.stop()

    queries = emb.filter(F.col("vec_id") % 100 == 0)
    before = sorted(
        map(tuple, w.ivf_index_search(spark, index, queries, codebook, k=3).collect())
    )
    res = w.compact_partitions(spark, index, part_col="cell")
    assert res["files_after"] < res["files_before"]
    after = sorted(
        map(tuple, w.ivf_index_search(spark, index, queries, codebook, k=3).collect())
    )
    assert after == before


def test_ivf_index_vector_removal(spark, sf_dir, tmp_path):
    """Targeted deletion composes with the index: removing a vector
    rewrites only its cell partition and search stops returning it."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.operators import similarity as sim
    from etl_lala_spark.sinks import writer as w

    emb = load_table(spark, sf_dir, "embeddings")
    cb_lazy = sim.ivf_codebook(emb, n_cells=8)
    codebook = spark.createDataFrame(cb_lazy.collect(), schema=cb_lazy.schema)
    src = str(tmp_path / "vsrc")
    index = str(tmp_path / "ivf_idx")
    emb.write.parquet(src)
    q = w.stream_ivf_index(
        spark.readStream.schema(emb.schema).parquet(src), index, codebook
    )
    q.awaitTermination(120)
    q.stop()

    victim = emb.select("vec_id").first().vec_id
    n_cells_total = (
        spark.read.parquet(index).select("cell").distinct().count()
    )
    res = w.delete_rows(
        spark,
        index,
        spark.createDataFrame([(victim,)], "vec_id bigint"),
        "vec_id",
        part_col="cell",
    )
    assert res["rows_deleted"] == 1 and len(res["partitions_rewritten"]) == 1
    assert n_cells_total > 1  # only one cell was touched, others exist
    # a twin query of the victim no longer finds it
    twin = emb.filter(F.col("vec_id") == victim).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    hits = w.ivf_index_search(spark, index, twin, codebook, k=3).collect()
    assert all(r.neighbor_id != victim for r in hits)


def test_dbc_stream_permissive_corrupt_arrival(spark, tmp_path):
    """A corrupt file arriving mid-stream becomes one provenance-tagged
    error row under corruptColumn; the stream keeps running and good
    arrivals before and after decode normally."""
    import os

    from etl_lala_spark.sources.dbc import write_dbf
    from etl_lala_spark.sources.dbc_datasource import register_dbc_source

    register_dbc_source(spark)
    src = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    os.makedirs(src)
    with open(os.path.join(src, "GOOD1.dbf"), "wb") as fh:
        fh.write(write_dbf(["A"], [["1"], ["2"]], 4))

    def run():
        q = (
            spark.readStream.format("dbc")
            .option("corruptColumn", "_error")
            .load(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run()
    with open(os.path.join(src, "ZBAD.dbc"), "wb") as fh:
        fh.write(b"\x00\x07 garbage dict bits")
    with open(os.path.join(src, "GOOD2.dbf"), "wb") as fh:
        fh.write(write_dbf(["A"], [["3"]], 4))
    run()

    rows = spark.read.parquet(out).collect()
    good = sorted(r["A"] for r in rows if r["_error"] is None)
    bad = [r for r in rows if r["_error"] is not None]
    assert good == ["1", "2", "3"]
    assert len(bad) == 1 and bad[0]["arquivo_origem"] == "ZBAD"


def test_stream_neardup_ingest_blocks_history_dups_and_replay(spark, sf_dir, tmp_path):
    """Near-dup-on-ingest: batch 2's disguised copies of batch-1 documents
    (text + 3 appended tokens, jaccard ≈ 0.95) are blocked by band
    collisions against the persistent index — without re-scanning batch 1's
    text — while genuinely novel documents land; a full replay inserts
    nothing."""
    from etl_lala_spark.io import load_table
    from etl_lala_spark.sinks import writer as w

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    band_idx = str(tmp_path / "bands")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 60)
    b1.write.mode("overwrite").parquet(src)

    def run():
        q = w.stream_neardup_ingest(
            spark.readStream.schema(docs.schema).parquet(src), table, band_idx
        )
        q.awaitTermination(120)
        q.stop()

    run()
    n1 = spark.read.parquet(table).count()
    assert 0 < n1 <= 60  # within-batch LSH dedup may trim exact dups

    # batch 2: novel docs 60..99 + near-dup copies of docs < 50
    novel = docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 100))
    copies = (
        docs.filter(F.col("doc_id") < 50)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xq zz qq")).alias("text"),
        )
    )
    n_copies = copies.count()
    novel.unionByName(copies).write.mode("append").parquet(src)
    run()
    got = spark.read.parquet(table)
    landed_copies = got.filter(F.col("doc_id") >= 100000).count()
    # ≈0.9999 per-pair recall at j≈0.95 with 8×4 banding
    assert landed_copies <= 0.1 * n_copies, (landed_copies, n_copies)
    # genuinely novel docs land (minus any true near-dups among them)
    landed_novel = got.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 100)).count()
    assert landed_novel >= 35
    n2 = got.count()

    # replay: nothing new, no duplicate band rows
    run()
    assert spark.read.parquet(table).count() == n2
    bands_df = spark.read.parquet(band_idx)
    assert bands_df.count() == bands_df.dropDuplicates(["doc", "band"]).count()


def test_stream_versioned_append_exactly_once(spark, tmp_path):
    """Streaming ingest into the versioned transaction log: each
    micro-batch is one atomic append commit whose manifest carries the
    batch id, so replays (at-least-once upstream) commit nothing and every
    batch is a time-travelable snapshot."""
    from etl_lala_spark.sinks import versioned as vt

    table = str(tmp_path / "vt_stream")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string"

    def run(checkpoint):
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = vt.stream_versioned_append(stream, table, checkpoint=checkpoint)
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.mode(
        "append"
    ).parquet(str(src))
    run(ckpt)
    assert vt.latest_version(table) == 1
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2}

    # second availableNow run with the SHARED checkpoint: only new files
    # land, as the next batch id, as one more append commit
    spark.createDataFrame([(3, "c")], schema).write.mode("append").parquet(
        str(src)
    )
    run(ckpt)
    vs = vt.table_versions(table)
    assert [m["version"] for m in vs] == [1, 2]
    assert vs[-1]["stream_batch_id"] == 1
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}
    # time travel: the pre-batch-2 snapshot is intact
    assert {r.k for r in vt.read_version(spark, table, version=1).collect()} == {1, 2}

    # replay: a FRESH run with no checkpoint re-delivers everything as
    # batch 0 — already-applied per the manifests, so nothing commits
    run(None)
    assert [m["version"] for m in vt.table_versions(table)] == [1, 2]
    assert {r.k for r in vt.read_version(spark, table).collect()} == {1, 2, 3}


def test_stream_url_frontier_self_heals_stale_bloom(spark, tmp_path):
    """The frontier's Bloom bitmap is a cache with a validity check: when a
    crash lands between store append and bitmap refresh (simulated by
    appending to the store behind the bitmap's back), the next batch must
    fall back to the exact path — the behind-the-back URL is NOT
    re-appended, novel URLs still land, and the bitmap meta is rebuilt to
    the new store count."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import stream_url_frontier

    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    os.makedirs(src)

    def run_batch(name, urls):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 16)
            .parquet(os.path.join(src, name))
        )
        q = stream_url_frontier(stream, store, n_bits=1024)
        q.awaitTermination(120)
        q.stop()

    run_batch("b0", ["http://a/x", "HTTP://A/y", "not a url"])
    rows0 = {r["url"] for r in spark.read.parquet(store).collect()}
    assert rows0 == {"http://a/x", "http://a/y"}  # canonicalized, no junk
    meta_path = store + "._bloom.json"
    meta = json.load(open(meta_path))
    assert meta["store_rows"] == 2

    # crash window: a URL lands in the store while the bitmap stays stale
    spark.createDataFrame(
        [("http://a/ghost", 99)], "url string, batch_id int"
    ).write.mode("append").parquet(store)
    assert json.load(open(meta_path))["store_rows"] == 2  # now stale

    run_batch("b1", ["http://a/ghost", "http://a/x", "http://a/new"])
    out = spark.read.parquet(store)
    by_url = {
        r["url"]: r["cnt"]
        for r in out.groupBy("url")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # ghost not duplicated (exact fallback), replay not duplicated,
    # novel appended exactly once
    assert by_url == {
        "http://a/x": 1,
        "http://a/y": 1,
        "http://a/ghost": 1,
        "http://a/new": 1,
    }
    assert json.load(open(meta_path))["store_rows"] == 4  # rebuilt


def test_stream_url_frontier_sketch_self_heals(spark, tmp_path):
    """Same self-heal contract on the DURABLE-sketch cache backend
    (sketch_store=): a URL landing in the store behind the sketch's back
    (crash between append and merge) makes the count stamp stale, so the
    next batch takes the exact path — nothing re-appended, novel rows
    land once, and the sketch is rebuilt to the new store count."""
    import json
    import os

    from pyspark.sql import functions as F

    from etl_lala_spark.operators import web

    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    sketch = os.path.join(str(tmp_path), "sketch")
    os.makedirs(src)
    os.makedirs(sketch)

    def run_batch(name, urls, n_bits=1 << 18):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 16)
            .parquet(os.path.join(src, name))
        )
        q = web.stream_url_frontier(
            stream, store, n_bits=n_bits, sketch_store=sketch
        )
        q.awaitTermination(120)
        q.stop()

    run_batch("b0", ["http://a/x", "HTTP://A/y", "not a url"])
    assert {r["url"] for r in spark.read.parquet(store).collect()} == {
        "http://a/x",
        "http://a/y",
    }
    meta_path = os.path.join(sketch, web._BLOOM_SKETCH_META)
    assert json.load(open(meta_path))["store_rows"] == 2

    spark.createDataFrame(
        [("http://a/ghost", 99)], "url string, batch_id int"
    ).write.mode("append").parquet(store)  # behind the sketch's back

    # the rebuild must honor the sketch's PINNED n_bits even when the
    # stream is (mis)started with a different one — re-keying an existing
    # sketch at a smaller size would silently saturate it
    run_batch(
        "b1", ["http://a/ghost", "http://a/x", "http://a/new"], n_bits=4096
    )
    assert json.load(open(meta_path))["n_bits"] == 1 << 18
    by_url = {
        r["url"]: r["cnt"]
        for r in spark.read.parquet(store)
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert by_url == {
        "http://a/x": 1,
        "http://a/y": 1,
        "http://a/ghost": 1,
        "http://a/new": 1,
    }
    assert json.load(open(meta_path))["store_rows"] == 4  # rebuilt

    # valid-cache incremental leg: merge path, count stamp advances
    run_batch("b2", ["http://a/x", "http://a/z"])
    assert json.load(open(meta_path))["store_rows"] == 5
    assert (
        spark.read.parquet(store).filter(F.col("url") == "http://a/z").count()
        == 1
    )


def test_stream_url_frontier_empty_first_batch(spark, tmp_path):
    """A first micro-batch with no valid URLs must not crash the query (no
    store to describe yet); the next batch then seeds the store."""
    import os

    from etl_lala_spark.operators.web import stream_url_frontier

    src = os.path.join(str(tmp_path), "src")
    store = os.path.join(str(tmp_path), "store")
    os.makedirs(src)

    def run_batch(name, urls):
        spark.createDataFrame([(u,) for u in urls], "url string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("url string")
            .option("maxFilesPerTrigger", 16)
            .parquet(os.path.join(src, name))
        )
        q = stream_url_frontier(stream, store, n_bits=1024)
        q.awaitTermination(120)
        q.stop()

    run_batch("b0", ["not a url", "also not one"])
    assert not os.path.isdir(store)
    run_batch("b1", ["http://a/x"])
    assert {r["url"] for r in spark.read.parquet(store).collect()} == {
        "http://a/x"
    }


def test_stream_cdx_latest_replay_safe(spark, tmp_path):
    """An at-least-once redelivery (same batch winners appended twice under
    one batch_id) changes neither the resolved winners nor n_versions."""
    from pyspark.sql import functions as F

    from etl_lala_spark.operators.web import cdx_latest_resolve

    store = str(tmp_path / "store")
    rows = [
        ("k1", 10, "u1", "text/html", 200, "d1", 5, 0, "f", 0),
        ("k1", 20, "u1b", "text/html", 200, "d2", 5, 1, "f", 1),
        ("k2", 30, "u2", "text/html", 200, "d3", 5, 2, "f", 0),
    ]
    schema = ("surt string, ts long, url string, mime string, status int,"
              " digest string, length long, offset long, filename string,"
              " batch_id long")
    df = spark.createDataFrame(rows, schema)
    df.write.mode("append").parquet(store)
    base = {(r["surt"], r["ts"], r["n_versions"])
            for r in cdx_latest_resolve(spark, store).collect()}
    assert base == {("k1", 20, 2), ("k2", 30, 1)}
    # redeliver batch 0's rows verbatim
    df.filter(F.col("batch_id") == 0).write.mode("append").parquet(store)
    replay = {(r["surt"], r["ts"], r["n_versions"])
              for r in cdx_latest_resolve(spark, store).collect()}
    assert replay == base
