"""Self-tests for the benchmark's helpers (no Spark session needed).

Run: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from etl_lala_spark.sources.dbc import dbc_to_dbf, parse_dbf_columns
from perfbench import datagen, run
from perfbench.stats import interval_union, percentile, tail, tail_percentile
from perfbench.trace import JobRec, Span, StageRec, Tracer, above_watermark, op_counters, self_times


@pytest.mark.parametrize("n,p", [(1, None), (10, None), (11, 9), (20, 50), (26, 61), (100, 90), (1000, 99)])
def test_tail_percentile_from_sample_count(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", range(11, 400, 7))
def test_tail_has_ten_samples_beyond_and_is_highest(n):
    values = random.Random(n).sample(range(10_000), n)
    p, v = tail(values)
    assert sum(x > v for x in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    assert sum(x > percentile(values, p + 1) for x in values) < 10


def test_tail_needs_eleven_samples():
    assert tail([1.0] * 10) == (None, 0.0)


def test_interval_union_merges_and_clips():
    assert interval_union([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert interval_union([], 0, 10) == 0
    assert interval_union([(-5, -1), (11, 20)], 0, 10) == 0


def test_span_self_time_subtracts_children_union():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "1:op"),
        Span(2, "a", 1.0, 3.0, 1, "1:op"),
        Span(3, "b", 2.0, 5.0, 1, "1:op"),  # overlaps a: counted once
        Span(4, "c", 8.0, 12.0, 1, "1:op"),  # runs past the parent: clipped
        Span(5, "d", 1.5, 2.5, 2, "1:op"),  # grandchild: only a's self time
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(4.0)
    assert own[2] == pytest.approx(1.0)
    assert own[5] == pytest.approx(1.0)


def test_tracer_nesting_parent_and_op_id():
    tr = Tracer(enabled=True)
    with tr.span("op:x", op="7:x") as outer:
        with tr.span("inner") as inner:
            assert tr.current() is inner
    assert inner.parent == outer.id and inner.op == "7:x"
    assert outer.parent is None
    off = Tracer(enabled=False)
    with off.span("op:y") as s:
        assert s is None
    assert off.spans == []


def test_watermark_walk_stops_at_first_old_entry():
    ids_newest_first = [9, 8, 7, 5, 4, 2]
    assert above_watermark(len(ids_newest_first), ids_newest_first.__getitem__,
                           lambda i: i, 5) == [9, 8, 7]
    assert above_watermark(len(ids_newest_first), ids_newest_first.__getitem__,
                           lambda i: i, 9) == []
    assert above_watermark(0, [].__getitem__, lambda i: i, -1) == []


def test_op_counters_deltas_skip_skipped_stages_and_measure_driver_gap():
    jobs = [JobRec(3, 101.0, 103.0), JobRec(4, 102.0, 104.0), JobRec(5, 106.0, 107.0)]
    stages = [
        StageRec(8, False, 4, 2.0, 1.0, 2 * 1024 * 1024, 0, 0),
        StageRec(9, True, 4, 0.0, 0.0, 0, 0, 0),
        StageRec(10, False, 1, 0.5, 0.25, 0, 2 * 1024 * 1024, 1024 * 1024),
    ]
    c = op_counters(jobs, stages, 100.0, 110.0)
    assert c["spark.jobs"] == 3
    assert c["spark.stages"] == 2
    assert c["spark.tasks"] == 5
    assert c["spark.task_run_s"] == pytest.approx(2.5)
    assert c["spark.task_cpu_s"] == pytest.approx(1.25)
    assert c["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert c["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert c["spark.spill_mb"] == pytest.approx(1.0)
    # jobs cover [101, 104] and [106, 107]: 4 s busy of a 10 s op
    assert c["spark.driver_gap_s"] == pytest.approx(6.0)


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = datagen.generate(7, str(tmp_path / "a"))
    b = datagen.generate(7, str(tmp_path / "b"))
    c = datagen.generate(8, str(tmp_path / "c"))
    strip = [(f.stem, f.competencia, f.rows, f.checksum) for f in a]
    assert strip == [(f.stem, f.competencia, f.rows, f.checksum) for f in b]
    assert all(_read(x.path) == _read(y.path) for x, y in zip(a, b))
    # another seed: same files and row counts, other values
    assert [(f.stem, f.rows) for f in c] == [(f.stem, f.rows) for f in a]
    assert all(_read(x.path) != _read(z.path) for x, z in zip(a, c))


def test_generator_expectations_match_decoded_files(tmp_path):
    files = datagen.generate(3, str(tmp_path))
    sizes = sorted(os.path.getsize(f.path) for f in files)
    assert sizes[-1] >= 3 * sizes[len(sizes) // 2]  # one large-state file
    assert len({f.competencia for f in files}) == len(files)  # one file per month
    for f in files:
        names, cols = parse_dbf_columns(dbc_to_dbf(_read(f.path)))
        assert names == datagen.PA_COLUMNS
        rows = [list(r) for r in zip(*cols)]
        assert len(rows) == f.rows
        assert {r[names.index("PA_CMP")] for r in rows} == {f.competencia}
        assert sum(map(datagen.row_checksum, rows)) == f.checksum


def test_result_metric_names_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
