"""bench.py's per-row layer record: build and exec spans of one tracer."""

import bench
from perfbench.trace import Tracer

SF = "/root/testdata/sf0.001"

FIELDS = {"s", "jobs", "tasks", "stages", "input_mb", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb", "executor_run_s"}


def test_time_row_layer_record(spark):
    tracer = Tracer()
    tracer.bind(spark)
    tracer.active = True
    samples, spans, n = bench.time_row(spark, tracer, "q1_pricing_summary", SF, 1)
    rec = bench.layer_record(spans, tracer.job_stats())
    assert len(samples) == 1 and n > 0 and set(rec) == {"build", "exec"}
    for span in ("build", "exec"):
        assert set(rec[span]) == FIELDS, span
        assert all(v >= 0 for v in rec[span].values()), rec[span]
    assert rec["exec"]["jobs"] >= 1 and rec["exec"]["tasks"] >= 1
    assert abs(rec["build"]["s"] + rec["exec"]["s"] - samples[0]) <= 0.1
