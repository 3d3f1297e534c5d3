"""bench.py's per-member measurement: the layer split and job attribution."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

LAYER_FIELDS = {
    "build_s", "first_s", "steady_s", "build_jobs", "run_jobs", "stages",
    "shuffle_write_bytes", "executor_run_s", "task_skew",
}


def test_measure_member_layers(spark, sf_dir, tmp_path):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    bench = importlib.import_module("bench")
    import __spark_entry__ as entrymod

    tracer = bench.Tracer(active=True)
    tracer.spark = spark
    name = "pricing_summary"
    res = bench.measure_member(spark, tracer, name, entrymod.queries()[name],
                               sf_dir, 3, plans_dir=str(tmp_path))

    layers = res["layers"]
    assert set(layers) == LAYER_FIELDS
    runs = res["runs"]
    assert len(runs) == 3
    # the timed value keeps its meaning: min over runs of build + run
    assert res["seconds"] == round(min(b + r for b, r in runs), 3)
    assert layers["build_s"] == round(min(b for b, _ in runs), 3)
    assert layers["first_s"] == round(runs[0][1], 3)
    assert layers["steady_s"] == round(min(r for _, r in runs[1:]), 3)
    # the noop write is a Spark job, attributed to the run half
    assert layers["run_jobs"] >= 1
    assert layers["stages"] >= 1
    assert (tmp_path / f"{name}.txt").read_text().strip()
    # the job group is cleared once the member's spans close
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
