"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The run tests call ``run.run`` on a small corpus; it starts the job in a
fresh process as a full run does.  Together they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest

import inputs
import run
import spans

ROOT = run.ROOT
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _names_units(entries) -> list[tuple[str, str]]:
    return [(e["name"], e["unit"]) for e in entries]


def test_metric_tables_match_benchmark_json():
    assert _names_units(BENCH["end_to_end"]) == run.END_TO_END
    assert _names_units(BENCH["per_layer"]) == spans.PER_LAYER
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(
        inputs.WORKLOADS)


def test_untraced_run_prints_end_to_end_metrics():
    result = run.run("crawl_html", seed=7, seconds=1, trace=False,
                     urls=120)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    printed = [(n, m["unit"]) for n, m in result["metrics"].items()]
    assert printed == _names_units(BENCH["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run_records_one_append_span_per_chunk():
    result = run.run("crawl_html", seed=7, seconds=1, trace=True,
                     urls=120)
    assert result["correct"], result
    printed = [(n, m["unit"]) for n, m in result["metrics"].items()]
    assert printed == _names_units(BENCH["per_layer"])
    with open(os.path.join(run.TRACES_DIR, "crawl_html-s7.json")) as f:
        recorded = json.load(f)
    (job,) = [s for s in recorded if s["name"] == "job"]
    appends = [s for s in recorded if s["name"] == "io.table.append"
               and s["parent"] == job["id"]]
    assert len(appends) == inputs.WORKLOADS["crawl_html"]["chunks"]
    assert all(s["spark_jobs"] >= 1 for s in appends)


@pytest.fixture
def committed():
    """A tiny corpus and the product job's committed output for it."""
    work = os.path.join(run.RUNS_DIR, f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    from textextract_spark.pipeline import run_pipeline
    from textextract_spark.session import get_spark

    data = inputs.corpus("crawl_html", seed=11, urls=40)
    spark = get_spark(app_name="perfbench-selftest", cores=2)
    out = os.path.join(work, "out")
    try:
        run_pipeline(spark, data["input"], out, num_parts=4, chunks=2)
    finally:
        spark.stop()
    yield data, out
    shutil.rmtree(work, ignore_errors=True)


def _flip_one_text_byte(out: str) -> None:
    for d in inputs._table_dirs(os.path.join(out, "extracted")):
        for name in sorted(os.listdir(d)):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(d, name)
            tbl = pq.read_table(path)
            texts = tbl.column("text").to_pylist()
            for i, t in enumerate(texts):
                if t and t[0].isascii():
                    texts[i] = chr(ord(t[0]) ^ 1) + t[1:]
                    col = tbl.schema.get_field_index("text")
                    tbl = tbl.set_column(col, tbl.schema.field(col),
                                         [texts])
                    pq.write_table(tbl, path)
                    return
    raise AssertionError("no text value to corrupt")


def test_flipped_text_byte_fails_the_run(committed):
    data, out = committed
    res = {"jobs": [1.0], "outputs": [out],
           "start_s": 1.0, "warmup_s": 1.0, "warmup_outs": [out]}
    clean = run._judge(res, data, data, None, 1, 0)
    assert clean["correct"] and clean["failed"] == 0

    _flip_one_text_byte(out)
    bad, _ = inputs.check_extracted(out, data)
    assert "1 differ" in bad
    broken = run._judge(res, data, data, None, 1, 0)
    assert not broken["correct"]
    assert broken["failed"] >= 1
