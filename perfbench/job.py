"""One benchmark run inside a fresh driver process (started by run.py).

    python3 perfbench/job.py <config.json>

Starts the Spark session, runs the fixed warm-up passes, then either runs
``run_pipeline`` back to back until the measuring time is used (untraced),
or runs one untraced and one traced job followed by the layer probes
(traced).  Progress is written to the config's ``result`` file after every
step, so the parent still sees the finished jobs if this process dies.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Untimed passes over the fixed warm-up corpus before the measured jobs.
# After one pass, each measured job still ran faster than the one before
# (the first up to 20% slower than the second, 6 runs of 7 on a 4-core
# box); after two passes the measured jobs show no trend.
WARMUP_PASSES = 2


def _save(res: dict, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, path)


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    from textextract_spark.pipeline import run_pipeline
    from textextract_spark.session import get_spark

    res: dict = {"jobs": [], "outputs": [], "error": None}

    def job(pages: str, out: str, run_id: str, **kwargs) -> float:
        kwargs.setdefault("input_format", cfg["format"])
        t0 = time.perf_counter()
        run_pipeline(spark, pages, out, num_parts=cfg["num_parts"],
                     n_salts=cfg["n_salts"], chunks=cfg["chunks"],
                     run_id=run_id, **kwargs)
        return time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cfg["cores"])
    res["start_s"] = time.perf_counter() - t0
    res["warmup_s"], res["warmup_outs"] = 0.0, []
    for i in range(WARMUP_PASSES):
        warm_out = os.path.join(cfg["out_root"], f"warmup-{i}")
        res["warmup_s"] += job(cfg["warmup_input"], warm_out, f"warmup-{i}")
        res["warmup_outs"].append(warm_out)
    _save(res, cfg["result"])

    def measured(name: str) -> float:
        """One job over the run's input; its output directory is recorded
        before it starts, so a job that dies still counts as attempted."""
        out = os.path.join(cfg["out_root"], name)
        res["outputs"].append(out)
        _save(res, cfg["result"])
        return job(cfg["input"], out, name)

    try:
        if not cfg["trace"]:
            started = time.perf_counter()
            while True:
                dt_s = measured(f"job-{len(res['jobs'])}")
                res["jobs"].append(dt_s)
                _save(res, cfg["result"])
                elapsed = time.perf_counter() - started
                if (elapsed >= cfg["seconds"]
                        or time.time() + dt_s > cfg["stop_by"]):
                    break
        else:
            traced_run(spark, cfg, res, measured, job)
    except Exception as exc:  # noqa: BLE001 - reported to the parent
        import traceback

        traceback.print_exc()
        res["error"] = f"{type(exc).__name__}: {exc}"[:500]
    _save(res, cfg["result"])
    spark.stop()
    return 1 if res["error"] else 0


def traced_run(spark, cfg: dict, res: dict, measured, job) -> None:
    import spans
    from textextract_spark.io.table import ManifestTable

    res["jobs"].append(measured("job-0"))
    committed = (ManifestTable(os.path.join(res["outputs"][0], "extracted"))
                 .read(spark).select("url").distinct().count())
    tracer = spans.Tracer(spark.sparkContext)
    spans.install(tracer)
    with tracer.span("job") as job_span:
        traced_s = measured("traced")
    extract_spans = len(tracer.select("io.table.append", job_span["id"]))
    records = spans.extraction_probes(tracer, spark, cfg)
    # the curate_journey shape: a --curate product job (extraction, then
    # read, full curation decisions and the `curated` overwrite) over the
    # small fixed curation corpus, then each curation stage alone
    curate_out = os.path.join(cfg["out_root"], "curate")
    with tracer.span("curate.job") as curate_span:
        job(cfg["curate_input"], curate_out, "curate", curate=True,
            eval_path=cfg["eval_path"], input_format="parquet")
    res["curate_out"] = curate_out
    spans.curation_probes(tracer, spark, curate_out, cfg["eval_path"])
    tracer.spark_counts()
    snaps, files = spans.table_stats(res["outputs"][-1])
    stats = {**cfg, "start_s": res["start_s"], "warmup_s": res["warmup_s"],
             "job_s": res["jobs"][0], "traced_job_s": traced_s,
             "snapshots": snaps, "files": files,
             "records_read": records, "urls_committed": committed,
             "job_span": job_span["id"], "curate_span": curate_span["id"],
             "core": spans.core_probe(cfg)}
    res["per_layer"] = spans.per_layer(tracer, stats)
    res["traced_extracted_appends"] = extract_spans
    with open(cfg["spans_file"], "w") as f:
        json.dump(tracer.spans, f, indent=1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
