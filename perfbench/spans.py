"""Traced run: spans around the product job's layer calls, noop-sink
probes that split the fused extraction plan into layers, and the per-layer
table.

Spans are recorded from the benchmark's own files only: ``install`` swaps
wrappers in for the public functions ``run_pipeline`` calls, and every span
runs its Spark jobs under its own job group so ``sc.statusTracker()`` can
count the jobs, stages and tasks each layer launched (this works with the
UI disabled).
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import time

import pyarrow.parquet as pq

# Per-layer metrics in the order they are printed: (name, unit).
COUNTED_SPANS = (
    "io.table.append", "io.table.lineage", "io.table.overwrite",
    "io.warc.read", "pipeline.extract", "pipeline.extract_chunked",
    "curate.exact", "curate.neardup", "curate.contam", "curate.char_lm",
)
PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"),
     ("io.warc.read_s", "s"), ("io.warc.records", "count"),
     ("io.warc.py_mb_per_s", "MB/s"),
     ("pipeline.scan_s", "s"), ("pipeline.shuffle_s", "s"),
     ("pipeline.boundary_s", "s"), ("pipeline.extract_s", "s"),
     ("pipeline.extract_chunked_s", "s"),
     ("pipeline.winner_keep_ratio", "ratio"),
     ("core.html_ms_per_doc", "ms"), ("core.pdf_ms_per_doc", "ms"),
     ("core.text_ms_per_doc", "ms"), ("core.docs_per_s_1core", "docs/s"),
     ("core.parse_share", "ratio"),
     ("io.table.append_s", "s"), ("io.table.lineage_s", "s"),
     ("io.table.read_s", "s"), ("io.table.overwrite_s", "s"),
     ("io.table.snapshots", "count"), ("io.table.files", "count"),
     ("curate.exact_s", "s"), ("curate.neardup_s", "s"),
     ("curate.contam_s", "s"), ("curate.char_lm_s", "s")]
    + [(f"{span}.{c}", "count") for span in COUNTED_SPANS
       for c in ("spark_jobs", "stages", "tasks", "failed_tasks")]
    + [("trace.overhead_s", "s")])

# The in-process parse probe times at most this many winning docs (an even
# stride over the url-sorted winners) and scales per-format means up to
# the whole corpus.
CORE_SAMPLE = 1200


class Tracer:
    """Spans (name, start, end, parent) kept in memory until the run ends."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"id": idx, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-span-{idx}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if prev is not None:
                self.sc.setJobGroup(prev, prev_desc or "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def select(self, name: str, under: int | None = None) -> list[dict]:
        """Spans called ``name``; with ``under``, only those inside the
        span with that id."""
        def inside(s: dict) -> bool:
            while s["parent"] is not None:
                if s["parent"] == under:
                    return True
                s = self.spans[s["parent"]]
            return False
        return [s for s in self.spans if s["name"] == name
                and (under is None or inside(s))]

    def total_s(self, name: str, under: int | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, under))

    def spark_counts(self, wait_s: float = 10.0) -> None:
        """Attach job/stage/task counts to every span.  The status store
        is fed asynchronously by the listener bus, so wait until every job
        of every span has ended."""
        st = self.sc.statusTracker()
        deadline = time.time() + wait_s
        while True:
            jobs = {s["id"]: [st.getJobInfo(j)
                              for j in st.getJobIdsForGroup(s["group"])]
                    for s in self.spans}
            running = any(j is None or j.status in ("RUNNING", "UNKNOWN")
                          for js in jobs.values() for j in js)
            if not running or time.time() > deadline:
                break
            time.sleep(0.2)
        for s in self.spans:
            stages = tasks = failed = 0
            for j in jobs[s["id"]]:
                for sid in (j.stageIds if j else ()):
                    info = st.getStageInfo(sid)
                    if info is None:
                        continue
                    if info.numCompletedTasks or info.numFailedTasks:
                        stages += 1
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
            s.update(spark_jobs=len(jobs[s["id"]]), stages=stages,
                     tasks=tasks, failed_tasks=failed)


def install(tracer: Tracer) -> None:
    """Wrap the public functions ``run_pipeline`` calls so each call
    records a span.  ``run_pipeline`` resolves them through its module (or,
    for ``read_warc``, imports it at call time), so patching the module
    attributes is enough."""
    from textextract_spark import pipeline
    from textextract_spark.io import warc
    from textextract_spark.io.table import ManifestTable

    def wrap(owner, attr: str, name) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(args) if callable(name) else name
            with tracer.span(label):
                return orig(*args, **kwargs)
        setattr(owner, attr, traced)

    def table_span(method: str):
        def label(args) -> str:
            table = os.path.basename(args[0].path.rstrip("/"))
            if method == "append" and table == "metrics":
                return "io.table.lineage"
            return f"io.table.{method}"
        return label

    for method in ("append", "overwrite", "read"):
        wrap(ManifestTable, method, table_span(method))
    for fn in ("extract_pages", "lineage_metrics",
               "curation_decisions_full"):
        wrap(pipeline, fn, f"pipeline.{fn}")
    wrap(warc, "read_warc", "io.warc.read_warc")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def extraction_probes(tracer: Tracer, spark, cfg: dict) -> int:
    """Noop-sink probes of the extraction plan's layers over the run's
    input, built the way ``run_pipeline`` builds its pages DataFrame.
    Returns the number of records the program read from the input."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from textextract_spark.pipeline import (
        extract_pages, with_format, with_part_columns)

    parts, salts, chunks = cfg["num_parts"], cfg["n_salts"], cfg["chunks"]
    persisted = None
    if cfg["format"] == "warc":
        from textextract_spark.io.warc import read_warc

        with tracer.span("io.warc.read"):
            _noop(read_warc(spark, cfg["input"]))
        pages = (read_warc(spark, cfg["input"])
                 .withColumn("lang", F.lit(None).cast("string"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        with tracer.span("pipeline.persist"):
            records = pages.count()
        persisted = pages
        digest_col = "digest"
    else:
        pages = spark.read.parquet(cfg["input"])
        records = pages.count()
        digest_col = None

    with tracer.span("pipeline.scan"):
        _noop(pages)

    def shuffled():
        df = with_part_columns(with_format(pages), num_parts=parts,
                               n_salts=salts)
        return df.repartition(parts, "part_key", "salt")

    with tracer.span("pipeline.shuffle"):
        _noop(shuffled())
    with tracer.span("pipeline.boundary"):
        # the columns extract_pages ships across the Arrow boundary, with
        # its oversize gate, through an identity mapInPandas
        df = shuffled()
        in_bytes = F.coalesce(F.octet_length("html"), F.lit(0)).cast("long")
        df = (df.withColumn("in_bytes", in_bytes)
                .withColumn("too_large", in_bytes > cfg["max_payload"])
                .select("url", "warc_ts", "html", "lang", "fmt",
                        "part_key", "in_bytes", "too_large"))
        _noop(df.mapInPandas(lambda batches: batches, schema=df.schema))
    with tracer.span("pipeline.extract"):
        _noop(extract_pages(pages, num_parts=parts, n_salts=salts,
                            digest_col=digest_col))
    with tracer.span("pipeline.extract_chunked"):
        for chunk in range(chunks):
            keys = [k for k in range(parts) if k % chunks == chunk]
            _noop(extract_pages(pages, num_parts=parts, n_salts=salts,
                                digest_col=digest_col, part_keys=keys))
    if persisted is not None:
        persisted.unpersist()
    return records


def curation_probes(tracer: Tracer, spark, out_dir: str,
                    eval_path: str) -> None:
    """Each curation stage alone, into a noop sink, over the ``extracted``
    table a ``--curate`` job committed under ``out_dir``."""
    from pyspark.sql import functions as F

    from textextract_spark import pipeline
    from textextract_spark.io.table import ManifestTable
    from textextract_spark.operators.textdata import (
        char_lm_perplexity, contamination_flags)

    full = ManifestTable(f"{out_dir}/extracted").read(spark)
    eval_docs = spark.read.parquet(eval_path).select("text")
    keeps = (full.filter(F.col("status") == "ok")
             .select(F.col("url").alias("doc_id"), "text"))
    with tracer.span("curate.exact"):
        _noop(pipeline.curation_decisions(full))
    with tracer.span("curate.neardup"):
        _noop(pipeline.curation_decisions_neardup(full))
    with tracer.span("curate.contam"):
        _noop(contamination_flags(keeps, eval_docs))
    with tracer.span("curate.char_lm"):
        _noop(char_lm_perplexity(keeps, keeps.select("text")))


def _input_winners(cfg: dict) -> tuple[list[tuple], float]:
    """Winning (url, payload, lang) per url of the run's input, by the
    pipeline's (warc_ts, payload digest) rule; also the in-process WARC
    parse rate in MB/s of archive bytes (0.0 for parquet input)."""
    import glob

    best: dict[str, tuple] = {}

    def offer(url, ts, digest, html, lang) -> None:
        key = (ts, digest)
        cur = best.get(url)
        if cur is None or key > cur[0]:
            best[url] = (key, html, lang)

    mb_per_s = 0.0
    if cfg["format"] == "warc":
        from textextract_spark.io.warc import parse_warc_bytes

        files = sorted(glob.glob(cfg["input"]))
        size = parse_s = 0.0
        for path in files:
            with open(path, "rb") as f:
                data = f.read()
            t0 = time.perf_counter()
            recs = parse_warc_bytes(data)
            parse_s += time.perf_counter() - t0
            size += len(data)
            for r in recs:
                offer(r["url"], r["warc_ts"], r["digest"], r["html"], None)
        mb_per_s = size / 1e6 / parse_s if parse_s else 0.0
    else:
        tbl = pq.read_table(cfg["input"],
                            columns=["url", "warc_ts", "html", "lang"])
        for r in tbl.to_pylist():
            digest = hashlib.md5(r["html"] or b"").hexdigest()
            offer(r["url"], r["warc_ts"], digest, r["html"], r["lang"])
    winners = [(u, best[u][1], best[u][2]) for u in sorted(best)]
    return winners, mb_per_s


def core_probe(cfg: dict) -> dict:
    """In-process ``extract_document`` timings over the input's winners."""
    from textextract_spark.core import extract_document, sniff_format

    winners, mb_per_s = _input_winners(cfg)
    step = max(1, len(winners) // CORE_SAMPLE)
    spent: dict[str, float] = {}
    seen: dict[str, int] = {}
    for _, html, lang in winners[::step]:
        t0 = time.perf_counter()
        res = extract_document(html, lang)
        dt_s = time.perf_counter() - t0
        spent[res.fmt] = spent.get(res.fmt, 0.0) + dt_s
        seen[res.fmt] = seen.get(res.fmt, 0) + 1
    per_doc = {f: spent[f] / seen[f] for f in seen}
    total = {}
    for _, html, _ in winners:
        fmt = sniff_format(html or b"")
        total[fmt] = total.get(fmt, 0) + 1
    return {"ms_per_doc": {f: v * 1e3 for f, v in per_doc.items()},
            "docs_per_s": sum(seen.values()) / sum(spent.values()),
            "corpus_s": sum(per_doc.get(f, 0.0) * n
                            for f, n in total.items()),
            "warc_mb_per_s": mb_per_s}


def table_stats(out_dir: str) -> tuple[int, int]:
    """(snapshots, parquet data files) over the job's committed tables."""
    from textextract_spark.io.table import ManifestTable

    snaps = files = 0
    for name in ("extracted", "metrics"):
        tbl = ManifestTable(os.path.join(out_dir, name))
        snaps += len(tbl.snapshots())
        for d in tbl.snapshot_dirs():
            files += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return snaps, files


def per_layer(tracer: Tracer, stats: dict) -> dict:
    """The per-layer table, by the names in ``PER_LAYER``.  Table spans
    count inside the traced job (appends) or the curate job (read and
    overwrite) only."""
    core = stats["core"]
    job, curate = stats["job_span"], stats["curate_span"]
    under = {"io.table.append": job, "io.table.lineage": job,
             "io.table.read": curate, "io.table.overwrite": curate}
    extract_s = tracer.total_s("pipeline.extract")
    m = {
        "session.start_s": stats["start_s"],
        "session.warmup_s": stats["warmup_s"],
        "io.warc.read_s": tracer.total_s("io.warc.read"),
        "io.warc.records": (stats["records_read"]
                            if stats["format"] == "warc" else 0),
        "io.warc.py_mb_per_s": core["warc_mb_per_s"],
        "pipeline.scan_s": tracer.total_s("pipeline.scan"),
        "pipeline.shuffle_s": tracer.total_s("pipeline.shuffle"),
        "pipeline.boundary_s": tracer.total_s("pipeline.boundary"),
        "pipeline.extract_s": extract_s,
        "pipeline.extract_chunked_s":
            tracer.total_s("pipeline.extract_chunked"),
        "pipeline.winner_keep_ratio": (stats["urls_committed"]
                                       / stats["records_read"]),
        "core.html_ms_per_doc": core["ms_per_doc"].get("html", 0.0),
        "core.pdf_ms_per_doc": core["ms_per_doc"].get("pdf", 0.0),
        "core.text_ms_per_doc": core["ms_per_doc"].get("text", 0.0),
        "core.docs_per_s_1core": core["docs_per_s"],
        "core.parse_share": core["corpus_s"] / stats["cores"] / extract_s,
        "io.table.append_s": tracer.total_s("io.table.append", job),
        "io.table.lineage_s": tracer.total_s("io.table.lineage", job),
        "io.table.read_s": tracer.total_s("io.table.read", curate),
        "io.table.overwrite_s": tracer.total_s("io.table.overwrite",
                                               curate),
        "io.table.snapshots": stats["snapshots"],
        "io.table.files": stats["files"],
        "curate.exact_s": tracer.total_s("curate.exact"),
        "curate.neardup_s": tracer.total_s("curate.neardup"),
        "curate.contam_s": tracer.total_s("curate.contam"),
        "curate.char_lm_s": tracer.total_s("curate.char_lm"),
        "trace.overhead_s": stats["traced_job_s"] - stats["job_s"],
    }
    for name in COUNTED_SPANS:
        for c in ("spark_jobs", "stages", "tasks", "failed_tasks"):
            m[f"{name}.{c}"] = sum(
                s[c] for s in tracer.select(name, under.get(name)))
    return m
