"""Seeded benchmark inputs, their golden digests, and the output check.

Every corpus is built from ``textextract_spark.datagen`` and
``textextract_spark.io.warc`` public functions, in shards generated in
parallel worker processes.  A shard owns a disjoint url set (its shard id is
written into every host name), so each shard's golden rows are computed in
the worker that generated it and no payload crosses a process boundary.

Corpora are cached under ``perfbench/.cache`` by (workload, seed, size);
a cache entry is complete once its ``golden.json`` exists.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing
import os
import shutil
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
# least-recently-used entries beyond this many are evicted
CACHE_KEEP = 24
SHARDS = 4

# Fixed corpus seed of every workload's warm-up pass and of the traced
# run's curation job; kept apart from the run seeds by the size in the
# cache key.
WARMUP_SEED = 0
# The traced run's ``--curate`` job runs over a crawl_html-shaped corpus of
# this many urls: curation launches many small Spark jobs, so a few hundred
# docs already take ~40 s.
CURATE_URLS = 240

WORKLOADS = {
    # ~80% HTML parquet pages, one crawl per url (plus datagen's ~2%
    # superseding recrawls): the parse kernel, the Arrow boundary, the
    # salted shuffle and the chunked appends carry the job.
    "crawl_html": {"format": "parquet", "urls": 2400, "crawls": 1,
                   "warmup_urls": 1200, "num_parts": 16, "chunks": 2},
    # gzip-member WARC archives, every url crawled 3 times at rising
    # warc_ts: gunzip + record parsing, the persisted records and the
    # digest-driven winner aggregation carry the job; only a third of
    # the records reach the parse kernel.
    "warc_recrawl": {"format": "warc", "urls": 900, "crawls": 3,
                     "warmup_urls": 400, "num_parts": 16, "chunks": 2},
}

# Passages of this many words are cut from extracted text for the eval set,
# well above the decontamination rule's 8-gram.
EVAL_WORDS = 40
EVAL_DOCS = 24


def _shard_seed(seed: int, shard: int, crawl: int) -> int:
    return (seed * SHARDS + shard) * 8 + crawl


def shard_rows(seed: int, shard: int, urls: int, crawls: int) -> list[dict]:
    """Rows of one shard: ``crawls`` crawls of the same ``urls`` urls, each
    later crawl a day after the previous one with a fresh payload."""
    from textextract_spark.datagen import generate_pages

    base = generate_pages(urls, seed=_shard_seed(seed, shard, 0))
    prefix = f"https://s{shard}-"
    rows = []
    for c in range(crawls):
        crawl = base if c == 0 else generate_pages(
            urls, seed=_shard_seed(seed, shard, c))
        for b, r in zip(base, crawl):
            rows.append({"url": b["url"].replace("https://", prefix, 1),
                         "warc_ts": b["warc_ts"] + dt.timedelta(days=c),
                         "html": r["html"], "text": r["text"],
                         "lang": r["lang"]})
    return rows


def row_hash(url: str, text: str | None, status: str | None,
             fmt: str | None, tags: str, starts: bytes, ends: bytes) -> str:
    """Identity hash of one extracted url over (url, text, spans, status,
    fmt); ``tags`` is the span tags joined by US (0x1f), ``starts`` and
    ``ends`` the span offsets as little-endian int64 bytes.  ``meta.ms``
    is wall-clock timing and stays out."""
    h = hashlib.sha256()
    for part in (url.encode(), (text or "").encode(),
                 (status or "").encode(), (fmt or "").encode(),
                 tags.encode(), starts, ends):
        h.update(len(part).to_bytes(8, "little") + part)
    return h.hexdigest()[:32]


def golden_hash(url: str, g: dict) -> str:
    spans = g["spans"]
    return row_hash(url, g["text"], g["status"], g["fmt"],
                    "\x1f".join(t for t, _, _ in spans),
                    np.array([s for _, s, _ in spans], "<i8").tobytes(),
                    np.array([e for _, _, e in spans], "<i8").tobytes())


def table_digest(hashes: dict[str, str]) -> str:
    body = "\n".join(f"{u} {hashes[u]}" for u in sorted(hashes))
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def _build_shard(args: tuple) -> dict:
    """Worker: generate one shard, write it as the workload's input format,
    and return its golden per-url hashes (plus eval passages)."""
    fmt, seed, shard, urls, crawls, dest, want_eval = args
    from textextract_spark.datagen import golden_rows

    rows = shard_rows(seed, shard, urls, crawls)
    if fmt == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        from textextract_spark.datagen import PAGES_SCHEMA

        table = pa.table({
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"].replace(tzinfo=None) for r in rows],
            "html": [r["html"] for r in rows],
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }, schema=PAGES_SCHEMA)
        # same row-group size as datagen.write_pages_parquet
        pq.write_table(table, os.path.join(dest, f"part-{shard}.parquet"),
                       row_group_size=1024)
    else:
        from textextract_spark.io.warc import build_warc, warc_records

        with open(os.path.join(dest, f"crawl-{shard}.warc.gz"), "wb") as f:
            f.write(build_warc(warc_records(rows), compress=True))
        # the WARC reader carries no language: the product extracts with
        # lang NULL, so the golden extraction must too
        rows = [dict(r, lang=None) for r in rows]
    golden = golden_rows(rows)
    out = {"records": len(rows),
           "hashes": {u: golden_hash(u, g) for u, g in golden.items()}}
    if want_eval:
        texts = [g["text"] for _, g in sorted(golden.items())
                 if g["status"] == "ok" and g["fmt"] == "html"]
        passages = []
        for t in texts[:EVAL_DOCS // SHARDS]:
            words = t.split()
            mid = max(0, len(words) // 2 - EVAL_WORDS // 2)
            passages.append(" ".join(words[mid:mid + EVAL_WORDS]))
        out["eval"] = passages
    return out


def _entry_dir(workload: str, seed: int, urls: int) -> str:
    return os.path.join(CACHE_DIR, f"{workload}-s{seed}-n{urls}")


def _evict(keep: str) -> None:
    entries = [os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR)]
    entries = sorted((e for e in entries if e != keep),
                     key=os.path.getmtime, reverse=True)
    for e in entries[CACHE_KEEP - 1:]:
        shutil.rmtree(e, ignore_errors=True)


def corpus(workload: str, seed: int, urls: int | None = None,
           with_eval: bool = False) -> dict:
    """Build (or fetch from the cache) the workload's corpus for ``seed``.

    Returns {"input", "format", "records", "urls", "digest", "hashes",
    "eval_path", "build_s"} where ``input`` is what the product
    job receives (a parquet directory or a WARC glob) and ``build_s`` is
    0.0 on a cache hit.
    """
    spec = WORKLOADS[workload]
    urls = urls or spec["urls"]
    entry = _entry_dir(workload, seed, urls)
    meta_path = os.path.join(entry, "golden.json")
    t0 = time.perf_counter()
    if not os.path.exists(meta_path):
        shutil.rmtree(entry, ignore_errors=True)
        data = os.path.join(entry, "data")
        os.makedirs(data)
        per = -(-urls // SHARDS)
        jobs = [(spec["format"], seed, s, per, spec["crawls"], data,
                 with_eval) for s in range(SHARDS)]
        # fork, not spawn: a spawn pool's semaphores start multiprocessing's
        # resource-tracker process, which would outlive the run
        ctx = multiprocessing.get_context("fork")
        with ctx.Pool(SHARDS) as pool:
            parts = pool.map(_build_shard, jobs)
        hashes: dict[str, str] = {}
        for p in parts:
            hashes.update(p["hashes"])
        meta = {"records": sum(p["records"] for p in parts),
                "urls": len(hashes), "digest": table_digest(hashes),
                "hashes": hashes}
        if with_eval:
            import pyarrow as pa
            import pyarrow.parquet as pq

            passages = [t for p in parts for t in p["eval"]]
            pq.write_table(pa.table({"text": passages}),
                           os.path.join(entry, "eval.parquet"))
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        build_s = time.perf_counter() - t0
        _evict(entry)
    else:
        with open(meta_path) as f:
            meta = json.load(f)
        os.utime(entry)
        build_s = 0.0
    data = os.path.join(entry, "data")
    eval_path = os.path.join(entry, "eval.parquet")
    return {"format": spec["format"],
            "input": (data if spec["format"] == "parquet"
                      else os.path.join(data, "crawl-*.warc.gz")),
            "eval_path": eval_path if os.path.exists(eval_path) else None,
            "build_s": build_s, **meta}


# ---------------------------------------------------------------------------
# Output check
# ---------------------------------------------------------------------------

def _table_dirs(table_path: str) -> list[str]:
    """Snapshot directories of the table's current manifest version."""
    from textextract_spark.io.table import ManifestTable

    return ManifestTable(table_path).snapshot_dirs()


def extracted_hashes(out_dir: str) -> dict[str, str]:
    """Per-url identity hashes of a committed ``extracted`` table, read
    with pyarrow (not Spark).  Raises ValueError when a url appears
    twice."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    hashes: dict[str, str] = {}
    for d in _table_dirs(os.path.join(out_dir, "extracted")):
        tbl = pq.read_table(d, columns=["url", "text", "spans", "status",
                                        "meta"]).combine_chunks()
        spans = tbl.column("spans").chunk(0)
        if spans.null_count:
            spans = pc.fill_null(spans, pa.scalar(
                [], type=spans.type))
        offsets = spans.offsets.to_numpy()
        items = spans.values
        tags = pc.binary_join(pa.ListArray.from_arrays(
            spans.offsets, items.field("tag")), "\x1f").to_pylist()
        starts = items.field("start").to_numpy(zero_copy_only=False)
        ends = items.field("end").to_numpy(zero_copy_only=False)
        starts, ends = starts.astype("<i8"), ends.astype("<i8")
        fmts = pc.struct_field(tbl.column("meta"), "fmt").to_pylist()
        cols = zip(tbl.column("url").to_pylist(),
                   tbl.column("text").to_pylist(),
                   tbl.column("status").to_pylist(), fmts, tags)
        for i, (url, text, status, fmt, tag) in enumerate(cols):
            if url in hashes:
                raise ValueError(f"url committed twice: {url}")
            a, b = offsets[i], offsets[i + 1]
            hashes[url] = row_hash(url, text, status, fmt, tag or "",
                                   starts[a:b].tobytes(),
                                   ends[a:b].tobytes())
    return hashes


def check_extracted(out_dir: str, golden: dict) -> tuple[str | None, int]:
    """(None, committed urls) when the committed ``extracted`` table equals
    the golden rows, else (a one-line reason, committed urls)."""
    try:
        got = extracted_hashes(out_dir)
    except (OSError, ValueError) as exc:
        return f"unreadable extracted table: {exc}", 0
    if table_digest(got) == golden["digest"]:
        return None, len(got)
    want = golden["hashes"]
    missing = len(set(want) - set(got))
    extra = len(set(got) - set(want))
    differ = sum(1 for u in set(want) & set(got) if want[u] != got[u])
    return (f"extracted digest mismatch: {missing} urls missing, "
            f"{extra} unexpected, {differ} differ"), len(got)


def curated_digest(out_dir: str) -> str:
    """Digest of the committed ``curated`` table's (url, decision,
    ppl_bucket, split) rows."""
    import pyarrow.parquet as pq

    rows = []
    for d in _table_dirs(os.path.join(out_dir, "curated")):
        tbl = pq.read_table(d, columns=["url", "decision", "ppl_bucket",
                                        "split"])
        rows += [json.dumps([r["url"], r["decision"], r["ppl_bucket"],
                             r["split"]]) for r in tbl.to_pylist()]
    return hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
