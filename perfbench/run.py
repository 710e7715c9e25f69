"""Product-job benchmark: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload crawl_html --seed 1 --seconds 20 \\
        --trace 0

Run from the root of a checkout.  The run builds (or takes from the cache)
the seeded input corpus, starts ``perfbench/job.py`` in a new process
session with its own output and Spark scratch directories, samples the
process tree's resident memory while it runs, checks every committed
``extracted`` table against ``datagen.golden_rows`` of the same corpus, and
removes the run directory afterwards, also when the JVM was killed.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer table with ``--trace 1``).  Progress, run
conditions and the per-layer table go to standard error.  Exit code 0 means
every output check passed; 1 means a run failed; 2 means the program is not
there to measure.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import inputs

HERE = inputs.HERE
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(HERE, ".runs")
TRACES_DIR = os.path.join(HERE, ".traces")
CORES = 4
PR_SET_CHILD_SUBREAPER = 36
# The driver heap, set through the program's own SPARK_GRAFT_DRIVER_MEM,
# with the initial heap at the same size so G1 never resizes it; the GC
# settings stay the program's.  With the program's 12g default the JVM's
# RSS ranged from 1.8 to 5 GB on one corpus, and peak RSS from 6.9 to
# 9.9 GB with the initial heap at 12g: too noisy to compare, and near the
# OOM killer on a shared 16 GB box.  A 4g heap, all of it initial, repeats
# within 4%.
DRIVER_MEM = "4g"
# No perf-data files: the JVMs would write them under /tmp, outside the run.
JAVA_OPTS = "-XX:-UsePerfData"
# A run must end within 180 s; measured jobs stop being started this long
# before the hard deadline, which leaves time for the output checks.
HARD_LIMIT_S = 170.0
CHECK_MARGIN_S = 25.0

END_TO_END = [("job_s", "s"), ("docs_per_s", "docs/s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB"), ("out_mb", "MB")]


_T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - _T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        table[int(name)] = (int(rest.split()[1]), head.split("(", 1)[1])
    return table


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _tree(root: int) -> dict[int, bool]:
    """The process ``root`` and all its descendants: pid -> whether it is
    the JVM's child between fork and exec.  Such a child still runs the
    JVM's command line and reports the JVM's memory."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            ppid = table[pid][0]
            out[pid] = (table.get(ppid, (0, ""))[1] == "java"
                        and _cmdline(pid) == _cmdline(ppid))
            todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(tree: dict[int, bool]) -> tuple[int, dict]:
    """Summed resident memory of the tree, without the JVM's not yet
    exec'd children, and the bytes per pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    per_pid = {}
    for pid, forked in tree.items():
        if forked:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                per_pid[pid] = int(f.read().split()[1]) * page
        except OSError:
            pass
    return sum(per_pid.values()), per_pid


def _describe(per_pid: dict[int, int]) -> str:
    parts = []
    for pid, rss in sorted(per_pid.items(), key=lambda kv: -kv[1])[:6]:
        cmd = _cmdline(pid).split(b"\0")
        name = os.path.basename(cmd[0].decode(errors="replace"))
        if len(cmd) > 2 and cmd[1] == b"-m":
            name += " -m " + cmd[2].decode(errors="replace")
        parts.append(f"{name} {rss / 1e6:.0f}")
    return ", ".join(parts)


def _become_subreaper() -> None:
    """Make processes orphaned below this one (the JVM once the driver
    process exits, the pyspark daemon and its workers once the JVM dies)
    this process's children instead of init's, so ``_stop`` can kill and
    reap every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                           f"{os.strerror(err)}")


def _stop() -> None:
    """Kill every process this one started, directly or not, and reap each
    one, so none outlives the run, not even as a zombie.  Only direct
    children are signalled: their pids cannot be reused before they are
    reaped here.  The orphans each kill leaves behind become children in
    turn (see ``_become_subreaper``)."""
    deadline = time.time() + 30
    me = os.getpid()
    while True:
        for pid, (ppid, _) in _proc_table().items():
            if ppid == me:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.time() > deadline:
            log("warning: child processes outlived SIGKILL for 30 s")
            return
        time.sleep(0.02)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _conditions() -> None:
    mem = "?"
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem = line.split(":", 1)[1].strip()
    leftover = (inputs.tree_bytes(RUNS_DIR)
                if os.path.isdir(RUNS_DIR) else 0)
    load = open("/proc/loadavg").read().split()[:3]
    log(f"conditions: MemAvailable {mem}, leftover run scratch "
        f"{leftover / 1e6:.1f} MB under {os.path.relpath(RUNS_DIR, ROOT)}, "
        f"loadavg {' '.join(load)}")


def run(workload: str, seed: int, seconds: int, trace: bool,
        urls: int | None = None) -> dict:
    """One run; ``urls`` shrinks the corpus for the self-tests."""
    t_start = time.time()
    _become_subreaper()
    _conditions()
    ticks = _cpu_ticks()
    spec = inputs.WORKLOADS[workload]
    warm = inputs.corpus(workload, inputs.WARMUP_SEED, spec["warmup_urls"])
    data = inputs.corpus(workload, seed, urls)
    cur = (inputs.corpus("crawl_html", inputs.WARMUP_SEED,
                         inputs.CURATE_URLS, with_eval=True)
           if trace else None)
    log(f"inputs: {data['records']} records, {data['urls']} urls "
        f"(built in {data['build_s']:.1f} s; warm-up corpus "
        f"{warm['build_s']:.1f} s)")
    # fixed corpora are built once per checkout, not per run
    hard_deadline = (t_start + HARD_LIMIT_S + warm["build_s"]
                     + (cur["build_s"] if cur else 0.0))

    os.makedirs(RUNS_DIR, exist_ok=True)
    os.makedirs(TRACES_DIR, exist_ok=True)
    run_dir = os.path.join(RUNS_DIR, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("out", "spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    cfg = {"root": ROOT, "cores": CORES, "trace": trace,
           "seconds": seconds, "stop_by": hard_deadline - CHECK_MARGIN_S,
           "input": data["input"], "format": data["format"],
           "warmup_input": warm["input"],
           "curate_input": cur and cur["input"],
           "eval_path": cur and cur["eval_path"],
           "num_parts": spec["num_parts"], "chunks": spec["chunks"],
           "n_salts": 8, "max_payload": 8 * 1024 * 1024,
           "out_root": os.path.join(run_dir, "out"),
           "result": os.path.join(run_dir, "result.json"),
           "spans_file": os.path.join(TRACES_DIR,
                                      f"{workload}-s{seed}.json")}
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, HERE, os.environ.get("PYTHONPATH"))
                   if p),
               SPARK_GRAFT_CPUS=str(CORES),
               SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
               TMPDIR=os.path.join(run_dir, "tmp"),
               SPARK_LAUNCHER_OPTS=JAVA_OPTS,
               SPARK_SUBMIT_OPTS=" ".join(
                   (os.environ.get("SPARK_SUBMIT_OPTS", ""), JAVA_OPTS,
                    "-Xms" + DRIVER_MEM,
                    "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"))
               ).strip())
    log_path = os.path.join(run_dir, "job.log")
    res: dict = {}
    peak, peak_at = 0, ""
    try:
        with open(log_path, "w") as logf:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "job.py"), cfg_path],
                cwd=ROOT, env=env, stdout=logf, stderr=logf,
                start_new_session=True)
            try:
                while proc.poll() is None:
                    rss, per_pid = _rss_bytes(_tree(proc.pid))
                    if rss > peak:
                        peak, peak_at = rss, _describe(per_pid)
                    if time.time() > hard_deadline:
                        log("job process passed its deadline; killed")
                        break
                    time.sleep(0.1)
            finally:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
                _stop()
        if os.path.exists(cfg["result"]):
            with open(cfg["result"]) as f:
                res = json.load(f)
        if proc.returncode != 0 or not res:
            with open(log_path, errors="replace") as f:
                tail = f.readlines()[-25:]
            log(f"job process exited {proc.returncode}:\n"
                + "".join(tail))
        spent = [b - a for a, b in zip(ticks, _cpu_ticks())]
        log(f"job process ended; peak RSS {peak / 1e6:.0f} MB: {peak_at}; "
            f"CPU steal {100 * spent[7] / max(sum(spent), 1):.1f}%")
        return _judge(res, data, warm, cur, peak, proc.returncode)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _judge(res: dict, data: dict, warm: dict, cur: dict | None, peak: int,
           returncode: int) -> dict:
    """Check every committed output and assemble the result line; ``cur``
    is the curation corpus of a traced run, None for an untraced one."""
    problems = []
    if res.get("error"):
        problems.append(f"job raised {res['error']}")
    if returncode != 0 and not res.get("error"):
        problems.append(f"job process exited {returncode}")
    if "warmup_outs" in res:
        for out in res["warmup_outs"]:
            bad, _ = inputs.check_extracted(out, warm)
            if bad:
                problems.append(f"{os.path.basename(out)}: {bad}")
    else:
        problems.append("set-up did not finish")
    attempted = max(len(res.get("outputs", [])), 1)
    finished = len(res.get("jobs", []))
    if cur:
        finished += "per_layer" in res
    failed = attempted - finished
    committed = []
    for out in res.get("outputs", [])[:finished]:
        bad, urls = inputs.check_extracted(out, data)
        committed.append(urls)
        if bad:
            failed += 1
            problems.append(f"{os.path.basename(out)}: {bad}")
    metrics: dict = {}
    if cur and "per_layer" in res:
        attempted += 1
        with open(os.path.join(HERE, "expected.json")) as f:
            want = json.load(f).get("curated_digest")
        bad, _ = inputs.check_extracted(res["curate_out"], cur)
        try:
            got = inputs.curated_digest(res["curate_out"])
        except (OSError, ValueError) as exc:
            got = f"unreadable ({exc})"
        if bad or got != want:
            failed += 1
            problems.append(f"curate job: {bad or ''} curated digest {got}"
                            f" (recorded {want})")
        import spans

        metrics = {n: {"value": res["per_layer"][n], "unit": u}
                   for n, u in spans.PER_LAYER}
        log("per-layer table:\n" + "\n".join(
            f"  {n:<40} {m['value']:>14.4f} {m['unit']}"
            for n, m in metrics.items()))
        log(f"extracted append spans in the traced job: "
            f"{res['traced_extracted_appends']}")
    elif res.get("jobs"):
        job_s = statistics.median(res["jobs"])
        values = {"job_s": job_s,
                  "docs_per_s": statistics.median(committed) / job_s,
                  "setup_s": res["start_s"] + res["warmup_s"],
                  "peak_rss_mb": peak / 1e6,
                  "out_mb": inputs.tree_bytes(res["outputs"][0]) / 1e6}
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in END_TO_END}
        log("jobs: " + ", ".join(f"{t:.3f} s" for t in res["jobs"])
            + f"; set-up {res['start_s']:.2f} + {res['warmup_s']:.2f} s")
    for p in problems:
        log(f"FAILED {p}")
    return {"correct": not problems and failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(inputs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="measuring time of an untraced run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through run()'s clean-up like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "textextract_spark",
                                       "pipeline.py")):
        log(f"no textextract_spark package under {ROOT}: nothing to run")
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
