"""Crawl benchmark for crawler_spark.

Runs one workload (see ``inputs.WORKLOADS``) through the public
``crawler_spark.rounds.CrawlRun`` API on ``local[4]``, one crawl at a time
from this single driver process (a closed-loop batch job), checks every
crawl against ``fixtures.sequential_oracle`` and prints one JSON line:

    python3 perfbench/run.py --workload wide --seed 1 --seconds 10 --trace 0

Order of a run:

1. set-up, three times: generate the workload's fixture and write a
   seed-permuted copy of it (``setup_s`` is the median);
2. the sequential oracle runs in a child process (``gate.py``) while the
   Spark session starts, and is joined before any crawl;
3. crawls run back to back while the next one, if it takes as long as the
   last, still ends within ``--seconds`` (at least one crawl), each in a
   fresh state directory that is removed afterwards.  The first
   crawl runs in the freshly started JVM — the cost a batch crawl job pays;
4. every crawl is compared with the oracle.  A disagreement makes
   ``correct`` false and the exit code 1.

``--trace 0`` reports the end-to-end metrics with no instrumentation
installed.  ``--trace 1`` installs ``tracing.Tracer`` and reports per-layer
metrics instead; its raw spans go to ``perfbench/_traces/``.  Everything the
run writes stays under ``perfbench/``.  Every process the run starts — the
oracle, the JVM, its Python workers and whatever they leave behind — is
stopped and reaped before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = 4
# set-ups per run; a fixed count, so the median is taken at the same point
# of the warming sequence on a fast or a slow host
SETUPS = 3
MB = 1024.0 * 1024.0
# state-dir tables reported one by one in the traced run
STATE_TABLES = (
    "frontier",
    "done",
    "seen",
    "seen_bloom",
    "url_bloom",
    "documents",
    "fetch_log",
    "lineage",
    "metrics",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- process-tree memory ---------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_bytes(root: int) -> int:
    """Sum of the peak resident set (``VmHWM``) of ``root`` and every live
    process under it.  Exact per process, with no sampling; pages a forked
    Python worker shares with its parent count once per process, so the sum
    is an upper bound of the tree's simultaneous peak."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def dir_stats(root: str) -> dict[str, tuple[int, int]]:
    """``{top-level dir: (parquet files, bytes of all files)}`` under root."""
    out = {}
    for name in sorted(os.listdir(root)):
        top = os.path.join(root, name)
        if not os.path.isdir(top):
            continue
        files = size = 0
        for d, _, fs in os.walk(top):
            for f in fs:
                size += os.path.getsize(os.path.join(d, f))
                files += f.endswith(".parquet")
        out[name] = (files, size)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def become_subreaper() -> None:
    """Make orphaned descendants (the Spark launcher's helper shells, Python
    workers outliving the JVM) children of this process, so that
    :func:`stop_descendants` can stop and reap them."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0) -> None:
    """Stop every process still running under this one (TERM, then KILL
    after ``grace`` seconds) and wait until each has ended and is reaped."""
    me = os.getpid()
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        _reap()
        left = [p for p in process_tree(me) if p != me and _alive(p)]
        if not left:
            break
        log(f"stopping {len(left)} leftover process(es) with {sig.name}")
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while time.time() < deadline and any(_alive(p) for p in left):
            _reap()
            time.sleep(0.05)
    _reap()


# -- spark -----------------------------------------------------------------------


def start_spark(work: str, trace: bool):
    from crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # one crawl runs ~1000 stages; keep all of them in the status store
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(_alive(p) for p in jvm_tree):
        time.sleep(0.1)


# -- one crawl -------------------------------------------------------------------


def crawl_once(spark, fixtures, w, paths: dict, work: str, name: str) -> dict:
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    import gate
    from crawler_spark.rounds import CrawlRun

    state = os.path.join(work, f"state-{name}")
    os.makedirs(state)
    try:
        run = CrawlRun(
            spark,
            state_dir=state,
            pages_path=paths["pages"],
            seeds_path=paths["seeds"],
            robots_path=paths["robots"],
            as_of=fixtures.AS_OF,
            round_seconds=w.round_seconds,
        )
        t0 = time.time()
        stats = run.run()
        t1 = time.time()
        # the JVM is the first process under the driver to do Spark work;
        # its Python workers live under it until the session stops
        peak = peak_rss_bytes(SparkContext._gateway.proc.pid)
        out = {
            "start": t0,
            "end": t1,
            "wall": t1 - t0,
            "rounds": [s["wall_s"] for s in stats],
            "stats": stats,
            "peak_rss": peak,
            "digest": gate.crawl_digest(run),
        }
        out["fetched"] = out["digest"]["fetch_rows"]
        out["state"] = dir_stats(state)
        manifest = os.path.join(
            run.pending.root, "snapshots", f"{run.pending.current_snapshot_id()}.json"
        )
        with open(manifest) as f:
            out["pending_delete_parts"] = len(json.load(f).get("delete_parts", []))
        done, log_ = run.done.read(spark), run.fetch_log.read(spark)
        out["robots_denied"] = (
            done.filter(F.col("state") == "failed")
            .join(log_.select("url_hash"), "url_hash", "left_anti")
            .count()
        )
        out["expanded"] = int(
            run.metrics.read(spark).agg(F.sum("expanded")).collect()[0][0] or 0
        )
        return out
    finally:
        shutil.rmtree(state, ignore_errors=True)


# -- metrics ---------------------------------------------------------------------


def end_to_end(crawls: list[dict], setup_s: float) -> dict:
    med = statistics.median
    return {
        "urls_per_s": (med(c["fetched"] / c["wall"] for c in crawls), "1/s"),
        "round_p50_s": (med(med(c["rounds"]) for c in crawls), "s"),
        "round_max_s": (med(max(c["rounds"]) for c in crawls), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (med(c["peak_rss"] / MB for c in crawls), "MB"),
        "state_mb": (
            med(sum(b for _, b in c["state"].values()) / MB for c in crawls),
            "MB",
        ),
    }


def per_layer(crawl: dict, tracer, extra: dict) -> dict:
    m = tracer.summary(crawl["start"], crawl["end"])
    m["trace.urls_per_s"] = (crawl["fetched"] / crawl["wall"], "1/s")
    m["tables.files"] = (sum(f for f, _ in crawl["state"].values()), "count")
    m["tables.mb"] = (sum(b for _, b in crawl["state"].values()) / MB, "MB")
    for name in STATE_TABLES:
        m[f"tables.{name}.mb"] = (crawl["state"].get(name, (0, 0))[1] / MB, "MB")
    m["tables.other.mb"] = (
        sum(b for k, (_, b) in crawl["state"].items() if k not in STATE_TABLES) / MB,
        "MB",
    )
    m["tables.pending_delete_parts"] = (crawl["pending_delete_parts"], "count")
    m["frontier.robots_denied"] = (crawl["robots_denied"], "count")
    new_rows = sum(s["new_frontier_rows"] for s in crawl["stats"])
    m["seen.admit_ratio"] = (
        new_rows / crawl["expanded"] if crawl["expanded"] else 0.0,
        "ratio",
    )
    m.update(extra)
    return m


# -- main ------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Python workers import crawler_spark by path; they inherit this
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, REPO)
    from crawler_spark import fixtures  # fails fast outside a full checkout

    import inputs

    w = inputs.WORKLOADS.get(args.workload)
    if w is None:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(inputs.WORKLOADS)}")

    work = os.path.join(HERE, "_work", f"{w.name}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM the run starts (launcher and driver): temp files inside the
    # checkout, no hsperfdata in /tmp, and no more GC and JIT compiler
    # threads than a 4-core box has room for next to 4 task threads
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        (
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",
            "-XX:+UseSerialGC",
            "-XX:CICompilerCount=2",
        )
    )
    become_subreaper()
    # a TERM from outside unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, w, fixtures, inputs, work)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, w, fixtures, inputs, work: str) -> int:
    import gate

    setups, paths = [], None
    for i in range(SETUPS):
        if paths is not None:
            shutil.rmtree(os.path.dirname(paths["pages"]))
        paths, secs = inputs.set_up(
            fixtures, w, args.seed, os.path.join(work, f"setup-{i}")
        )
        setups.append(secs)
    setup_s = statistics.median(setups)
    input_dir = os.path.dirname(paths["pages"])
    log(f"{w.name} seed={args.seed}: setup {[round(x, 3) for x in setups]}")

    oracle_path = os.path.join(work, "oracle.pkl")
    oracle_proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gate.py"), input_dir, oracle_path]
    )
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
    finally:
        code = oracle_proc.wait()
    if code != 0:
        stop_spark(spark)
        raise RuntimeError(f"oracle process exited with {code}")
    with open(oracle_path, "rb") as f:
        oracle = pickle.load(f)
    log(f"session {session_s:.2f}s, oracle {oracle['seconds']:.2f}s")

    tracer = None
    crawls, errors = [], 0
    try:
        if args.trace:
            import tracing

            os.environ["SPARK_GRAFT_ROUND_TIMING"] = "1"
            tracer = tracing.Tracer(spark)
            tracer.install()
        t_begin = time.time()
        # crawls back to back while the next one, as long as the last,
        # still ends within --seconds; at least one
        while not crawls or (
            time.time() - t_begin + crawls[-1]["wall"] <= args.seconds
        ):
            try:
                c = crawl_once(spark, fixtures, w, paths, work, str(len(crawls)))
            except Exception as e:  # a crawl that raises counts as failed
                log(f"crawl raised: {e!r}")
                errors += 1
                break
            c["check"] = gate.compare(oracle, c["digest"], input_dir, w.round_seconds)
            crawls.append(c)
            log(
                f"crawl {len(crawls)}: {c['wall']:.2f}s, {c['fetched']} fetches, "
                f"rounds {[round(r, 2) for r in c['rounds']]}, check {c['check']}"
            )
            if tracer is not None:
                break  # one traced crawl: the trace describes it alone
        metrics = None
        if crawls:
            if tracer is None:
                metrics = end_to_end(crawls, setup_s)
            else:
                extra = {
                    "fixtures.setup_s": (setup_s, "s"),
                    "fixtures.oracle_s": (oracle["seconds"], "s"),
                    "session.start_s": (session_s, "s"),
                }
                metrics = per_layer(crawls[0], tracer, extra)
                os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
                tracer.dump(
                    os.path.join(HERE, "_traces", f"spans-{w.name}-seed{args.seed}.json")
                )
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)

    attempted = oracle["n_docs"] * (len(crawls) + errors)
    failed = oracle["n_docs"] * errors + sum(
        sum(c["check"][k] for k in gate.FAILURES) for c in crawls
    )
    correct = bool(crawls) and failed == 0
    if metrics is None:
        return 1
    if tracer is not None:
        metrics["oracle.doc_mismatch_ratio"] = (
            failed / attempted if attempted else 1.0,
            "ratio",
        )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, attempted),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
