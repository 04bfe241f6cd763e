"""Oracle gate: compare a finished crawl with ``fixtures.sequential_oracle``.

:func:`oracle_digest` runs the golden single-threaded crawl and keeps only
what the gate compares — one ``(seq, url, doc_hash, sha256(text))`` tuple per
document, the seen set and the set of fetched URLs — so it can run in a
separate process and hand back a small result.  :func:`crawl_digest` reads
the same shape out of the engine's tables (texts are hashed inside Spark, so
no payload reaches the driver).  :func:`compare` counts every disagreement.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import sys
import time
from urllib.parse import urlsplit
from urllib.robotparser import RobotFileParser

import pyarrow.parquet as pq


def oracle_digest(input_dir: str) -> dict:
    """Sequential-oracle result for the inputs in ``input_dir`` (picklable)."""
    from crawler_spark import fixtures

    t0 = time.perf_counter()
    g = fixtures.sequential_oracle(input_dir, fixtures.AS_OF)
    docs = {
        d["doc_hash"]: (
            int(d["seq"]),
            d["url"],
            hashlib.sha256(d["text"].encode("utf-8")).hexdigest(),
        )
        for d in g["documents"]
    }
    return {
        "docs": docs,
        "n_docs": len(g["documents"]),
        "seen": set(g["seen"]),
        "fetched": set(g["fetch_order"]),
        "seconds": time.perf_counter() - t0,
    }


def crawl_digest(run) -> dict:
    """The engine-side counterpart of :func:`oracle_digest`, plus what the
    politeness and robots checks need."""
    from pyspark.sql import functions as F

    spark = run.spark
    docs = {}
    dup = 0
    for r in (
        run.documents.read(spark)
        .select("doc_hash", "seq", "url", F.sha2(F.col("text"), 256).alias("sha"))
        .collect()
    ):
        if r["doc_hash"] in docs:
            dup += 1
        docs[r["doc_hash"]] = (int(r["seq"]), r["url"], r["sha"])
    log = run.fetch_log.read(spark)
    done = run.done.read(spark)
    # authority of every fetched url (a host can serve several authorities);
    # a url is fetched at most once per batch, so distinct url_hash counts
    # the group's fetches even if the join repeats a row
    fetches = (
        log.join(done.select("url_hash", "authority").distinct(), "url_hash", "left")
        .groupBy("batch_id", "host")
        .agg(
            F.countDistinct("url_hash").alias("n"),
            F.collect_set("authority").alias("authorities"),
        )
        .collect()
    )
    return {
        "docs": docs,
        "duplicate_docs": dup,
        "seen": {r["doc_hash"] for r in run.seen.read(spark).select("doc_hash").collect()},
        "fetched": {r["url"] for r in log.select("url").distinct().collect()},
        "fetch_groups": [(r["batch_id"], r["host"], r["n"], r["authorities"]) for r in fetches],
        "fetch_rows": log.count(),
    }


def _robots(input_dir: str) -> dict[str, RobotFileParser]:
    parsers = {}
    for r in pq.read_table(os.path.join(input_dir, "robots.parquet")).to_pylist():
        rp = RobotFileParser()
        rp.parse((r["robots_txt"] or "").splitlines())
        parsers[r["host"]] = rp
    return parsers


def _delays(input_dir: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for r in pq.read_table(os.path.join(input_dir, "seeds.parquet")).to_pylist():
        d = float(r["politeness_delay_s"] or 0.0)
        out[r["authority"]] = max(out.get(r["authority"], 0.0), d)
    return out


# the counts of :func:`compare` that are failures (the rest break
# ``doc_failures`` down)
FAILURES = (
    "doc_failures",
    "seen_diff",
    "fetched_diff",
    "over_budget_groups",
    "robots_denied_fetched",
)


def compare(oracle: dict, crawl: dict, input_dir: str, round_seconds: float) -> dict:
    """Count disagreements between one crawl and the oracle.

    ``doc_failures`` is missing + extra + mismatched documents (keyed by
    ``doc_hash``; a mismatch is any difference in seq, url or text bytes).
    The other counts are reported separately: seen-set and fetched-set
    symmetric differences, ``(batch_id, host)`` groups that fetched more
    than ``max(1, floor(round_seconds / delay))`` URLs (delay = the
    strictest authority fetched from that host in that round), and fetched
    URLs that robots.txt denies."""
    want, got = oracle["docs"], crawl["docs"]
    missing = sum(1 for k in want if k not in got)
    extra = sum(1 for k in got if k not in want) + crawl["duplicate_docs"]
    mismatched = sum(1 for k, v in want.items() if k in got and got[k] != v)

    delays = _delays(input_dir)
    over_budget = 0
    for _batch, _host, n, auths in crawl["fetch_groups"]:
        delay = max((delays.get(a, 0.0) for a in auths if a), default=0.0)
        if delay > 0 and n > max(1, math.floor(round_seconds / delay)):
            over_budget += 1

    robots = _robots(input_dir)
    denied_fetched = 0
    for url in crawl["fetched"]:
        rp = robots.get(urlsplit(url).hostname)
        if rp is not None and not rp.can_fetch("*", url):
            denied_fetched += 1

    return {
        "doc_failures": missing + extra + mismatched,
        "docs_missing": missing,
        "docs_extra": extra,
        "docs_mismatched": mismatched,
        "seen_diff": len(oracle["seen"] ^ crawl["seen"]),
        "fetched_diff": len(oracle["fetched"] ^ crawl["fetched"]),
        "over_budget_groups": over_budget,
        "robots_denied_fetched": denied_fetched,
    }


if __name__ == "__main__":
    # python3 gate.py INPUT_DIR OUT_PICKLE: the oracle digest, in a process
    # of its own so it overlaps the Spark session start
    with open(sys.argv[2], "wb") as f:
        pickle.dump(oracle_digest(sys.argv[1]), f)
