"""Checkpoint/resume: kill after round k (+ partial commit), resume from
lineage, final state identical to an uninterrupted run (SURVEY.md §5.4).

The reference loses its whole run delta on crash (seen-set flushed only
at end, gdprCrawler.py:292-301); the engine's per-round lineage commit
makes any crash replay idempotent.
"""

import os

from pyspark.sql import functions as F

from crawler_spark.fixtures import AS_OF, fixture_dir
from crawler_spark.rounds import CrawlRun


def _mk(spark, state_dir):
    fix = fixture_dir("sf0.001")
    return CrawlRun(
        spark,
        state_dir=state_dir,
        pages_path=os.path.join(fix, "pages.parquet"),
        seeds_path=os.path.join(fix, "seeds.parquet"),
        robots_path=os.path.join(fix, "robots.parquet"),
        as_of=AS_OF,
    )


def _final_state(run):
    docs = sorted(
        (r["seq"], r["url"], r["doc_hash"], r["text"])
        for r in run.documents.read(run.spark)
        .select("seq", "url", "doc_hash", "text")
        .collect()
    )
    seen = sorted(
        r["doc_hash"] for r in run.seen.read(run.spark).select("doc_hash").collect()
    )
    return docs, seen


def _logs(run):
    """(batch_id, url, status) multiset of fetch_log, and the metrics
    rows without their wall-clock column."""
    fetches = sorted(
        tuple(r)
        for r in run.fetch_log.read(run.spark)
        .select("batch_id", "url", "status")
        .collect()
    )
    metrics = sorted(
        tuple(r) for r in run.metrics.read(run.spark).drop("wall_ms").collect()
    )
    return fetches, metrics


def test_resume_after_partial_commit(spark, tmp_path):
    # uninterrupted reference run
    full = _mk(spark, str(tmp_path / "full"))
    full.run(max_rounds=50)
    want = _final_state(full)
    want_logs = _logs(full)

    # interrupted run: 2 rounds, then a simulated crash mid-round-3 —
    # documents, fetch_log and metrics got appended but lineage (the
    # commit point) did not
    part = _mk(spark, str(tmp_path / "part"))
    part.init()
    part.round(1)
    part.round(2)
    junk = part.documents.read(spark).limit(3).withColumn(
        "doc_hash", F.lit("junk-partial-commit")
    )
    part.documents.append(junk, note="simulated-crash-partial")
    part.fetch_log.append(
        part.fetch_log.read(spark).withColumn("batch_id", F.lit(3).cast("long")),
        note="simulated-crash-partial",
    )
    part.metrics.append(
        part.metrics.read(spark).withColumn("round_id", F.lit(3).cast("long")),
        note="simulated-crash-partial",
    )
    assert (
        part.documents.read(spark)
        .filter(F.col("doc_hash") == "junk-partial-commit")
        .count()
        == 3
    )

    # resume: rolls documents back to round-2 snapshot, junk gone
    resumed = _mk(spark, str(tmp_path / "part"))
    next_round = resumed.resume()
    assert next_round == 3
    assert (
        resumed.documents.read(spark)
        .filter(F.col("doc_hash") == "junk-partial-commit")
        .count()
        == 0
    )
    for r in range(next_round, next_round + 50):
        if resumed.round(r) is None:
            break
    assert _final_state(resumed) == want
    # fetch_log and metrics rows of the replayed round appear once
    assert _logs(resumed) == want_logs


def test_time_travel_reads(spark, tmp_path):
    run = _mk(spark, str(tmp_path / "tt"))
    run.init()
    run.round(1)
    snap1 = run.documents.current_snapshot_id()
    run.round(2)
    n_at_1 = run.documents.read(spark, snap1).count()
    n_at_2 = run.documents.read(spark).count()
    assert n_at_2 >= n_at_1
    assert run.documents.read(spark, snap1).count() == n_at_1  # stable


def test_legacy_manifest_without_row_stats_still_crawls(spark, tmp_path):
    """Round-3 ADVICE: a state dir written before the row-stat manifest
    format has plain-string part entries; the zero-job pending bound
    must NOT treat those as 0 rows and declare the frontier drained —
    it returns None and round() falls back to the real limit(1) probe."""
    import json

    run = _mk(spark, str(tmp_path / "legacy"))
    run.init()
    run.round(1)

    # rewrite the pending manifest to the legacy shape: bare path strings
    t = run.pending
    sid = t.current_snapshot_id()
    m = t._manifest()
    legacy = {
        "parts": [e["path"] if isinstance(e, dict) else e for e in m["parts"]],
        "delete_parts": [
            e["path"] if isinstance(e, dict) else e for e in m["delete_parts"]
        ],
    }
    with open(t._manifest_path(sid), "w") as f:
        json.dump(legacy, f)

    assert run._pending_rows_bound() is None  # bound unusable, not "drained"
    before = run.documents.read(spark).count()
    stats = run.round(2)  # must probe and keep crawling, not return None
    assert stats is not None
    assert run.documents.read(spark).count() > before
