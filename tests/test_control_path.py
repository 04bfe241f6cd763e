"""The round's control path runs no Python task and no needless Spark job.

Driver-born tables (lineage, metrics) are written and read by the driver
with pyarrow; empty and driver-local frames are JVM local relations; the
per-host schedule plan is one aggregation whose figures are pinned here
against hand-computed values.
"""

import glob
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from crawler_spark import frontier as FR
from crawler_spark import schema as S
from crawler_spark.fixtures import AS_OF
from crawler_spark.rounds import CrawlRun
from crawler_spark.tables import MorTable, SnapshotTable


def _rdd_chain(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _bare_run(spark, state_dir) -> CrawlRun:
    # lineage/metrics bookkeeping never touches the inputs
    return CrawlRun(
        spark,
        state_dir=str(state_dir),
        pages_path="unused",
        seeds_path="unused",
        robots_path="unused",
        as_of=AS_OF,
    )


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


# -- no Python task for empty or driver-local frames ---------------------------


def test_empty_table_reads_plan_no_python_rdd(spark, tmp_path):
    snap = SnapshotTable(str(tmp_path / "docs"), S.DOCUMENTS)
    mor = MorTable(
        str(tmp_path / "pending"), S.FRONTIER, delete_keys=["url_hash", "retry_count"]
    )
    for df in (snap.read(spark), mor.read(spark)):
        assert "PythonRDD" not in _rdd_chain(df)
        assert df.count() == 0
    # the list-built empty frame this replaces does run through Python
    assert "PythonRDD" in _rdd_chain(spark.createDataFrame([], S.DOCUMENTS))


# -- lineage bookkeeping starts no Spark job -----------------------------------


def test_lineage_commit_and_lookups_start_no_spark_job(spark, tmp_path):
    run = _bare_run(spark, tmp_path / "state")

    def bookkeeping():
        run._commit_lineage(0, fetched=0, extracted=0, delta_by_shard={0: 3, 5: 2})
        run._offsets_cache = None  # force the durable read, as after resume
        run._commit_lineage(1, fetched=4, extracted=2, delta_by_shard={5: 1})
        last = run.last_committed_round()
        run._offsets_cache = None
        return last, run._enqueued_total()

    (last, total), jobs = _jobs_in_group(spark, "control-path-guard", bookkeeping)
    assert (last, total) == (1, 6)
    assert jobs == []
    # the probe does see jobs: a Spark read of the same table starts one
    _, spark_jobs = _jobs_in_group(
        spark, "control-path-probe", lambda: run.lineage.read(spark).count()
    )
    assert spark_jobs


def test_driver_written_parts_read_back_with_declared_types(spark, tmp_path):
    ts = datetime(2026, 3, 1, 12, 30, 15, 250000, tzinfo=timezone.utc)
    lin_rows = [
        (7, "s3", "s2", "s4", "s5", "s6", "", pid, 10 * pid, 7, 40, 12, ts)
        for pid in (0, 3, 31)
    ]
    met_rows = [(7, "austria", "*", 5, 0, 4, 3, 1, 1234, 9876)]
    for name, sch, rows in (
        ("lineage", S.LINEAGE, lin_rows),
        ("metrics", S.METRICS, met_rows),
    ):
        t = SnapshotTable(str(tmp_path / name), sch)
        t.append_rows(rows, note="test")
        (f,) = glob.glob(os.path.join(t.root, "data", "*", "*.parquet"))
        # the types Spark infers from the file footer ARE the declared ones
        inferred = spark.read.parquet(os.path.dirname(f)).schema
        assert [(x.name, x.dataType) for x in inferred.fields] == [
            (x.name, x.dataType) for x in sch.fields
        ]
        assert b"ARROW:schema" not in (pq.read_metadata(f).metadata or {})
        got = [tuple(r) for r in t.read(spark).collect()]
        if name == "lineage":
            # collect() hands back naive local datetimes
            got = [(*r[:-1], r[-1].timestamp()) for r in got]
            rows = [(*r[:-1], r[-1].timestamp()) for r in rows]
        assert sorted(got) == sorted(rows)
    lin = SnapshotTable(str(tmp_path / "lineage"), S.LINEAGE).read_arrow()
    assert lin.schema.field("partition_id").type == pa.int32()
    assert lin.schema.field("committed_ts").type == pa.timestamp("us", tz="UTC")


# -- one-pass schedule plan ------------------------------------------------------


def _seeds(spark, delays: dict[str, float]):
    return spark.createDataFrame(
        [(a, "Decisions", f"https://{a}.eu/", 0, d) for a, d in delays.items()],
        S.SEEDS,
    )


def _pending(spark, rows: list[tuple[str, str, int]]):
    """(host, authority, n rows) -> slim pending rows."""
    out, h = [], 0
    for host, auth, n in rows:
        for _ in range(n):
            h += 1
            out.append((host, auth, h * 2654435761 % (1 << 60)))
    return spark.createDataFrame(out, "host string, authority string, url_hash long")


def _plan(spark, pending_rows, delays, round_seconds=60.0, target=50_000):
    plan = FR.schedule_plan(
        _pending(spark, pending_rows),
        FR.authority_delays(_seeds(spark, delays)),
        round_seconds,
        salt_rows_target=target,
    )
    return plan, {
        r["host"]: (r["n_pending"], r["budget"], r["n_salts"], r["salt_budget"])
        for r in plan.collect()
    }


def test_plan_budgets_strictest_authority_zero_and_missing_delays(spark):
    plan, got = _plan(
        spark,
        [
            ("shared.eu", "a5", 2),  # shared by delays 5 s and 20 s
            ("shared.eu", "b20", 3),
            ("a5.eu", "a5", 4),
            ("free.eu", "zero", 2),  # delay 0
            ("orphan.eu", "unseeded", 1),  # authority absent from seeds
        ],
        {"a5": 5.0, "b20": 20.0, "zero": 0.0},
    )
    u = FR.UNLIMITED_BUDGET
    assert got == {
        "shared.eu": (5, 3, 1, 3),  # floor(60 / max(5, 20))
        "a5.eu": (4, 12, 1, 12),  # floor(60 / 5)
        "free.eu": (2, u, 1, u),
        "orphan.eu": (1, u, 1, u),
    }
    assert FR.budgets_bind(plan) is True  # shared.eu: 5 pending > 3


def test_plan_salts_at_small_target_and_non_binding(spark):
    plan, got = _plan(
        spark,
        [
            ("hot.eu", "a5", 100),
            ("warm.eu", "a7", 25),
            ("capped.eu", "b20", 100),
            ("cold.eu", "a5", 3),
        ],
        {"a5": 5.0, "a7": 7.0, "b20": 20.0},
        target=10,
    )
    assert got == {
        # ceil(100/10) = 10 salts (<= min(32, 12)), 12 // 10 = 1 per salt
        "hot.eu": (100, 12, 10, 1),
        # ceil(25/10) = 3 salts (cap min(32, floor(60/7) = 8) not hit);
        # 8 // 3 = 2 per salt
        "warm.eu": (25, 8, 3, 2),
        # ceil(100/10) = 10 salts, capped at the budget floor(60/20) = 3
        "capped.eu": (100, 3, 3, 1),
        "cold.eu": (3, 12, 1, 12),
    }
    assert FR.budgets_bind(plan) is True
    wide_open, got = _plan(
        spark,
        [("hot.eu", "a5", 100), ("cold.eu", "a5", 3)],
        {"a5": 0.5},  # budget floor(60 / 0.5) = 120 >= pending
        target=10,
    )
    # 10 salts x floor(120/10) = 120 admitted >= 100 pending
    assert got["hot.eu"] == (100, 120, 10, 12)
    assert FR.budgets_bind(wide_open) is False


# -- METRICS.wall_ms covers the commit window ------------------------------------


def test_metrics_wall_ms_is_stamped_after_the_commits(spark, tmp_path, monkeypatch):
    from crawler_spark.fixtures import fixture_dir

    monkeypatch.setenv("SPARK_GRAFT_ROUND_TIMING", "1")
    fix = fixture_dir("sf0.001")
    run = CrawlRun(
        spark,
        state_dir=str(tmp_path / "state"),
        pages_path=os.path.join(fix, "pages.parquet"),
        seeds_path=os.path.join(fix, "seeds.parquet"),
        robots_path=os.path.join(fix, "robots.parquet"),
        as_of=AS_OF,
    )
    run.init()
    stats = [run.round(1), run.round(2)]
    wall_ms = {
        r["round_id"]: r["wall_ms"]
        for r in run.metrics.read(spark).select("round_id", "wall_ms").collect()
    }
    for st in stats:
        floor_s = st["wall_s"] - st["phases"]["metrics_lineage"] - 0.05
        assert wall_ms[st["round"]] / 1000 >= floor_s, (st, wall_ms)
        assert wall_ms[st["round"]] / 1000 <= st["wall_s"]

