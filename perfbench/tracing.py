"""Traced run: spans around the calls into each crawler_spark layer.

An untraced (``--trace 0``) run never imports this module.  :class:`Tracer` replaces the
public functions a round calls — ``CrawlRun.round``, the ``tables`` commit
and read methods, the ``frontier`` planners, the ``seen`` dedupe probes and
the extract function ``rounds`` builds — with wrappers that

- record a span (name, layer, start, end, parent span, round id) in memory;
- set the Spark job group to the span id for the duration of the call, so
  every job the call triggers is attributed to it even inside the round's
  commit thread pool;
- count extract work per Arrow batch into Spark accumulators.

After the crawl :meth:`Tracer.summary` joins the spans with the jobs and
stages in Spark's status store and reduces them to flat per-layer metrics;
:meth:`Tracer.dump` writes the raw spans out.
"""

from __future__ import annotations

import itertools
import json
import threading
import time

LAYERS = ("rounds", "tables", "frontier", "seen", "extract")
TABLE_WRITES = ("append", "append_read", "overwrite", "adopt_part", "commit_delta")
TABLE_CALLS = TABLE_WRITES + ("read",)
FRONTIER_PLAN = (
    "host_budgets",
    "salt_plan",
    "salt_rows",
    "preprune",
    "robots_flag",
    "rank_budget",
    "admit_candidates",
)
SEEN_PLAN = ("dedupe_against_seen", "anti_join_probe")
PHASES = (
    "read_pending",
    "plan_schedule",
    "schedule_count",
    "fetch_extract",
    "plan_outputs",
    "commits",
    "blooms_shards",
    "metrics_lineage",
)
EXTRACT_COUNTERS = ("busy_s", "batches", "rows_in", "html_bytes", "rows_out")
MB = 1024.0 * 1024.0


def traced_extract(fn, acc):
    """Wrap a mapInArrow function: time spent inside ``fn`` (excluding the
    time it waits for input batches) and per-batch row/byte counts go to
    the accumulators in ``acc``.  Module-level so the closure pickles."""

    def run(batches):
        from time import perf_counter

        waited = [0.0]

        def feed():
            it = iter(batches)
            while True:
                t = perf_counter()
                try:
                    b = next(it)
                except StopIteration:
                    waited[0] += perf_counter() - t
                    return
                waited[0] += perf_counter() - t
                acc["batches"].add(1)
                acc["rows_in"].add(b.num_rows)
                i = b.schema.get_field_index("html")
                if i >= 0:
                    acc["html_bytes"].add(b.column(i).nbytes)
                yield b

        out = fn(feed())
        while True:
            t, w0 = perf_counter(), waited[0]
            try:
                ob = next(out)
            except StopIteration:
                acc["busy_s"].add((perf_counter() - t) - (waited[0] - w0))
                return
            acc["busy_s"].add((perf_counter() - t) - (waited[0] - w0))
            acc["rows_out"].add(ob.num_rows)
            yield ob

    return run


def _union(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.rounds: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._round_span: int | None = None
        self._round_id: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.acc = {
            k: self.sc.accumulator(0.0 if k == "busy_s" else 0)
            for k in EXTRACT_COUNTERS
        }

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _call(self, layer, name, fn, args, kwargs, on_result=None, on_start=None):
        t_in = time.perf_counter()
        sid = next(self._ids)
        stack = self._stack()
        # calls made from the round's commit pool threads have no span on
        # their own thread: their parent is the round being traced
        parent = stack[-1] if stack else self._round_span
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{sid}")
        stack.append(sid)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent,
            "round": self._round_id,
            "thread": threading.current_thread().name,
        }
        if on_start is not None:
            on_start(rec)
        book = time.perf_counter() - t_in
        rec["start"] = time.time()
        try:
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(rec, out)
            return out
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += book + time.perf_counter() - t_out

    def _patch(self, owner, attr: str, layer: str, name: str, on_result=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer._call(layer, name, fn, args, kwargs, on_result)

        wrapper.__wrapped__ = fn
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    # -- install / uninstall -----------------------------------------------------

    def install(self) -> None:
        from crawler_spark import frontier, rounds, seen, tables

        tracer = self
        orig_round = rounds.CrawlRun.round

        def round_wrapper(self_run, round_id, *a, **kw):
            before = {k: v.value for k, v in tracer.acc.items()}
            rec: dict = {"round": round_id}

            def start(span):
                tracer._round_span = span["id"]
                rec["span"] = span

            def keep(span, out):
                rec["stats"] = out

            tracer._round_id = round_id
            try:
                return tracer._call(
                    "rounds", "round", orig_round, (self_run, round_id) + a, kw,
                    keep, start,
                )
            finally:
                tracer._round_id = tracer._round_span = None
                span = rec.pop("span")
                rec["start"], rec["end"] = span["start"], span["end"]
                rec["extract"] = {k: v.value - before[k] for k, v in tracer.acc.items()}
                if rec.get("stats") is not None:  # None: frontier drained
                    tracer.rounds.append(rec)

        self._patch_value(rounds.CrawlRun, "round", round_wrapper)
        self._patch(rounds.CrawlRun, "init", "rounds", "init")

        for attr in TABLE_WRITES + ("read",):
            for cls in (tables.SnapshotTable, tables.MorTable):
                if attr in cls.__dict__:
                    self._patch(cls, attr, "tables", attr)

        def bind(span, out):
            span["result"] = bool(out)

        for attr in FRONTIER_PLAN + ("seed_frontier",):
            self._patch(frontier, attr, "frontier", attr)
        self._patch(frontier, "budgets_bind", "frontier", "budgets_bind", bind)
        for attr in SEEN_PLAN + ("bloom_build",):
            self._patch(seen, attr, "seen", attr)

        make = rounds.make_fetch_extract

        def make_traced(*a, **kw):
            return traced_extract(make(*a, **kw), tracer.acc)

        # rounds imported the name, so the patch goes on the rounds module
        self._patch_value(rounds, "make_fetch_extract", make_traced)

    def _patch_value(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reduction ---------------------------------------------------------------

    def _status(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs and (non-skipped) stage attempts from Spark's status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._gateway.jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        store = jsc.statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(
                    None, False, False, self.sc._gateway.new_array(jvm.double, 0), None
                )
            )
        )
        by_id: dict[int, dict] = {}
        for s in stages:
            if s["status"] == "SKIPPED":
                continue
            agg = by_id.setdefault(s["stageId"], {k: 0 for k in _STAGE_FIELDS})
            for k in _STAGE_FIELDS:
                agg[k] += s.get(k) or 0
        return jobs, by_id

    def summary(self, crawl_start: float, crawl_end: float) -> dict[str, tuple[float, str]]:
        jobs, stages = self._status()
        jobs = [
            j
            for j in jobs
            if j.get("submissionTime") is not None
            and crawl_start * 1000 <= j["submissionTime"] <= crawl_end * 1000
        ]
        # spans of the crawl only, not of the oracle-gate reads after it
        spans = [
            s for s in self.spans if crawl_start <= s["start"] and s["end"] <= crawl_end
        ]
        by_id = {s["id"]: s for s in spans}
        children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in spans:
            kids = [
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], ())
            ]
            s["self_s"] = (s["end"] - s["start"]) - _union(
                (a, b) for a, b in kids if b > a
            )
            s["jobs"] = 0
        for j in jobs:
            g = j.get("jobGroup") or ""
            if g.startswith("span-"):
                sp = by_id.get(int(g[5:]))
                if sp is not None:
                    sp["jobs"] += 1

        m: dict[str, tuple[float, str]] = {}
        rounds = self.rounds
        n = max(1, len(rounds))

        # rounds: jobs / stages / tasks per round, program phase timings
        round_stage_totals = []
        for r in rounds:
            rj = [
                j
                for j in jobs
                if r["start"] * 1000 <= j["submissionTime"] <= r["end"] * 1000
            ]
            sids = {sid for j in rj for sid in j["stageIds"] if sid in stages}
            tot = {k: sum(stages[s][k] for s in sids) for k in _STAGE_FIELDS}
            tot["jobs"], tot["stages"] = len(rj), len(sids)
            round_stage_totals.append(tot)
        m["rounds.count"] = (len(rounds), "count")
        for key, field in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "numTasks")):
            m[f"rounds.{key}_per_round"] = (
                sum(t[field] for t in round_stage_totals) / n,
                "count",
            )
        for ph in PHASES:
            m[f"rounds.phase.{ph}_s"] = (
                sum((r["stats"].get("phases") or {}).get(ph, 0.0) for r in rounds),
                "s",
            )

        # layer self time over the whole crawl, and in the heavy round
        def layer_self(pred) -> dict[str, float]:
            out = {k: 0.0 for k in LAYERS}
            for s in spans:
                if pred(s):
                    out[s["layer"]] += s["self_s"]
            return out

        crawl_self = layer_self(lambda s: True)
        for layer in ("rounds", "tables", "frontier", "seen"):
            m[f"{layer}.self_s"] = (crawl_self[layer], "s")
        # the round that scheduled the most fetches
        heavy = max(rounds, key=lambda r: r["stats"]["scheduled"], default=None)
        hid = heavy["round"] if heavy else None
        hs = layer_self(lambda s: heavy is not None and s["round"] == hid)
        m["heavy.round_s"] = (heavy["end"] - heavy["start"] if heavy else 0.0, "s")
        for layer in ("rounds", "tables", "frontier", "seen"):
            m[f"heavy.{layer}_self_s"] = (hs[layer], "s")
        m["heavy.extract_busy_s"] = (heavy["extract"]["busy_s"] if heavy else 0.0, "s")

        # tables
        for call in TABLE_CALLS:
            ss = [s for s in spans if s["layer"] == "tables" and s["name"] == call]
            m[f"tables.{call}_calls"] = (len(ss), "count")
            m[f"tables.{call}_s"] = (sum(s["end"] - s["start"] for s in ss), "s")
            m[f"tables.{call}_jobs"] = (sum(s["jobs"] for s in ss), "count")
        m["tables.commit_window_s"] = (
            sum(
                _union(
                    (s["start"], s["end"])
                    for s in spans
                    if s["layer"] == "tables"
                    and s["name"] in TABLE_WRITES
                    and s["round"] == r["round"]
                )
                for r in rounds
            ),
            "s",
        )

        # frontier
        bind = [s for s in spans if s["name"] == "budgets_bind"]
        m["frontier.budgets_bind_s"] = (sum(s["end"] - s["start"] for s in bind), "s")
        m["frontier.binding_rounds"] = (sum(1 for s in bind if s.get("result")), "count")
        m["frontier.plan_s"] = (
            sum(
                s["end"] - s["start"]
                for s in spans
                if s["layer"] == "frontier" and s["name"] in FRONTIER_PLAN
            ),
            "s",
        )
        m["frontier.scheduled_per_round"] = (
            sum(r["stats"]["scheduled"] for r in rounds) / n,
            "count",
        )

        # seen
        m["seen.dedupe_plan_s"] = (
            sum(
                s["end"] - s["start"]
                for s in spans
                if s["layer"] == "seen" and s["name"] in SEEN_PLAN
                # nested probe calls are already inside their caller
                and by_id.get(s["parent"], {}).get("layer") != "seen"
            ),
            "s",
        )
        m["seen.bloom_builds"] = (
            sum(1 for s in spans if s["name"] == "bloom_build"),
            "count",
        )

        # extract (accumulators)
        ex = {k: v.value for k, v in self.acc.items()}
        m["extract.busy_s"] = (ex["busy_s"], "s")
        m["extract.batches"] = (ex["batches"], "count")
        m["extract.rows_in"] = (ex["rows_in"], "count")
        m["extract.rows_out"] = (ex["rows_out"], "count")
        m["extract.html_mb"] = (ex["html_bytes"] / MB, "MB")
        m["extract.rows_per_busy_s"] = (
            ex["rows_in"] / ex["busy_s"] if ex["busy_s"] > 0 else 0.0,
            "1/s",
        )

        # spark stage totals over the crawl's rounds
        tot = {k: sum(t[k] for t in round_stage_totals) for k in _STAGE_FIELDS}
        m["spark.executor_run_s"] = (tot["executorRunTime"] / 1000.0, "s")
        m["spark.shuffle_write_mb"] = (tot["shuffleWriteBytes"] / MB, "MB")
        m["spark.shuffle_read_mb"] = (tot["shuffleReadBytes"] / MB, "MB")
        m["spark.spill_mb"] = (
            (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / MB,
            "MB",
        )
        m["spark.input_mb"] = (tot["inputBytes"] / MB, "MB")
        m["spark.failed_tasks"] = (tot["numFailedTasks"], "count")
        m["trace.bookkeeping_s"] = (self.bookkeeping_s, "s")
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "rounds": self.rounds}, f, default=str)


_STAGE_FIELDS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
)
