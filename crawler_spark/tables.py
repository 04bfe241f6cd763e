"""Snapshot tables: parquet + JSON manifests with Iceberg-style discipline.

The north rule calls for Iceberg tables with snapshot commits and
time-travel.  The sandbox has no iceberg-spark-runtime jar, so this module
implements the same *discipline* over plain parquet: every commit writes
an immutable data directory plus a manifest JSON listing the directories
that make up the new snapshot, then atomically flips a CURRENT pointer
(``os.replace``).  Readers resolve a snapshot (latest or by id) to a list
of parquet paths and hand them to ``spark.read.parquet`` — so predicate
pushdown, column pruning and partition-parallel scans all still apply.

On a real cluster, swap ``SnapshotTable`` for ``spark.table(...)`` +
``df.writeTo(...).append()`` against an Iceberg catalog — the engine only
uses the four operations below (read / append / overwrite / time-travel),
all of which Iceberg provides natively.

Reference behavior replaced: the crawler's only "commit" is an
end-of-run append+flush of visitedDocs.txt (``gdprCrawler.py:292-301``) —
a crash loses the whole run's seen-set delta.  Per-round snapshot commits
fix that (SURVEY.md §3.1 note 5).
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_CURRENT = "CURRENT"


def arrow_table(schema: T.StructType, rows=()) -> pa.Table:
    """Driver-side rows (tuples in ``schema`` field order) as an Arrow
    table carrying the declared field types."""
    asch = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(asch)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, asch)], schema=asch
    )


def local_frame(spark: SparkSession, schema: T.StructType, rows=()) -> DataFrame:
    """DataFrame over driver-side rows (or none), planned as a JVM
    ``LocalRelation``.  ``createDataFrame`` on a list or an RDD plans a
    Python RDD — one Python worker task per slice, even for zero rows —
    while an Arrow table crosses to the JVM once and runs no Python task."""
    return spark.createDataFrame(arrow_table(schema, rows), schema=schema)


def _entry_path(e) -> str:
    """Manifest part entry -> path (entries are {path, seq, rows} dicts;
    plain-string entries from pre-sequence-number manifests still read)."""
    return e["path"] if isinstance(e, dict) else e


def _entry_seq(e) -> int:
    return e.get("seq", 0) if isinstance(e, dict) else 0


#: delete parts from pre-sequence-number manifests shadowed every add;
#: give them +inf seq so that behavior is preserved on old state dirs
_SEQ_INF = 1 << 60


def _entry_seq_del(e) -> int:
    return e.get("seq", _SEQ_INF) if isinstance(e, dict) else _SEQ_INF


def _entry_rows(e) -> int | None:
    return e.get("rows") if isinstance(e, dict) else None


class SnapshotTable:
    """An append-mostly table with atomic snapshot commits + time travel."""

    def __init__(self, root: str, schema: T.StructType):
        self.root = root
        self.schema = schema
        # adopted-part readers: layout tag -> fn(spark, [abs_paths])
        # returning a DataFrame in ``schema``.  Lets a part written by an
        # upstream stage in its own physical layout join the table by
        # RENAME instead of a full rewrite (Iceberg's add_files shape);
        # the owner registers the projection for each layout it adopts.
        self.layout_readers: dict = {}
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.root, _CURRENT)

    def current_snapshot_id(self) -> str | None:
        try:
            with open(self._current_path()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _manifest_path(self, snapshot_id: str) -> str:
        return os.path.join(self.root, "snapshots", snapshot_id + ".json")

    def _read_manifest(self, snapshot_id: str) -> dict:
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    def snapshots(self) -> list[str]:
        d = os.path.join(self.root, "snapshots")
        return sorted(p[:-5] for p in os.listdir(d) if p.endswith(".json"))

    def _commit(
        self, parts: list[str], note: str, delete_parts: list[str] | None = None
    ) -> str:
        prev = self.current_snapshot_id()
        snapshot_id = f"s{len(self.snapshots()):08d}-{uuid.uuid4().hex[:8]}"
        manifest = {
            "snapshot_id": snapshot_id,
            "parent": prev,
            "parts": parts,
            "delete_parts": delete_parts or [],
            "note": note,
            "committed_at": time.time(),
        }
        tmp = self._manifest_path(snapshot_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(snapshot_id))
        cur_tmp = self._current_path() + ".tmp"
        with open(cur_tmp, "w") as f:
            f.write(snapshot_id)
        os.replace(cur_tmp, self._current_path())  # atomic pointer flip
        return snapshot_id

    # -- writes ---------------------------------------------------------------

    def _write_part(self, df: DataFrame, schema: T.StructType | None = None) -> str:
        part = os.path.join("data", uuid.uuid4().hex)
        # enforce the declared schema (name + type) at the boundary
        sch = schema if schema is not None else self.schema
        cols = [df[f.name].cast(f.dataType).alias(f.name) for f in sch.fields]
        df.select(*cols).write.mode("overwrite").parquet(os.path.join(self.root, part))
        return part

    def _part_files(self, part: str) -> list[str]:
        return sorted(glob.glob(os.path.join(self.root, part, "*.parquet")))

    def _part_rows(self, part: str) -> int:
        """Exact row count of a written part from the parquet footers —
        driver-side metadata reads, no Spark job (the manifest statistic
        Iceberg keeps natively)."""
        return sum(pq.read_metadata(f).num_rows for f in self._part_files(part))

    def _new_entry(self, part: str) -> dict:
        entry = {
            "path": part,
            "seq": len(self.snapshots()),  # monotone per-commit sequence
            "rows": self._part_rows(part),
        }
        # rows of the most recent part written — free manifest statistic
        # for callers that need delta sizes without a count job
        self.last_append_rows = entry["rows"]
        return entry

    def append(self, df: DataFrame, note: str = "append") -> str:
        parts = list(self._current_parts())
        parts.append(self._new_entry(self._write_part(df)))
        return self._commit(parts, note)

    def append_read(self, spark: SparkSession, df: DataFrame, note: str = "append"):
        """Append ``df`` and return (snapshot_id, re-read of the part just
        written).  The re-read is a plain parquet scan of the delta —
        callers that need the delta again (Bloom merge, incremental
        lineage counts) reuse the materialized bytes instead of
        recomputing the delta's whole upstream DAG."""
        parts = list(self._current_parts())
        new_part = self._write_part(df)
        parts.append(self._new_entry(new_part))
        sid = self._commit(parts, note)
        return sid, spark.read.schema(self.schema).parquet(
            os.path.join(self.root, new_part)
        )

    def append_rows(self, rows: list[tuple], note: str = "append") -> str:
        """Append driver-side rows: pyarrow writes the part straight into
        the table's data directory — no Spark job, no Python worker.  The
        part is written without the embedded Arrow schema (Spark reads it
        with the declared schema like any other) and without min/max
        statistics: on a part of a few dozen rows they would make it
        larger than the part Spark writes, and nothing prunes by them."""
        part = os.path.join("data", uuid.uuid4().hex)
        os.makedirs(os.path.join(self.root, part))
        pq.write_table(
            arrow_table(self.schema, rows),
            os.path.join(self.root, part, "part-00000.parquet"),
            store_schema=False,
            write_statistics=False,
        )
        parts = list(self._current_parts())
        parts.append(self._new_entry(part))
        return self._commit(parts, note)

    def overwrite(self, df: DataFrame, note: str = "overwrite") -> str:
        return self._commit([self._new_entry(self._write_part(df))], note)

    def rollback_to(self, snapshot_id: str | None, note: str) -> str:
        """Make ``snapshot_id`` (None: the empty table) current again as a
        new snapshot that lists the same parts — a manifest commit only,
        no data read or written (Iceberg's ``rollback_to_snapshot``).
        Merge-on-read visibility is unchanged: the re-listed parts keep
        their sequence numbers, and later commits get higher ones."""
        m = self._read_manifest(snapshot_id) if snapshot_id else {}
        return self._commit(
            m.get("parts", []), note, delete_parts=m.get("delete_parts", [])
        )

    def adopt_part(self, src_dir: str, note: str, layout: str, **meta) -> str:
        """Commit an already-materialized parquet directory as a new part
        by RENAME — zero data movement (Iceberg's ``add_files`` shape).

        The files keep the layout their producer wrote (``layout`` tags
        the manifest entry); ``read()`` maps them into the table schema
        through the registered ``layout_readers[layout]`` projection.
        This is what lets the round's one heavy payload write double as
        the documents part instead of being read back, decompressed and
        re-written (the reference writes each document's files exactly
        once too — pygdpr/models/dpa/austria/__init__.py:127-148)."""
        import shutil

        part = os.path.join("data", uuid.uuid4().hex)
        dst = os.path.join(self.root, part)
        try:
            os.rename(src_dir, dst)
        except OSError:  # cross-device state layouts: fall back to copy
            shutil.move(src_dir, dst)
        entry = self._new_entry(part)
        entry["layout"] = layout
        entry.update(meta)
        parts = list(self._current_parts())
        parts.append(entry)
        return self._commit(parts, note)

    # -- reads ----------------------------------------------------------------

    def _current_parts(self) -> list:
        sid = self.current_snapshot_id()
        return self._read_manifest(sid)["parts"] if sid else []

    def read_arrow(self) -> pa.Table:
        """Driver-side pyarrow read of the latest snapshot's plain parts —
        no Spark job.  For the small tables the driver writes itself
        (:meth:`append_rows`); adopted parts are not mapped."""
        files = [
            f for p in self._current_parts() for f in self._part_files(_entry_path(p))
        ]
        return pq.read_table(files) if files else arrow_table(self.schema)

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        """Read latest snapshot, or time-travel to ``snapshot_id``."""
        sid = snapshot_id or self.current_snapshot_id()
        parts = self._read_manifest(sid)["parts"] if sid else []
        if not parts:
            return local_frame(spark, self.schema)
        plain = [p for p in parts if not (isinstance(p, dict) and p.get("layout"))]
        adopted = [p for p in parts if isinstance(p, dict) and p.get("layout")]
        scans = []
        if plain:
            paths = [os.path.join(self.root, _entry_path(p)) for p in plain]
            scans.append(spark.read.schema(self.schema).parquet(*paths))
        # all adopted parts of one layout read as ONE multi-path scan —
        # the plan stays O(layouts), not O(rounds)
        by_layout: dict[str, list] = {}
        for p in adopted:
            by_layout.setdefault(p["layout"], []).append(p)
        for layout, ps in by_layout.items():
            reader = self.layout_readers[layout]
            scans.append(
                reader(spark, [os.path.join(self.root, _entry_path(p)) for p in ps])
            )
        df = scans[0]
        for s in scans[1:]:
            df = df.unionByName(s)
        return df


class MorTable(SnapshotTable):
    """Merge-on-read table: add parts + equality-delete (tombstone) parts,
    the shape of Iceberg v2 row-level deletes.

    Every part carries the **commit sequence number** it was written at
    (Iceberg's data-sequence-number), and a row is visible iff no
    tombstone from a LATER commit carries its ``delete_keys`` tuple.
    That makes re-admission safe without key games: a URL fetched and
    tombstoned in round k can be re-added verbatim in round k+n — the
    stale tombstone no longer shadows it (round-2 ADVICE: a re-listed
    URL with a new title would otherwise be silently deleted where the
    reference fetches it again).

    Compaction folds tombstones into one fresh base part when EITHER
    trigger fires:

    - part count ≥ ``compact_after`` (manifest growth backstop), or
    - tombstoned row volume ≥ ``compact_rows_frac`` of base row volume
      AND ≥ ``compact_min_rows`` (the row-count trigger from manifest
      part statistics — 16 huge deltas compact as eagerly as 16 tiny
      ones don't; the floor keeps toy tables from compacting every
      commit, where folding buys nothing).

    Row counts come from the parquet footers at write time and live in
    the manifest, so the trigger costs zero Spark jobs.

    This is what replaces the per-round full frontier overwrite
    (VERDICT round 1, finding 4): a round commits only its own adds and
    tombstones, never a rewrite of the 10^10-row pending set.  On a
    real cluster this maps 1:1 onto Iceberg MERGE with merge-on-read
    equality deletes, both sides bucketed by url_hash so the anti-join
    is a storage-partitioned join (no shuffle).
    """

    def __init__(
        self,
        root: str,
        schema: T.StructType,
        delete_keys: list[str],
        compact_after: int = 16,
        compact_rows_frac: float = 0.25,
        compact_min_rows: int = 100_000,
    ):
        super().__init__(root, schema)
        self.delete_keys = list(delete_keys)
        self.delete_schema = T.StructType(
            [f for f in schema.fields if f.name in self.delete_keys]
        )
        self.compact_after = compact_after
        self.compact_rows_frac = compact_rows_frac
        self.compact_min_rows = compact_min_rows

    def _manifest(self, snapshot_id: str | None = None) -> dict:
        sid = snapshot_id or self.current_snapshot_id()
        if sid is None:
            return {"parts": [], "delete_parts": []}
        m = self._read_manifest(sid)
        m.setdefault("delete_parts", [])
        return m

    def _add_schema(self) -> T.StructType:
        return T.StructType(
            list(self.schema.fields) + [T.StructField("__seq", T.LongType())]
        )

    def _del_schema(self) -> T.StructType:
        return T.StructType(
            list(self.delete_schema.fields) + [T.StructField("__tseq", T.LongType())]
        )

    def _read_from(
        self, spark: SparkSession, parts: list, delete_parts: list
    ) -> DataFrame:
        if not parts:
            return local_frame(spark, self.schema)
        # fast path: every part stores its commit sequence number as a
        # column (written by commit_delta), so the whole table is ONE
        # multi-path parquet scan instead of an N-part union plan — the
        # read cost stays O(1) in plan size as parts accumulate between
        # compactions (the per-round MoR read is on the crawl's fixed-cost
        # path).  Iceberg equivalent: data-sequence-number file metadata.
        seqcol = all(isinstance(e, dict) and e.get("seqcol") for e in parts) and all(
            isinstance(e, dict) and e.get("seqcol") for e in delete_parts
        )
        if seqcol:
            adds = spark.read.schema(self._add_schema()).parquet(
                *[os.path.join(self.root, _entry_path(e)) for e in parts]
            )
        else:
            adds = None
            for e in parts:
                df = spark.read.schema(self.schema).parquet(
                    os.path.join(self.root, _entry_path(e))
                ).withColumn("__seq", F.lit(_entry_seq(e)).cast("long"))
                adds = df if adds is None else adds.unionByName(df)
        if delete_parts:
            if seqcol:
                tomb = spark.read.schema(self._del_schema()).parquet(
                    *[os.path.join(self.root, _entry_path(e)) for e in delete_parts]
                )
            else:
                tomb = None
                for e in delete_parts:
                    t = spark.read.schema(self.delete_schema).parquet(
                        os.path.join(self.root, _entry_path(e))
                    ).withColumn("__tseq", F.lit(_entry_seq_del(e)).cast("long"))
                    tomb = t if tomb is None else tomb.unionByName(t)
            r, t = adds.alias("r"), tomb.alias("t")
            cond = F.col("t.__tseq") > F.col("r.__seq")
            for k in self.delete_keys:
                cond = cond & (F.col(f"r.{k}") == F.col(f"t.{k}"))
            adds = r.join(t, cond, "left_anti")
        return adds.drop("__seq")

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        m = self._manifest(snapshot_id)
        return self._read_from(spark, m["parts"], m["delete_parts"])

    def commit_delta(
        self,
        spark: SparkSession,
        adds: DataFrame | None = None,
        deletes: DataFrame | None = None,
        note: str = "delta",
    ) -> DataFrame | None:
        """One snapshot commit of (adds, tombstones); returns a re-read
        of the add part just written (None if no adds) so callers can
        reuse the materialized delta without recomputing its DAG."""
        m = self._manifest()
        parts, dels = list(m["parts"]), list(m["delete_parts"])
        seq = len(self.snapshots())  # this commit's sequence number
        add_path = None
        if adds is not None:
            add_path = self._write_part(
                adds.withColumn("__seq", F.lit(seq).cast("long")),
                schema=self._add_schema(),
            )
            e = self._new_entry(add_path)
            e["seqcol"] = True
            parts.append(e)
        if deletes is not None:
            e = self._new_entry(
                self._write_part(
                    deletes.withColumn("__tseq", F.lit(seq).cast("long")),
                    schema=self._del_schema(),
                )
            )
            e["seqcol"] = True
            dels.append(e)
        base_rows = sum(_entry_rows(e) or 0 for e in parts)
        tomb_rows = sum(_entry_rows(e) or 0 for e in dels)
        row_trigger = (
            tomb_rows >= self.compact_min_rows
            and base_rows > 0
            and tomb_rows >= self.compact_rows_frac * base_rows
        )
        if len(dels) >= self.compact_after or row_trigger:
            merged = self._read_from(spark, parts, dels)
            compact_path = self._write_part(
                merged.withColumn("__seq", F.lit(seq).cast("long")),
                schema=self._add_schema(),
            )
            e = self._new_entry(compact_path)
            e["seqcol"] = True
            parts, dels = [e], []
            note += "+compact"
        self._commit(parts, note, delete_parts=dels)
        if add_path is None:
            return None
        return spark.read.schema(self.schema).parquet(
            os.path.join(self.root, add_path)
        )

    def base_parts(self) -> list[str]:
        """Current data part paths (introspection for O(round) tests)."""
        return [_entry_path(e) for e in self._manifest()["parts"]]
