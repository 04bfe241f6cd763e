"""Workload table and seeded crawl inputs.

Each workload names a fixture shape from ``crawler_spark.fixtures`` and the
``round_seconds`` its crawl runs with.  One *set-up* generates the fixture
into a fresh directory and writes a seed-permuted copy of its three tables
(row order and row-group split drawn from the seed).  Crawl output does not
depend on physical input order, so every seed must reproduce the same
documents and seen set; the permutation only varies the scan layout the
engine sees.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

TABLES = ("pages", "seeds", "robots")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # keyword arguments for fixtures.generate (``authorities`` is given
    # as a wide_authorities width)
    width: int
    n_pages: int
    n_items: int
    n_files: int
    doc_pad_lines: int
    round_seconds: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="wide",
            why=(
                "400 hosts x 10 small docs, budgets never bind: rows and per-round "
                "fixed cost (planning, Spark jobs, table commits) dominate, extract "
                "work is small"
            ),
            width=80,
            n_pages=1,
            n_items=10,
            n_files=0,
            doc_pad_lines=0,
            round_seconds=3600.0,
        ),
        Workload(
            name="bulk",
            why=(
                "100 hosts x 50 docs of ~18 KB html, budgets never bind: the "
                "heavy round adds fetch-join and extract/htmlparse work to the "
                "fixed cost"
            ),
            width=20,
            n_pages=1,
            n_items=50,
            n_files=0,
            doc_pad_lines=120,
            round_seconds=3600.0,
        ),
    )
}


def generate(fixtures, w: Workload, out_dir: str) -> None:
    """Write the workload's fixture tables into ``out_dir``."""
    fixtures.generate(
        out_dir,
        n_pages=w.n_pages,
        n_items=w.n_items,
        n_files=w.n_files,
        authorities=fixtures.wide_authorities(w.width),
        doc_pad_lines=w.doc_pad_lines,
        # the benchmark runs the sequential oracle itself; per-page
        # ground-truth text is not needed
        ground_truth=False,
    )


def permute(src_dir: str, dst_dir: str, seed: int) -> dict[str, str]:
    """Copy each table with its rows shuffled and split into row groups of
    a seed-drawn size; returns ``{table: path}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(dst_dir, exist_ok=True)
    paths = {}
    for name in TABLES:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        n = table.num_rows
        table = table.take(rng.permutation(n))
        group = int(rng.integers(max(1, n // 8), n + 1)) if n else 1
        path = os.path.join(dst_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=group)
        paths[name] = path
    return paths


def set_up(fixtures, w: Workload, seed: int, root: str) -> tuple[dict[str, str], float]:
    """One set-up: generate the fixture and write its seed-permuted copy
    under ``root``.  Returns the permuted input paths and the seconds it
    took."""
    t0 = time.perf_counter()
    raw = os.path.join(root, "fixture")
    generate(fixtures, w, raw)
    paths = permute(raw, os.path.join(root, "input"), seed)
    shutil.rmtree(raw)
    return paths, time.perf_counter() - t0
