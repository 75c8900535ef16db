"""The two closed-loop workloads: one client, one op at a time.

A workload prepares its seeded inputs (untimed), sets itself up inside
``setup_s`` after ``session.get_spark`` (index build plus one warm-up
op), checks its outputs before timing, and runs ops. ``op`` returns
whether the output was correct and how many input rows the op read; a
wrong output or an exception is a failed op, never a fast one.
"""

from __future__ import annotations

import json
import os
import random

import pandas as pd
import pyarrow.parquet as pq

from . import checks, inputs

HERE = os.path.dirname(os.path.abspath(__file__))
MIX_HASHES = os.path.join(HERE, "mix_hashes.json")

#: the query mix; the seed permutes each pass. One query per concern:
#: a small leaf r06 slowed, whose final plan holds the ``_docs_with_dups``
#: round-robin spread (dedup_exact); LSH and dedup.connected_components
#: (dedup_components); graph.cc_star (cc_components); per-round driver
#: actions and ``queries._read_spread`` (bpe_merges); and the two write
#: paths, checkpoint.lineage.run_with_checkpoint (pipeline_etl) and
#: streaming.incremental.upsert_sink (incremental_tag)
MIX_QUERIES = (
    "dedup_exact",
    "dedup_components",
    "cc_components",
    "bpe_merges",
    "pipeline_etl",
    "incremental_tag",
)
ORACLE_SAMPLE = 2_000


class Op:
    """What one op leaves behind for the checks and the traced run."""

    def __init__(self, name: str, ok: bool, rows_in: int, df=None) -> None:
        self.name, self.ok, self.rows_in, self.df = name, ok, rows_in, df


class GeoWorkload:
    """``geo_join.pages_per_region`` over the seeded pages against a
    prebuilt broadcast index of the seeded LAU tessellation."""

    name = "lau_geotag"

    def __init__(self, pages: int = inputs.PAGES_TOTAL, files: int = inputs.PAGES_FILES,
                 lau_depth: int = inputs.LAU_MAX_DEPTH):
        self.pages, self.files, self.lau_depth = pages, files, lau_depth
        self.perturb_op: int | None = None  # selfcheck: corrupt this op's output
        self.ref: dict | None = None
        self.n_ops = 0

    # -- untimed ------------------------------------------------------
    def prepare(self, work: str, seed: int) -> None:
        from europe_gis_spark.datagen import pages as pgen

        self.pages_dir = inputs.write_pages(
            inputs.input_dir(work, f"pages{self.files}", seed, self.pages), seed, self.pages, self.files
        )
        self.page_paths = inputs.page_files(self.pages_dir)
        self.n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in self.page_paths)
        self.pages_bytes = sum(os.path.getsize(f) for f in self.page_paths)
        self.hints = pgen.host_city_hints()
        d = inputs.write_lau(
            inputs.input_dir(work, f"lau{self.lau_depth}", seed, 0), seed, self.lau_depth
        )
        self.polys = pd.read_parquet(os.path.join(d, "part-00000.parquet"))
        self.id_col = "lau_id"
        sample = pq.read_table(self.page_paths[0]).to_pandas()
        self.sample = sample.iloc[:ORACLE_SAMPLE].reset_index(drop=True)

    def sizes(self) -> dict:
        idx = self.idx_bc.value
        cands = [len(v) for v in idx.cell_to_polys.values()]
        return {
            "pages": self.n_rows,
            "bytes": self.pages_bytes,
            "files": len(self.page_paths),
            "polygons": len(idx.poly_ids),
            "cover_cells": idx.n_cells(),
            "cands_per_cell": sum(cands) / max(1, len(cands)),
        }

    # -- inside setup_s -----------------------------------------------
    def setup(self, spark) -> None:
        from europe_gis_spark.operators import geo_join

        polys_df = spark.createDataFrame(self.polys)
        self.idx_bc = geo_join.build_polygon_index_bc(spark, polys_df, id_col=self.id_col)
        self.pages_df = spark.read.parquet(*self.page_paths)

    def warmup(self, spark) -> Op:
        op = self.op(spark)
        if op.ok:
            self.ref = self._counts
        self.n_ops = 0  # timed ops count from 0
        return op

    # -- checks before timing ----------------------------------------
    def oracle(self, spark) -> float:
        return checks.geo_oracle_match(
            spark, self.sample, self.polys, self.id_col, self.idx_bc, self.hints
        )

    # -- one op -------------------------------------------------------
    def op(self, spark, tracer=None) -> Op:
        from europe_gis_spark.operators import geo_join

        i, self.n_ops = self.n_ops, self.n_ops + 1
        run = geo_join.pages_per_region
        if tracer is not None:
            run = tracer.wrap(run, "geo_join.pages_per_region")
        try:
            df = run(spark, self.pages_df, host_hints=self.hints, idx_bc=self.idx_bc)
            collect = df.collect if tracer is None else tracer.wrap(df.collect, "collect")
            counts = checks.region_counts(collect())
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"perfbench: {self.name} op {i} raised {e!r}", flush=True)
            return Op("pages_per_region", False, self.n_rows)
        if i == self.perturb_op:
            counts[next(iter(counts))] += 1
        self._counts = counts
        return Op("pages_per_region", checks.counts_ok(counts, self.n_rows, self.ref), self.n_rows, df)

    def at_boundary(self) -> bool:
        return True


class MixWorkload:
    """Whole passes over ``MIX_QUERIES``, each pass in a seeded order."""

    name = "query_mix"

    def __init__(self, queries: tuple[str, ...] = MIX_QUERIES):
        self.queries = queries
        self.perturb_op: int | None = None
        self.n_ops = 0

    def prepare(self, work: str, seed: int) -> None:
        self.dir = inputs.MIX_DATA
        self.table_rows = inputs.mix_rows(self.dir)
        # rows_per_s on the mix: every query counts the rows of all three
        # tables, so it is a fixed multiple of ops_per_s
        self.rows_per_query = sum(self.table_rows.values())
        self.rng = random.Random(seed)
        self.order: list[str] = []
        self.expected = self._load_hashes()

    @staticmethod
    def _load_hashes() -> dict:
        """Recorded hashes; none recorded means every op fails its check."""
        if not os.path.exists(MIX_HASHES):
            return {}
        with open(MIX_HASHES) as f:
            return json.load(f)["hashes"]

    def sizes(self) -> dict:
        return {
            "tables": self.table_rows,
            "bytes": inputs.dir_bytes(self.dir),
            "queries": len(self.queries),
        }

    def setup(self, spark) -> None:
        pass

    def warmup(self, spark) -> Op:
        """One untimed pass in registry order: each query's first run pays
        several seconds of one-off cost that would otherwise land on
        whichever query the seeded order puts first."""
        ops = [self.run_query(spark, q) for q in self.queries]
        return Op("pass", all(o.ok for o in ops), sum(o.rows_in for o in ops))

    def oracle(self, spark) -> float:
        """The recorded hashes were checked against the DuckDB oracles
        when they were recorded (``run.py --record-hashes``); here every
        op is compared with them."""
        return 1.0

    def run_query(self, spark, name: str, tracer=None, perturb: bool = False) -> Op:
        from europe_gis_spark.queries import QUERIES

        fn = QUERIES[name][0]
        if tracer is not None:
            fn = tracer.wrap(fn, f"QUERIES[{name}]")
        try:
            df = fn(spark, self.dir)
            collect = df.collect if tracer is None else tracer.wrap(df.collect, "collect")
            rows = collect()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"perfbench: query_mix {name} raised {e!r}", flush=True)
            return Op(name, False, self.rows_per_query)
        if perturb:
            rows = rows[1:]
        ok = checks.rows_hash(df.columns, rows) == self.expected.get(name)
        return Op(name, ok, self.rows_per_query, df)

    def peek(self) -> str:
        """The next query; a new pass starts in a fresh seeded order."""
        if not self.order:
            self.order = list(self.queries)
            self.rng.shuffle(self.order)
        return self.order[0]

    def op(self, spark, tracer=None) -> Op:
        name = self.peek()
        self.order.pop(0)
        i, self.n_ops = self.n_ops, self.n_ops + 1
        return self.run_query(spark, name, tracer, perturb=i == self.perturb_op)

    def at_boundary(self) -> bool:
        return not self.order


def make(name: str):
    if name == "lau_geotag":
        return GeoWorkload()
    if name == "query_mix":
        return MixWorkload()
    raise ValueError(f"unknown workload {name!r}")


#: the workloads BENCHMARK.json declares
WORKLOADS = ("lau_geotag", "query_mix")
