"""Batch warehouse-upload pipeline: the SURVEY §3.2 lifecycle as one
composable function.

The reference's warehouse router takes an upload's staging files and
runs: staging read (slave/worker.go), primary-key dedup
(postgres/load.go:296-309 ROW_NUMBER dedup), event→table fan-out with
schema consolidation (embedded/warehouse, schema.go:294-374), per-table
delete+insert MERGE inside a transaction-scoped commit
(snowflake.go:460-520, processor.go:2835-3098), and the per-(upload,
table) completeness counts that close the upload
(state_update_table_uploads.go — A6). This module chains the repo's
operators over a directory-backed "warehouse" using load_commit's
atomic pointer-swap snapshots, so a crash between any two steps leaves
the previous versions live and a REPLAYED upload id is a no-op.

Scale: fan-out parses each payload once against registry schemas; every
table MERGE keys on its own primary key (one shuffle per table). The
tables commit concurrently through ``commit_tables``, the scheduler the
streaming sinks share, at most six at a time: identity merge rules
first and alone, then the mappings table's connected-components loop in
the pool while the first standard table commits alone, then the rest.
The commit itself is metadata (pointer files), never a data rewrite
beyond the merged snapshot.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Mapping
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from rudder_server_spark.operators.constraints import (
    INDEX_CONSTRAINTS,
    apply_index_constraints,
)
from rudder_server_spark.operators.event_tables import event_table_fanout
from rudder_server_spark.operators.filters import batch_dedup
from rudder_server_spark.sources import load_commit


def run_warehouse_upload(
    spark: SparkSession,
    events: DataFrame,
    warehouse_dir: str,
    upload_id: str,
    fanout_kwargs: dict | None = None,
    destination_type: str | None = None,
) -> dict:
    """Run one §3.2 upload: dedup → fan-out → per-table atomic MERGE.

    ``events`` is an envelope+payload frame (a staging batch);
    ``warehouse_dir`` hosts one load_commit table directory per output
    table. Returns {"tables": [names], "committed": {name: bool — False
    when the upload id had already landed (idempotent replay)},
    "counts": lazy (table_name, n) DataFrame of LANDED post-merge sizes
    (the A6 completeness check)}.
    """
    deduped = batch_dedup(
        events, record_id="record_id" if "record_id" in events.columns else None
    )
    tables = event_table_fanout(deduped, **(fanout_kwargs or {}))

    def commit(name: str, df: DataFrame | None, tdir: str):
        committed = df is not None and load_commit.commit_merge(
            spark, df, tdir, upload_id, pk=_table_pk(name, df), order_col=_order_col(df)
        )
        # read_table's footer inference is a job: it overlaps other commits
        live = load_commit.read_table(spark, tdir)
        count = (
            (live if live is not None else spark.range(0))
            .agg(F.count("*").alias("n"))
            .select(F.lit(name).alias("table_name"), "n")
        )
        return committed, count

    done = commit_tables(tables, warehouse_dir, commit, upload_id, destination_type)
    return {
        "tables": sorted(done),
        "committed": {n: c for n, (c, _) in done.items()},
        "counts": functools.reduce(DataFrame.unionAll, (c for _, c in done.values())),
    }


def commit_tables(
    tables: Mapping[str, DataFrame],
    out_dir: str,
    task: Callable[[str, DataFrame | None, str], object],
    upload_id: str | None = None,
    destination_type: str | None = None,
) -> dict[str, object]:
    """Run ``task(name, df, out_dir/name)`` for every fan-out table of one
    upload, concurrently; returns ``{name: result}`` in table order. A
    table ``upload_id`` already committed to is never resolved (``df`` is
    None), so a replay skips the mappings connected-components loop.

    Merge rules run alone first, forcing the rules checkpoint mappings
    shares; the other identity tables then enter the pool ahead of the
    standard tables, so the CC loop (the critical path) overlaps them.
    The first standard table runs alone, forcing the shared flattened
    checkpoint once; the rest follow. On failure every submitted task
    settles before the first error is re-raised; unsubmitted tables stay
    untouched.
    """
    # index-length constraints (warehouse/constraints/constraint.go via
    # slave/worker.go:404-446): on BQ/Snowflake the identity merge-rules
    # index caps the concatenated type||value at 512 bytes — violating
    # cells swap to their ViolatedIdentifier and the originals land in
    # rudder_discards, loaded like any other table. A side dict, not item
    # assignment: the mapping's deferred thunks must stay unforced.
    overrides: dict[str, DataFrame] = {}
    if (
        destination_type in INDEX_CONSTRAINTS
        and "rudder_identity_merge_rules" in tables
    ):
        loaded, discards = apply_index_constraints(
            tables["rudder_identity_merge_rules"],
            destination_type,
            "rudder_identity_merge_rules",
        )
        overrides["rudder_identity_merge_rules"] = loaded
        # worker_job.go:592-615 only creates the discards load file when
        # discard rows exist — a zero-violation upload must not commit an
        # empty rudder_discards table (the emptiness probe is a narrow
        # filter over the small merge-rules frame, not a corpus scan)
        if "rudder_discards" in tables:
            overrides["rudder_discards"] = tables["rudder_discards"].unionByName(
                discards, allowMissingColumns=True
            )
        elif not discards.isEmpty():
            overrides["rudder_discards"] = discards
    names = list(tables)
    names += [n for n in overrides if n not in names]
    landed = [
        n for n in names
        if upload_id is not None
        and load_commit.is_committed(os.path.join(out_dir, n), upload_id)
    ]

    def run(name: str):
        df = None
        if name not in landed:
            df = overrides[name] if name in overrides else tables[name]
        return task(name, df, os.path.join(out_dir, name))

    pending = [n for n in names if n not in landed]
    identity = sorted(
        (n for n in pending if n.startswith("rudder_identity_")),
        key=lambda n: (n != "rudder_identity_merge_rules", n),
    )
    standard = [n for n in pending if not n.startswith("rudder_identity_")]
    futs: dict[str, Future] = {}
    # 6 threads, not one per table: job submission is driver-side Python
    # (py4j + GIL) and wider pools contend on it (streaming sink A/B, q18
    # run: 16 workers 2.68 s min vs 6 workers 2.27 s). A cluster sizes
    # this to its commit concurrency, not its table count.
    with ThreadPoolExecutor(max_workers=min(6, len(names))) as ex:
        futs.update((n, ex.submit(run, n)) for n in landed)
        for group in (identity, standard):
            if group:
                futs[group[0]] = head = ex.submit(run, group[0])
                if head.exception() is not None:
                    break
                futs.update((n, ex.submit(run, n)) for n in group[1:])
    # leaving the pool waited for every submitted task
    for f in futs.values():
        f.result()
    return {n: futs[n].result() for n in names}


def _table_pk(name: str, df: DataFrame) -> tuple:
    """MERGE key per warehouse table (snowflake.go:478-520 discriminates
    the same way: users by id, identity tables by the full rule, extract
    tables by record id, event tables by message id)."""
    cols = set(df.columns)
    if name == "users":
        return ("id",) if "id" in cols else ("user_id",)
    if name == "rudder_identity_merge_rules":
        return tuple(c for c in df.columns)
    if name == "rudder_identity_mappings":
        return ("merge_property_type", "merge_property_value")
    if "record_id" in cols:
        return ("record_id",)
    return ("id",) if "id" in cols else (df.columns[0],)


def _order_col(df: DataFrame):
    for c in ("received_at", "sent_at", "timestamp"):
        if c in df.columns:
            return c
    return df.columns[0]
