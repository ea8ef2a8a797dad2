"""§3.2 warehouse-upload pipeline end-to-end: dedup → fan-out →
per-table atomic MERGE → completeness counts, across two uploads with
an idempotent replay in between (the reference's upload state machine:
a re-run of a committed upload must be a no-op,
processor.go:2835-3098 / state_update_table_uploads.go)."""

import datetime as dt
import os

import pytest

from rudder_server_spark.pipeline_warehouse import run_warehouse_upload
from rudder_server_spark.sources import load_commit

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

SCHEMA = (
    "message_id string, user_id long, anonymous_id string, event_type string, "
    "event_name string, received_at timestamp, sent_at timestamp, "
    "original_timestamp timestamp, payload string"
)


def _env(i, etype, name, payload):
    t = T0 + dt.timedelta(seconds=i)
    return (f"msg-{i:06d}", i, f"anon-{i:04d}", etype, name, t, t, t, payload)


def _track(i, price):
    return _env(
        i, "track", "Order Completed",
        '{"type":"track","properties":{"price":%s,"quantity":1},'
        '"context":{"ip":"10.0.0.1"}}' % price,
    )


def test_upload_merge_and_replay(spark, tmp_path):
    wh = str(tmp_path / "wh")
    batch1 = spark.createDataFrame(
        [_track(0, 10.0), _track(1, 11.0), _track(1, 11.0)], SCHEMA
    )  # msg-1 duplicated in-batch -> dedup keeps one
    out1 = run_warehouse_upload(spark, batch1, wh, "up-1")
    assert "tracks" in out1["tables"] and out1["committed"]["tracks"]
    counts1 = {r["table_name"]: r["n"] for r in out1["counts"].collect()}
    assert counts1["tracks"] == 2
    assert counts1["order_completed"] == 2

    # replay of the SAME upload id: every table refuses (idempotent no-op)
    replay = run_warehouse_upload(spark, batch1, wh, "up-1")
    assert not any(replay["committed"].values())
    assert {r["table_name"]: r["n"] for r in replay["counts"].collect()}[
        "tracks"
    ] == 2

    # second upload: one overlapping message (same id -> MERGE replaces,
    # landed count grows by the truly-new row only) + one new row
    batch2 = spark.createDataFrame([_track(1, 99.0), _track(2, 12.0)], SCHEMA)
    out2 = run_warehouse_upload(spark, batch2, wh, "up-2")
    assert out2["committed"]["tracks"]
    counts2 = {r["table_name"]: r["n"] for r in out2["counts"].collect()}
    assert counts2["tracks"] == 3

    # the MERGE kept the latest version of the overlapping row
    live = load_commit.read_table(spark, f"{wh}/tracks")
    price = {r["id"]: r for r in live.collect()}
    assert len(price) == 3

    # crash-safety artifact: previous snapshot versions still on disk
    # until vacuum, pointer names the current one
    assert load_commit.current_version(f"{wh}/tracks") == "up-2"


def _merge_event(i, prop1_value):
    import json

    return _env(
        i, "merge", None,
        json.dumps({
            "type": "merge",
            "mergeProperties": [
                {"type": "email", "value": prop1_value},
                {"type": "anonymousId", "value": f"anon-{i:04d}"},
            ],
        }),
    )


def test_bq_index_constraints_route_to_discards(spark, tmp_path):
    """constraint.go wiring (r9 verdict #5): on BQ, a merge rule whose
    type||value concat exceeds 512 bytes keeps its merge-rules row (cell
    swapped to the ViolatedIdentifier) and the original value lands in
    rudder_discards; without destination_type nothing is constrained."""
    wh = str(tmp_path / "whbq")
    long_val = "v" * 600
    batch = spark.createDataFrame(
        [_merge_event(0, long_val), _merge_event(1, "ok@example.com")],
        SCHEMA,
    )
    out = run_warehouse_upload(spark, batch, wh, "up-bq", destination_type="BQ")
    assert "rudder_discards" in out["tables"]
    disc = load_commit.read_table(spark, str(tmp_path / "whbq" / "rudder_discards"))
    rows = disc.collect()
    assert len(rows) == 1
    assert rows[0]["column_name"] == "merge_property_1_value"
    assert rows[0]["column_value"] == long_val
    rules = load_commit.read_table(
        spark, str(tmp_path / "whbq" / "rudder_identity_merge_rules")
    ).collect()
    vals = sorted(r["merge_property_1_value"] for r in rules)
    assert len(rules) == 2
    assert vals[0] == "ok@example.com"
    assert vals[1].startswith("rudder-discards-")

    # same batch, no destination_type: value loads untouched, no discards
    wh2 = str(tmp_path / "whrs")
    out2 = run_warehouse_upload(spark, batch, wh2, "up-rs")
    assert "rudder_discards" not in out2["tables"]
    rules2 = load_commit.read_table(
        spark, str(tmp_path / "whrs" / "rudder_identity_merge_rules")
    ).collect()
    assert sorted(r["merge_property_1_value"] for r in rules2)[1] == long_val

def test_bq_zero_violation_upload_writes_no_discards_table(spark, tmp_path):
    """worker_job.go:592-615 — the discards load file only exists when
    discard rows exist; a clean BQ upload must not commit an empty
    rudder_discards table."""
    wh = str(tmp_path / "whbq_clean")
    batch = spark.createDataFrame(
        [_merge_event(0, "a@example.com"), _merge_event(1, "b@example.com")],
        SCHEMA,
    )
    out = run_warehouse_upload(spark, batch, wh, "up-bq-clean", destination_type="BQ")
    assert "rudder_discards" not in out["tables"]
    assert "rudder_discards" not in out["committed"]
    assert load_commit.read_table(
        spark, str(tmp_path / "whbq_clean" / "rudder_discards")
    ) is None
    # the merge-rules table itself still lands
    rules = load_commit.read_table(
        spark, str(tmp_path / "whbq_clean" / "rudder_identity_merge_rules")
    )
    assert rules.count() == 2


def _mixed_batch(spark):
    """Tracks and merges: standard, per-event and identity tables."""
    return spark.createDataFrame(
        [_track(0, 10.0), _track(1, 11.0), _merge_event(2, "a@example.com"),
         _merge_event(3, "b@example.com")],
        SCHEMA,
    )


def _counts(out):
    return {r["table_name"]: r["n"] for r in out["counts"].collect()}


@pytest.mark.parametrize("failing", ["tracks", "rudder_identity_mappings"])
def test_failed_table_commit_retries_only_missing_tables(
    spark, tmp_path, monkeypatch, failing
):
    """One table's commit fails mid-upload: the upload raises, every other
    table is either fully landed or untouched, and re-running the same
    upload id commits exactly the tables that had not landed."""
    clean = run_warehouse_upload(
        spark, _mixed_batch(spark), str(tmp_path / "clean"), "up-1"
    )
    assert failing in clean["tables"] and len(clean["tables"]) > 2
    wh = str(tmp_path / "wh")
    real_merge = load_commit.commit_merge

    def failing_merge(spark_, df, tdir, upload_id, **kw):
        if os.path.basename(tdir) == failing:
            raise RuntimeError("simulated load failure")
        return real_merge(spark_, df, tdir, upload_id, **kw)

    monkeypatch.setattr(load_commit, "commit_merge", failing_merge)
    with pytest.raises(RuntimeError, match="simulated load failure"):
        run_warehouse_upload(spark, _mixed_batch(spark), wh, "up-1")
    monkeypatch.setattr(load_commit, "commit_merge", real_merge)

    landed = set()
    for name in clean["tables"]:
        tdir = os.path.join(wh, name)
        if load_commit.current_version(tdir) == "up-1":
            assert "up-1" in load_commit.committed_ids(tdir)
            landed.add(name)
        else:  # untouched: nothing live, nothing logged
            assert load_commit.current_version(tdir) is None
            assert not load_commit.committed_ids(tdir)
    assert failing not in landed

    retry = run_warehouse_upload(spark, _mixed_batch(spark), wh, "up-1")
    assert retry["tables"] == clean["tables"]
    assert {n for n, c in retry["committed"].items() if c} == (
        set(clean["tables"]) - landed
    )
    assert _counts(retry) == _counts(clean)


def test_replay_skips_identity_resolution(spark, tmp_path, monkeypatch):
    """A replayed upload never resolves a landed table's frame: the mappings
    connected-components loop does not run, and the counts are unchanged."""
    from rudder_server_spark.operators import event_tables

    wh = str(tmp_path / "wh")
    calls = []
    real_cc = event_tables.connected_components

    def counting_cc(*args, **kwargs):
        calls.append(1)
        return real_cc(*args, **kwargs)

    monkeypatch.setattr(event_tables, "connected_components", counting_cc)
    first = run_warehouse_upload(spark, _mixed_batch(spark), wh, "up-1")
    assert calls  # the cold upload resolves identities
    calls.clear()
    replay = run_warehouse_upload(spark, _mixed_batch(spark), wh, "up-1")
    assert calls == []
    assert not any(replay["committed"].values())
    assert _counts(replay) == _counts(first)


def test_commit_tables_order_and_failure_settle(tmp_path):
    """The scheduler without Spark: merge rules run alone first, the first
    standard table runs alone before the other standard tables start, a
    landed table's frame is never resolved, and a failure re-raises only
    after every submitted task has finished."""
    import threading
    import time

    from rudder_server_spark.pipeline_warehouse import commit_tables

    names = ["tracks", "pages", "users", "rudder_identity_merge_rules",
             "rudder_identity_mappings", "aliases"]
    tables = {n: f"frame-{n}" for n in names}
    (tmp_path / "aliases").mkdir()
    (tmp_path / "aliases" / "_COMMITTED").write_text("up-1\n")
    log, lock = [], threading.Lock()

    def task(name, df, tdir):
        with lock:
            log.append(("start", name, df))
        time.sleep(0.05)
        if name == "pages":
            raise RuntimeError("boom")
        with lock:
            log.append(("end", name, df))
        return name

    with pytest.raises(RuntimeError, match="boom"):
        commit_tables(tables, str(tmp_path), task, upload_id="up-1")
    pos = {(ev, n): i for i, (ev, n, _) in enumerate(log)}
    assert ("start", "aliases", None) in log  # landed: never resolved
    assert all(df == f"frame-{n}" for _, n, df in log if n != "aliases")
    rules_end = pos[("end", "rudder_identity_merge_rules")]
    assert all(pos[("start", n)] > rules_end for n in names
               if n not in ("aliases", "rudder_identity_merge_rules"))
    assert pos[("start", "pages")] > pos[("end", "tracks")]
    assert pos[("start", "users")] > pos[("end", "tracks")]
    # every submitted task settled before the error surfaced
    assert ("end", "users") in pos and ("end", "rudder_identity_mappings") in pos


def test_commit_tables_resolves_each_lazy_table_once():
    """Stress: more tables than pool threads, a lazy fan-out mapping and a
    tiny switch interval. Every deferred frame builds exactly once and
    every result comes back, in table order."""
    import collections
    import sys
    import threading

    from rudder_server_spark.operators.event_tables import _LazyTables
    from rudder_server_spark.pipeline_warehouse import commit_tables

    builds, lock = collections.Counter(), threading.Lock()

    def thunk(n):
        def build():
            with lock:
                builds[n] += 1
            return n
        return build

    names = [f"t{i:02d}" for i in range(40)] + [
        "rudder_identity_merge_rules", "rudder_identity_mappings"]
    tables = _LazyTables({}, {n: thunk(n) for n in names})
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = commit_tables(tables, "unused", lambda name, df, tdir: (name, df))
    finally:
        sys.setswitchinterval(old)
    assert list(out) == names
    assert all(out[n] == (n, n) for n in names)
    assert builds == dict.fromkeys(names, 1)


def test_commit_tables_with_nothing_to_commit():
    """No table to commit (an empty mapping, or one whose every table the
    census proved empty) returns {} without starting a pool or touching a
    frame."""
    from rudder_server_spark.operators.event_tables import _LazyTables
    from rudder_server_spark.pipeline_warehouse import commit_tables

    def task(name, df, tdir):
        raise AssertionError(f"{name} committed")

    def never():
        raise AssertionError("frame resolved")

    assert commit_tables({}, "unused", task) == {}
    tables = _LazyTables(
        {}, {"tracks": never, "screens": never},
        discover=lambda: ({"order_completed": never}, {"tracks", "screens", "order_completed"}),
    )
    assert commit_tables(tables, "unused", task, upload_id="up-1",
                         destination_type="BQ") == {}


def _tree(tdir):
    """Every file under a table directory with its bytes."""
    out = {}
    for root, _, files in os.walk(tdir):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, tdir)] = fh.read()
    return out


def test_upload_without_merge_events_leaves_identity_tables_untouched(spark, tmp_path):
    """A MERGE upload with no merge events lands no identity table: their
    _CURRENT, _versions/ and _COMMITTED stay byte-identical (what merging
    zero rows would leave), the upload reports neither, and a replay of
    it still commits nothing."""
    wh = str(tmp_path / "wh")
    run_warehouse_upload(spark, _mixed_batch(spark), wh, "up-1")
    identity = ("rudder_identity_merge_rules", "rudder_identity_mappings")
    before = {n: _tree(os.path.join(wh, n)) for n in identity}
    assert all(any(k.startswith("_versions") for k in t) for t in before.values())

    tracks_only = spark.createDataFrame([_track(5, 1.0), _track(6, 2.0)], SCHEMA)
    out = run_warehouse_upload(spark, tracks_only, wh, "up-2")
    assert out["tables"] == ["order_completed", "tracks"]
    assert all(out["committed"].values())
    assert _counts(out) == {"order_completed": 4, "tracks": 4}
    assert {n: _tree(os.path.join(wh, n)) for n in identity} == before

    replay = run_warehouse_upload(spark, tracks_only, wh, "up-2")
    assert replay["tables"] == out["tables"]
    assert not any(replay["committed"].values())
    assert {n: _tree(os.path.join(wh, n)) for n in identity} == before


def test_fanout_lists_every_fixed_table(spark):
    """The census only marks tables empty: the key set still holds every
    fixed table, an empty one still resolves to a zero-row frame, and
    empty() names exactly the tables without rows of their event types."""
    from rudder_server_spark.operators.event_tables import (
        FIXED_TABLES,
        event_table_fanout,
    )

    tables = event_table_fanout(_mixed_batch(spark))
    assert set(FIXED_TABLES) <= set(tables)
    assert "order_completed" in tables
    assert tables.empty() == {
        "identifies", "users", "pages", "screens", "groups", "aliases",
    }
    assert tables["screens"].count() == 0
    # the default rule source draws identity rules from every standard type
    default = event_table_fanout(
        spark.createDataFrame([_track(0, 1.0)], SCHEMA),
        identity_rule_sources=("default",),
    )
    assert "rudder_identity_mappings" not in default.empty()
    assert "identifies" in default.empty()
