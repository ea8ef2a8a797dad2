"""Pipeline benchmark: warehouse upload, processor batch and streaming
ingest, driven through the engine's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke      # both workloads, tiny, every check

Run from the repository root. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (and
the spans go to ``perfbench/.out/``). The exit code is 0 only when every
output check passed. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import contextlib
import datetime as dt
import glob
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import Tracer, delta, progress_listener  # noqa: E402

# workload -> the phases it runs, in order, in one process and session
WORKLOADS = {
    "warehouse_upload": ("warehouse",),
    # the stream goes first: its query idles, polling its source directory,
    # until the open loop starts, and must be stopped before the processor
    # batches are timed
    "processor_stream": ("stream", "processor"),
}

# A driver heap that fits a 15 GB, 4-core host next to the Python side
# (the session default of 24g pre-touched cannot start there) and is
# several times what the workloads hold.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "ratio",
    "events_per_s": "1/s",
    "latency_p50_s": "s",
    "read_latency_p50_s": "s",
    "write_amp": "ratio",
}

PER_LAYER = {
    "session.get_spark.wall_s": "s",
    "pipeline_warehouse.run_warehouse_upload.wall_s": "s",
    "pipeline_warehouse.run_warehouse_upload.task_s": "s",
    "pipeline_warehouse.run_warehouse_upload.core_util": "ratio",
    "pipeline_warehouse.replay_wall_s": "s",
    "operators.event_tables.event_table_fanout.wall_s": "s",
    "operators.event_tables.event_table_fanout.jobs": "count",
    "operators.filters.batch_dedup.wall_s": "s",
    "sources.load_commit.commit_merge.wall_s": "s",
    "sources.load_commit.commit_merge.task_s": "s",
    "sources.load_commit.commit_merge.shuffle_write_bytes": "bytes",
    "sources.load_commit.commit_merge.bytes_written": "bytes",
    "sources.load_commit.commit_merge.calls": "count",
    "sources.load_commit.commit_merge.committed": "count",
    "sources.load_commit.read_table.wall_s": "s",
    "operators.identity.connected_components.wall_s": "s",
    "operators.identity.connected_components.jobs": "count",
    "spark.cached_bytes_end": "bytes",
    "sources.config.load_workspace_config.wall_s": "s",
    "pipeline_batch.run_batch_pipeline.build_s": "s",
    "pipeline_batch.stage_counts.wall_s": "s",
    "pipeline_batch.stage_counts.task_s": "s",
    "pipeline_batch.stage_counts.shuffle_write_bytes": "bytes",
    "pipeline_batch.stage_counts.core_util": "ratio",
    "pipeline_batch.jobs_write.wall_s": "s",
    "operators.filters.dedup_keep_ratio": "ratio",
    "operators.filters.fanout_factor": "ratio",
    "operators.filters.delivered_ratio": "ratio",
    "streaming.addBatch_ms_p50": "ms",
    "streaming.queryPlanning_ms_p50": "ms",
    "streaming.latestOffset_ms_p50": "ms",
    "streaming.getBatch_ms_p50": "ms",
    "streaming.walCommit_ms_p50": "ms",
    "streaming.commitOffsets_ms_p50": "ms",
    "streaming.batch_rows_p50": "count",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.dropped_by_watermark": "count",
    "streaming.backlog_files_end": "count",
    "streaming.file_latency_p90_s": "s",
    "streaming.drain_events_per_s": "1/s",
    "streaming.generator_lag_p90_s": "s",
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
}

# Phase sizes. FULL is what the benchmark measures; SMOKE is the tiny run
# of both workloads that exercises every output check.
FULL = {
    "wh_batch_events": 1_000, "wh_uploads": 2, "wh_track_names": 4, "wh_reads": 2,
    "pb_batch_events": 25_000, "pb_batches": 2,
    "st_file_events": 75, "st_rate_files_per_s": 2.0, "st_backlog_files": 8,
    "st_backlog_file_events": 150, "st_reads": 2, "st_warm_batches": 2,
}
SMOKE = {
    "wh_batch_events": 300, "wh_uploads": 2, "wh_track_names": 2, "wh_reads": 1,
    "pb_batch_events": 2_000, "pb_batches": 1,
    "st_file_events": 40, "st_rate_files_per_s": 2.0, "st_backlog_files": 3,
    "st_backlog_file_events": 40, "st_reads": 1, "st_warm_batches": 1,
}


def proc_start_time() -> float:
    """Wall-clock start of this process (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, int(q * len(xs)))])


class Run:
    """State of one benchmark run: work directory, session, tracer, the
    operation tally, the set-up and measured windows, and the measurements
    the phases record."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: dict):
        self.workload, self.seed, self.seconds, self.size = workload, seed, seconds, size
        self.work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.m: dict = {}  # end-to-end values, each set by the phase that defines it
        self.samples: dict = {}  # sample counts behind the end-to-end values
        self.layer: dict = {}  # per-layer values set directly by a phase
        self.windows: list[dict] = []  # set-up and measured windows, in order
        self.setup_s = 0.0
        self.spark_delta = None  # Spark counters summed over the measured windows
        self.spark = None
        self.env: dict = {}

    # -- session ---------------------------------------------------------
    def session_env(self) -> dict:
        local = os.path.join(self.work, "local")
        tmp = os.path.join(self.work, "tmp")
        env = {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": local,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                 f"-XX:ErrorFile={self.work}/hs_err_pid%p.log",
        }
        os.environ.update(env)
        tempfile.tempdir = tmp  # tempfile caches the directory on first use
        return env

    def start_session(self):
        from rudder_server_spark import session

        self.env = self.session_env()
        self.tracer.wrap(session, "get_spark", "session.get_spark")
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            },
        )
        self.tracer.attach(self.spark)
        self.cpus = int(self.env["SPARK_GRAFT_CPUS"])

    def stop_session(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    kb += int(ln.split()[1])
        return kb / 1024.0

    @contextlib.contextmanager
    def window(self, kind: str):
        """A set-up (``kind="setup"``) or measured (``"measure"``) stretch
        of the run. Set-up time adds to ``setup_s``; per-layer figures come
        from the spans that start inside measured windows, and their Spark
        counter deltas are summed. A measured window's phase sets
        ``w["ops"]``, its count of primary operations."""
        tr = self.tracer
        c0 = tr.counters.read() if kind == "measure" and tr.counters else None
        w = {"kind": kind, "start": time.perf_counter() - tr.epoch, "ops": 0}
        try:
            yield w
        finally:
            w["end"] = time.perf_counter() - tr.epoch
            self.windows.append(w)
            if kind == "setup":
                self.setup_s += w["end"] - w["start"]
            if c0 is not None:
                c1 = tr.counters.read()
                d = delta(c0, c1)
                if self.spark_delta is not None:
                    d = {k: v + self.spark_delta[k] for k, v in d.items()}
                self.spark_delta = {**d, "memory_used": c1["memory_used"]}

    # -- operations ------------------------------------------------------
    def timed_op(self, name: str, fn, samples: list, check):
        """One operation: run ``fn`` in a span, append its wall time to
        ``samples``, then ``check`` the result (an error text or None).
        Returns the result, or None when the operation raised."""
        self.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                res = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        samples.append(sp.wall)
        err = check(res)
        if err:
            self.fail(err)
            self.failed += 1
        return res

    def fail(self, what: str) -> None:
        self.notes.append(what)
        print(f"perfbench: check failed: {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# input files


def write_parquet(path: str, columns: dict, schema) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(columns, schema=schema)
    # several row groups: scan parallelism follows row groups
    pq.write_table(table, path, row_group_size=max(1_000, table.num_rows // 8))
    return os.path.getsize(path)


def staging_schema():
    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")
    return pa.schema([
        ("message_id", pa.string()), ("user_id", pa.int64()), ("anonymous_id", pa.string()),
        ("event_type", pa.string()), ("event_name", pa.string()), ("received_at", ts),
        ("sent_at", ts), ("original_timestamp", ts), ("payload", pa.string()),
    ])


def write_staging(path: str, rows: list) -> int:
    cols = list(zip(*rows))
    names = staging_schema().names
    return write_parquet(path, {n: list(c) for n, c in zip(names, cols)}, staging_schema())


# ---------------------------------------------------------------------------
# warehouse phase


def warehouse_inputs(r: Run) -> dict:
    s = r.size
    t = gen.Traffic(batch_events=s["wh_batch_events"], n_track_names=s["wh_track_names"])
    inputs = gen.warehouse_batches(r.seed, s["wh_uploads"], t)
    staging = []
    for k, rows in enumerate(inputs.batches):
        p = os.path.join(r.work, "staging", f"u{k}.parquet")
        write_staging(p, rows)
        staging.append(p)
    return {"inputs": inputs, "staging": staging}


def warehouse_phase(r: Run, prep: dict):
    """Closed loop, one client, into one warehouse directory. Set-up lands
    the first staging batch (the cold upload: it warms the JIT up on the
    real shapes). Each measured cycle replays the first, already committed
    upload id, uploads the next batch (MERGE into the landed state) and
    reads the landed ``users`` and identity tables; completeness counts
    and reads are checked against the generator. Cycles repeat until the
    run time is used or the batches run out (FULL has one cycle).

    Sets ``events_per_s`` (upload events ÷ upload time), ``latency_p50_s``
    (upload), ``read_latency_p50_s`` (users + connected components) and
    ``write_amp`` (bytes written under the warehouse ÷ payload bytes)."""
    from pyspark.sql import functions as F

    from rudder_server_spark import pipeline_warehouse as pw
    from rudder_server_spark.operators import event_tables, identity
    from rudder_server_spark.sources import load_commit

    inputs, staging = prep["inputs"], prep["staging"]
    sample = set(range(20))  # celebrity users: the most frequent ranks
    wh = os.path.join(r.work, "wh")

    def upload(k, uid):
        return pw.run_warehouse_upload(r.spark, r.spark.read.parquet(staging[k]), wh, uid)

    def read_users():
        users = load_commit.read_table(r.spark, os.path.join(wh, "users"))
        return {row["id"] for row in users.where(F.col("id").isin(sorted(sample))).collect()}

    def read_components():
        rules = load_commit.read_table(
            r.spark, os.path.join(wh, "rudder_identity_merge_rules"))
        edges = rules.select(F.col("merge_property_1_value").alias("src"),
                             F.col("merge_property_2_value").alias("dst"))
        return identity.connected_components(edges).select("component").distinct().count()

    tr = r.tracer
    tr.wrap(pw, "run_warehouse_upload", "pipeline_warehouse.run_warehouse_upload")
    tr.wrap(pw, "event_table_fanout", "operators.event_tables.event_table_fanout")
    tr.wrap(pw, "batch_dedup", "operators.filters.batch_dedup")
    tr.wrap(load_commit, "read_table", "sources.load_commit.read_table")
    tr.wrap(identity, "connected_components", "operators.identity.connected_components")
    tr.wrap(event_tables, "connected_components", "operators.identity.connected_components")

    def observe_commit(before, args, kwargs, out=None):
        table_dir = args[2]
        if out is None:
            return du(table_dir)
        return {"committed": bool(out), "bytes_written": du(table_dir) - before}

    tr.wrap(load_commit, "commit_merge", "sources.load_commit.commit_merge",
            observe=observe_commit)

    r.attempted += 1
    if not all(upload(0, "up-0")["committed"].values()):
        r.fail("first upload left tables uncommitted")
        r.failed += 1
    yield  # end of set-up

    def check_landed(o, k):
        landed = {row["table_name"]: row["n"] for row in o["counts"].collect()}
        want = inputs.expected[k]
        bad = {n: (landed.get(n, 0), v) for n, v in want.items() if landed.get(n, 0) != v}
        bad.update({n: (v, 0) for n, v in landed.items() if n not in want and v})
        return f"landed table counts after upload {k} differ (got, want): {bad}" if bad else None

    def read_both():
        return read_users(), read_components()

    up_lat, replay_lat, read_lat = [], [], []
    events = payload = 0
    with r.window("measure") as w:
        written0 = du(wh)
        t_end = time.perf_counter() + r.seconds
        k = 1
        while k < len(staging) and (k == 1 or time.perf_counter() < t_end):
            # the replay of the committed first upload goes first: a no-op
            # commit whose completeness counts must match the landed state
            r.timed_op("op.replay", lambda: upload(0, "up-0"), replay_lat,
                       lambda o: "replay of a committed upload committed tables"
                       if any(o["committed"].values()) else check_landed(o, k - 1))
            r.timed_op("op.upload", lambda: upload(k, f"up-{k}"), up_lat,
                       lambda o: f"upload {k} left tables uncommitted"
                       if not all(o["committed"].values()) else check_landed(o, k))
            events += len(inputs.batches[k])
            payload += inputs.payload_bytes[k]
            want = (inputs.users_seen[k] & sample, inputs.components[k])
            for _ in range(r.size["wh_reads"]):
                r.timed_op("op.read", read_both, read_lat,
                           lambda got: None if got == want
                           else f"reads after upload {k}: users {sorted(got[0])} / "
                                f"{got[1]} components, want {sorted(want[0])} / {want[1]}")
            w["ops"] += 2
            k += 1
        r.m.update(
            events_per_s=events / sum(up_lat) if up_lat else 0.0,
            latency_p50_s=median(up_lat),
            read_latency_p50_s=median(read_lat),
            write_amp=(du(wh) - written0) / payload if payload else 0.0,
        )
    r.samples.update(uploads=len(up_lat), replays=len(replay_lat), warehouse_reads=len(read_lat))
    r.layer["pipeline_warehouse.replay_wall_s"] = median(replay_lat)


# ---------------------------------------------------------------------------
# processor phase


def processor_inputs(r: Run) -> dict:
    import pyarrow as pa

    s = r.size
    t = gen.Traffic(batch_events=s["pb_batch_events"])
    # the control plane is fixed; the traffic varies with the seed
    cfg = gen.workspace_config(0)
    supp = gen.suppressed_users(r.seed, t)
    schema = pa.schema([
        ("message_id", pa.string()), ("user_id", pa.int64()), ("event_type", pa.string()),
        ("received_at", pa.timestamp("us", tz="UTC")), ("source_id", pa.string()),
        ("denied_consent_ids", pa.list_(pa.string())),
    ])
    batches = []
    for k in range(s["pb_batches"]):
        cols, exp = gen.processor_batch(r.seed * 1_000 + k, t, cfg, supp)
        p = os.path.join(r.work, "batches", f"b{k}.parquet")
        write_parquet(p, cols, schema)
        batches.append((p, exp))
    supp_path = os.path.join(r.work, "suppression.parquet")
    write_parquet(supp_path, {"user_id": sorted(supp)}, pa.schema([("user_id", pa.int64())]))
    wcols, wexp = gen.processor_batch(r.seed + 77, gen.Traffic(batch_events=2_000), cfg, supp)
    warm_path = os.path.join(r.work, "warm.parquet")
    write_parquet(warm_path, wcols, schema)
    return {"cfg": cfg, "batches": batches, "supp_path": supp_path, "warm": (warm_path, wexp)}


def processor_phase(r: Run, prep: dict):
    """Closed loop, one client, over the generated batches (cycled) for the
    run's seconds: load the workspace config, build the §3.1 stage chain,
    collect the six stage counts and write the jobs as parquet; then read
    the written jobs back to check them. Set-up runs one small batch.

    Sets ``events_per_s`` (processor events ÷ batch time)."""
    from pyspark.sql import functions as F

    from rudder_server_spark import pipeline_batch as pb
    from rudder_server_spark.sources import config as config_mod

    tr = r.tracer
    tr.wrap(config_mod, "load_workspace_config", "sources.config.load_workspace_config")
    tr.wrap(pb, "run_batch_pipeline", "pipeline_batch.run_batch_pipeline")
    tr.wrap(pb, "batch_dedup", "operators.filters.batch_dedup")
    spark = r.spark
    cfg = prep["cfg"]
    suppression = spark.read.parquet(prep["supp_path"])
    jobs_dir = os.path.join(r.work, "jobs")

    def batch(path):
        conf = config_mod.load_workspace_config(spark, cfg)
        out = pb.run_batch_pipeline(spark.read.parquet(path), conf, suppression=suppression,
                                    denied_col="denied_consent_ids")
        with tr.span("pipeline_batch.stage_counts"):
            counts = {row["stage"]: row["n"] for row in out["stage_counts"].collect()}
        with tr.span("pipeline_batch.jobs_write"):
            out["jobs"].write.mode("overwrite").parquet(jobs_dir)
        return counts

    def read_back():
        return {row["status"]: row["n"] for row in spark.read.parquet(jobs_dir)
                .groupBy("status").agg(F.count("*").alias("n")).collect()}

    def run_batch(path, exp, samples):
        counts = r.timed_op("op.batch", lambda: batch(path), samples,
                            lambda c: None if c == exp
                            else f"stage_counts {c} != expected {exp}")
        if counts is None:
            return None
        want = {"ok": exp["6_delivered"], "filtered": exp["5_jobs"] - exp["6_delivered"]}
        want = {st: n for st, n in want.items() if n}
        r.timed_op("op.read_jobs", read_back, [],
                   lambda got: None if got == want
                   else f"jobs read back {got} != expected {want}")
        return counts

    run_batch(*prep["warm"], [])
    yield  # end of set-up

    lat = []
    events = 0
    last: dict = {}
    with r.window("measure") as w:
        t_end = time.perf_counter() + r.seconds
        k = 0
        while k == 0 or time.perf_counter() < t_end:
            path, exp = prep["batches"][k % len(prep["batches"])]
            k += 1
            w["ops"] += 1
            counts = run_batch(path, exp, lat)
            if counts is not None:
                last = counts
                events += exp["1_input"]
    r.m["events_per_s"] = events / sum(lat) if lat else 0.0
    r.samples["batches"] = len(lat)
    if last:
        r.layer["operators.filters.dedup_keep_ratio"] = last["2_deduped"] / last["1_input"]
        r.layer["operators.filters.fanout_factor"] = last["4_fanned_out"] / last["3_suppressed"]
        r.layer["operators.filters.delivered_ratio"] = last["6_delivered"] / last["5_jobs"]


# ---------------------------------------------------------------------------
# stream phase


def _source_log_ids(ckpt: str) -> dict:
    """file name -> id of the file source's log entry that listed it."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if p.endswith(".tmp") or os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for ln in fh:
                ln = ln.strip()
                if ln.startswith("{"):
                    e = json.loads(ln)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _log_offset(offset) -> int:
    return -1 if offset is None else int(offset["logOffset"])


def _progress(q) -> list:
    """The query's recent progress as plain JSON dicts (batches with input)."""
    return [p for p in (json.loads(x.json) for x in q.recentProgress) if p["numInputRows"]]


def _consumed_at(progress: list) -> list:
    """(first, last source log id, wall-clock end) of every micro-batch: a
    file is consumed by the batch whose source offset range covers its log
    id."""
    out = []
    for p in progress:
        src = p["sources"][0]
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=dt.timezone.utc).timestamp()
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        out.append((_log_offset(src["startOffset"]) + 1, _log_offset(src["endOffset"]), end))
    return out


def stream_inputs(r: Run) -> dict:
    s = r.size
    n_open = max(3, int(r.seconds * s["st_rate_files_per_s"]))
    fe = s["st_file_events"]
    # event times rise warm-up < open loop < backlog, as they would live
    warm_files, ids_warm = gen.stream_files(r.seed, s["st_warm_batches"], fe)
    open_files, ids_open = gen.stream_files(r.seed, n_open, fe, first_seq=10**5)
    back_files, ids_back = gen.stream_files(r.seed, s["st_backlog_files"],
                                            s["st_backlog_file_events"], first_seq=2 * 10**5)
    pending = os.path.join(r.work, "stream", "pending")
    names = []
    in_bytes = 0
    for j, text in enumerate(open_files):
        gen.write_text(os.path.join(pending, f"open-{j:05d}.json"), text)
        names.append(f"open-{j:05d}.json")
        in_bytes += len(text)
    for j, text in enumerate(back_files):
        gen.write_text(os.path.join(pending, f"back-{j:05d}.json"), text)
        in_bytes += len(text)
    for j, text in enumerate(warm_files):
        gen.write_text(os.path.join(pending, f"warm-{j:05d}.json"), text)
    return {
        "pending": pending, "names": names, "in_bytes": in_bytes,
        "backlog_files": len(back_files),
        "backlog_events": sum(t.count("\n") for t in back_files),
        "distinct": len(ids_open | ids_back | ids_warm),
    }


def stream_phase(r: Run, prep: dict):
    """Open loop, then drain. Set-up starts the warehouse stream with its
    default trigger and pushes the warm-up files through it, one
    micro-batch each. Then pre-written JSON-lines files are renamed into
    the source directory at a fixed rate; each file's latency runs from the
    moment it was due to the end of the micro-batch that consumed it. Then
    a backlog of files is drained with an ``availableNow`` query on the
    same checkpoint. Finally the sink is read back and checked.

    Sets ``latency_p50_s`` (file due → consumed), ``read_latency_p50_s``
    (sink read-back) and ``write_amp`` (sink bytes ÷ input file bytes)."""
    from pyspark.sql import functions as F

    from rudder_server_spark.operators import event_tables
    from rudder_server_spark.streaming import pipeline as sp_mod

    s = r.size
    spark = r.spark
    tr = r.tracer
    tr.wrap(event_tables, "event_table_fanout", "operators.event_tables.event_table_fanout")

    pending, names = prep["pending"], prep["names"]
    base = os.path.dirname(pending)
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    q = sp_mod.run_warehouse_pipeline(spark, src, out, ckpt, available_now=False)
    for name in sorted(n for n in os.listdir(pending) if n.startswith("warm-")):
        os.rename(os.path.join(pending, name), os.path.join(src, name))
        q.processAllAvailable()
    # idle progress events (no input) carry the next batch id: skip them
    warm_last = max(p["batchId"] for p in _progress(q))
    out0 = du(out)
    yield  # end of set-up

    progress: list = []
    listener = None
    if tr.enabled:
        listener = progress_listener(progress)
        spark.streams.addListener(listener)
    read_lat = []
    with r.window("measure") as w:
        interval = 1.0 / s["st_rate_files_per_s"]
        due, lag = [], []
        t0 = time.time() + 0.5
        for j, name in enumerate(names):
            d = t0 + j * interval
            pause = d - time.time()
            if pause > 0:
                time.sleep(pause)
            os.rename(os.path.join(pending, name), os.path.join(src, name))
            lag.append(time.time() - d)
            due.append(d)
        schedule_end = time.time()
        q.processAllAvailable()
        open_progress = [p for p in _progress(q) if p["batchId"] > warm_last]
        q.stop()
        # drain: the backlog lands at once and an availableNow query eats it
        for name in sorted(os.listdir(pending)):
            os.rename(os.path.join(pending, name), os.path.join(src, name))
        with tr.span("op.drain") as dsp:
            q = sp_mod.run_warehouse_pipeline(spark, src, out, ckpt, available_now=True)
            q.awaitTermination()
        drain_progress = _progress(q)
        w["ops"] = len(open_progress) + len(drain_progress)

        want = prep["distinct"]

        def read_sink():
            rows = None
            for tbl in ("tracks", "identifies", "pages"):
                df = spark.read.parquet(os.path.join(out, tbl)).select("id")
                rows = df if rows is None else rows.unionByName(df)
            return tuple(rows.agg(F.count("*"), F.count_distinct("id")).first())

        sink = [r.timed_op("op.read_sink", read_sink, read_lat,
                           lambda got: None if got == (want, want)
                           else f"sink holds {got[0]} rows / {got[1]} distinct ids, "
                                f"want {want} distinct events")
                for _ in range(s["st_reads"])]

    log_id = _source_log_ids(ckpt)
    batches = _consumed_at(open_progress)
    lat = []
    backlog_end = 0
    for name, d in zip(names, due):
        end = next((e for lo, hi, e in batches if lo <= log_id.get(name, -1) <= hi), None)
        if end is None:
            r.fail(f"no micro-batch recorded for {name}")
            continue
        lat.append(end - d)
        backlog_end += end > schedule_end
    sink_ok = all(got == (want, want) for got in sink)
    # every file sent is one operation; a failed sink check fails them all
    files = len(names) + prep["backlog_files"]
    r.attempted += files
    if not sink_ok or len(lat) < len(names):
        r.failed += files
    r.m.update(
        latency_p50_s=median(lat),
        read_latency_p50_s=median(read_lat),
        write_amp=(du(out) - out0) / prep["in_bytes"],
    )
    r.samples.update(files=len(lat), sink_reads=len(read_lat),
                     open_batches=len(open_progress), drain_batches=len(drain_progress))
    if listener is not None:
        spark.streams.removeListener(listener)
        # the listener bus delivers asynchronously: settle before reading
        time.sleep(0.5)
    prog = [p for p in progress if p["numInputRows"]] if tr.enabled else (
        open_progress + drain_progress)
    r.layer["streaming.drain_events_per_s"] = prep["backlog_events"] / dsp.wall
    r.layer["streaming.file_latency_p90_s"] = pct(lat, 0.9)
    r.layer["streaming.generator_lag_p90_s"] = pct(lag, 0.9)
    r.layer["streaming.backlog_files_end"] = backlog_end
    r.layer["streaming.batches"] = len(prog)
    for key in ("addBatch", "queryPlanning", "latestOffset", "getBatch", "walCommit",
                "commitOffsets"):
        r.layer[f"streaming.{key}_ms_p50"] = median(
            [p["durationMs"].get(key, 0) for p in prog])
    r.layer["streaming.batch_rows_p50"] = median([p["numInputRows"] for p in prog])
    st = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    if st:
        r.layer["streaming.state_rows"] = st[-1]["numRowsTotal"]
        r.layer["streaming.state_memory_bytes"] = st[-1]["memoryUsedBytes"]
        r.layer["streaming.dropped_by_watermark"] = sum(
            x.get("numRowsDroppedByWatermark", 0) for x in st)


# phase -> (input generator, body)
PHASES = {
    "warehouse": (warehouse_inputs, warehouse_phase),
    "processor": (processor_inputs, processor_phase),
    "stream": (stream_inputs, stream_phase),
}


# ---------------------------------------------------------------------------
# metrics


# span name -> the per-layer figures it yields (see PER_LAYER)
LAYER_SPANS = (
    ("pipeline_warehouse.run_warehouse_upload", ("wall_s", "task_s", "core_util")),
    ("operators.event_tables.event_table_fanout", ("wall_s", "jobs")),
    ("operators.filters.batch_dedup", ("wall_s",)),
    ("sources.load_commit.commit_merge", ("wall_s", "task_s", "shuffle_write_bytes",
                                          "bytes_written", "calls", "committed")),
    ("sources.load_commit.read_table", ("wall_s",)),
    ("operators.identity.connected_components", ("wall_s", "jobs")),
    ("sources.config.load_workspace_config", ("wall_s",)),
    ("pipeline_batch.run_batch_pipeline", ("build_s",)),
    ("pipeline_batch.stage_counts", ("wall_s", "task_s", "shuffle_write_bytes", "core_util")),
    ("pipeline_batch.jobs_write", ("wall_s",)),
)


def layer_metrics(r: Run) -> dict:
    """Per-layer figures from the spans that start in measured windows:
    times and bytes per primary operation of the windows the layer ran
    in, jobs per call, counts in total."""
    tr = r.tracer
    vals = dict.fromkeys(PER_LAYER, 0.0)
    vals["session.get_spark.wall_s"] = sum(
        s["end"] - s["start"] for s in tr.named("session.get_spark"))
    measured = [w for w in r.windows if w["kind"] == "measure"]
    for name, keys in LAYER_SPANS:
        spans, ops = [], 0
        for w in measured:
            inside = [s for s in tr.named(name) if w["start"] <= s["start"] < w["end"]]
            if inside:
                spans += inside
                ops += w["ops"]
        ops = max(1, ops)
        wall = sum(s["end"] - s["start"] for s in spans)
        task = sum(s.get("task_ms", 0) for s in spans) / 1000.0
        got = {
            "wall_s": wall / ops,
            "build_s": wall / ops,
            "task_s": task / ops,
            "core_util": task / (wall * r.cpus) if wall else 0.0,
            "jobs": sum(s.get("jobs", 0) for s in spans) / max(1, len(spans)),
            "shuffle_write_bytes": sum(s.get("shuffle_write_bytes", 0) for s in spans) / ops,
            "bytes_written": sum(s.get("bytes_written", 0) for s in spans) / ops,
            "calls": len(spans),
            "committed": sum(1 for s in spans if s.get("committed")),
        }
        for k in keys:
            vals[f"{name}.{k}"] = got[k]
    d = r.spark_delta
    if d:
        vals["spark.gc_s"] = d["gc_ms"] / 1000.0
        vals["spark.jobs"] = d["jobs"]
        vals["spark.tasks"] = d["tasks"]
        vals["spark.tasks_failed"] = d["tasks_failed"]
        vals["spark.cached_bytes_end"] = d["memory_used"]
    vals.update(r.layer)
    return vals


def run(workload: str, seed: int, seconds: float, trace: bool, size: dict,
        t_start: float) -> dict:
    """One benchmark run; ``t_start`` is when its set-up began (the process
    start for a run from the command line). Set-up time is the time before
    input generation plus the set-up window: session start and the phases'
    warm-ups."""
    r = Run(workload, seed, seconds, trace, size)
    phases = [PHASES[p] for p in WORKLOADS[workload]]
    before_gen = time.time() - t_start
    try:
        inputs = [make(r) for make, _ in phases]
        with r.window("setup"):
            r.start_session()
            # each phase body is a generator that yields once, at the end of
            # its warm-up: the warm-ups run at once, one thread each (they
            # are mostly planning and compiling on the calling thread), the
            # measured parts one after another
            bodies = [body(r, prep) for (_, body), prep in zip(phases, inputs)]
            with concurrent.futures.ThreadPoolExecutor(len(bodies)) as ex:
                list(ex.map(next, bodies))
        for b in bodies:
            next(b, None)
        peak = r.peak_rss_mb()
        setup_s = before_gen + r.setup_s
        if trace:
            values = layer_metrics(r)
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            r.tracer.write(
                os.path.join(HERE, ".out", f"trace-{workload}-{seed}.json"),
                {"workload": workload, "seed": seed, "per_layer": values,
                 "end_to_end": {**r.m, "setup_s": setup_s, "peak_rss_mb": peak},
                 "windows": r.windows},
            )
            units = PER_LAYER
        else:
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": peak,
                "ok_share": (r.attempted - r.failed) / max(1, r.attempted),
                **{k: r.m[k] for k in ("events_per_s", "latency_p50_s", "read_latency_p50_s",
                                       "write_amp")},
            }
            units = END_TO_END
        print(json.dumps({"workload": workload, "seed": seed, "samples": r.samples,
                          "session_env": r.env, "tracing_overhead_s": r.tracer.overhead_s,
                          "notes": r.notes}), file=sys.stderr)
        return {
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        r.tracer.unwrap_all()
        r.stop_session()
        shutil.rmtree(r.work, ignore_errors=True)


def _terminate(signum, frame):
    # run the finally blocks: stop the JVM, remove the work directory
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs and check every output")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rudder_server_spark")):
        print("perfbench: rudder_server_spark/ not found next to perfbench/ — run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if a.smoke:
        bad = 0
        for w in WORKLOADS:
            for tr in (0, 1):
                res = run(w, a.seed, 1, bool(tr), SMOKE, time.time())
                print(json.dumps({"workload": w, "trace": tr, **res}))
                bad += res["failed"] > 0
        return 1 if bad else 0
    if a.workload is None:
        ap.error("--workload is required")
    res = run(a.workload, a.seed, a.seconds, bool(a.trace), FULL, proc_start_time())
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
