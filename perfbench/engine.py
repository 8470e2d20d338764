"""The engine side of one benchmark run.

``run.py`` starts this module as its own process, with its output going to
a log file, so Spark's console and JVM log lines never reach the metrics
output. It drives the engine only through its public functions
(``session.get_spark``, ``catalog.load_tables``, the ``queries`` registry,
``ddl``, ``streaming.stateful``, ``sql_gateway``), records what it observed
to a JSON result file, and exits. Answers are checked afterwards by
``run.py`` against DuckDB, outside the engine process.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import json
import math
import os
import re
import shutil
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

# The batch mix: TPC-H join/aggregate shapes, an outer join, grouping sets,
# a tumble window, per-group top-n, a nine-way TPC-DS join, and one
# MATCH_RECOGNIZE query as the only step that runs Python workers. Ten
# queries, so two timed passes give twenty samples. TPC-H q5 and q18 are
# left out for the run-time budget; they repeat the multi-way join and
# aggregate shapes of q9 and q3.
BATCH_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q21_sole_blame_supplier",
    "join_full_outer",
    "agg_grouping_sets",
    "win_tumble_agg",
    "rank_topn_per_group",
    "ds_q72_inventory_promo_nine_join",
    "mr_adjacent_pair",
]

MIN_BATCH_PASSES = 2
TRIGGER_S = 3
# Phase 1's first file is due this long after a trigger fires. Triggers fall
# on multiples of TRIGGER_S of the wall clock, so a fixed phase makes the
# trigger-to-file timing, and with it the latency, the same on every run.
TRIGGER_PHASE_S = 0.2
WATERMARK_DELAY_S = 2
WINDOW = "1 second"
DEDUP_TTL_US = 3_600_000_000

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# SQL metrics Spark publishes on its Python exec nodes, by display name.
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_mb_sent",
}


def _parse_metric(text: str, kind: str) -> float:
    """Total of one SQL metric as the status store renders it: a plain
    count, or ``total (min, med, max ...)\\n<value> <unit> (...)``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "timing":
        return value * _TIME_UNITS.get(unit, 1e-3)
    if kind == "size":
        return value * _SIZE_UNITS.get(unit, 1) / 1024**2
    return value


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class RuntimeCounters:
    """Snapshots of the counters Spark already publishes: per-stage task
    metrics from the application status store, and the SQL metrics of
    Python exec nodes from the SQL status store."""

    def __init__(self, spark, enabled: bool):
        # Reading the stores costs a py4j round trip per stage and SQL
        # node, so only the traced run reads them.
        self.enabled = enabled
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def stages(self) -> dict:
        tot = dict.fromkeys(
            ["tasks", "tasks_failed", "executor_run_s", "executor_cpu_s", "gc_s",
             "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
             "output_mb"], 0.0,
        )
        for s in _iter(self._store.stageList(None, False, False, self._no_quantiles, None)):
            tot["tasks"] += s.numCompleteTasks()
            tot["tasks_failed"] += s.numFailedTasks()
            tot["executor_run_s"] += s.executorRunTime() / 1e3
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["input_mb"] += s.inputBytes() / 1024**2
            tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1024**2
            tot["shuffle_read_mb"] += s.shuffleReadBytes() / 1024**2
            tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1024**2
            tot["output_mb"] += s.outputBytes() / 1024**2
        return tot

    def python(self) -> dict:
        tot: dict = {}  # only the metrics the store holds values for
        for e in _iter(self._sql.executionsList()):
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            for node in _iter(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                    continue
                for m in _iter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    key = _PY_METRICS.get(m.name())
                    if key is None and m.name() == "number of output rows":
                        key = "python_rows_out"
                    if key:
                        tot[key] = tot.get(key, 0.0) + _parse_metric(v.get(), m.metricType())
        return tot

    def snapshot(self) -> dict:
        return {**self.stages(), **self.python()} if self.enabled else {}


def _delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before.get(k, 0.0) for k in after}


class JvmMemory(threading.Thread):
    """The memory the JVM holds, from its management beans every 250 ms:
    used heap outside the eden space (objects that outlived a young
    collection, and large arrays) plus used non-heap memory (metaspace,
    code cache). Unlike the JVM's resident size, this follows what the
    engine holds, not how far the collector has grown the heap; leaving
    eden out leaves out the saw-tooth of short-lived garbage."""

    def __init__(self, spark):
        super().__init__(daemon=True)
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._bean = mf.getMemoryMXBean()
        self._eden = [p for p in mf.getMemoryPoolMXBeans() if "Eden" in p.getName()]
        self.samples: list[tuple[float, float]] = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            held = self._bean.getHeapMemoryUsage().getUsed()
            held -= sum(p.getUsage().getUsed() for p in self._eden)
            held += self._bean.getNonHeapMemoryUsage().getUsed()
            self.samples.append((time.time(), held / 1024**2))
            self._halt.wait(0.25)

    def stop(self) -> list:
        self._halt.set()
        self.join()
        return self.samples


def process_tree(root: int) -> set[int]:
    """``root`` and every process descended from it, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    members, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in members:
                members.add(c)
                frontier.append(c)
    return members


def pin_to_one_core() -> None:
    """Confine this process, its JVM and the JVM's Python workers, every
    thread of each, to one CPU. Threads and processes they start later
    inherit it."""
    cpu = {min(os.sched_getaffinity(0))}
    for pid in process_tree(os.getpid()):
        with contextlib.suppress(OSError):
            for tid in os.listdir(f"/proc/{pid}/task"):
                with contextlib.suppress(OSError):
                    os.sched_setaffinity(int(tid), cpu)


def start_spark(tracer: Tracer, work: str):
    from apache_flink_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Keep every stage and SQL execution of a run in the status store
        # so the before/after deltas cover the whole measured window.
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    with tracer.span("session.get_spark"):
        return get_spark(app_name="perfbench", extra_conf=conf)


# -- batch_star -----------------------------------------------------------


def batch_star(spark, args, tracer: Tracer, res: dict) -> None:
    from apache_flink_spark.catalog import load_tables
    from apache_flink_spark.queries import ORACLES, QUERIES

    with tracer.span("catalog.load_tables"):
        load_tables(spark, args.data)
    answers = os.path.join(args.work, "answers")
    os.makedirs(answers, exist_ok=True)
    failed = []

    def check(name):
        try:
            with tracer.span("queries.check", request=f"check:{name}"):
                df = QUERIES[name](spark, args.data)
                df.toPandas().to_parquet(os.path.join(answers, f"{name}.parquet"))
        except Exception as ex:  # recorded and counted as failed
            failed.append({"query": name, "error": repr(ex)[:500]})

    # Warm-up, not timed: a cold round whose collected answers are the ones
    # checked, all queries at once to shorten set-up.
    with ThreadPoolExecutor(len(BATCH_MIX)) as pool:
        list(pool.map(check, BATCH_MIX))
        # A second untimed round, noop like the timed passes: after the cold
        # round alone the first timed pass ran about a quarter slower than
        # the second, by how far JIT compilation had got.
        list(pool.map(lambda name: _warm(QUERIES[name], spark, args.data), BATCH_MIX))
    res["oracles"] = {q: ORACLES.get(q) for q in BATCH_MIX}
    counters = RuntimeCounters(spark, tracer.enabled)
    before = counters.snapshot()
    # Whole passes until --seconds have passed, and at least
    # MIN_BATCH_PASSES, so that every query is timed more than once.
    res["t_setup"] = res["t_ready"] = time.time()
    passes = []
    while len(passes) < MIN_BATCH_PASSES or time.time() - res["t_ready"] < args.seconds:
        passes.append(_batch_pass(spark, args, tracer, QUERIES, len(passes), failed))
    res["t_end"] = time.time()
    res["runtime"] = _delta(counters.snapshot(), before)
    res["passes"] = passes
    if tracer.enabled:
        # One more pass on one core, for the scaling ratio (reported only).
        pin_to_one_core()
        res["one_core_pass"] = _batch_pass(spark, args, Tracer(False, "1core"), QUERIES, "1core", failed)
    res["failed_ops"] = failed


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warm(query, spark, data: str) -> None:
    # Warm-up only: a query that fails is counted by the checked round and
    # the timed passes, so the run goes on to report it.
    with contextlib.suppress(Exception):
        _noop(query(spark, data))


def _batch_pass(spark, args, tracer, queries, label, failed) -> dict:
    times = {}
    for name in BATCH_MIX:
        rid = f"pass{label}:{name}"
        t0 = time.perf_counter()
        try:
            with tracer.span("queries.run", request=rid):
                with tracer.span("queries.build"):
                    df = queries[name](spark, args.data)
                if tracer.enabled:
                    with tracer.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("queries.exec"):
                    _noop(df)
        except Exception as ex:  # recorded and counted as failed
            failed.append({"query": name, "pass": label, "error": repr(ex)[:500]})
            continue
        times[name] = time.perf_counter() - t0
    return times


# -- stream_events ----------------------------------------------------------


class ProgressListener:
    """Collects every ``StreamingQueryProgress`` and running input counts."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.progress: dict[str, list] = {}
        self.rows: dict[str, int] = {}
        self.lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "started": datetime.datetime.strptime(
                        p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
                    ).replace(tzinfo=datetime.timezone.utc).timestamp(),
                    "received": time.time(),
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs or {}),
                    "state": [
                        {
                            "rows": s.numRowsTotal,
                            "mem": s.memoryUsedBytes,
                            "commit_ms": s.commitTimeMs,
                            "dropped": s.numRowsDroppedByWatermark,
                        }
                        for s in (p.stateOperators or [])
                    ],
                }
                with outer.lock:
                    outer.progress.setdefault(p.name, []).append(rec)
                    outer.rows[p.name] = outer.rows.get(p.name, 0) + p.numInputRows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def processed(self, name: str) -> int:
        with self.lock:
            return self.rows.get(name, 0)


def _wait_processed(listener, names, target: int, timeout: float) -> float | None:
    end = time.time() + timeout
    while time.time() < end:
        if all(listener.processed(n) >= target for n in names):
            return time.time()
        time.sleep(0.02)
    return None


def stream_events(spark, args, tracer: Tracer, res: dict) -> None:
    from pyspark.sql import functions as F

    from apache_flink_spark.ddl import execute_flink_ddl, stream_ddl_table
    from apache_flink_spark.queries._util import dsum
    from apache_flink_spark.streaming.stateful import streaming_dedup_ttl

    landing = os.path.join(args.work, "landing")
    staging = os.path.join(args.work, "staging")
    os.makedirs(landing, exist_ok=True)
    with tracer.span("ddl.create"):
        execute_flink_ddl(
            spark,
            f"""CREATE TABLE bench_events (
                event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE,
                ts BIGINT, created_ms BIGINT,
                WATERMARK FOR ts AS ts - INTERVAL '{WATERMARK_DELAY_S}' SECOND
            ) WITH ('connector' = 'filesystem', 'path' = '{landing}',
                    'format' = 'json')""",
        )
    listener = ProgressListener()
    spark.streams.addListener(listener.listener)
    emitted = {"agg": [], "dedup": []}

    def sink(name):
        def fn(batch_df, batch_id):
            with tracer.span(f"streaming.sink.{name}", request=f"{name}:{batch_id}"):
                rows = [tuple(r) for r in batch_df.collect()]
            emitted[name].append({"batch": batch_id, "t": time.time(), "rows": rows})

        return fn

    with tracer.span("streaming.start"):
        src = stream_ddl_table(spark, "bench_events")
        agg = (
            src.groupBy(F.window("ts", WINDOW).alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum("value").alias("sum_value"),
                F.max("created_ms").alias("last_created_ms"),
            )
            .select(
                F.unix_millis("win.start").alias("win_start_ms"),
                "event_type", "n_events", "sum_value", "last_created_ms",
            )
        )
        dedup = streaming_dedup_ttl(
            src.select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "ts"),
            DEDUP_TTL_US,
        )
        ck = os.path.join(args.work, "checkpoints")
        queries = [
            df.writeStream.queryName(name)
            .outputMode(mode)
            .foreachBatch(sink(name))
            .trigger(processingTime=f"{TRIGGER_S} seconds")
            .option("checkpointLocation", os.path.join(ck, name))
            .start()
            for name, df, mode in (("agg", agg, "update"), ("dedup", dedup, "append"))
        ]
    names = ["agg", "dedup"]
    counters = RuntimeCounters(spark, tracer.enabled)
    try:
        # Warm-up: one large batch per job, as large as a backlog round. The
        # jobs' first batch is cold, and the JVM compiles their per-row code
        # over the first large batches: with a small warm-up batch, the first
        # phase-1 batch ran a third slower than later ones, and each catch-up
        # round ran faster than the one before.
        warm = gen.load_stream(os.path.join(args.cache, "stream_warm.npz"))
        with tracer.span("streaming.warmup"):
            written = gen.write_files(warm, landing, staging, gen.WARM_EPOCH_MS, "warm")
            if _wait_processed(listener, names, written, 120) is None:
                raise RuntimeError("stream did not consume the warm-up files")
        before = counters.snapshot()
        written += _stream_phase1(args, res, listener, names, landing, staging, tracer, written)
        res["catchup"] = _catchup(args, listener, names, landing, list(range(gen.BACKLOG_ROUNDS)),
                                  written, tracer)
        written += sum(r["events"] for r in res["catchup"])
        res["t_end"] = time.time()
        res["runtime"] = _delta(counters.snapshot(), before)
        if tracer.enabled:
            # One more round on one core, for the scaling ratio (reported only).
            pin_to_one_core()
            res["catchup_1core"] = _catchup(
                args, listener, names, landing, [gen.BACKLOG_ROUNDS], written, tracer
            )
            written += res["catchup_1core"][0]["events"]
    finally:
        for q in queries:
            q.stop()
        spark.streams.removeListener(listener.listener)
    res["events_written"] = written
    res["backlog_rounds"] = gen.BACKLOG_ROUNDS + bool(tracer.enabled)
    res["emitted"] = emitted
    res["progress"] = listener.progress


def _catchup(args, listener, names, landing, rounds: list, before: int, tracer) -> list:
    """Drop the given backlog rounds into the landing directory one after
    another and time how fast both jobs consume each; one record per round."""
    fidx = gen.load_stream(os.path.join(args.cache, "stream_backlog.npz"))["fidx"]
    staged = []
    for r in rounds:
        # The round's files were written when the inputs were generated;
        # hard links to them go to a staging directory, to be renamed in at
        # once. Links, not copies, so that no round's data is still being
        # written back to disk while the jobs read it.
        stage = os.path.join(args.work, f"backlog{r}")
        shutil.copytree(os.path.join(args.cache, f"backlog{r}"), stage, copy_function=os.link)
        staged.append((stage, int((fidx // gen.BACKLOG_FILES == r).sum())))
    offsets = [os.path.join(args.work, "checkpoints", n, "offsets") for n in names]
    # The first round lands just before a trigger (triggers fall on
    # multiples of the interval), so it does not wait a whole interval.
    # Each later round lands once both jobs have logged the offsets of the
    # batch reading the round before: that batch has listed its files, so
    # the next round goes to the next batch, which starts as soon as the
    # trigger allows. The jobs are never idle between rounds.
    now = time.time()
    drop_at = (math.floor(now / TRIGGER_S) + 1) * TRIGGER_S - 0.3
    if drop_at < now + 0.05:
        drop_at += TRIGGER_S
    time.sleep(drop_at - now)
    t_first = time.time()
    with tracer.span("streaming.catchup"):
        seen = None
        for stage, _n in staged:
            if seen is not None and not _wait_offsets(offsets, seen, 60):
                raise RuntimeError("a catch-up batch did not start")
            seen = [_last_batch(d) for d in offsets]
            for f in sorted(os.listdir(stage)):
                os.rename(os.path.join(stage, f), os.path.join(landing, f))
        total = sum(n for _s, n in staged)
        if _wait_processed(listener, names, before + total, 120) is None:
            raise RuntimeError("stream did not catch up with the backlog")
    # Round k is the k-th batch with input of each job since the first
    # drop. A round runs from the start of the first of its batches to the
    # end of the last, by the engine's own batch timestamps: the wait for a
    # trigger is idle time, and the listener's delivery delay is not
    # processing either.
    with listener.lock:
        back = {n: [p for p in listener.progress[n] if p["rows"] and p["received"] >= t_first]
                for n in names}
    out = []
    for k, (_stage, n) in enumerate(staged):
        batches = [back[j][k] for j in names]
        if any(b["rows"] != n for b in batches):
            raise RuntimeError(f"catch-up round {rounds[k]} was not read by one batch per job")
        out.append({
            "events": n,
            "t_start": min(b["started"] for b in batches),
            "t_done": max(b["started"] + b["durations"]["triggerExecution"] / 1000 for b in batches),
        })
    return out


def _last_batch(offsets_dir: str) -> int:
    ids = [int(f) for f in os.listdir(offsets_dir) if f.isdigit()] if os.path.isdir(offsets_dir) else []
    return max(ids, default=-1)


def _wait_offsets(offsets_dirs, seen, timeout: float) -> bool:
    """Wait until every job has logged a batch after the ones in ``seen``."""
    end = time.time() + timeout
    while time.time() < end:
        if all(_last_batch(d) > s for d, s in zip(offsets_dirs, seen)):
            return True
        time.sleep(0.02)
    return False


def _stream_phase1(args, res, listener, names, landing, staging, tracer, before: int) -> int:
    """Feed the nominal-rate stream from a separate process and wait until
    both jobs have consumed it; returns the number of events written."""
    ev_path = os.path.join(args.cache, "stream_phase1.npz")
    n_events = len(gen.load_stream(ev_path)["fidx"])
    # Set-up ends here; the wait for the trigger phase below is the
    # benchmark's own idle time, not the engine's.
    res["t_setup"] = time.time()
    # The first trigger boundary at least half a second away, plus the phase.
    t0 = math.ceil((time.time() + 0.5) / TRIGGER_S) * TRIGGER_S + TRIGGER_PHASE_S
    res["stream"] = {"t0": t0}
    log = os.path.join(args.work, "feeder.json")
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "feed",
         "--events", ev_path, "--landing", landing, "--staging", staging,
         "--t0", repr(t0), "--log", log],
    )
    try:
        # The first STREAM_WARM_S seconds of the stream warm the jobs up;
        # results of events due after that are the measured ones.
        res["t_ready"] = t0 + gen.STREAM_WARM_S
        feeder.wait(timeout=120)
        # Events written but not yet in a finished batch, when the last file
        # has landed.
        res["backlog_at_end"] = n_events + before - min(listener.processed(n) for n in names)
    finally:
        if feeder.poll() is None:
            feeder.kill()
        feeder.wait()
    if feeder.returncode != 0:
        raise RuntimeError(f"feeder exited with {feeder.returncode}")
    with open(log) as f:
        res["feeder"] = json.load(f)
    res["phase1_end"] = time.time()
    with tracer.span("streaming.drain"):
        if _wait_processed(listener, names, before + n_events, 60) is None:
            raise RuntimeError("stream did not drain phase 1")
    res["t_drained"] = time.time()
    return n_events


# -- gateway_mixed ----------------------------------------------------------


def gateway_mixed(spark, args, tracer: Tracer, res: dict) -> None:
    from apache_flink_spark.catalog import load_tables
    from apache_flink_spark.sql_gateway import SqlGatewayRestEndpoint, SqlGatewayService

    if tracer.enabled:
        _trace_sql_layers(tracer)
    with tracer.span("catalog.load_tables"):
        load_tables(spark, args.data)
    service = SqlGatewayService(spark=spark, sf_dir=args.data, worker_threads=4)
    endpoint = SqlGatewayRestEndpoint(service).start()
    counters = RuntimeCounters(spark, tracer.enabled)
    try:
        with tracer.span("gateway.warmup"):
            _warm_gateway(endpoint.url, args)
        res["t_setup"] = time.time()
        signal = os.path.join(args.work, "signal")
        with open(os.path.join(args.work, "gateway_url.tmp"), "w") as f:
            f.write(endpoint.url)
        os.rename(os.path.join(args.work, "gateway_url.tmp"),
                  os.path.join(args.work, "gateway_url"))
        _wait_file(signal + ".start", 170)
        before = counters.snapshot()
        _wait_file(signal + ".done", 170)
        res["runtime"] = _delta(counters.snapshot(), before)
    finally:
        endpoint.stop()
        service.close()


def _warm_gateway(url: str, args) -> None:
    """Run each statement shape of the gateway scripts once over REST, in
    a session and on a write table of its own, so the clients' timed
    statements find the engine warm. Counts as set-up."""
    from apache_flink_spark import dbapi

    warm = gen.GATEWAY_THREADS  # the script no client thread runs
    con = dbapi.connect(url)
    try:
        cur = con.cursor()
        cur.execute(gen.gateway_table_ddl(warm, os.path.join(args.work, "writes")))
        shapes = set()
        for kind, sql, _e in gen.gateway_script(args.seed, warm, 100):
            shape = sql.split(" WHERE ")[0].split(" VALUES ")[0]
            if shape not in shapes:
                shapes.add(shape)
                cur.execute(sql)
                cur.fetchall()
    finally:
        con.close()


def _wait_file(path: str, timeout: float) -> None:
    end = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > end:
            raise TimeoutError(f"no {os.path.basename(path)} from the client")
        time.sleep(0.02)


def _trace_sql_layers(tracer: Tracer) -> None:
    """Wrap the SQL front end and the DDL insert path in spans (traced run
    only; the untraced run calls the engine unwrapped)."""
    from apache_flink_spark import ddl, environment

    sql = environment.TableEnvironment.sql
    insert = ddl.execute_flink_insert

    def traced_sql(self, query):
        with tracer.span("environment.sql"):
            return sql(self, query)

    def traced_insert(spark, query):
        with tracer.span("ddl.insert"):
            return insert(spark, query)

    environment.TableEnvironment.sql = traced_sql
    ddl.execute_flink_insert = traced_insert


WORKLOADS = {
    "batch_star": batch_star,
    "stream_events": stream_events,
    "gateway_mixed": gateway_mixed,
}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="engine side of one benchmark run")
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--cache", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    tracer = Tracer(bool(args.trace), "engine")
    res: dict = {"workload": args.workload, "t_start": time.time()}
    spark = start_spark(tracer, args.work)
    jvm_mem = JvmMemory(spark)
    jvm_mem.start()
    try:
        WORKLOADS[args.workload](spark, args, tracer, res)
    finally:
        res["jvm_mem"] = jvm_mem.stop()
        tracer.write(args.out + ".spans")
        with open(args.out + ".tmp", "w") as f:
            json.dump(res, f)
        os.rename(args.out + ".tmp", args.out)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
