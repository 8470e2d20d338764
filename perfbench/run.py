"""Benchmark of the engine on three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json for why each
exists):

* ``batch_star`` -- closed loop, one client: a checked cold pass, then
  timed passes (at least two) over a fixed mix of registry queries with a
  noop sink on a seeded star schema.
* ``stream_events`` -- open loop: a separate feeder process appends JSON
  event files on a fixed schedule; an event-time tumble aggregate (JVM
  state) and ``streaming_dedup_ttl`` (Python state) read them from one
  watermarked DDL table. Phase 1 holds a nominal rate and measures
  latency; phase 2 drops fixed backlog rounds and measures catch-up.
* ``gateway_mixed`` -- closed loop: after the engine's warm-up, three
  client threads, each with its own gateway session over DB-API REST, run
  a seeded 85/15 read/write statement script.

The engine runs in a child process whose output goes to a log file, so
only this process writes to standard output: one line per metric with its
unit, sample count and the highest percentile the sample supports, then
one JSON object as the last line. With ``--trace 0`` that object holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics from
spans and Spark's own counters, and the engine repeats one batch pass or
one catch-up round on one core to report the scaling ratio. Every answer is
checked against DuckDB; wrong answers count as failed operations.

Inputs are generated from ``--seed`` and cached per seed under
``.perfbench/cache``; scratch files go to ``.perfbench/work``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import types

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as spanlib  # noqa: E402
from engine import TRIGGER_S, process_tree  # noqa: E402

RUN_TIMEOUT_S = 170  # every engine process of a run is killed by then
# The engine gets two local cores; the rest of the machine hosts what is not
# the system under test (feeder, gateway client, this process) and the
# JVM's compiler and collector threads, so they do not steal task time.
ENGINE_CPUS = 2

END_TO_END = [
    ("setup_s", "s"),
    ("mem_mb", "MB"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("op_geomean_ms", "ms"),
    ("ops_per_s", "1/s"),
]

# Per-layer metric -> (unit, end-to-end metric it should move,
# workload that shows it, workload where it should stay flat).
LAYERS = {
    "session.get_spark_s": ("s", "setup_s", "all", "-"),
    "catalog.load_tables_s": ("s", "setup_s", "all", "-"),
    "queries.build_s": ("s", "op_p50_ms", "batch_star", "gateway_mixed"),
    "queries.plan_s": ("s", "op_p50_ms", "batch_star", "gateway_mixed"),
    "queries.exec_s": ("s", "op_p50_ms", "batch_star", "gateway_mixed"),
    "spark.tasks": ("count", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.tasks_failed": ("count", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.executor_run_s": ("s", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.executor_cpu_s": ("s", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.gc_s": ("s", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.busy_share": ("share", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.input_mb": ("MB", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.shuffle_write_mb": ("MB", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.shuffle_read_mb": ("MB", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.spill_mb": ("MB", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.output_mb": ("MB", "ops_per_s", "batch_star", "gateway_mixed"),
    "spark.python_total_s": ("s", "op_p50_ms", "stream_events", "batch_star"),
    "spark.python_boot_s": ("s", "op_p50_ms", "stream_events", "batch_star"),
    "spark.python_init_s": ("s", "op_p50_ms", "stream_events", "batch_star"),
    "spark.python_rows_out": ("count", "op_p50_ms", "stream_events", "batch_star"),
    "spark.python_mb_sent": ("MB", "op_p50_ms", "stream_events", "batch_star"),
    "gen.lag_ms": ("ms", "op_p50_ms", "stream_events", "batch_star"),
    "environment.sql_s": ("s", "op_p50_ms", "gateway_mixed", "batch_star"),
    "environment.sql_calls": ("count", "op_p50_ms", "gateway_mixed", "batch_star"),
    "sql_gateway.submit_ms": ("ms", "op_p50_ms", "gateway_mixed", "stream_events"),
    "sql_gateway.wait_ms": ("ms", "op_p50_ms", "gateway_mixed", "stream_events"),
    "sql_gateway.status_polls": ("count", "ops_per_s", "gateway_mixed", "stream_events"),
    "sql_gateway.fetch_ms": ("ms", "op_p50_ms", "gateway_mixed", "stream_events"),
    "sql_gateway.pages": ("count", "op_p50_ms", "gateway_mixed", "stream_events"),
    "sql_gateway.ops_failed": ("count", "ops_per_s", "gateway_mixed", "stream_events"),
    "ddl.insert_s": ("s", "op_p90_ms", "gateway_mixed", "batch_star"),
    "ddl.files_written": ("count", "op_p90_ms", "gateway_mixed", "batch_star"),
    "scale.batch_1core_ratio": ("x", "ops_per_s", "batch_star", "-"),
    "scale.catchup_1core_ratio": ("x", "ops_per_s", "stream_events", "-"),
    "run.steal_share": ("share", "-", "all", "-"),
    "run.loadavg_1m": ("count", "-", "all", "-"),
    "run.valid": ("bool", "-", "all", "-"),
    "trace.spans": ("count", "-", "all", "-"),
}
_STREAM_LAYER = {
    "batches": "count", "trigger_ms": "ms", "add_batch_ms": "ms",
    "latest_offset_ms": "ms", "wal_commit_ms": "ms", "commit_offsets_ms": "ms",
    "query_planning_ms": "ms", "state_commit_ms": "ms", "state_rows": "count",
    "state_mb": "MB", "late_rows_dropped": "count", "sink_ms": "ms",
    "backlog_events": "count",
}
for _job in ("agg", "dedup"):
    for _m, _u in _STREAM_LAYER.items():
        LAYERS[f"streaming.{_m}.{_job}"] = (_u, "op_p50_ms", "stream_events", "batch_star")


class BenchError(RuntimeError):
    pass


# -- measurement helpers ------------------------------------------------------


def percentile(values, p: float) -> float:
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * p
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def geomean(values) -> float:
    v = [x for x in values if x > 0]
    return math.exp(sum(math.log(x) for x in v) / len(v)) if v else float("nan")


def supported_pct(n: int) -> str:
    """Highest of p50/p90/p99 with at least ten samples beyond it."""
    best = "-"
    for name, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        if n * (1 - p) >= 10:
            best = name
    return best


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before, after) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return d[7] / total if total else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class MemSampler(threading.Thread):
    """Memory of a process tree (engine driver, its JVM and Python
    workers), sampled every 500 ms from /proc. Each Python process counts
    its proportional set size, so pages that forked Python workers share
    are counted once. The JVM counts its resident size, from its status
    file: its PSS would need a walk of its page tables, and with that walk
    every 500 ms stream batches ran slower and their latency spread twice as
    wide. The gated figure takes the memory the JVM holds from the engine
    instead (see ``mem_figures``). The stream feeder is the load generator,
    not the engine, and is left out."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.samples: list[tuple[float, float, float]] = []  # (t, python MB, JVM MB)
        self.seen: set[int] = set()  # every pid ever in the tree
        self._halt = threading.Event()

    def tree_bytes(self) -> tuple[int, int]:
        members = process_tree(self.pid)
        self.seen |= members
        python = jvm = 0
        for p in members:
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    if b"gen.py" in f.read():
                        continue
                with open(f"/proc/{p}/comm") as f:
                    is_jvm = f.read().strip() == "java"
                key = "VmRSS:" if is_jvm else "Pss:"
                with open(f"/proc/{p}/status" if is_jvm else f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith(key):
                            size = int(line.split()[1]) * 1024
                            if is_jvm:
                                jvm += size
                            else:
                                python += size
                            break
            except OSError:
                continue
        return python, jvm

    def run(self):
        while not self._halt.is_set():
            python, jvm = self.tree_bytes()
            self.samples.append((time.time(), python / 1024**2, jvm / 1024**2))
            self._halt.wait(0.5)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _in_window(samples, start: float, end: float) -> list:
    return [s for s in samples if start <= s[0] <= end] or list(samples)


def mem_figures(res: dict, start: float, end: float) -> dict:
    """The engine's memory over the measured window [start, end].

    ``used``: median of the memory the JVM holds (``engine.JvmMemory``)
    plus the median PSS of the engine's Python processes (driver and
    workers).
    ``peak``: the highest memory of the whole tree, the JVM's resident
    size included, which also counts heap the collector has grown but the
    engine does not use.
    """
    tree = _in_window(res["mem"].samples, start, end)
    jvm = _in_window(res["jvm_mem"], start, end)
    jvm_held = statistics.median(m for _t, m in jvm)
    python = statistics.median(p for _t, p, _j in tree)
    return {
        "used": jvm_held + python,
        "jvm_held": jvm_held,
        "python_pss": python,
        "peak": max(p + j for _t, p, j in tree),
        "n": min(len(tree), len(jvm)),
    }


# -- processes ----------------------------------------------------------------


def engine_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    # A 2 GB heap cap instead of the engine's 8 GB default: the machine is
    # shared, and no workload here needs more.
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_GRAFT_CPUS"] = str(ENGINE_CPUS)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    return env


def _kill_group(proc: subprocess.Popen) -> None:
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap(pids, timeout: float = 10.0) -> None:
    """Wait for processes that are not our children (the JVM's Python
    worker daemon runs in its own process group) to exit; kill stragglers."""
    end = time.time() + timeout
    while any(_alive(p) for p in pids) and time.time() < end:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


class Engine:
    """One engine child process in its own process group."""

    def __init__(self, ctx, workload):
        work = ctx.work
        self.out = os.path.join(work, "engine.json")
        self.log_path = os.path.join(work, "engine.log")
        cmd = [
            sys.executable, os.path.join(HERE, "engine.py"),
            "--workload", workload, "--data", ctx.data, "--cache", ctx.cache,
            "--work", work, "--seed", str(ctx.seed), "--seconds", str(ctx.seconds),
            "--trace", str(ctx.trace), "--out", self.out,
        ]
        self.log = open(self.log_path, "w")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=engine_env(ctx.root, work), stdout=self.log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, start_new_session=True,
        )
        self.mem = MemSampler(self.proc.pid)
        self.mem.start()

    def wait(self, deadline: float) -> dict:
        try:
            self.proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            self.kill()
        if self.proc.returncode != 0 or not os.path.exists(self.out):
            raise BenchError(
                f"engine exited with {self.proc.returncode}; log tail:\n" + self.log_tail()
            )
        with open(self.out) as f:
            return json.load(f)

    def kill(self) -> None:
        _kill_group(self.proc)
        self.mem.stop()
        _reap(self.mem.seen - {self.proc.pid})
        self.log.close()

    def log_tail(self, n: int = 30) -> str:
        try:
            with open(self.log_path) as f:
                return "".join(f.readlines()[-n:])
        except OSError:
            return ""


# -- answer checks --------------------------------------------------------------


def duck_con(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    return con


def canonical(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def frames_equal(actual, expected) -> str | None:
    """None when equal (same columns, rows and exact values, any order),
    else the reason they differ."""
    import pandas as pd

    a, e = canonical(actual), canonical(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return f"{len(a)} rows != {len(e)} rows"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return str(ex).splitlines()[0][:300]
    return None


def check_batch(res: dict, data_dir: str, work: str) -> list[str]:
    import pandas as pd

    problems = []
    con = duck_con(data_dir)
    try:
        for name, oracle in res["oracles"].items():
            path = os.path.join(work, "answers", f"{name}.parquet")
            if not os.path.exists(path):
                problems.append(f"{name}: no answer")
                continue
            if oracle is None:
                problems.append(f"{name}: no oracle")
                continue
            why = frames_equal(pd.read_parquet(path), con.execute(oracle).df())
            if why:
                problems.append(f"{name}: {why}")
    finally:
        con.close()
    return problems


def stream_oracle_frames(cache: str, backlog_rounds: int):
    """Every event written (warm-up, phase 1 and the first
    ``backlog_rounds`` backlog rounds), as DuckDB sees them."""
    import duckdb
    import pandas as pd

    frames = []
    for fname, epoch in (
        ("stream_warm.npz", gen.WARM_EPOCH_MS),
        ("stream_phase1.npz", gen.STREAM_EPOCH_MS),
        ("stream_backlog.npz", gen.STREAM_EPOCH_MS + gen.BACKLOG_OFFSET_MS),
    ):
        ev = gen.load_stream(os.path.join(cache, fname))
        if fname == "stream_backlog.npz":
            keep = ev["fidx"] // gen.BACKLOG_FILES < backlog_rounds
            ev = {c: v[keep] for c, v in ev.items()}
        frames.append(
            pd.DataFrame(
                {
                    "event_id": ev["event_id"],
                    "user_id": ev["user_id"],
                    "event_type": [gen.EVENT_TYPES[i] for i in ev["event_type"]],
                    "value": ev["value"],
                    "ts_ms": ev["ts_ms"] + epoch,
                }
            )
        )
    events = pd.concat(frames, ignore_index=True)  # noqa: F841 -- read by DuckDB
    con = duckdb.connect()
    con.register("events", events)
    agg = con.execute(
        """SELECT (ts_ms // 1000) * 1000 AS win_start_ms, event_type,
                  count(*) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS sum_value
           FROM events GROUP BY 1, 2"""
    ).df()
    users = con.execute("SELECT user_id, event_id FROM events").df()
    con.close()
    return agg, users


def check_stream(res: dict, cache: str) -> tuple[int, list[str]]:
    import pandas as pd

    problems = []
    exp_agg, exp_users = stream_oracle_frames(cache, res["backlog_rounds"])
    # Update mode: the last emission per window key is its final value.
    final = {}
    for b in sorted(res["emitted"]["agg"], key=lambda b: b["batch"]):
        for win, et, n, s, _c in b["rows"]:
            final[(win, et)] = (n, s)
    got = pd.DataFrame(
        [(w, e, n, s) for (w, e), (n, s) in final.items()],
        columns=["win_start_ms", "event_type", "n_events", "sum_value"],
    )
    why = frames_equal(got, exp_agg)
    if why:
        problems.append(f"stream agg: {why}")
    # Dedup with a TTL longer than the run: each user emits exactly once,
    # with one of its own events.
    rows = [r for b in res["emitted"]["dedup"] for r in b["rows"]]
    emitted_users = [r[0] for r in rows]
    want = set(exp_users["user_id"].tolist())
    if len(emitted_users) != len(set(emitted_users)):
        problems.append("stream dedup: a user emitted twice")
    if set(emitted_users) != want:
        problems.append(
            f"stream dedup: {len(set(emitted_users) - want)} extra and "
            f"{len(want - set(emitted_users))} missing users"
        )
    owner = dict(zip(exp_users["event_id"].tolist(), exp_users["user_id"].tolist()))
    if any(owner.get(eid) != uid for uid, eid, _ts in rows):
        problems.append("stream dedup: emitted an event of another user")
    return len(exp_agg) + len(want), problems


def _norm_rows(rows) -> list:
    from client import _plain

    return sorted((tuple(_plain(v) for v in r) for r in rows), key=repr)


def check_gateway(client: dict, seed: int, data_dir: str) -> tuple[int, int, list[str]]:
    """Returns (attempted, failed, problems) over every statement run."""
    con = duck_con(data_dir)
    expected_cache: dict[str, list] = {}
    attempted = failed = 0
    problems = []
    try:
        for t, recs in client["threads"].items():
            script = gen.gateway_script(seed, int(t))
            # The thread's own table holds what its successful writes so
            # far inserted: (row count, key sum), replayed in run order.
            n_rows, key_sum = 0, 0
            executed = [r for r in recs if r["kind"] == "executed"]
            if not executed:
                problems.append(f"thread {t}: did not finish")
                failed += 1
            for r in recs:
                if r["kind"] == "executed":
                    continue
                attempted += 1
                if "error" in r:
                    failed += 1
                    problems.append(f"thread {t} stmt {r['idx']}: {r['error'][:200]}")
                    continue
                if r["kind"] == "write":
                    keys = script[r["idx"]][2]
                    n_rows += len(keys)
                    key_sum += sum(keys)
                    continue
                if r["kind"] in ("read_own", "final"):
                    want = [(n_rows, key_sum if n_rows else None)]
                elif r["kind"] == "read":
                    duck_sql = script[r["idx"]][2]
                    if duck_sql not in expected_cache:
                        expected_cache[duck_sql] = _norm_rows(con.execute(duck_sql).fetchall())
                    want = expected_cache[duck_sql]
                else:
                    continue
                if _norm_rows(r["rows"]) != _norm_rows(want):
                    failed += 1
                    problems.append(
                        f"thread {t} stmt {r['idx']} ({r['kind']}): got {r['rows'][:3]} "
                        f"want {want[:3]}"
                    )
    finally:
        con.close()
    return attempted, failed, problems


# -- workloads ------------------------------------------------------------------


def prepare(workload: str, seed: int, seconds: float, cache_root: str) -> tuple[str, str]:
    """Generate (or reuse) the seed's inputs; returns (cache dir, data dir)."""
    cache = os.path.join(cache_root, f"seed-{seed}")
    os.makedirs(cache, exist_ok=True)
    if workload == "batch_star":
        return cache, gen.write_star(os.path.join(cache, f"star-x{gen.BATCH_SCALE:g}"), seed, gen.BATCH_SCALE)
    if workload == "gateway_mixed":
        return cache, gen.write_star(os.path.join(cache, f"star-x{gen.GATEWAY_SCALE:g}"), seed, gen.GATEWAY_SCALE)
    # Phase 1 runs for the warm-up plus the measured seconds; the cache
    # key carries the length because the stream does.
    cache = os.path.join(
        cache,
        f"stream-{gen.STREAM_WARM_S + seconds:g}s-{gen.STREAM_RATE}eps-{gen.BACKLOG_ROUNDS}x{gen.BACKLOG_EVENTS}",
    )
    os.makedirs(cache, exist_ok=True)
    p1 = os.path.join(cache, "stream_phase1.npz")
    if not os.path.exists(p1):
        interval = gen.STREAM_INTERVAL_MS
        # Warm-up: as many events as a backlog round, a minute of event time
        # before phase 1 (see engine.stream_events).
        warm = gen.event_stream(
            seed, gen.BACKLOG_EVENTS // gen.BACKLOG_FILES, gen.BACKLOG_FILES, 1000, first_id=2 * 10**9
        )
        # BACKLOG_FILES one-second files per round, rounds one after another
        # in event time; the last round is read only by a traced run, on one
        # core.
        rounds = gen.BACKLOG_ROUNDS + 1
        back = gen.event_stream(
            seed, gen.BACKLOG_EVENTS // gen.BACKLOG_FILES, rounds * gen.BACKLOG_FILES,
            1000, first_id=10**9,
        )
        ev = gen.event_stream(seed, gen.STREAM_RATE, gen.STREAM_WARM_S + seconds, interval)
        gen.save_stream(os.path.join(cache, "stream_warm.npz"), warm)
        gen.save_stream(os.path.join(cache, "stream_backlog.npz"), back)
        # The backlog's JSON files, one directory per round.
        for r in range(rounds):
            part = {c: v[back["fidx"] // gen.BACKLOG_FILES == r] for c, v in back.items()}
            rdir = os.path.join(cache, f"backlog{r}")
            shutil.rmtree(rdir, ignore_errors=True)
            gen.write_files(part, rdir, os.path.join(cache, "staging"),
                            gen.STREAM_EPOCH_MS + gen.BACKLOG_OFFSET_MS, f"backlog{r}")
        gen.save_stream(p1 + ".tmp.npz", ev)
        os.rename(p1 + ".tmp.npz", p1)
    return cache, cache


def run_batch(ctx) -> dict:
    eng = Engine(ctx, "batch_star")
    res = eng.wait(ctx.deadline)
    res["mem"] = eng.mem
    res["setup_s"] = res["t_setup"] - eng.t_spawn
    problems = check_batch(res, ctx.data, ctx.work)
    q_times = [t for p in res["passes"] for t in p.values()]
    pass_times = [sum(p.values()) for p in res["passes"] if len(p) == len(res["oracles"])]
    res["attempted"] = len(q_times) + len(res["failed_ops"]) + len(res["oracles"])
    res["failed"] = len(res["failed_ops"]) + len(problems)
    res["problems"] = problems + [f"{f['query']}: {f['error']}" for f in res["failed_ops"]]
    res["latencies_ms"] = [t * 1000 for t in q_times]
    res["samples"] = len(q_times)  # queries per pass times passes
    res["ops_per_s"] = len(q_times) / (res["t_end"] - res["t_ready"])
    res["ops_samples"] = len(res["passes"])
    res["detail"] = [
        ("batch_pass_s", statistics.median(pass_times) if pass_times else float("nan"), "s", len(pass_times)),
        ("batch_query_geomean_s", geomean(q_times), "s", len(q_times)),
    ]
    if "one_core_pass" in res and pass_times:
        res["scale_batch"] = sum(res["one_core_pass"].values()) / statistics.median(pass_times)
    return res


def catchup_eps(rounds: list) -> float:
    """Median over the catch-up rounds of events per second."""
    return statistics.median(r["events"] / (r["t_done"] - r["t_start"]) for r in rounds)


def file_latencies(res: dict, ev: dict, before: int, lo_ms: float) -> tuple[list, int]:
    """Latency of each phase-1 file due at or after ``lo_ms``: ms from the
    time it was due until both jobs had emitted the results of the batches
    that read it; and how many distinct emissions these end at (the
    independent samples). Files are read whole and in the order they
    landed, after the ``before`` warm-up events, so the running total of a
    job's input rows tells which files each of its batches read."""
    ends = (before + np.cumsum(np.bincount(ev["fidx"]))).tolist()
    done = [0.0] * len(ends)
    for job in ("agg", "dedup"):
        emitted = {b["batch"]: b["t"] for b in res["emitted"][job]}
        total = k = 0
        for p in sorted(res["progress"][job], key=lambda p: p["batch"]):
            total += p["rows"]
            while k < len(ends) and ends[k] <= total:
                done[k] = max(done[k], emitted[p["batch"]])
                k += 1
    t0_ms = res["stream"]["t0"] * 1000
    due = [t0_ms + k * gen.STREAM_INTERVAL_MS for k in range(len(ends))]
    keep = [k for k in range(len(ends)) if due[k] >= lo_ms]
    return [done[k] * 1000 - due[k] for k in keep], len({done[k] for k in keep})


def run_stream(ctx) -> dict:
    eng = Engine(ctx, "stream_events")
    res = eng.wait(ctx.deadline)
    res["mem"] = eng.mem
    res["setup_s"] = res["t_setup"] - eng.t_spawn
    attempted, problems = check_stream(res, ctx.cache)
    ev = gen.load_stream(os.path.join(ctx.cache, "stream_phase1.npz"))
    t0_ms = res["stream"]["t0"] * 1000
    first_file = {}
    for eid, f in zip(ev["event_id"].tolist(), ev["fidx"].tolist()):
        first_file.setdefault(eid, f)
    # Results of phase-1 events due after the warm-up, up to the moment both
    # jobs had consumed phase 1 (the backlog lands only after that).
    lo_ms, hi = res["t_ready"] * 1000, res["t_drained"]
    # Every row of a batch is emitted at once, so the independent samples
    # are the emitting batches, not the rows.
    lat = {"agg": [], "dedup": []}
    batches = {"agg": 0, "dedup": 0}
    for b in res["emitted"]["agg"]:
        if b["t"] <= hi:
            got = [b["t"] * 1000 - c for *_r, c in b["rows"] if c >= lo_ms]
            lat["agg"] += got
            batches["agg"] += bool(got)
    for b in res["emitted"]["dedup"]:
        if b["t"] <= hi:
            got = []
            for _u, eid, _ts in b["rows"]:
                if eid not in first_file:  # a warm-up event
                    continue
                created = round(t0_ms + first_file[eid] * gen.STREAM_INTERVAL_MS)
                if created >= lo_ms:
                    got.append(b["t"] * 1000 - created)
            lat["dedup"] += got
            batches["dedup"] += bool(got)
    lag = res["feeder"]["lag_ms"]
    res["gen_lag_p90_ms"] = percentile(lag, 0.9)
    # Invalid, not slow: the feeder missed its schedule, or the jobs fell
    # behind the nominal rate. Jobs that keep up hold at most the events of
    # one trigger interval waiting and one in the running batch; a quarter
    # more leaves room for duplicates and file timing.
    max_backlog = 2.5 * gen.STREAM_RATE * TRIGGER_S
    res["valid"] = (
        res["gen_lag_p90_ms"] < gen.STREAM_INTERVAL_MS
        and res["backlog_at_end"] <= max_backlog
    )
    res["attempted"] = attempted
    res["failed"] = len(problems)
    res["problems"] = problems
    # The gated latency is per file, until both jobs have emitted. The jobs
    # start their batches at the same trigger and share the task slots, so
    # which job runs first is a race: the aggregate's own latency switched
    # between two levels batch to batch, which made the pooled figures of
    # both jobs spread by a quarter between runs, while the later of the two
    # emissions follows the work of both.
    warm = len(gen.load_stream(os.path.join(ctx.cache, "stream_warm.npz"))["fidx"])
    res["latencies_ms"], res["samples"] = file_latencies(res, ev, warm, lo_ms)
    res["ops_per_s"] = catchup_eps(res["catchup"])
    res["ops_samples"] = len(res["catchup"])
    res["detail"] = [
        (f"stream_{j}_latency_{p}_ms", percentile(lat[j], q), "ms", batches[j])
        for j in ("agg", "dedup") for p, q in (("p50", 0.5), ("p90", 0.9))
    ] + [
        ("stream_catchup_eps", res["ops_per_s"], "1/s", len(res["catchup"])),
        ("stream_nominal_eps", gen.STREAM_RATE, "1/s", len(lag)),
        ("gen_lag_p90_ms", res["gen_lag_p90_ms"], "ms", len(lag)),
        ("backlog_at_phase1_end", res["backlog_at_end"], "events", 1),
    ]
    if "catchup_1core" in res:
        res["scale_catchup"] = res["ops_per_s"] / catchup_eps(res["catchup_1core"])
    return res


def run_gateway(ctx) -> dict:
    eng = Engine(ctx, "gateway_mixed")
    deadline = ctx.deadline
    client = None
    client_out = os.path.join(ctx.work, "client.json")
    try:
        # The client starts with the engine and waits for the endpoint's
        # URL, so its imports overlap the engine's start-up.
        with open(os.path.join(ctx.work, "client.log"), "w") as log:
            client = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "client.py"),
                 "--url-file", os.path.join(ctx.work, "gateway_url"),
                 "--work", ctx.work, "--seed", str(ctx.seed),
                 "--seconds", str(ctx.seconds), "--trace", str(ctx.trace), "--out", client_out],
                env=engine_env(ctx.root, ctx.work), stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            while client.poll() is None:
                if eng.proc.poll() is not None:
                    raise BenchError("engine exited early; log tail:\n" + eng.log_tail())
                if time.time() > deadline:
                    raise BenchError("gateway client timed out")
                time.sleep(0.1)
        if client.returncode != 0:
            raise BenchError(f"gateway client exited with {client.returncode}")
    except BaseException:
        if client is not None:
            _kill_group(client)
        eng.kill()
        raise
    finally:
        # Release the engine even when the client died before starting.
        for name in ("signal.start", "signal.done"):
            open(os.path.join(ctx.work, name), "a").close()
    res = eng.wait(deadline)
    with open(client_out) as f:
        cl = json.load(f)
    res["mem"] = eng.mem
    # Set-up ends when the engine has warmed up and published its URL; the
    # clients' session opening and table creation after that is untimed.
    res["setup_s"] = res["t_setup"] - eng.t_spawn
    res["t_ready"] = cl["t_start"]
    attempted, failed, problems = check_gateway(cl, ctx.seed, ctx.data)
    timed = [r for recs in cl["threads"].values() for r in recs if r.get("timed")]
    ok = [r for r in timed if "error" not in r]
    reads = [(r["end"] - r["start"]) * 1000 for r in ok if r["kind"].startswith("read")]
    writes = [(r["end"] - r["start"]) * 1000 for r in ok if r["kind"] == "write"]
    span_end = max((r["end"] for r in timed), default=cl["t_start"] + 1)
    res["attempted"], res["failed"], res["problems"] = attempted, failed, problems
    res["latencies_ms"] = reads + writes
    res["samples"] = len(reads) + len(writes)
    res["ops_per_s"] = len(timed) / (span_end - cl["t_start"])
    res["ops_samples"] = len(timed)
    res["t_end"] = span_end
    res["client_spans"] = client_out + ".spans"
    res["write_dirs"] = os.path.join(ctx.work, "writes")
    res["detail"] = [
        ("gateway_read_p50_ms", percentile(reads, 0.5), "ms", len(reads)),
        ("gateway_read_p90_ms", percentile(reads, 0.9), "ms", len(reads)),
        ("gateway_write_p50_ms", percentile(writes, 0.5), "ms", len(writes)),
        ("gateway_stmts_per_s", res["ops_per_s"], "1/s", len(timed)),
    ]
    return res


RUNNERS = {"batch_star": run_batch, "stream_events": run_stream, "gateway_mixed": run_gateway}


# -- per-layer metrics ----------------------------------------------------------


def layer_metrics(ctx, res: dict) -> dict:
    """The per-layer metrics this run measured; a layer the workload does
    not call is left out, not reported as 0."""
    out = {}
    span_files = [os.path.join(ctx.work, "engine.json.spans")]
    if res.get("client_spans"):
        span_files.append(res["client_spans"])
    sp = spanlib.read_spans([p for p in span_files if os.path.exists(p)])
    self_t, n = spanlib.self_times(sp), spanlib.counts(sp)
    out["trace.spans"] = len(sp)
    for metric, span in (
        ("session.get_spark_s", "session.get_spark"),
        ("catalog.load_tables_s", "catalog.load_tables"),
        ("queries.build_s", "queries.build"),
        ("queries.plan_s", "queries.plan"),
        ("queries.exec_s", "queries.exec"),
        ("environment.sql_s", "environment.sql"),
        ("ddl.insert_s", "ddl.insert"),
    ):
        if n.get(span):
            out[metric] = self_t[span]
    rt = res.get("runtime") or {}
    for k, v in rt.items():
        out[f"spark.{k}"] = v
    if rt:
        wall = max(1e-9, res["t_end"] - res["t_ready"])
        out["spark.busy_share"] = rt["executor_run_s"] / (wall * ENGINE_CPUS)
    if ctx.workload == "gateway_mixed":
        stmts = max(1, n.get("dbapi.execute", 0))
        out["environment.sql_calls"] = n.get("environment.sql", 0)
        out["sql_gateway.submit_ms"] = 1000 * self_t.get("sql_gateway.submit", 0.0) / stmts
        out["sql_gateway.wait_ms"] = 1000 * self_t.get("sql_gateway.poll", 0.0) / stmts
        out["sql_gateway.status_polls"] = n.get("sql_gateway.poll", 0)
        out["sql_gateway.fetch_ms"] = 1000 * self_t.get("sql_gateway.fetch", 0.0) / stmts
        out["sql_gateway.pages"] = n.get("sql_gateway.fetch", 0)
        out["sql_gateway.ops_failed"] = res["failed"]
        out["ddl.files_written"] = sum(  # the clients' tables, not the warm-up's
            f.endswith(".parquet")
            for i in range(gen.GATEWAY_THREADS)
            for _d, _s, fs in os.walk(os.path.join(res["write_dirs"], f"bench_writes_{i}"))
            for f in fs
        )
    if ctx.workload == "stream_events":
        out["gen.lag_ms"] = res["gen_lag_p90_ms"]
        sinks = {j: [s["end"] - s["start"] for s in sp if s["name"] == f"streaming.sink.{j}"]
                 for j in ("agg", "dedup")}
        for job, prog in res["progress"].items():
            out.update(stream_layer(job, prog, sinks.get(job, []), res))
    if "scale_batch" in res:
        out["scale.batch_1core_ratio"] = res["scale_batch"]
    if "scale_catchup" in res:
        out["scale.catchup_1core_ratio"] = res["scale_catchup"]
    out["run.steal_share"] = ctx.steal
    out["run.loadavg_1m"] = ctx.load
    out["run.valid"] = 1.0 if res.get("valid", True) else 0.0
    return out


def stream_layer(job: str, prog: list, sinks: list, res: dict) -> dict:
    prog = [p for p in prog if p["started"] <= res["t_end"]]  # not the one-core round

    def mean_dur(key):
        v = [p["durations"].get(key, 0) for p in prog]
        return sum(v) / len(v) if v else 0.0

    state = [s for p in prog for s in p["state"][:1]]
    last = state[-1] if state else {}
    out = {
        "batches": len(prog),
        "trigger_ms": mean_dur("triggerExecution"),
        "add_batch_ms": mean_dur("addBatch"),
        "latest_offset_ms": mean_dur("latestOffset"),
        "wal_commit_ms": mean_dur("walCommit"),
        "commit_offsets_ms": mean_dur("commitOffsets"),
        "query_planning_ms": mean_dur("queryPlanning"),
        "state_commit_ms": (
            sum(s["commit_ms"] for s in state) / len(state) if state else 0.0
        ),
        "state_rows": last.get("rows", 0),
        "state_mb": last.get("mem", 0) / 1024**2,
        "late_rows_dropped": sum(s["dropped"] for s in state),
        "sink_ms": 1000 * sum(sinks) / len(sinks) if sinks else 0.0,
        "backlog_events": res["backlog_at_end"],
    }
    return {f"streaming.{k}.{job}": v for k, v in out.items()}


# -- output ---------------------------------------------------------------------


def emit(ctx, res: dict) -> dict:
    lat = res["latencies_ms"]
    mem = mem_figures(res, res["t_ready"], res["t_end"])
    e2e = {
        "setup_s": res["setup_s"],
        "mem_mb": mem["used"],
        "op_p50_ms": percentile(lat, 0.5),
        "op_p90_ms": percentile(lat, 0.9),
        "op_geomean_ms": geomean(lat),
        "ops_per_s": res["ops_per_s"],
    }
    # Sample counts are independent samples: queries, emitting stream
    # batches, statements; catch-up rounds and passes for the rates.
    samples = {"op_p50_ms": res["samples"], "op_p90_ms": res["samples"],
               "op_geomean_ms": res["samples"], "ops_per_s": res["ops_samples"],
               "mem_mb": mem["n"]}
    res["detail"] += [
        ("mem_jvm_held_mb", mem["jvm_held"], "MB", mem["n"]),
        ("mem_python_pss_mb", mem["python_pss"], "MB", mem["n"]),
        ("mem_peak_mb", mem["peak"], "MB", mem["n"]),
    ]
    print(f"# workload={ctx.workload} seed={ctx.seed} seconds={ctx.seconds:g} trace={ctx.trace}")
    for name, unit in END_TO_END:
        n = samples.get(name, 1)
        print(f"{name:28s} {e2e[name]:14.4f} {unit:6s} n={n:<6d} max_pct={supported_pct(n)}")
    for name, value, unit, n in res["detail"]:
        print(f"{name:28s} {value:14.4f} {unit:6s} n={n:<6d} max_pct={supported_pct(n)}")
    failed_share = res["failed"] / max(1, res["attempted"])
    print(f"{'failed_share':28s} {failed_share:14.4f} {'share':6s} n={res['attempted']}")
    print(f"{'run.steal_share':28s} {ctx.steal:14.4f} {'share':6s}")
    print(f"{'run.loadavg_1m':28s} {ctx.load:14.4f}")
    print(f"{'run.valid':28s} {str(res.get('valid', True)).lower():>14s}")
    for p in res["problems"][:20]:
        print(f"# FAILED: {p}")
    if ctx.trace:
        layers = layer_metrics(ctx, res)
        for name, (unit, moves, shows, flat) in LAYERS.items():
            value = f"{layers[name]:14.4f}" if name in layers else f"{'n/a':>14s}"
            print(f"{name:34s} {value} {unit:6s} moves={moves} shows_on={shows} flat_on={flat}")
        # The result object carries every per-layer metric; one this
        # workload does not measure reads 0 there and n/a above.
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u[0]} for k, u in LAYERS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="engine benchmark: batch, stream and gateway workloads")
    p.add_argument("--workload", choices=sorted(RUNNERS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "apache_flink_spark")):
        print("run from the root of a checkout that holds apache_flink_spark/", file=sys.stderr)
        return 2
    ctx = types.SimpleNamespace()
    ctx.root, ctx.workload, ctx.seed = root, args.workload, args.seed
    ctx.seconds, ctx.trace = args.seconds, args.trace
    base = os.path.join(root, ".perfbench")
    ctx.cache, ctx.data = prepare(args.workload, args.seed, args.seconds, os.path.join(base, "cache"))
    ctx.work = os.path.join(base, "work", args.workload)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    ctx.deadline = time.time() + RUN_TIMEOUT_S
    cpu0, ctx.load = cpu_times(), loadavg()
    try:
        res = RUNNERS[args.workload](ctx)
    except BenchError as ex:
        print(f"benchmark run failed: {ex}", file=sys.stderr)
        return 1
    ctx.steal = steal_share(cpu0, cpu_times())
    ctx.load = max(ctx.load, loadavg())
    out = emit(ctx, res)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
