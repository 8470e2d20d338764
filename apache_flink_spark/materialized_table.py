"""Materialized tables: FRESHNESS-driven auto-refreshed query results.

Reference parity: the Flink 2.0 materialized-table surface —
``CREATE MATERIALIZED TABLE … FRESHNESS = INTERVAL … [REFRESH_MODE = …] AS
<query>`` (`flink-sql-parser/.../ddl/SqlCreateMaterializedTable.java`),
``ALTER MATERIALIZED TABLE … SUSPEND | RESUME | REFRESH [PARTITION (…)]
| SET REFRESH_MODE = …`` (`SqlAlterMaterializedTable*.java`), the catalog
model (`flink-table-common/.../catalog/CatalogMaterializedTable.java`:
refresh modes CONTINUOUS/FULL, status ACTIVATED/SUSPENDED), and the
gateway's `refreshMaterializedTable` operation
(`SqlGatewayService.java:342`, `MaterializedTableManager.java`).

Spark-first mapping:

- A materialized table is a **parquet snapshot directory + a temp view**
  over the current snapshot. Refresh writes snapshot N+1, atomically
  repoints the view, and reclaims snapshot N−1 — the immediately previous
  snapshot survives one generation so concurrent readers (the gateway
  pages results on other threads) finish their scans; readers never
  observe a half-written table, the same contract as the reference's
  two-phase refresh job.
- **FULL refresh** recomputes the defining query — Spark's distributed
  write IS the refresh job (reference: a batch Flink job per refresh).
- **CONTINUOUS mode** refreshes **incrementally**: when the defining
  query's sources are registered via :meth:`register_stream_source`,
  each tick runs a checkpointed Structured-Streaming pass (file-source
  offsets) that processes ONLY data that arrived since the last tick —
  append sink for stateless queries, complete-mode snapshot swap for
  aggregates (Spark's incremental agg state does the delta work). This
  is the reference's background streaming job driven tick-wise at the
  freshness cadence. Remaining divergence, documented: queries whose
  sources are NOT registered fall back to freshness-period full
  re-materialization — same data-freshness SLA (contents lag ≤
  FRESHNESS), no incrementality.
- **PARTITION refresh** (`ALTER … REFRESH PARTITION (k = 'v')`) rewrites
  only the targeted partition via dynamic partition overwrite — Spark's
  native partition-scoped write, mirroring the reference's
  ``staticPartitions`` refresh.
- The **scheduler** is a deterministic ``tick(now)`` (tests drive time
  explicitly); ``start_scheduler`` wraps it in a daemon thread for
  long-lived processes.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Optional

__all__ = ["MaterializedTableManager", "MaterializedTableError"]


class MaterializedTableError(ValueError):
    """Loud failure for unsupported/invalid materialized-table DDL."""


_INTERVAL_US = {
    "SECOND": 1_000_000,
    "MINUTE": 60 * 1_000_000,
    "HOUR": 3600 * 1_000_000,
    "DAY": 86400 * 1_000_000,
}

_CREATE_RE = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+TABLE\s+(?P<name>[A-Za-z_][\w.]*)\s*"
    r"(?:PARTITIONED\s+BY\s*\((?P<parts>[^)]*)\)\s*)?"
    r"FRESHNESS\s*=\s*INTERVAL\s*'(?P<n>\d+)'\s*(?P<unit>SECOND|MINUTE|HOUR|DAY)S?\s*"
    r"(?:REFRESH_MODE\s*=\s*(?P<mode>FULL|CONTINUOUS)\s*)?"
    r"AS\s+(?P<query>.+)$",
    re.IGNORECASE | re.DOTALL,
)

_ALTER_RE = re.compile(
    r"^\s*ALTER\s+MATERIALIZED\s+TABLE\s+(?P<name>[A-Za-z_][\w.]*)\s+"
    r"(?P<verb>SUSPEND|RESUME"
    r"|REFRESH(?:\s+PARTITION\s*\((?P<spec>[^)]*)\))?"
    r"|SET\s+REFRESH_MODE\s*=\s*(?P<newmode>FULL|CONTINUOUS))\s*$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_RE = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+TABLE\s+(?P<name>[A-Za-z_][\w.]*)\s*$",
    re.IGNORECASE,
)

_TIME_TRAVEL_RE = re.compile(
    r"\bFROM\s+(?P<name>[A-Za-z_][\w.]*)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+"
    r"TIMESTAMP\s+'(?P<ts>[^']+)'",
    re.I,
)


@dataclass
class _MTable:
    name: str
    query: str
    freshness_us: int
    refresh_mode: str  # FULL | CONTINUOUS
    partition_cols: list[str]
    root: str
    status: str = "ACTIVATED"  # | SUSPENDED (reference RefreshStatus)
    snapshot: int = -1
    last_refresh_mono: float = field(default=-1.0)
    # CONTINUOUS internals: "append" | "complete" once probed, None before
    # the first incremental tick, "fallback" when no stream source applies.
    continuous_sink: Optional[str] = None
    #: snapshot id -> wall-clock epoch seconds it became current (FLIP-308
    #: time travel resolves against these; trimmed with dir reclaim)
    snapshot_times: dict = field(default_factory=dict)

    @property
    def current_path(self) -> str:
        return f"{self.root}/snapshot-{self.snapshot}"

    @property
    def ckpt_path(self) -> str:
        return f"{self.root}/ckpt"


class MaterializedTableManager:
    """Owns every materialized table of one TableEnvironment session."""

    def __init__(self, tenv, storage_root: Optional[str] = None):
        self.tenv = tenv
        self.root = storage_root or tempfile.mkdtemp(prefix="graft_mt_")
        self.tables: dict[str, _MTable] = {}
        self._lock = threading.RLock()
        self._scheduler: Optional[threading.Thread] = None
        self._stop = threading.Event()
        # view name -> parquet dir, for CONTINUOUS incremental refresh
        self._stream_sources: dict[str, str] = {}

    def register_stream_source(self, view_name: str, path: str) -> None:
        """Declare that ``view_name`` (as referenced in defining queries)
        is backed by the parquet directory ``path`` — the hook that lets
        CONTINUOUS tables refresh INCREMENTALLY via a checkpointed file
        stream instead of full re-materialization."""
        self._stream_sources[view_name] = path

    # -- DDL entry point ---------------------------------------------------
    def execute(self, sql: str):
        """Route one MATERIALIZED TABLE statement; returns a result
        DataFrame (single OK/count row, like the reference's TableResult)."""
        spark = self.tenv.spark
        m = _CREATE_RE.match(sql)
        if m:
            self.create(
                m.group("name"),
                m.group("query").rstrip().rstrip(";"),
                freshness_us=int(m.group("n")) * _INTERVAL_US[
                    m.group("unit").upper()
                ],
                refresh_mode=(m.group("mode") or "").upper() or None,
                partition_cols=[
                    c.strip()
                    for c in (m.group("parts") or "").split(",")
                    if c.strip()
                ],
            )
            return spark.sql("SELECT 'OK' AS result")
        m = _ALTER_RE.match(sql)
        if m:
            name, verb = m.group("name"), m.group("verb").upper()
            if verb == "SUSPEND":
                self.suspend(name)
            elif verb == "RESUME":
                self.resume(name)
            elif verb.startswith("SET"):
                self.set_refresh_mode(name, m.group("newmode").upper())
            else:  # REFRESH [PARTITION (...)]
                parts = self._parse_partition_spec(m.group("spec"))
                n = self.refresh(name, static_partitions=parts)
                return spark.createDataFrame(
                    [(n,)], "rows_refreshed bigint"
                )
            return spark.sql("SELECT 'OK' AS result")
        m = _DROP_RE.match(sql)
        if m:
            self.drop(m.group("name"))
            return spark.sql("SELECT 'OK' AS result")
        raise MaterializedTableError(
            "unsupported MATERIALIZED TABLE statement (supported: CREATE "
            "… FRESHNESS = INTERVAL 'n' unit [REFRESH_MODE = FULL|"
            "CONTINUOUS] AS query; ALTER … SUSPEND|RESUME|REFRESH "
            f"[PARTITION (…)]|SET REFRESH_MODE = …; DROP): {sql.strip()[:80]!r}"
        )

    @staticmethod
    def _parse_partition_spec(spec: Optional[str]) -> Optional[dict]:
        if not spec:
            return None
        from apache_flink_spark.ddl import parse_kv_spec

        try:
            return parse_kv_spec(spec)
        except ValueError as e:
            raise MaterializedTableError(str(e)) from None

    # -- lifecycle ----------------------------------------------------------
    def create(
        self,
        name: str,
        query: str,
        freshness_us: int,
        refresh_mode: Optional[str] = None,
        partition_cols: Optional[list[str]] = None,
    ) -> None:
        with self._lock:
            if name in self.tables:
                raise MaterializedTableError(
                    f"materialized table {name} already exists"
                )
            if refresh_mode is None:
                # Reference MaterializedTableUtils: freshness below the
                # full-refresh threshold (30 min default) derives
                # CONTINUOUS, else FULL.
                refresh_mode = (
                    "CONTINUOUS" if freshness_us < 30 * 60 * 1_000_000
                    else "FULL"
                )
            t = _MTable(
                name=name,
                query=query,
                freshness_us=freshness_us,
                refresh_mode=refresh_mode,
                partition_cols=list(partition_cols or []),
                root=f"{self.root}/{name}-{uuid.uuid4().hex[:8]}",
            )
            self.tables[name] = t
        try:
            self.refresh(name)  # initial materialization, as the reference
        except Exception:
            with self._lock:
                self.tables.pop(name, None)
            raise

    def drop(self, name: str) -> None:
        t = self._get(name)
        with self._lock:
            self.tables.pop(name, None)
        self.tenv.spark.catalog.dropTempView(name)
        shutil.rmtree(t.root, ignore_errors=True)

    def suspend(self, name: str) -> None:
        self._get(name).status = "SUSPENDED"

    def resume(self, name: str) -> None:
        self._get(name).status = "ACTIVATED"

    def set_refresh_mode(self, name: str, mode: str) -> None:
        if mode not in ("FULL", "CONTINUOUS"):
            raise MaterializedTableError(f"bad refresh mode {mode}")
        self._get(name).refresh_mode = mode

    def describe(self, name: str) -> dict:
        t = self._get(name)
        return {
            "name": t.name,
            "refreshMode": t.refresh_mode,
            "status": t.status,
            "freshnessSeconds": t.freshness_us / 1e6,
            "partitionedBy": list(t.partition_cols),
            "snapshot": t.snapshot,
        }

    # -- refresh ------------------------------------------------------------
    def refresh(
        self, name: str, static_partitions: Optional[dict] = None
    ) -> int:
        """Re-materialize ``name``. FULL mode (and partition refresh)
        recomputes; CONTINUOUS mode refreshes INCREMENTALLY — a
        checkpointed file stream over the registered sources processes
        only data that arrived since the last tick (the reference's
        background streaming job, driven tick-wise). Returns row count."""
        t = self._get(name)
        if (
            t.refresh_mode == "CONTINUOUS"
            and not static_partitions
            and t.continuous_sink != "fallback"
        ):
            n = self._refresh_continuous(t)
            if n is not None:
                t.last_refresh_mono = time.monotonic()
                return n
            # no registered stream source covers the query: emulate with
            # freshness-cadence full re-materialization (documented
            # divergence — same freshness SLA)
            t.continuous_sink = "fallback"
        return self._refresh_full(t, static_partitions)

    def _refresh_full(
        self, t: _MTable, static_partitions: Optional[dict] = None
    ) -> int:
        spark = self.tenv.spark
        name = t.name
        df = self.tenv.sql(t.query)
        if static_partitions:
            missing = [
                k for k in static_partitions if k not in t.partition_cols
            ]
            if missing:
                raise MaterializedTableError(
                    f"PARTITION keys {missing} are not in PARTITIONED BY "
                    f"{t.partition_cols}"
                )
            if t.snapshot < 0:
                raise MaterializedTableError(
                    f"{name} has no snapshot to partition-refresh"
                )
            for k, v in static_partitions.items():
                df = df.filter(df[k].cast("string") == v)
            # Partition-scoped rewrite INTO the live snapshot: dynamic
            # partition overwrite replaces exactly the partitions present
            # in df, leaving every other partition untouched.
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*t.partition_cols)
                .parquet(t.current_path)
            )
            # Dynamic overwrite replaced files in place: invalidate the
            # cached listing AND re-capture the view's file index (a temp
            # view pins the listing it was created with).
            spark.catalog.refreshByPath(t.current_path)
            spark.read.parquet(t.current_path).createOrReplaceTempView(
                t.name
            )
            n = df.count()
        else:
            nxt = t.snapshot + 1
            path = f"{t.root}/snapshot-{nxt}"
            w = df.write.mode("overwrite")
            if t.partition_cols:
                w = w.partitionBy(*t.partition_cols)
            w.parquet(path)
            t.snapshot = nxt
            t.snapshot_times[nxt] = time.time()
            # repoint the view atomically; the PREVIOUS snapshot stays one
            # generation for in-flight readers (the gateway pages results
            # concurrently) — only N-2 is reclaimed (review r6 finding #6)
            spark.read.parquet(path).createOrReplaceTempView(t.name)
            shutil.rmtree(f"{t.root}/snapshot-{nxt - 2}", ignore_errors=True)
            t.snapshot_times.pop(nxt - 2, None)
            n = spark.table(t.name).count()
        t.last_refresh_mono = time.monotonic()
        return n

    def rewrite_time_travel(self, sql: str) -> str:
        """FLIP-308 time travel: ``FROM mt FOR SYSTEM_TIME AS OF TIMESTAMP
        '...'`` on a materialized table reads the generation that was
        current at that instant (:meth:`resolve_as_of`). Other names are
        left for the temporal-join rewrite."""
        from datetime import datetime

        out, pos, n = [], 0, 0
        for m in _TIME_TRAVEL_RE.finditer(sql):
            name = m.group("name")
            if name not in self.tables:
                continue
            epoch = datetime.fromisoformat(m.group("ts")).timestamp()
            path = self.resolve_as_of(name, epoch)
            out.append(sql[pos: m.start()])
            if path == self.tables[name].current_path:
                # the current generation IS the live view (and for an
                # append-mode table its dir may not have materialized yet)
                out.append(f"FROM {name}")
            else:
                n += 1
                view = f"__tt_{name.replace('.', '_')}_{n}"
                self.tenv.spark.read.parquet(path).createOrReplaceTempView(view)
                out.append(f"FROM {view}")
            pos = m.end()
        out.append(sql[pos:])
        return "".join(out)

    def resolve_as_of(self, name: str, epoch_s: float) -> str:
        """FLIP-308 time travel: the snapshot directory that was current
        at ``epoch_s``. Only RETAINED generations resolve (current and
        one-generation grace, like any lake format after snapshot
        expiry) — an expired or pre-creation timestamp errors loudly,
        matching the reference's SupportsTimeTravel contract."""
        t = self._get(name)
        # the CURRENT generation is always retained even when its directory
        # has not materialized yet (append-mode sink before the first data
        # write) — the caller reads the live view for it (r6 review)
        live = {
            s: ts for s, ts in t.snapshot_times.items()
            if s == t.snapshot or os.path.isdir(f"{t.root}/snapshot-{s}")
        }
        eligible = [s for s, ts in live.items() if ts <= epoch_s]
        if not eligible:
            raise MaterializedTableError(
                f"no retained snapshot of {name!r} existed at "
                f"{epoch_s} — retained generations: "
                f"{sorted((s, round(ts, 3)) for s, ts in live.items())}"
            )
        return f"{t.root}/snapshot-{max(eligible)}"

    # -- CONTINUOUS: incremental checkpointed refresh ------------------------
    def _refresh_continuous(self, t: _MTable) -> Optional[int]:
        """One incremental tick: stream the registered sources through the
        defining query with a per-table checkpoint, so each tick reads
        ONLY files that appeared since the previous one (file-source
        offsets). Returns the table's row count, or None when the query
        is not coverable (caller falls back to full-refresh emulation).

        Sink shapes, probed once and cached on the table:
        - ``append``: stateless project/filter — new rows append into the
          live snapshot (no rewrite, no state);
        - ``complete``: aggregation — Spark's incremental agg state
          produces the full result per tick; it lands in a pending dir
          and swaps in as snapshot N+1 (atomic repoint, same contract as
          FULL). State is bounded by the group-key cardinality.
        """
        import os

        refs = [
            v for v in self._stream_sources
            if re.search(rf"\b{re.escape(v)}\b", t.query, re.IGNORECASE)
        ]
        if not refs:
            return None
        main = self.tenv.spark
        child = main.newSession()
        try:
            for v in refs:
                src = self._stream_sources[v]
                schema = main.read.parquet(src).schema
                child.readStream.schema(schema).parquet(
                    src
                ).createOrReplaceTempView(v)
            sdf = child.sql(t.query)
        except Exception:
            return None  # unresolvable in the child session -> fallback
        if not sdf.isStreaming:
            return None

        if t.continuous_sink is None:
            # first tick: any prior snapshot/checkpoint predates the
            # stream's offset-0 replay — start storage clean so append
            # mode cannot double-count
            shutil.rmtree(t.ckpt_path, ignore_errors=True)
            if t.snapshot >= 0:
                old = t.current_path
                t.snapshot = -1
                shutil.rmtree(old, ignore_errors=True)
                # pre-reset generation timestamps must not resolve to the
                # post-reset snapshots that reuse their numbers (r6 review)
                t.snapshot_times.clear()

        modes = (
            [t.continuous_sink]
            if t.continuous_sink in ("append", "complete")
            else ["append", "complete"]
        )
        pending = f"{t.root}/pending"
        for mode in modes:
            parts = list(t.partition_cols)
            if mode == "append" and t.snapshot < 0:
                # the snapshot dir materializes on the first data write
                # (an empty PARTITIONED write leaves no schema on disk);
                # until then the view is an empty in-memory frame
                t.snapshot = 0
                # append mode keeps ONE generation that grows in place:
                # record its birth so FLIP-308 time travel resolves any
                # later timestamp to it instead of erroring (r6 review)
                t.snapshot_times[0] = time.time()
                main.createDataFrame([], sdf.schema).createOrReplaceTempView(
                    t.name
                )

            # PARTITIONED BY tables keep the k=v layout in EVERY snapshot
            # writer — a later ALTER … REFRESH PARTITION dynamic-overwrites
            # into this same directory and a mixed flat/partitioned layout
            # breaks partition discovery (review r6 finding #5).
            if mode == "append":
                def sink(batch, _bid, path=t.current_path, p=parts):
                    w = batch.write.mode("append")
                    if p:
                        w = w.partitionBy(*p)
                    w.parquet(path)
            else:
                shutil.rmtree(pending, ignore_errors=True)

                def sink(batch, _bid, path=pending, p=parts):
                    w = batch.write.mode("overwrite")
                    if p:
                        w = w.partitionBy(*p)
                    w.parquet(path)

            try:
                (
                    sdf.writeStream.outputMode(
                        "append" if mode == "append" else "complete"
                    )
                    .foreachBatch(sink)
                    .option("checkpointLocation", t.ckpt_path)
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )
                t.continuous_sink = mode
                break
            except Exception:
                # append-mode probe on an aggregate raises at planning,
                # before any batch commits — safe to retry as complete
                if mode == modes[-1]:
                    raise
        if t.continuous_sink == "append":
            import glob as _glob

            main.catalog.refreshByPath(t.current_path)
            if _glob.glob(f"{t.current_path}/**/*.parquet", recursive=True):
                # explicit schema: partitioned layouts must keep the
                # defining query's column types, not inference from k=v
                # directory names
                main.read.schema(sdf.schema).parquet(
                    t.current_path
                ).createOrReplaceTempView(t.name)
            else:
                main.createDataFrame([], sdf.schema).createOrReplaceTempView(
                    t.name
                )
        else:  # complete: swap the pending result in as snapshot N+1
            if os.path.isdir(pending):
                nxt = t.snapshot + 1
                path = f"{t.root}/snapshot-{nxt}"
                shutil.move(pending, path)
                t.snapshot = nxt
                t.snapshot_times[nxt] = time.time()
                main.read.parquet(path).createOrReplaceTempView(t.name)
                # one-generation grace for concurrent readers (see
                # _refresh_full)
                shutil.rmtree(
                    f"{t.root}/snapshot-{nxt - 2}", ignore_errors=True
                )
                t.snapshot_times.pop(nxt - 2, None)
            elif t.snapshot < 0:
                # zero input data ever: an empty table is still a table
                t.snapshot = 0
                t.snapshot_times[0] = time.time()
                main.createDataFrame([], sdf.schema).write.mode(
                    "overwrite"
                ).parquet(t.current_path)
                main.read.parquet(t.current_path).createOrReplaceTempView(
                    t.name
                )
        return main.table(t.name).count()

    # -- freshness scheduling -------------------------------------------------
    def due(self, now: Optional[float] = None) -> list[str]:
        now = time.monotonic() if now is None else now
        with self._lock:
            return [
                t.name
                for t in self.tables.values()
                if t.status == "ACTIVATED"
                and now - t.last_refresh_mono >= t.freshness_us / 1e6
            ]

    def tick(self, now: Optional[float] = None) -> list[str]:
        """One scheduler pass: refresh every due ACTIVATED table. Returns
        the names refreshed (deterministic, test-drivable)."""
        refreshed = []
        for name in self.due(now):
            self.refresh(name)
            refreshed.append(name)
        return refreshed

    def start_scheduler(self, period_s: float = 1.0) -> None:
        if self._scheduler is not None:
            return
        self._stop.clear()

        def loop():
            while not self._stop.wait(period_s):
                try:
                    self.tick()
                except Exception:
                    # a failing refresh must not kill the scheduler; the
                    # table stays stale and the next tick retries
                    pass

        self._scheduler = threading.Thread(
            target=loop, name="mt-scheduler", daemon=True
        )
        self._scheduler.start()

    def stop_scheduler(self) -> None:
        self._stop.set()
        if self._scheduler is not None:
            self._scheduler.join(timeout=5)
            self._scheduler = None

    # -- internals ---------------------------------------------------------
    def _get(self, name: str) -> _MTable:
        t = self.tables.get(name)
        if t is None:
            raise MaterializedTableError(
                f"unknown materialized table {name}"
            )
        return t
