"""Seeded input generators for the benchmark, and the open-loop event feeder.

Everything the engine sees is made here from ``--seed``:

* a star schema with the fixture's tables, column types and value domains
  (unique ``*key`` columns, the same categorical domains and ranges), at a
  size given as a multiple of the sf0.01 fixture;
* an event stream with Zipf-skewed keys and a seeded share of out-of-order
  and duplicated events;
* one statement script per gateway client thread.

Generation is cached per seed under the checkout's ``.perfbench/cache`` and
is not part of any timed phase.

``python3 perfbench/gen.py feed ...`` is the stream generator process: it
appends JSON event files to a landing directory on a fixed schedule that
does not wait for the engine (open loop), stamping each event with the time
its file was due.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

# Row counts of the sf0.01 fixture; a data set of scale k has k times these.
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US_PER_DAY = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
ORDER_DAYS = 2404  # through 2001-08-01
EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
EVENTS_SPAN_US = 30 * US_PER_DAY

# Stream event time is synthetic (independent of the wall clock), so
# watermarks and windows are the same on every run of a seed.
STREAM_EPOCH_MS = 1_767_225_600_000  # 2026-01-01
BACKLOG_OFFSET_MS = 600_000  # backlog event time starts 10 minutes later
WARM_EPOCH_MS = STREAM_EPOCH_MS - 60_000  # warm-up events come a minute before

# Workload parameters, read by run.py, engine.py and client.py alike.
BATCH_SCALE = 2.0  # the sf0.01 fixture times two: 120k lineitem rows
GATEWAY_SCALE = 1.0
# Events per second in phase 1. A batch of either job costs 1.5-2.5 s
# whatever its size; at this rate it ends well within the 3 s trigger, where
# at 400/s some batches overran it and the latency followed the overruns.
STREAM_RATE = 200
STREAM_INTERVAL_MS = 250  # the feeder drops one file per interval
# The first 3 s of phase 1, one trigger interval, are warm-up: the first
# phase-1 batch of each job, often slower after the idle wait since the
# warm-up, then reads only these files, and each measured batch reads a
# whole interval of files.
STREAM_WARM_S = 3.0
STREAM_USERS = 20000
OOO_SHARE = 0.05  # events whose event time is up to MAX_SHIFT_MS early
DUP_SHARE = 0.02  # events sent again up to MAX_SHIFT_MS later
MAX_SHIFT_MS = 1500
ZIPF_A = 1.3
BACKLOG_ROUNDS = 4  # catch-up is measured this many times per run
# Events per catch-up round. A round of 40k took 1.4-2 s, nearly all of it
# the fixed cost of a batch, and its rate spread by a quarter between runs;
# at 160k a round takes 2-2.8 s, still within one trigger interval, and the
# events themselves are a larger share of it.
BACKLOG_EVENTS = 160000
BACKLOG_FILES = 5  # files per catch-up round, one second of event time each
GATEWAY_THREADS = 3  # client threads, each with its own gateway session
GATEWAY_SCRIPT_LEN = 2000  # statements per thread script, more than a run uses


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, scale: float) -> dict:
    """The fixture star schema plus ``events``, as pyarrow tables."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    n_users = max(1, int(150 * scale))

    def pick(values, size):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]

    def names(prefix, keys):
        return [f"{prefix}#{k:09d}" for k in keys.tolist()]

    ts_us = pa.timestamp("us")
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": names("Customer", ck),
            "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
            "c_mktsegment": pick(SEGMENTS, len(ck)),
        }
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": names("Supplier", sk),
            "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    adj, noun = pick(PART_ADJ, len(pk)), pick(PART_NOUN, len(pk))
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk)).tolist()],
            "p_type": pick(PART_TYPES, len(pk)),
            "p_size": pa.array(rng.integers(1, 31, len(pk)), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    odate = ORDER_EPOCH_US + rng.integers(0, ORDER_DAYS, len(ok)) * US_PER_DAY
    t["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n["customer"], len(ok)),
            "o_orderstatus": pick(["F", "O", "P"], len(ok)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(ok)),
            "o_orderdate": pa.array(odate, ts_us),
            "o_orderpriority": pick(PRIORITIES, len(ok)),
        }
    )
    nl = n["lineitem"]
    sdate = ORDER_EPOCH_US + rng.integers(0, ORDER_DAYS + 95, nl) * US_PER_DAY
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl),
            "l_partkey": rng.integers(0, n["part"], nl),
            "l_suppkey": rng.integers(0, n["supplier"], nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": pa.array(sdate, ts_us),
        }
    )
    ne = n["events"]
    ets = np.sort(EVENTS_EPOCH_US + rng.integers(0, EVENTS_SPAN_US, ne))
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ets, ts_us),
            "user_id": rng.integers(0, n_users, ne),
            "event_type": pick(EVENT_TYPES, ne),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()],
        }
    )
    return t


def write_star(path: str, seed: int, scale: float) -> str:
    """Write the star schema as one parquet file per table (cached)."""
    import pyarrow.parquet as pq

    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    for name, table in star_tables(seed, scale).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    open(done, "w").close()
    return path


def event_stream(
    seed: int, rate: int, seconds: float, interval_ms: int, first_id: int = 0
) -> dict:
    """Events grouped into files due every ``interval_ms``.

    Returns parallel arrays; ``fidx`` is the index of the file an event is
    delivered in and ``ts_ms`` its event time relative to the stream start.
    Out-of-order events carry an event time up to ``MAX_SHIFT_MS`` before
    their file's due time; duplicates re-send an earlier event (same id and
    event time) up to ``MAX_SHIFT_MS`` later. Both shifts stay inside the
    engine's watermark delay, so no event is late and every result has an
    exact oracle.
    """
    rng = np.random.default_rng([seed, 2, first_id])
    per_file = max(1, round(rate * interval_ms / 1000))
    n_files = max(1, int(seconds * 1000 / interval_ms))
    n = per_file * n_files
    file = np.repeat(np.arange(n_files, dtype=np.int64), per_file)
    ts = file * interval_ms - rng.integers(0, interval_ms, n)
    late = rng.random(n) < OOO_SHARE
    ts[late] -= rng.integers(0, MAX_SHIFT_MS - interval_ms, int(late.sum()))
    ts = np.maximum(ts, 0)
    # Zipf ranks folded onto the key space; rank 1 is the hottest user.
    users = (rng.zipf(ZIPF_A, n) - 1) % STREAM_USERS
    ev = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": users.astype(np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "ts_ms": ts.astype(np.int64),
        "fidx": file,
    }
    # Only in-order events are re-sent: a late copy of an out-of-order
    # event could fall behind the watermark.
    dup = np.flatnonzero((rng.random(n) < DUP_SHARE) & ~late)
    shift = rng.integers(1, max(2, MAX_SHIFT_MS // interval_ms), len(dup))
    dup_file = np.minimum(file[dup] + shift, n_files - 1)
    out = {k: np.concatenate([v, v[dup]]) for k, v in ev.items()}
    out["fidx"][n:] = dup_file
    order = np.argsort(out["fidx"], kind="stable")
    return {k: v[order] for k, v in out.items()}


def events_json_lines(ev: dict, idx: np.ndarray, epoch_ms: int, created_ms: int) -> str:
    # Formatted directly rather than through json.dumps, which cost most of
    # the input generation time; the text is the same, a float written as
    # its repr.
    types = np.asarray(EVENT_TYPES)
    ts = ((epoch_ms + ev["ts_ms"][idx]) * 1_000_000).tolist()
    tail = f',"created_ms":{int(created_ms)}}}\n'
    return "".join(
        f'{{"event_id":{e},"user_id":{u},"event_type":"{t}","value":{v!r},"ts":{s}{tail}'
        for e, u, t, v, s in zip(
            ev["event_id"][idx].tolist(), ev["user_id"][idx].tolist(),
            types[ev["event_type"][idx]].tolist(), ev["value"][idx].tolist(), ts,
        )
    )


def save_stream(path: str, ev: dict) -> None:
    np.savez(path, **ev)


def load_stream(path: str) -> dict:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}


def write_files(ev: dict, landing: str, staging: str, epoch_ms: int, prefix: str) -> int:
    """Write every file of ``ev`` at once (warm-up files, the backlog). Their
    creation stamp is 0: no latency is measured on them. All files are
    written before the first is renamed in, so they land within
    microseconds and one batch reads them all (written and renamed one by
    one, the warm-up was split over two batches when a trigger fired
    mid-write)."""
    os.makedirs(landing, exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    bounds = np.flatnonzero(np.diff(ev["fidx"])) + 1
    names = []
    for k, idx in enumerate(np.split(np.arange(len(ev["fidx"])), bounds)):
        names.append(f"{prefix}-{k:05d}.json")
        with open(os.path.join(staging, names[-1]), "w") as f:
            f.write(events_json_lines(ev, idx, epoch_ms, 0))
    for name in names:
        os.rename(os.path.join(staging, name), os.path.join(landing, name))
    return len(ev["fidx"])


def _publish(text: str, landing: str, staging: str, name: str) -> None:
    # Write outside the watched directory, then rename in: the file source
    # never lists a half-written file.
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(landing, name))


def feed(args) -> None:
    """Open-loop feeder: file k is due at ``t0 + k * interval`` whatever the
    engine does; lateness against that schedule is logged per file."""
    ev = load_stream(args.events)
    os.makedirs(args.staging, exist_ok=True)
    bounds = np.flatnonzero(np.diff(ev["fidx"])) + 1
    groups = np.split(np.arange(len(ev["fidx"])), bounds)
    lag_ms = []
    for idx in groups:
        k = int(ev["fidx"][idx[0]])
        due = args.t0 + k * STREAM_INTERVAL_MS / 1000.0
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        text = events_json_lines(ev, idx, STREAM_EPOCH_MS, int(round(due * 1000)))
        _publish(text, args.landing, args.staging, f"ev-{k:06d}.json")
        lag_ms.append((time.time() - due) * 1000.0)
    with open(args.log, "w") as f:
        json.dump({"files": len(groups), "events": len(ev["fidx"]), "lag_ms": lag_ms}, f)


# One block of a gateway script: 3 writes and 17 reads (15% / 85%). Every
# block holds each statement kind in the same proportion, in a seeded order,
# so two seeds differ in keys and order but not in the mix.
SCRIPT_BLOCK = ["write"] * 3 + ["customer"] * 4 + ["orders"] * 4 + ["lineitem"] * 4 + [
    "tumble"
] * 3 + ["own"] * 2
ROWS_PER_WRITE = 3


def gateway_table_ddl(thread: int, writes_dir: str) -> str:
    """The filesystem table a gateway script thread writes to."""
    path = os.path.join(writes_dir, f"bench_writes_{thread}")
    return (
        f"CREATE TABLE bench_writes_{thread} (k BIGINT, v BIGINT, tag STRING) WITH ("
        f"'connector' = 'filesystem', 'path' = '{path}', 'format' = 'parquet')"
    )


def gateway_script(seed: int, thread: int, n_stmts: int = GATEWAY_SCRIPT_LEN):
    """A seeded statement script for one client thread.

    Each entry is ``(kind, gateway_sql, expected)``. For a ``read`` of the
    fixture tables ``expected`` is the equivalent DuckDB query; a ``write``
    appends rows to the thread's own filesystem table and carries the keys
    it inserts; a ``read_own`` of that table is checked against the row
    count and key sum of the writes that ran before it.
    """
    rng = np.random.default_rng([seed, 3, thread])
    n_cust = int(BASE_ROWS["customer"] * GATEWAY_SCALE)
    n_ord = int(BASE_ROWS["orders"] * GATEWAY_SCALE)
    n_users = max(1, int(150 * GATEWAY_SCALE))
    table = f"bench_writes_{thread}"
    out = []
    next_key = thread * 1_000_000
    while len(out) < n_stmts:
        for kind in rng.permutation(SCRIPT_BLOCK):
            if kind == "write":
                keys = list(range(next_key, next_key + ROWS_PER_WRITE))
                next_key += len(keys)
                rows = [f"({k}, {int(rng.integers(0, 1000))}, '{thread}')" for k in keys]
                out.append(("write", f"INSERT INTO {table} VALUES {', '.join(rows)}", keys))
            elif kind == "customer":
                k = int(rng.integers(0, n_cust))
                q = f"SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}"
                out.append(("read", q, q))
            elif kind == "orders":
                k = int(rng.integers(0, n_cust))
                q = (
                    "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS mx "
                    f"FROM orders WHERE o_custkey = {k} GROUP BY o_orderpriority"
                )
                out.append(("read", q, q))
            elif kind == "lineitem":
                k = int(rng.integers(0, n_ord))
                q = (
                    "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty "
                    f"FROM lineitem WHERE l_orderkey = {k} GROUP BY l_returnflag"
                )
                out.append(("read", q, q))
            elif kind == "tumble":
                u = int(rng.integers(0, n_users))
                q = (
                    "SELECT window_start, count(*) AS n FROM TABLE(TUMBLE(TABLE events, "
                    f"DESCRIPTOR(ts), INTERVAL '1' DAY)) WHERE user_id = {u} "
                    "GROUP BY window_start, window_end"
                )
                d = (
                    "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, "
                    f"count(*) AS n FROM events WHERE user_id = {u} GROUP BY 1"
                )
                out.append(("read", q, d))
            else:
                out.append(("read_own", f"SELECT count(*) AS n, sum(k) AS s FROM {table}", None))
    return out[:n_stmts]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("feed", help="run the open-loop event feeder")
    f.add_argument("--events", required=True)
    f.add_argument("--landing", required=True)
    f.add_argument("--staging", required=True)
    f.add_argument("--t0", type=float, required=True)
    f.add_argument("--log", required=True)
    args = p.parse_args(argv)
    if args.cmd == "feed":
        feed(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
