"""Gateway client process for the ``gateway_mixed`` workload.

``gen.GATEWAY_THREADS`` threads, each with its own gateway session opened
over the DB-API REST transport (``dbapi.connect(url)``), run a seeded
statement script in a closed loop until the measured time is up. Each
thread writes only to its own filesystem table; see ``run.py`` for why.
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def _plain(v):
    """JSON-safe, engine-independent form of one result value."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _trace_transport(tracer: Tracer) -> None:
    """Spans around each REST call the DB-API transport makes (traced run
    only): statement submit, status polls and result-page fetches."""
    from apache_flink_spark import dbapi

    http = dbapi._RestTransport._http

    def traced(self, method, path, body=None):
        if method == "POST" and path.endswith("/statements"):
            name = "sql_gateway.submit"
        elif path.endswith("/status"):
            name = "sql_gateway.poll"
        elif "/result/" in path:
            name = "sql_gateway.fetch"
        else:
            name = "sql_gateway.other"
        with tracer.span(name):
            return http(self, method, path, body)

    dbapi._RestTransport._http = traced


def run_thread(i, args, tracer, start_barrier, out) -> None:
    from apache_flink_spark import dbapi

    script = gen.gateway_script(args.seed, i)
    table = f"bench_writes_{i}"
    records = []
    out[i] = records

    def execute(cur, kind, idx, sql, timed):
        t0 = time.time()
        rec = {"kind": kind, "idx": idx, "timed": timed, "start": t0}
        try:
            with tracer.span("dbapi.execute", request=f"t{i}:{idx}:{timed}"):
                cur.execute(sql)
                rows = cur.fetchall()
            rec["rows"] = [[_plain(v) for v in r] for r in rows]
        except Exception as ex:  # recorded and counted as failed
            rec["error"] = repr(ex)[:500]
        rec["end"] = time.time()
        records.append(rec)

    con = dbapi.connect(args.url)
    try:
        cur = con.cursor()
        # The engine has already run each statement shape once (its
        # warm-up), so the session only creates its own table.
        execute(cur, "ddl", -1, gen.gateway_table_ddl(i, os.path.join(args.work, "writes")), False)
        start_barrier.wait(timeout=120)
        deadline = args.t_start + args.seconds
        idx = 0
        while time.time() < deadline and idx < len(script):
            kind, sql, _d = script[idx]
            execute(cur, kind, idx, sql, True)
            idx += 1
        # Final state of the thread's write table.
        execute(cur, "final", idx, f"SELECT count(*) AS n, sum(k) AS s FROM {table}", False)
        records.append({"kind": "executed", "count": idx})
    finally:
        con.close()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--url-file", required=True, help="file the engine writes its URL to")
    p.add_argument("--work", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    from apache_flink_spark import dbapi  # noqa: F401 -- import before the engine is up

    deadline = time.time() + 150
    while not os.path.exists(args.url_file):
        if time.time() > deadline:
            raise SystemExit("no gateway URL from the engine")
        time.sleep(0.05)
    with open(args.url_file) as f:
        args.url = f.read().strip()
    tracer = Tracer(bool(args.trace), "client")
    if tracer.enabled:
        _trace_transport(tracer)
    signal = os.path.join(args.work, "signal")

    def started():
        args.t_start = time.time()
        open(signal + ".start", "w").close()

    barrier = threading.Barrier(gen.GATEWAY_THREADS, action=started)
    out: dict = {}
    threads = [
        threading.Thread(target=run_thread, args=(i, args, tracer, barrier, out))
        for i in range(gen.GATEWAY_THREADS)
    ]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        open(signal + ".done", "w").close()
    tracer.write(args.out + ".spans")
    with open(args.out, "w") as f:
        json.dump({"t_start": getattr(args, "t_start", None), "threads": out}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
