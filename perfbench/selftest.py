"""Self-test of the benchmark.

    python3 perfbench/selftest.py           # answer checks only (seconds)
    python3 perfbench/selftest.py --smoke   # plus a tiny run of every workload

The answer checks feed deliberately wrong answers to each workload's
checker and require that every one is counted as failed. The smoke run
shrinks the inputs, runs each workload traced for two seconds, and
requires every end-to-end metric in the printed lines and every per-layer
metric, with the units BENCHMARK.json declares, in the result object. Run
it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def check_wrong_batch_answer(tmp: str) -> None:
    data = gen.write_star(os.path.join(tmp, "star"), seed=7, scale=0.05)
    oracle = "SELECT r_name, count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    os.makedirs(os.path.join(tmp, "answers"), exist_ok=True)
    con = run.duck_con(data)
    right = con.execute(oracle).df()
    con.close()
    wrong = right.copy()
    wrong.loc[0, "n"] += 1
    res = {"oracles": {"right": oracle, "wrong": oracle, "missing": oracle}}
    right.to_parquet(os.path.join(tmp, "answers", "right.parquet"))
    wrong.to_parquet(os.path.join(tmp, "answers", "wrong.parquet"))
    problems = run.check_batch(res, data, tmp)
    assert len(problems) == 2, problems
    assert problems[0].startswith("wrong:") and problems[1].startswith("missing:"), problems


def check_wrong_stream_answer(tmp: str) -> None:
    cache = os.path.join(tmp, "stream")
    os.makedirs(cache, exist_ok=True)
    gen.save_stream(os.path.join(cache, "stream_warm.npz"),
                    gen.event_stream(2, 40, 0.5, 250, first_id=2 * 10**9))
    gen.save_stream(os.path.join(cache, "stream_phase1.npz"),
                    gen.event_stream(3, 40, 2.0, 250))
    gen.save_stream(os.path.join(cache, "stream_backlog.npz"),
                    gen.event_stream(4, 40, 1.0, 250, first_id=10**9))
    agg, users = run.stream_oracle_frames(cache, 1)
    first = users.drop_duplicates("user_id")
    good = {
        "agg": [{"batch": 0, "rows": [
            [r.win_start_ms, r.event_type, r.n_events, r.sum_value, 0]
            for r in agg.itertuples()]}],
        "dedup": [{"batch": 0, "rows": [[u, e, 0] for u, e in
                                         zip(first.user_id, first.event_id)]}],
    }
    attempted, problems = run.check_stream({"emitted": good, "backlog_rounds": 1}, cache)
    assert attempted == len(agg) + len(first) and not problems, problems

    bad = json.loads(json.dumps(good, default=int))
    bad["agg"][0]["rows"][0][2] += 1  # one window count off by one
    bad["dedup"][0]["rows"].append(bad["dedup"][0]["rows"][0])  # a user twice
    _, problems = run.check_stream({"emitted": bad, "backlog_rounds": 1}, cache)
    assert len(problems) == 2, problems


def check_wrong_gateway_answer(tmp: str) -> None:
    data = gen.write_star(os.path.join(tmp, "gw"), seed=5, scale=gen.GATEWAY_SCALE)
    script = gen.gateway_script(5, 0)
    con = run.duck_con(data)
    recs, n, s = [], 0, 0
    for idx, (kind, _sql, exp) in enumerate(script[:40]):
        if kind == "write":
            n, s = n + len(exp), s + sum(exp)
            rows = [["OK"]]
        elif kind == "read":
            rows = [list(r) for r in con.execute(exp).fetchall()]
        else:
            rows = [[n, s if n else None]]
        recs.append({"kind": kind, "idx": idx, "rows": rows})
    con.close()
    recs.append({"kind": "executed", "count": 40})
    attempted, failed, problems = run.check_gateway({"threads": {"0": recs}}, 5, data)
    assert attempted == 40 and failed == 0, problems

    reads = [r for r in recs if r["kind"] == "read" and r["rows"]]
    reads[0]["rows"][0][-1] = -1  # a wrong value
    recs.insert(0, {"kind": "read", "idx": 0, "error": "OperationalError()"})
    _, failed, problems = run.check_gateway({"threads": {"0": recs}}, 5, data)
    assert failed == 2, problems


# Per-layer metrics that a workload they are tagged with does not measure.
_PY_NODE = ("Spark publishes no Python worker metrics for the streaming "
            "applyInPandasWithState node")
NOT_MEASURED = {
    "stream_events": {
        "catalog.load_tables_s": "the stream reads a DDL table, not the catalog",
        "spark.python_total_s": _PY_NODE,
        "spark.python_boot_s": _PY_NODE,
        "spark.python_init_s": _PY_NODE,
        "spark.python_rows_out": _PY_NODE,
        "spark.python_mb_sent": _PY_NODE,
    },
}


def smoke(tmp: str) -> None:
    """Every workload at tiny size, traced: all metrics present, and every
    per-layer metric tagged with the workload (or all) measured there."""
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    gen.BATCH_SCALE, gen.STREAM_RATE, gen.BACKLOG_EVENTS = 0.2, 100, 1000
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = run.main(["--workload", w["name"], "--seed", "1", "--seconds", "2", "--trace", "1"])
        lines = buf.getvalue().splitlines()
        assert rc == 0, lines[-5:]
        out = json.loads(lines[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
        assert out["correct"] and out["failed"] == 0, lines
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == per_layer, set(got) ^ set(per_layer)
        printed = {ln.split()[0]: ln.split()[1] for ln in lines[:-1]
                   if ln and not ln.startswith("#")}
        missing = {m["name"] for m in bench["end_to_end"]} - set(printed)
        assert not missing, missing
        expected = {
            name for name, (_u, _m, shows, _f) in run.LAYERS.items()
            if shows in (w["name"], "all")
        } - set(NOT_MEASURED.get(w["name"], {}))
        unmeasured = {name for name in expected if printed.get(name, "n/a") == "n/a"}
        assert not unmeasured, unmeasured
        print(f"smoke {w['name']}: ok ({out['attempted']} operations checked)")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--smoke", action="store_true", help="also run every workload at tiny size")
    args = p.parse_args(argv)
    assert [n for n, _u in run.END_TO_END] == [
        m["name"] for m in json.load(open("BENCHMARK.json"))["end_to_end"]
    ], "run.END_TO_END and BENCHMARK.json disagree"
    base = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base, prefix="selftest-") as tmp:
        for check in (check_wrong_batch_answer, check_wrong_stream_answer,
                      check_wrong_gateway_answer):
            check(tmp)
            print(f"{check.__name__}: ok")
        if args.smoke:
            smoke(tmp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
