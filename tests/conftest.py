from __future__ import annotations

import os
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

# Test I/O on tmpfs (VERDICT r13 next-item #7). Honest caveat: an
# alternating A/B on this host read NEUTRAL (disk 63/76s vs shm 133/62s
# on the same heavy test — host variance dwarfs any I/O effect here,
# /tmp is page-cache-absorbed); kept because it removes the dependency
# on the verify host's disk speed at zero cost and isolates test
# artifacts from /tmp. Redirects ONLY the test process (pytest
# tmp_path, every tempfile.mkdtemp checkpoint, Spark scratch dirs);
# bench.py runs in its own process with the /tmp methodology the frozen
# baselines were recorded against.
if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
    _shm = os.path.join("/dev/shm", "afs_pytest")
    os.makedirs(_shm, exist_ok=True)
    os.environ.setdefault("TMPDIR", _shm)
    os.environ.setdefault("SPARK_LOCAL_DIRS", _shm)
    if os.environ["TMPDIR"] == _shm:
        tempfile.tempdir = _shm  # gettempdir() may already be cached

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Process-sharded full-suite runs (VERDICT r13 next-item #7).
#
# The full suite is ~49 min single-process on this host — past the driver's
# verify window (VERIFY_r13 tests_ok=false at 42% with zero failures). The
# cost is ~1900 independent Spark jobs whose per-job latency no config can
# remove, so the only honest 2x+ lever is running shards in parallel
# processes (what pytest-xdist would do; it is not installed in this
# sandbox). When a FULL-suite run is detected (>= 800 collected items) the
# parent partitions the collected tests, spawns one pytest subprocess per
# shard, streams their summaries, and exits with the combined exit code —
# every test still runs exactly once, failures fail the run, and -x
# fail-fast terminates the sibling shards.
#
# Isolation per shard: its own TMPDIR (=> every tempfile.mkdtemp checkpoint,
# io.roundtrip_dir staging area and pytest tmp_path is shard-private), its
# own spark.sql.warehouse.dir (SPARK_GRAFT_WAREHOUSE_DIR), and the
# derby-backed hive tests pinned to shard 0 (the metastore lock is cwd-wide).
# Set AFS_TEST_NO_SHARD=1 to force the single-process path; targeted runs
# (< 800 items) never shard.
# ---------------------------------------------------------------------------

_SHARD_ENV = "AFS_TEST_SHARD"

#: files that must share one process (cwd-wide derby metastore lock)
_HIVE_FILES = {"test_hive_catalog.py", "test_hive_protobuf.py"}

#: files whose tests are independent enough to split at ITEM level (the
#: suite's heaviest file would otherwise BE the critical path)
_ITEM_LEVEL_FILES = {"test_match_stream.py"}

#: measured per-file seconds from this round's full --durations run;
#: files not listed get 8s + 0.6s/item. Only used to BALANCE shards —
#: wrong weights cost minutes, never correctness.
_FILE_WEIGHTS = {
    "test_match_stream.py": 900, "test_cep_pattern.py": 280,
    "test_properties.py": 150, "test_materialized_table.py": 90,
    "test_key_groups.py": 60, "test_stateful_streaming.py": 55,
    "test_session_changelog.py": 40, "test_oracle.py": 45,
    "test_itcase_join.py": 35, "test_match_recognize.py": 40,
    "test_hive_catalog.py": 30, "test_bench_artifact.py": 26,
    "test_sql_gateway.py": 22, "test_hive_protobuf.py": 20,
    "test_event_time_timers.py": 18, "test_streaming.py": 25,
    "test_streaming_recovery.py": 20, "test_restore_compat.py": 20,
    "test_cep_property.py": 25, "test_avro_format.py": 15,
}


def _partition_items(items, n_shards):
    """Returns list[list[nodeid]] — hive files on shard 0, the item-level
    files round-robined, remaining files greedy-balanced by weight."""
    from collections import defaultdict

    by_file = defaultdict(list)
    for it in items:
        by_file[it.nodeid.split("::")[0]].append(it.nodeid)

    shards = [[] for _ in range(n_shards)]
    loads = [0.0] * n_shards

    def weight(fname, ids):
        return _FILE_WEIGHTS.get(fname, 8 + 0.6 * len(ids))

    # hive files -> shard 0
    for f in sorted(by_file):
        base = os.path.basename(f)
        if base in _HIVE_FILES:
            shards[0].extend(by_file[f])
            loads[0] += weight(base, by_file[f])
    # item-level files: round-robin by least-loaded shard per item chunk
    for f in sorted(by_file):
        base = os.path.basename(f)
        if base in _ITEM_LEVEL_FILES:
            ids = by_file[f]
            per = weight(base, ids) / max(1, len(ids))
            for nid in ids:
                k = loads.index(min(loads))
                shards[k].append(nid)
                loads[k] += per
    # remaining files: greedy longest-processing-time
    rest = [
        (weight(os.path.basename(f), ids), f, ids)
        for f, ids in by_file.items()
        if os.path.basename(f) not in _HIVE_FILES | _ITEM_LEVEL_FILES
    ]
    for w, _f, ids in sorted(rest, reverse=True):
        k = loads.index(min(loads))
        shards[k].extend(ids)
        loads[k] += w
    # Preserve the ORIGINAL collection order inside every shard: the
    # single-process suite runs files alphabetically, and some tests are
    # order-sensitive via session-global state (e.g. SHOW TABLES LIKE
    # seeing a later file's leftover temp views — observed when the
    # greedy pass reordered files). Same-shard relative order therefore
    # always equals the original order; cross-shard interference cannot
    # happen at all (separate processes).
    order = {it.nodeid: i for i, it in enumerate(items)}
    for s in shards:
        s.sort(key=order.__getitem__)
    return shards, loads


def pytest_collection_modifyitems(config, items):
    if os.environ.get(_SHARD_ENV) is not None:
        return  # shard worker: run exactly what it was given
    if os.environ.get("AFS_TEST_NO_SHARD"):
        return
    if len(items) < 800:
        return  # targeted run: stay in-process
    import subprocess
    import sys
    import time as _time

    n = max(2, int(os.environ.get("AFS_TEST_SHARDS", "4")))
    # -x / --exitfirst arrives as maxfail=1 in pytest 8
    _fail_fast = bool(config.getoption("maxfail", 0))
    shards, loads = _partition_items(items, n)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_tmp = os.path.join(
        os.environ.get("TMPDIR", tempfile.gettempdir()), "afs_shards"
    )
    procs = []
    t0 = _time.time()
    for i, ids in enumerate(shards):
        if not ids:
            continue
        shard_tmp = os.path.join(base_tmp, f"s{i}")
        os.makedirs(shard_tmp, exist_ok=True)
        env = dict(os.environ)
        env[_SHARD_ENV] = str(i)
        env["TMPDIR"] = shard_tmp
        env["SPARK_LOCAL_DIRS"] = shard_tmp
        env["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(shard_tmp, "warehouse")
        # n shard JVMs at the engine's 8g default heap outgrow a 16 GB
        # host (the kernel OOM-kills one, failing the rest of its shard);
        # the tests' tiny fixtures fit a 2g heap.
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        argv = [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider"]
        if _fail_fast:
            argv.append("-x")
        argv += ids
        log = open(os.path.join(base_tmp, f"shard{i}.log"), "w")
        procs.append((i, subprocess.Popen(
            argv, cwd=repo, env=env, stdout=log, stderr=subprocess.STDOUT,
        ), log, len(ids)))
        print(f"[shard {i}] {len(ids)} tests, est {loads[i]:.0f}s", flush=True)

    rc = 0
    pending = dict((i, p) for i, p, _l, _n in procs)
    while pending:
        for i, p in list(pending.items()):
            r = p.poll()
            if r is None:
                continue
            del pending[i]
            if r != 0 and rc == 0:
                rc = r
                if _fail_fast:
                    for j, q in pending.items():
                        q.terminate()
        _time.sleep(1)
    for _i, _p, log, _n in procs:
        log.close()

    total = 0
    tails = []
    for i, _p, log, n_ids in procs:
        with open(log.name) as f:
            txt = f.read()
        last = [ln for ln in txt.splitlines() if " passed" in ln or " failed" in ln or " error" in ln]
        summary = last[-1] if last else "(no summary — shard crashed?)"
        tails.append(f"[shard {i}] {summary}")
        import re as _re

        # every non-failing outcome counts toward the accounting check
        # (passed/skipped/xfailed/xpassed); failed/error force rc != 0
        for num, word in _re.findall(r"(\d+) (\w+)", summary):
            if word in ("passed", "skipped", "xfailed", "xpassed",
                        "deselected"):
                total += int(num)
        if ("failed" in summary or "error" in summary or not last) and rc == 0:
            rc = 1
        if rc != 0 and ("failed" in summary.lower() or "error" in summary.lower()):
            # surface the failing shard's tail for the log capture
            tails.append("\n".join(txt.splitlines()[-40:]))
    dt = _time.time() - t0
    for t in tails:
        print(t, flush=True)
    verdict = "passed" if rc == 0 else "FAILED"
    print(
        f"=== sharded suite {verdict}: {total}/{len(items)} tests passed "
        f"across {len(procs)} shards in {dt:.0f}s ===",
        flush=True,
    )
    if rc == 0 and total < len(items):
        print("=== shard accounting mismatch: treating as failure ===",
              flush=True)
        rc = 1
    pytest.exit(
        f"sharded run complete: {total}/{len(items)} passed in {dt:.0f}s",
        returncode=rc,
    )


@pytest.fixture(scope="session")
def spark():
    from apache_flink_spark.session import get_spark

    s = get_spark(app_name="apache_flink_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
