"""SQL client: interactive / scripted statement shell over the gateway.

Reference parity: ``flink-table/flink-sql-client`` — the CLI that talks to
the SQL gateway (embedded or remote), executes statements terminated by
``;``, and renders results in the tableau ``+----+`` style. Supported
surface: embedded mode (in-process :class:`SqlGatewayService`) and remote
mode (HTTP against a :class:`SqlGatewayRestEndpoint` URL — the client uses
ONLY the public REST routes, so it doubles as the REST client the
reference's gateway-mode client is), ``-f script.sql`` batch execution,
``-e`` single statement, interactive loop with QUIT/EXIT/HELP.

Spark-first: the client is a pure protocol consumer — every result pages
through the gateway's token fetch, so a client printing the first rows of
a 100 TB result costs one page, not a collect.
"""

from __future__ import annotations

import re
import sys
from typing import Iterator, Optional

from apache_flink_spark.statement import QUOTED

_STMT_SET_OPEN_RE = re.compile(
    r"^\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\b", re.I
)

__all__ = ["GatewayClient", "RestGatewayClient", "SqlClient", "render_tableau"]

_PROMPT = "Flink SQL> "
_HELP = """\
Available commands:
  <statement>;       execute a SQL statement (multi-line until ';')
  HELP;              this message
  QUIT; / EXIT;      leave the client
"""


class GatewayClient:
    """Embedded mode: drive an in-process SqlGatewayService directly."""

    def __init__(self, service, session_properties: Optional[dict] = None):
        self.service = service
        self.session = service.open_session(session_properties or {})

    def execute(self, statement: str, max_rows: int = 1000):
        """Run one statement to completion; yield (columns, rows-iterator)."""
        from apache_flink_spark.sql_gateway import ResultKind

        svc = self.service
        oh = svc.execute_statement(self.session, statement)
        status = svc.await_operation(self.session, oh)
        if status.value == "ERROR":
            info = svc.get_operation_info(self.session, oh)
            raise RuntimeError(f"statement failed: {info['exception']}")

        first = svc.fetch_results(self.session, oh, 0, max_rows=max_rows)

        def rows() -> Iterator[tuple]:
            page, token = first, first.next_token
            while True:
                yield from page.data
                if token is None or page.result_type is ResultKind.EOS:
                    return
                page = svc.fetch_results(
                    self.session, oh, token, max_rows=max_rows
                )
                token = page.next_token

        return first.columns, rows()

    def close(self):
        self.service.close_session(self.session)


class RestGatewayClient:
    """Gateway mode: same contract as GatewayClient over the REST routes,
    through the DB-API driver's transport (kept-alive connection, long-
    polled results)."""

    def __init__(self, url: str, session_properties: Optional[dict] = None):
        from apache_flink_spark.dbapi import _RestTransport

        self._transport = _RestTransport(url, session_properties)
        self.session = self._transport.session

    def execute(self, statement: str, max_rows: int = 1000):
        oh, columns, rows = self._transport.run(statement, max_rows)

        def drained() -> Iterator[tuple]:
            yield from rows
            self._transport.close_operation(oh)

        return columns, drained()

    def close(self):
        self._transport.close()


def render_tableau(columns, rows, max_rows: int = 100) -> str:
    """Flink sql-client tableau renderer: +----+----+ boxes, row count."""
    names = [c[0] for c in columns]
    shown, truncated, total = [], False, 0
    for r in rows:
        total += 1
        if total <= max_rows:
            shown.append(["<NULL>" if v is None else str(v) for v in r])
        else:
            truncated = True
    widths = [
        max(len(n), *(len(row[i]) for row in shown)) if shown else len(n)
        for i, n in enumerate(names)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "|" + "|".join(
        f" {n.ljust(w)} " for n, w in zip(names, widths)
    ) + "|", sep]
    for row in shown:
        out.append(
            "|" + "|".join(
                f" {v.ljust(w)} " for v, w in zip(row, widths)
            ) + "|"
        )
    out.append(sep)
    note = f"{total} row(s)" + (
        f" (showing first {max_rows})" if truncated else ""
    )
    out.append(note)
    return "\n".join(out)


class SqlClient:
    """Statement loop: split on ';', dispatch, render. Works on any
    client with the (columns, rows) ``execute`` contract."""

    def __init__(self, client, out=None, max_display_rows: int = 100):
        self.client = client
        self.out = out or sys.stdout
        self.max_display_rows = max_display_rows

    def run_statement(self, stmt: str) -> bool:
        """Execute one statement; False means QUIT. Errors print, not
        raise — the reference client keeps the session alive on failure."""
        s = stmt.strip().rstrip(";").strip()
        if not s:
            return True
        u = s.upper()
        if u in ("QUIT", "EXIT"):
            return False
        if u == "HELP":
            self.out.write(_HELP)
            return True
        try:
            columns, rows = self.client.execute(s)
            self.out.write(
                render_tableau(columns, rows, self.max_display_rows) + "\n"
            )
        except Exception as ex:
            self.out.write(f"[ERROR] {ex}\n")
        return True

    def run_script(self, text: str) -> None:
        for stmt in split_statements(text):
            if not self.run_statement(stmt):
                return

    def repl(self, inp=None) -> None:
        inp = inp or sys.stdin
        buf = ""
        self.out.write(_PROMPT)
        self.out.flush()
        for line in inp:
            buf += line
            # literal-safe, statement-set-aware incremental split: an
            # open EXECUTE STATEMENT SET (or an unterminated literal)
            # keeps buffering until complete (r6 review finding — the
            # old partition(';') fragmented sets and quoted ';')
            done, rest = _split_terminated(buf)
            ready, pending = _merge_statement_sets(done)
            for stmt in ready:
                if not self.run_statement(stmt):
                    return
            buf = ";".join(pending) + ";" + rest if pending else rest
            self.out.write(_PROMPT)
            self.out.flush()
        if buf.strip():
            self.run_statement(buf)


# a literal or quoted identifier, a comment, or a statement terminator
_SCRIPT_TOKEN_RE = re.compile(QUOTED + r"|--[^\n]*|/\*.*?(?:\*/|$)|;", re.S)


def _split_terminated(text: str) -> tuple[list[str], str]:
    """Split on ';' outside literals and comments, dropping ``--``
    comments; returns (';'-terminated statements, unterminated tail)."""
    stmts, cur, pos = [], [], 0
    for m in _SCRIPT_TOKEN_RE.finditer(text):
        if m.group() == ";" or m.group().startswith("--"):
            cur.append(text[pos: m.start()])
            pos = m.end()
            if m.group() == ";":
                stmts.append("".join(cur))
                cur = []
    cur.append(text[pos:])
    return [s for s in stmts if s.strip()], "".join(cur)


def _merge_statement_sets(
    stmts: list[str],
) -> tuple[list[str], Optional[list[str]]]:
    """Re-merge EXECUTE STATEMENT SET BEGIN ...; ...; END into ONE
    statement. The closing terminator is a STANDALONE ``END`` item (the
    grammar puts ';' after every member), so a member's CASE ... END
    never closes the set. Returns (merged, pending) where pending is the
    parts of a still-open set (no END yet) or None."""
    out: list[str] = []
    i = 0
    while i < len(stmts):
        s = stmts[i]
        if _STMT_SET_OPEN_RE.match(s):
            parts = [s]
            i += 1
            while i < len(stmts) and stmts[i].strip().upper() != "END":
                parts.append(stmts[i])
                i += 1
            if i >= len(stmts):
                return out, parts
            parts.append(stmts[i])
            i += 1
            out.append(";".join(parts))
        else:
            out.append(s)
            i += 1
    return out, None


def split_statements(text: str) -> list[str]:
    """Split a script on ';' outside literals and comments, keeping
    EXECUTE STATEMENT SET blocks intact."""
    stmts, rest = _split_terminated(text)
    if rest.strip():
        stmts.append(rest)
    merged, pending = _merge_statement_sets(stmts)
    if pending is not None:
        raise ValueError(
            "unterminated EXECUTE STATEMENT SET: no closing END"
        )
    return merged


def main(argv: Optional[list[str]] = None) -> int:
    import argparse

    p = argparse.ArgumentParser(
        description="SQL client (embedded or gateway mode)"
    )
    p.add_argument("-e", "--execute", help="run one statement and exit")
    p.add_argument("-f", "--file", help="run a ;-separated SQL script")
    p.add_argument(
        "--endpoint", help="remote gateway REST URL (gateway mode); "
        "default: embedded in-process gateway"
    )
    p.add_argument("--sf-dir", default=None, help="fixture tables to load")
    args = p.parse_args(argv)

    if args.endpoint:
        client = RestGatewayClient(args.endpoint)
    else:
        from apache_flink_spark.sql_gateway import SqlGatewayService

        client = GatewayClient(
            SqlGatewayService(sf_dir=args.sf_dir)
        )
    cli = SqlClient(client)
    try:
        if args.execute:
            cli.run_statement(args.execute)
        elif args.file:
            with open(args.file) as f:
                cli.run_script(f.read())
        else:
            cli.repl()
    finally:
        client.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
