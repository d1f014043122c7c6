"""HTTP read shim over the console router — the reference webserver's
query surface re-expressed as a thin stdlib server.

Reference: ``webserver.cpp`` forks per request (Service_Request,
webserver.cpp:700-726), parses URL path prefixes into format/verbosity
(webserver.cpp:103-288), routes ``ee/``/``entities/``/``q=`` to entity
linking and everything else through ``parse()`` (console.cpp:172), and
emits enriched entity JSON (topic/class/seo/degree, webserver.cpp:
396-418) plus ``statement count``/``node count`` introspection
(webserver.cpp:245-246).

Spark-first inversion: NO fork-per-request and NO Spark job per entity
request.  A Spark driver is not a request-scale serving tier — the
serving layer reads MATERIALIZED tables:

- the enriched-entity payload (operators/materialize.enrich_entities —
  the same derived columns webserver.cpp emits) is computed ONCE as a
  table and served from an in-process dict (bounded by ``max_rows``;
  a production deployment would put the same table behind a key-value
  store — the point is that serving never touches the cluster);
- ``/count`` introspection numbers are computed once at startup;
- ad-hoc console lines (``/q/...``) DO run through the live Console —
  that is the interactive surface, explicitly not the hot path, and it
  shares the one SparkSession (threaded handler, no forking).  The
  surface is read-only: commands that change the served table or touch
  server-side paths (:data:`WRITE_COMMANDS`) are answered with 403.

Formats: a ``json`` / ``csv`` / ``txt`` path prefix selects the
response rendering (webserver.cpp's format prefixes); default json.

Endpoints::

    GET /[fmt/]node/<name>      -> enriched entity record (materialized)
    GET /[fmt/]ee/<text>        -> entity linking over the text
    GET /[fmt/]entities/<text>  -> alias of ee/
    GET /[fmt/]q/<console line> -> console router (query language, BGPs,
                                   ":all X", property questions, ...)
    GET /?q=<line>              -> same as /q/<line>
    GET /count                  -> {"statements": N, "nodes": N}
"""

from __future__ import annotations

import csv
import io
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame

_FORMATS = ("json", "csv", "txt")

# Console commands an unauthenticated GET must not run: they rewrite the
# served triple table (learn/update/delete/merge/ci/label) or read/write
# server-side paths (save/load/import/export).
WRITE_COMMANDS = frozenset({
    ":learn", ":update", ":delete", ":d", ":merge", ":ci", ":label",
    ":abstract", ":save", ":s", ":w", ":load", ":l", ":import", ":i",
    ":export", ":e",
})


def _render(rows: list[dict], fmt: str) -> tuple[bytes, str]:
    if fmt == "json":
        return (
            json.dumps(rows, default=str).encode(),
            "application/json; charset=utf-8",
        )
    cols: list[str] = []
    for r in rows:
        for k in r:
            if k not in cols:
                cols.append(k)
    if fmt == "csv":
        buf = io.StringIO()
        w = csv.writer(buf)
        w.writerow(cols)
        for r in rows:
            w.writerow([r.get(c, "") for c in cols])
        return buf.getvalue().encode(), "text/csv; charset=utf-8"
    lines = ["\t".join(cols)]
    lines += ["\t".join(str(r.get(c, "")) for c in cols) for r in rows]
    return ("\n".join(lines) + "\n").encode(), "text/plain; charset=utf-8"


class KgHttpServer:
    """Serve a constructed graph over HTTP.  ``console`` is a
    :class:`~netbase_spark.functions.console.Console`; ``enriched`` is
    the :func:`~netbase_spark.operators.materialize.enrich_entities`
    output (or any DataFrame with a ``node`` column) materialized into
    the in-process serving dict at startup."""

    def __init__(
        self,
        console,
        enriched: DataFrame | None = None,
        max_rows: int = 1_000_000,
        limit: int = 200,
    ):
        self.console = console
        self.limit = limit
        self._entity: dict[str, dict] = {}
        if enriched is not None:
            rows = enriched.limit(max_rows + 1).collect()
            if len(rows) > max_rows:
                raise ValueError(
                    f"enriched table exceeds max_rows={max_rows}; serve it "
                    "from an external key-value store instead"
                )
            self._entity = {r["node"]: r.asDict() for r in rows}
        t = console.triples
        self._counts = {
            "statements": t.count(),
            "nodes": t.select("subj").union(t.select("obj")).distinct().count(),
        }
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- request handling (transport-independent, unit-testable) --------

    def handle(self, path: str) -> tuple[int, list[dict] | dict, str]:
        """Resolve one GET path -> (status, payload rows/obj, format)."""
        parsed = urlparse(path)
        q = parse_qs(parsed.query)
        parts = [unquote(p) for p in parsed.path.split("/") if p]
        fmt = "json"
        if parts and parts[0] in _FORMATS:
            fmt = parts.pop(0)
        if not parts and "q" in q:
            parts = ["q", q["q"][0]]
        if not parts:
            return 200, [{"endpoints": "node/ ee/ entities/ q/ count"}], fmt
        head, rest = parts[0], "/".join(parts[1:])
        if head == "count":
            return 200, [dict(self._counts)], fmt
        if head == "node":
            rec = self._entity.get(rest)
            if rec is None:
                return 404, [{"error": f"no entity {rest!r}"}], fmt
            return 200, [rec], fmt
        if head in ("ee", "entities"):
            text = rest or (q.get("q", [""])[0])
            df = self.console.execute(f":entities {text}")
            rows = [r.asDict() for r in df.limit(self.limit).collect()]
            # enrich linked entities from the materialized payload, the
            # webserver's topic/class/seo/degree JSON (396-418)
            for r in rows:
                ent = self._entity.get(r.get("entity") or r.get("alias_key"))
                if ent:
                    r.update(
                        {k: v for k, v in ent.items() if k != "node"}
                    )
            return 200, rows, fmt
        if head == "q":
            cmd = rest.strip().partition(" ")[0].lower()
            if cmd in WRITE_COMMANDS:
                return 403, [{"error": f"{cmd} is not allowed over HTTP"}], fmt
            df = self.console.execute(rest)
            if df is None:
                return 200, [], fmt
            return 200, [r.asDict() for r in df.limit(self.limit).collect()], fmt
        return 404, [{"error": f"unknown endpoint {head!r}"}], fmt

    # -- transport ------------------------------------------------------

    def start(self, host: str = "127.0.0.1", port: int = 0) -> str:
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib casing)
                try:
                    status, rows, fmt = outer.handle(self.path)
                    body, ctype = _render(rows, fmt)
                except Exception as e:  # surface errors as 400, not 500s
                    status = 400
                    body, ctype = _render([{"error": str(e)}], "json")
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # quiet test output
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
