"""GraphQL-over-HTTP Python Data Source: the live-transport analog of
the reference's extraction client (``gql_call`` +
``AIOHTTPTransport``, monarchmoney.py:2756-2767, 2867-2884), expressed
Spark-first.

The reference fetches a GraphQL connection serially: POST an operation
with ``{"offset": o, "limit": n}`` variables plus a bearer token, read
``totalCount`` once, loop pages until done
(``GetTransactionsList`` monarchmoney.py:1443-1452,
MonarchMoneyMain-v3.py:1276-1302). Here the same wire protocol becomes
a parallel scan:

- **plan**: one driver-side probe POST (``limit=1``) reads
  ``totalCount`` — the reference's count probe — and yields one
  ``InputPartition`` per page;
- **read**: every page is an independent executor task issuing its own
  POST with its own offset/limit variables, wrapped in the T6 retry
  policy (json_ingest.with_retries — 3 attempts, backoff), then
  walking ``dataPath`` through the response envelope and emitting
  schema-projected rows.

So the serial client's N round trips become N concurrent tasks and the
result is a normal DataFrame. There is no network in this container,
so tests and the registered roundtrip run the connector against
``MockGraphQLServer`` — an in-process localhost HTTP server speaking
the same envelope over a JSONL payload; a live deployment points
``url`` at the real endpoint and nothing else changes.

Options (``spark.read.format("graphql_json")``):

- ``url``        — GraphQL endpoint (required)
- ``operation``  — operationName sent with every POST (default
  ``GetRecords``)
- ``graphql``    — the GraphQL document string (sent verbatim; the
  mock, like many real servers, keys behavior on operation +
  variables)
- ``dataPath``   — dot path from ``data`` to the record list, e.g.
  ``allTransactions.results`` (required)
- ``totalCountPath`` — dot path from ``data`` to the total count,
  e.g. ``allTransactions.totalCount`` (required)
- ``pageSize``   — records per page/partition (default 500, the
  reference's TXN_PAGE_LIMIT)
- ``token``      — bearer token for the Authorization header
  (the session-token plumbing of save_session/load_session,
  monarchmoney.py:2770-2792; auth ACQUISITION stays out of scope per
  SURVEY §7.6)
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

# module-level, NOT a function-local import inside the reader: a
# runtime `import` on the executor needs the package on the worker's
# sys.path, defeating the by-value shipping contract. As a module
# global (with json_ingest registered by value in `register`), the
# function ships inside the pickled reader instead.
from dieter___etl___monarchmoney_spark.sources.json_ingest import (
    NonRetryableError,
    with_retries,
)

DEFAULT_PAGE_SIZE = 500


def _walk(obj: dict, dotted: str):
    for key in dotted.split("."):
        obj = obj[key]
    return obj


def _post(url: str, operation: str, graphql: str, variables: dict, token: str | None):
    """One GraphQL POST → decoded ``data`` payload. Raises on HTTP or
    GraphQL-level errors (the reference surfaces both as exceptions).
    Permanent failures — 4xx other than 408/429, and GraphQL-level
    errors (bad token, malformed query) — raise ``NonRetryableError``
    so the T6 retry wrapper fails fast instead of re-POSTing a doomed
    request three times per page."""
    body = json.dumps(
        {"operationName": operation, "query": graphql, "variables": variables}
    ).encode()
    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Token {token}"
    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            payload = json.loads(resp.read())
    except urllib.error.HTTPError as e:
        if 400 <= e.code < 500 and e.code not in (408, 429):
            raise NonRetryableError(f"HTTP {e.code} from {url}: permanent") from e
        raise
    if payload.get("errors"):
        if all(_is_permanent_graphql_error(e) for e in payload["errors"]):
            raise NonRetryableError(f"GraphQL errors: {payload['errors']}")
        # servers commonly return TRANSIENT failures (rate limiting,
        # internal errors) as HTTP 200 + an errors array — those must
        # keep the T6 retry budget the reference's transport gives them
        raise RuntimeError(f"GraphQL errors (retryable): {payload['errors']}")
    return payload["data"]


#: spec'd / conventional extension codes that are clearly permanent —
#: retrying a validation or auth failure re-POSTs a doomed request
_PERMANENT_GQL_CODES = {
    "GRAPHQL_PARSE_FAILED",
    "GRAPHQL_VALIDATION_FAILED",
    "BAD_USER_INPUT",
    "UNAUTHENTICATED",
    "FORBIDDEN",
    "PERSISTED_QUERY_NOT_SUPPORTED",
}


def _is_permanent_graphql_error(err: dict) -> bool:
    """Classify one GraphQL error object. Only CLEARLY permanent
    classes (validation, auth — by extensions.code when present, by
    message heuristics otherwise) fail fast; unknown errors stay
    retryable, since an over-eager NonRetryable on a transient 200+
    errors response silently drops the retry budget (ADVICE r7)."""
    code = str((err.get("extensions") or {}).get("code", "")).upper()
    if code:
        return code in _PERMANENT_GQL_CODES
    msg = str(err.get("message", "")).lower()
    return any(
        s in msg
        for s in (
            "unauthorized",
            "unauthenticated",
            "forbidden",
            "invalid token",
            "validation",
            "cannot query field",
            "syntax error",
            "malformed",
        )
    )


class GraphQLPage(InputPartition):
    def __init__(self, offset: int, limit: int):
        self.offset = offset
        self.limit = limit


class GraphQLJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "graphql_json"

    def schema(self):
        raise NotImplementedError(
            "graphql_json requires an explicit .schema(...) — the remote "
            "connection's shape is the caller's contract, not inferred "
            "(the reference pins it per-operation in its fragments)"
        )

    def reader(self, schema: StructType) -> "GraphQLJsonReader":
        return GraphQLJsonReader(schema, self.options)


class GraphQLJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema_ = schema
        self.url = options.get("url")
        if not self.url:
            raise ValueError("graphql_json requires option 'url'")
        self.operation = options.get("operation", "GetRecords")
        self.graphql = options.get("graphql", "")
        self.data_path = options.get("datapath")
        self.count_path = options.get("totalcountpath")
        if not self.data_path or not self.count_path:
            raise ValueError(
                "graphql_json requires options 'dataPath' and 'totalCountPath'"
            )
        self.page_size = int(options.get("pagesize", DEFAULT_PAGE_SIZE))
        self.token = options.get("token")

    def _call(self, variables: dict):
        return with_retries(
            lambda: _post(
                self.url, self.operation, self.graphql, variables, self.token
            ),
            delay_s=0.2,
        )

    def partitions(self):
        """Planning-time count probe (limit=1, the cheapest page the
        protocol allows) → one partition per page. O(1) wire cost at
        plan time; every page is then fetched exactly once, in
        parallel, by its own task."""
        data = self._call({"offset": 0, "limit": 1})
        total = int(_walk(data, self.count_path))
        if total <= 0:
            return [GraphQLPage(0, self.page_size)]
        return [
            GraphQLPage(o, self.page_size) for o in range(0, total, self.page_size)
        ]

    def read(self, partition: GraphQLPage):
        fields = [f.name for f in self.schema_.fields]
        data = self._call({"offset": partition.offset, "limit": partition.limit})
        for rec in _walk(data, self.data_path):
            yield tuple(rec.get(name) for name in fields)


def register(spark) -> None:
    """Idempotent format registration. This module AND json_ingest
    (whose ``with_retries`` the reader calls on executors) ship to
    Python workers by value (see ``session.register_data_source``)."""
    import sys

    from dieter___etl___monarchmoney_spark.session import register_data_source
    from dieter___etl___monarchmoney_spark.sources import json_ingest

    register_data_source(
        spark, GraphQLJsonDataSource, sys.modules[__name__], json_ingest
    )


# --------------------------------------------------------------------------
# In-process mock endpoint (the container has no network)
# --------------------------------------------------------------------------


class MockGraphQLServer:
    """Localhost GraphQL endpoint over a JSONL payload, speaking the
    reference wire shape: POST {operationName, query, variables:
    {offset, limit}} → {"data": {<root>: {"totalCount": N,
    "results": [...page...]}}}. Rejects requests without the expected
    bearer token (401) so the connector's auth header is exercised,
    and can inject ``fail_first`` transient 500s to exercise the T6
    retry path. Runs as a daemon thread; ``close()`` is optional
    (registered roundtrip queries leave it up for the process
    lifetime because Spark reads lazily after the query returns)."""

    def __init__(
        self,
        payload_path: str,
        root: str = "allRecords",
        token: str | None = None,
        fail_first: int = 0,
    ):
        import http.server
        import threading

        with open(payload_path) as f:
            records = [json.loads(line) for line in f if line.strip()]
        expected_auth = f"Token {token}" if token else None
        # lock: ThreadingHTTPServer handles pages concurrently, and an
        # unguarded read-modify-write could serve MORE than fail_first
        # 500s (two threads both seeing fails_left==1), flaking the
        # retry test
        state = {"fails_left": fail_first, "lock": threading.Lock()}

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep bench stdout parseable
                pass

            def do_POST(self):
                if expected_auth and self.headers.get("Authorization") != expected_auth:
                    self.send_response(401)
                    self.end_headers()
                    return
                with state["lock"]:
                    inject_fail = state["fails_left"] > 0
                    if inject_fail:
                        state["fails_left"] -= 1
                if inject_fail:
                    self.send_response(500)
                    self.end_headers()
                    return
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                var = body.get("variables", {})
                offset = int(var.get("offset", 0))
                limit = int(var.get("limit", DEFAULT_PAGE_SIZE))
                out = json.dumps(
                    {
                        "data": {
                            root: {
                                "totalCount": len(records),
                                "results": records[offset : offset + limit],
                            }
                        }
                    }
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

        # ThreadingHTTPServer: page tasks fetch concurrently
        self._server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._server.server_address[1]
        self.url = f"http://127.0.0.1:{self.port}/graphql"
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
