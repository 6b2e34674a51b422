"""`http` processor (internal/impl/io/processor_http.go:71): per-batch
HTTP enrichment, Spark-shaped.

The reference fires one request per message batch; at 100 TB that
serializes on the network. Here requests run through
`envelope.per_message` on a bounded per-partition thread pool — total
concurrency = partitions x max_conc, back-pressured by Spark's task
scheduler, with failures flagged on the `_error` column (never a task
failure).

The transport is injectable: production uses urllib (stdlib — the
`requests` package may be absent); a deterministic fake remains for
offline unit tests. The gate query drives the PRODUCTION urllib
transport against an in-process echo server over real sockets
(bento_spark/testing/http_echo.py), so batching, pool, framing and the
error channel are all exercised live.
"""

from __future__ import annotations

import json as _json
from collections.abc import Callable

from pyspark.sql import DataFrame

Transport = Callable[[str, str, str | None], tuple[int, str]]
"""(method, url, body) -> (status_code, response_body)"""


def urllib_transport(method: str, url: str, body: str | None) -> tuple[int, str]:
    """Stdlib HTTP transport (no external deps). Non-2xx responses are
    RETURNED as (status, body) per the Transport contract — urlopen's
    HTTPError is itself the response object — so callers decide whether
    a 4xx/5xx is an error (kvstore raises, http_enrich records the
    status and lets the pipeline's _error conventions apply)."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=body.encode() if body else None, method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def fake_echo_transport(method: str, url: str, body: str | None) -> tuple[int, str]:
    """Deterministic offline transport: echoes a JSON envelope."""
    return 200, _json.dumps(
        {"method": method, "url": url, "len": len(body or "")}, sort_keys=True
    )


def http_enrich(
    df: DataFrame,
    url_col: str,
    body_col: str | None = None,
    method: str = "POST",
    max_conc: int = 8,
    transport: Transport = urllib_transport,
) -> DataFrame:
    """Per-row HTTP call with bounded per-partition concurrency; adds
    `http_status INT` and `http_response STRING`, and sets `_error`
    instead of failing the task."""
    from pyspark.sql.types import IntegerType, StringType, StructType

    from bento_spark.operators.dedup import ensure_parallelism
    from bento_spark.operators.envelope import per_message

    def call(row):
        body = row[body_col] if body_col else None
        return transport(method, row[url_col], body)

    # One-row-group parquet concentrates every row in a single task, so
    # the bounded pool ran ALL requests from one core while the rest
    # idled (the same funnel as the wasm/text planes — r12 #9/#11).
    # ensure_parallelism spreads only when the scan reads fewer files
    # than defaultParallelism and nothing upstream redistributes — a
    # no-op at cluster file counts, so no hidden corpus-scale exchange.
    return per_message(
        ensure_parallelism(df), call,
        out=StructType()
        .add("http_status", IntegerType())
        .add("http_response", StringType()),
        skip_errored=False, threads=max_conc,
        errors={Exception: lambda ex: f"http: {ex}"},
    )
