"""`sentry_capture` processor
(internal/impl/sentry/processor_capture.go): capture a log event per
message and submit it to Sentry's public store API, forwarding the
message unchanged.

The wire format is the public event-ingestion contract
(https://develop.sentry.dev/sdk/overview/): POST
``{scheme}://{host}/api/{project_id}/store/`` with the event JSON and
the DSN's public key carried in the ``sentry_key`` query parameter (the
documented alternative to the X-Sentry-Auth header, which keeps the
injectable transport's (method, url, body) shape).

Spark shape: one event POST per message through `envelope.per_message`;
capture failures set `_error` on the rows whose events failed — the
stream itself never aborts on telemetry."""

from __future__ import annotations

import json
import time
import uuid

from pyspark.sql import DataFrame

from bento_spark.operators.http import Transport, urllib_transport

LEVELS = ("debug", "info", "warning", "error", "fatal")


def parse_dsn(dsn: str) -> tuple[str, str]:
    """DSN ``scheme://publickey@host[:port]/project_id`` ->
    (store_url_without_auth, public_key)."""
    from urllib.parse import urlparse

    u = urlparse(dsn)
    if not u.username or not u.path.strip("/"):
        raise ValueError(f"invalid sentry DSN {dsn!r}")
    project = u.path.strip("/").split("/")[-1]
    host = u.hostname + (f":{u.port}" if u.port else "")
    return f"{u.scheme}://{host}/api/{project}/store/", u.username


def sentry_capture(
    df: DataFrame,
    dsn: str,
    message_col: str,
    level: str = "info",
    environment: str | None = None,
    release: str | None = None,
    tags_cols: dict[str, str] | None = None,
    transport: Transport = urllib_transport,
) -> DataFrame:
    """Capture one event per row (message text from ``message_col``,
    tags from ``tags_cols`` = {tag_name: column}); rows pass through
    unchanged, capture failures flag `_error`."""
    if level not in LEVELS:
        raise ValueError(f"unrecognized sentry level: {level}")
    store_url, key = parse_dsn(dsn)
    url = f"{store_url}?sentry_key={key}&sentry_version=7"
    tags_cols = tags_cols or {}

    from bento_spark.operators.envelope import MessageError, per_message

    def call(row):
        event = {
            "event_id": uuid.uuid4().hex,
            "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "platform": "python",
            "level": level,
            "message": str(row[message_col]),
            "tags": {t: str(row[c]) for t, c in tags_cols.items()},
        }
        if environment:
            event["environment"] = environment
        if release:
            event["release"] = release
        status, _body = transport("POST", url, json.dumps(event))
        if status >= 300:
            raise MessageError(f"sentry HTTP {status}")

    return per_message(
        df, call, out=None, skip_errored=False,
        errors={Exception: lambda ex: f"sentry: {ex}"},
    )


def _register() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    def _proc(df: DataFrame, conf: dict) -> DataFrame:
        return sentry_capture(
            df,
            conf["dsn"],
            conf.get("message", "content"),
            conf.get("level", "info").lower(),
            conf.get("environment"),
            conf.get("release"),
            conf.get("tags"),
        )

    PROCESSORS["sentry_capture"] = _proc


_register()
