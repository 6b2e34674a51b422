"""YAML registration, part 2 (outputs): the remaining documented
output names (website/docs/components/outputs/) mapped onto existing
clients — websocket (RFC 6455 client, masked frames), grpc_client,
nats_kv / nats_object_store, subprocess, http_server (serve the
result set), plus the composition names dynamic / resource / retry
and the documented no-op sync_response."""

from __future__ import annotations

from pyspark.sql import DataFrame

from bento_spark.sinks import SINKS, register_sink, run_sink
from bento_spark.sinks.connector import DeliveryError, register_transport


@register_transport("websocket")
def _websocket_transport(conf: dict):
    """``websocket`` output: one masked text frame per message over the
    from-scratch RFC 6455 client."""
    from urllib.parse import urlparse

    from bento_spark.sources.http_server import WebSocketClient

    u = urlparse(conf.get("url", "ws://localhost:0/"))

    class T:
        def __init__(self):
            self.client = WebSocketClient(
                u.hostname or "localhost", u.port or 80, u.path or "/"
            )

        def send(self, batch: list[str]) -> None:
            try:
                self.client.send_text(batch)
            except (ConnectionError, OSError) as ex:
                raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("nats_kv")
def _nats_kv_transport(conf: dict):
    """``nats_kv`` output: key = the row's ``key_field`` attribute,
    value = the row, via JetStream KV publishes (ADR-8 layering)."""
    import json as _j
    from urllib.parse import urlparse

    from bento_spark.operators.jetstream import NatsKV

    urls = conf.get("urls") or [conf.get("url", "nats://localhost:4222")]
    u = urlparse(urls[0] if "://" in urls[0] else f"nats://{urls[0]}")
    key_field = conf.get("key_field", "id")

    class T:
        def __init__(self):
            self.kv = NatsKV(u.hostname or "localhost", u.port or 4222,
                             bucket=conf["bucket"])

        def send(self, batch: list[str]) -> None:
            pairs = []
            for m in batch:
                try:
                    row = _j.loads(m)
                    key = str(row[key_field])
                except (ValueError, KeyError) as ex:
                    raise DeliveryError(
                        f"nats_kv: row missing key_field {key_field!r}",
                        retryable=False,
                    ) from ex
                pairs.append((key, m))
            try:
                self.kv.mset(pairs)
            except (ConnectionError, OSError, RuntimeError) as ex:
                raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            self.kv.close()

    return T()


@register_transport("nats_object_store")
def _nats_obj_transport(conf: dict):
    """``nats_object_store`` output: each row becomes one named object
    (chunked put + metadata message, ADR-20)."""
    import json as _j
    from urllib.parse import urlparse

    from bento_spark.operators.jetstream import NatsObjectStore

    urls = conf.get("urls") or [conf.get("url", "nats://localhost:4222")]
    u = urlparse(urls[0] if "://" in urls[0] else f"nats://{urls[0]}")
    name_field = conf.get("name_field", "id")

    class T:
        def __init__(self):
            self.store = NatsObjectStore(
                u.hostname or "localhost", u.port or 4222,
                bucket=conf["bucket"],
            )

        def send(self, batch: list[str]) -> None:
            for m in batch:
                try:
                    row = _j.loads(m)
                    name = str(row[name_field])
                except (ValueError, KeyError):
                    name = f"msg-{abs(hash(m)) % 10**12}"
                try:
                    self.store.put(name, m.encode("utf-8"))
                except (ConnectionError, OSError, RuntimeError) as ex:
                    raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            self.store.close()

    return T()


@register_transport("grpc_client")
def _grpc_transport(conf: dict):
    """``grpc_client`` output: one unary call per message over the
    from-scratch HTTP/2+HPACK client."""
    from urllib.parse import urlparse

    from bento_spark.operators.grpc_wire import GrpcClient, GrpcError

    u = urlparse(conf.get("url", "http://localhost:50051"))

    class T:
        def __init__(self):
            self.client = GrpcClient(u.hostname or "localhost",
                                     u.port or 50051)
            self.rpc = conf["rpc"]

        def send(self, batch: list[str]) -> None:
            for m in batch:
                try:
                    self.client.request(self.rpc, m.encode("utf-8"))
                except GrpcError as ex:
                    # UNAVAILABLE(14)/RESOURCE_EXHAUSTED(8)/DEADLINE(4)
                    # retry; the rest are request faults
                    raise DeliveryError(
                        str(ex), retryable=ex.status in (4, 8, 14)
                    ) from ex
                except (ConnectionError, OSError) as ex:
                    raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            self.client.close()

    return T()


@register_transport("subprocess")
def _subprocess_transport(conf: dict):
    """``subprocess`` output (output_subprocess.go): ONE long-lived
    child; each message is a stdin line. The child runs driver-side
    (it is one process by definition — same shape as the reference)."""
    import subprocess as sp

    class T:
        def __init__(self):
            self.child = sp.Popen(
                [conf["name"], *map(str, conf.get("args", []))],
                stdin=sp.PIPE, stdout=sp.DEVNULL, text=True,
            )

        def send(self, batch: list[str]) -> None:
            if self.child.poll() is not None:
                raise DeliveryError(
                    f"subprocess exited with {self.child.returncode}",
                    retryable=False,
                )
            for m in batch:
                self.child.stdin.write(m.replace("\n", " ") + "\n")
            self.child.stdin.flush()

        def close(self):
            try:
                self.child.stdin.close()
                self.child.wait(timeout=10)
            except Exception:  # noqa: BLE001
                self.child.kill()

    return T()


# ---- sink-level composition names -----------------------------------------

@register_sink("dynamic")
def _dynamic_sink(df: DataFrame, is_streaming: bool, conf: dict):
    """`dynamic` output: run the active child (runtime add/remove via
    REST is the reference's ops surface; declaratively the config IS
    the runtime state)."""
    outputs = conf.get("outputs") or {}
    if not outputs:
        raise ValueError("dynamic: no outputs configured")
    name = conf.get("active") or sorted(outputs)[0]
    (cname, cconf), = dict(outputs[name]).items()
    return run_sink(df, is_streaming, cname, cconf)


#: labelled output resources (`output_resources:`)
OUTPUT_RESOURCES: dict[str, dict] = {}


@register_sink("resource")
def _resource_sink(df: DataFrame, is_streaming: bool, conf: dict):
    label = conf if isinstance(conf, str) else conf["resource"]
    if label not in OUTPUT_RESOURCES:
        raise ValueError(
            f"unknown output resource {label!r} "
            f"(have {sorted(OUTPUT_RESOURCES)})"
        )
    (cname, cconf), = dict(OUTPUT_RESOURCES[label]).items()
    return run_sink(df, is_streaming, cname, cconf)


@register_sink("retry")
def _retry_sink(df: DataFrame, is_streaming: bool, conf: dict):
    """`retry` output wrapper (output_retry.go): re-attempt the child
    write with backoff until it succeeds or attempts exhaust. (The
    delivery-loop transports also retry internally per batch; this
    wrapper covers file/native sinks.)"""
    import time

    (cname, cconf), = dict(conf["output"]).items()
    attempts = int(conf.get("max_retries", 3)) + 1
    backoff = float(conf.get("backoff_s", 0.2))
    last: Exception | None = None
    for i in range(attempts):
        try:
            return run_sink(df, is_streaming, cname, cconf)
        except Exception as ex:  # noqa: BLE001 - child failure, retry
            last = ex
            if i + 1 < attempts:
                time.sleep(backoff * (2**i))
    raise last  # type: ignore[misc]


@register_sink("sync_response")
def _sync_response_sink(df: DataFrame, is_streaming: bool, conf: dict):
    """`sync_response` output (output_sync_response.go): return the
    message to its request origin. The integrated request/reply path is
    SyncResponseServer (sources/http_server.py) where the processed
    document IS the HTTP response; outside a sync-request context the
    reference's own behavior is a no-op ack — mirrored here (the frame
    is materialized so upstream effects run, nothing is written)."""
    if is_streaming:
        # like `drop`: a fresh temporary checkpoint unless one is set
        w = df.writeStream.format("noop")
        if "checkpoint" in conf:
            w = w.option("checkpointLocation", conf["checkpoint"])
        return w.start()
    df.write.format("noop").mode("overwrite").save()
    return None


@register_sink("http_server")
def _http_server_sink(df: DataFrame, is_streaming: bool, conf: dict):
    """`http_server` output: serve the result set over GET. The frame
    writes to NDJSON (distributed write), then a driver-side HTTP
    server streams the files to clients at `path` — the reference's
    fetch-my-results mode. The server handle rides the module registry
    (`HTTP_SERVER_SINKS`) keyed by path so tests/operators can stop
    it. A re-run on the same path stops the server it replaces."""
    import glob
    import os
    import tempfile
    from http.server import BaseHTTPRequestHandler

    from pyspark.sql import functions as F

    from bento_spark.operators.envelope import data_cols
    from bento_spark.serving import HttpServer

    if is_streaming:
        raise ValueError(
            "http_server output: batch form only (stream consumers use "
            "the websocket output)"
        )
    out_dir = tempfile.mkdtemp(prefix="bento_http_out_")
    cols = data_cols(df)
    payload = (
        F.col("content") if cols == ["content"]
        else F.to_json(F.struct(*cols))
    )
    df.select(payload.alias("value")).write.mode("overwrite").text(out_dir)
    path = conf.get("path", "/get")

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path.split("?")[0] != path:
                self.send_error(404)
                return
            body = b""
            for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
                with open(f, "rb") as fh:
                    body += fh.read()
            self.send_response(200)
            self.send_header("Content-Type", "application/x-ndjson")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    previous = HTTP_SERVER_SINKS.pop(path, None)
    if previous is not None:  # a re-run replaces the server on its path
        previous.stop()
    HTTP_SERVER_SINKS[path] = HttpServer(
        Handler, (conf.get("host", "127.0.0.1"), int(conf.get("port", 0)))
    )
    return None


HTTP_SERVER_SINKS: dict[str, object] = {}


# delivery-loop names for the new transports
from bento_spark.sinks import _transport_sink  # noqa: E402

for _name in ("websocket", "nats_kv", "nats_object_store", "grpc_client",
              "subprocess"):
    if _name not in SINKS:
        register_sink(_name)(_transport_sink(_name))


@register_transport("sftp")
def _sftp_transport(conf: dict):
    """``sftp`` output (internal/impl/sftp/output.go writer.go): append
    newline-framed messages to `path` over the from-scratch SSH2/SFTP
    client (operators/ssh_wire.py), creating parent directories like
    the reference's writer. Static path = the reference's lines codec
    on one remote file; connection failures route retryable."""
    from posixpath import dirname

    from bento_spark.operators.ssh_wire import SSHError, connect_sftp

    creds = conf.get("credentials", {}) or {}
    pem = None
    if creds.get("private_key_file"):
        with open(creds["private_key_file"]) as fh:
            pem = fh.read()

    class T:
        def __init__(self):
            self._t, self._cli = connect_sftp(
                conf["address"],
                creds.get("username", ""),
                password=creds.get("password"),
                private_key_pem=pem,
            )
            parent = dirname(conf["path"])
            if parent:
                self._cli.mkdirs(parent)

        def send(self, batch: list[str]) -> None:
            data = "".join(m + "\n" for m in batch).encode()
            try:
                self._cli.write_file(conf["path"], data, append=True)
            except (SSHError, OSError) as ex:
                raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            self._t.close()

    return T()


if "sftp" not in SINKS:
    register_sink("sftp")(_transport_sink("sftp"))


@register_transport("s2")
def _s2_transport(conf: dict):
    """``s2`` output (internal/impl/s2/output.go): one Append batch per
    message batch to a single stream; `fencing_token` rides every
    append (exclusive-writer enforcement is server-side)."""
    import base64

    from bento_spark.sources.s2_bridge import S2Client, S2Error

    client = S2Client(
        conf["basin"], conf.get("access_token", ""), conf.get("endpoint")
    )
    stream = conf["stream"]
    fencing = conf.get("fencing_token")

    class T:
        def send(self, batch: list[str]) -> None:
            records = [
                {"body": base64.b64encode(m.encode()).decode()} for m in batch
            ]
            try:
                client.append(stream, records, fencing_token=fencing)
            except S2Error as ex:
                # 5xx/429 are transient; 4xx (bad token, fencing) are not
                raise DeliveryError(
                    str(ex), retryable=ex.status >= 500 or ex.status == 429
                ) from ex
            except OSError as ex:
                raise DeliveryError(str(ex), retryable=True) from ex

        def close(self):
            pass

    return T()


if "s2" not in SINKS:
    register_sink("s2")(_transport_sink("s2"))
