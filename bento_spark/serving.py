"""One in-process server base for every socket server the engine starts:
the production endpoints (``http_server``/``websocket``/``socket_server``
inputs, the ``http_server`` output, the streams API, the blobl
playground, the Prometheus and ``json_api`` metrics endpoints) and the
verifying protocol doubles in ``bento_spark.testing`` and ``tests/``.

``TcpServer(handler, address)`` / ``HttpServer(handler, address)`` bind
``address`` (default: an ephemeral loopback port), serve on one daemon
thread from construction on, and expose ``port`` and ``url``.
``stop()`` is idempotent; the server is also a context manager, so a
fixture reads ``with HttpServer(H) as srv: yield srv``. Subclasses hold
only their protocol state and handler: set the state, then call
``super().__init__(handler, address)``.
"""

from __future__ import annotations

import socketserver
import threading
from http.server import ThreadingHTTPServer

LOOPBACK = ("127.0.0.1", 0)
# How often the serving loop checks for stop(). socketserver's 0.5 s
# default made every stop() block about 0.45 s, which a function-scoped
# fixture pays once per test.
_POLL_S = 0.02


class _Serving:
    allow_reuse_address = True
    daemon_threads = True
    # Listen backlog. Clients connect in bursts: every Arrow worker opens
    # its per-partition client at once (32 tasks x 8 enrichment threads
    # after the r12 parallelism spread), and the Kafka source opens one
    # connection per reader task per micro-batch. socketserver's default
    # backlog of 5 refused or reset the overflow under host load: a
    # ConnectionResetError in proc_kv_enrich's MGET at the sf1 gate,
    # spurious "connection closed" in the Kafka source, and seconds of
    # SYN-retransmit stalls in the http enrichment pool. 1024 covers the
    # largest burst; the kernel caps it at net.core.somaxconn.
    request_queue_size = 1024
    scheme = "tcp"

    def __init__(self, handler, address=LOOPBACK):
        super().__init__(address, handler)
        threading.Thread(
            target=self.serve_forever, args=(_POLL_S,), daemon=True,
            name=f"{type(self).__name__}:{self.server_address[1]}",
        ).start()

    @property
    def port(self) -> int:
        return self.server_address[1]

    @property
    def url(self) -> str:
        return f"{self.scheme}://{self.server_address[0]}:{self.port}"

    def stop(self) -> None:
        """Stop accepting and close the listening socket; handler
        threads are daemons and finish on their own. Safe to call more
        than once: a second shutdown() finds the loop already stopped,
        and closing a closed socket does nothing."""
        self.shutdown()
        self.server_close()

    def __exit__(self, *exc) -> None:
        self.stop()


class TcpServer(_Serving, socketserver.ThreadingTCPServer):
    """Threaded TCP server; ``handler`` is a ``StreamRequestHandler``."""


class HttpServer(_Serving, ThreadingHTTPServer):
    """Threaded HTTP server; ``handler`` is a ``BaseHTTPRequestHandler``."""

    scheme = "http"
