"""In-process verifying protocol servers ("test doubles that decode").

Shared by the pytest suites AND the driver-gate queries that certify a
wire client end-to-end inside the correctness gate (e.g. the Kafka
source/producer). Each server independently re-parses — and where the
protocol has them, checksum-verifies — the bytes a client sends, so a
passing run certifies the wire format, not just a happy-path echo.

Every server here subclasses ``bento_spark.serving.TcpServer`` or
``HttpServer``, the one in-process server base: it binds, serves on a
daemon thread, sets the listen backlog and provides ``port``, ``url``,
``stop()`` and the context manager, so each double holds only its
protocol state and handler.
"""
