"""In-process memcached text-protocol server (the get/set/version
subset of the public protocol.txt that MemcachedKV speaks) — backs the
wire-protocol tests and the processor-docs sweep's runnable
`memcached:` cache resources (VERDICT r11 next #4)."""

from __future__ import annotations

import socketserver

from bento_spark.serving import TcpServer


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:
        srv = self.server
        while True:
            line = self.rfile.readline()
            if not line:
                return
            parts = line[:-2].split(b" ")
            cmd = parts[0]
            if cmd == b"get":
                out = []
                for k in parts[1:]:
                    v = srv.data.get(k.decode())
                    if v is not None:
                        vb = v.encode("utf-8")
                        out.append(
                            b"VALUE %s 0 %d\r\n%s\r\n" % (k, len(vb), vb)
                        )
                out.append(b"END\r\n")
                self.wfile.write(b"".join(out))
                self.wfile.flush()
            elif cmd == b"set":
                key, _flags, _exp, n = parts[1:5]
                noreply = parts[-1] == b"noreply"
                data = self.rfile.read(int(n) + 2)[:-2]
                if srv.reject_sets:
                    # consume but refuse — noreply swallows the error,
                    # the version sync must still answer
                    if not noreply:
                        self.wfile.write(b"SERVER_ERROR out of memory\r\n")
                        self.wfile.flush()
                    continue
                srv.data[key.decode()] = data.decode("utf-8")
                if not noreply:
                    self.wfile.write(b"STORED\r\n")
                    self.wfile.flush()
            elif cmd == b"version":
                self.wfile.write(b"VERSION 1.6.0-inprocess\r\n")
                self.wfile.flush()
            elif cmd == b"drop":
                self.connection.close()
                return
            else:
                self.wfile.write(b"ERROR\r\n")
                self.wfile.flush()


class InProcessMemcachedServer(TcpServer):
    def __init__(self):
        self.data: dict[str, str] = {}
        self.reject_sets = False
        super().__init__(_Handler)
