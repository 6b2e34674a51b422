"""In-process RESP2 server (public protocol spec subset:
GET/SET/MGET/MSET/AUTH/SELECT/PING/INCRBY/EXPIRE/SCRIPT LOAD/EVALSHA,
error replies, bulk-nil, abrupt drops, a byte-dribbling mode) on stdlib
socketserver — the verifying endpoint for RedisKV's wire framing.
Shared by tests/test_redis_protocol.py, tests/test_redis_components.py
and the `proc_kv_enrich` driver-gate query (the real RESP2 MSET/MGET
path runs inside the correctness gate)."""

from __future__ import annotations

import socketserver

from bento_spark.serving import TcpServer


def _bulk(s: str | None) -> bytes:
    if s is None:
        return b"$-1\r\n"
    b = s.encode("utf-8")
    return b"$%d\r\n%s\r\n" % (len(b), b)


class _Handler(socketserver.StreamRequestHandler):
    def _read_command(self) -> list[str] | None:
        line = self.rfile.readline()
        if not line:
            return None
        assert line[:1] == b"*", line
        args = []
        for _ in range(int(line[1:-2])):
            head = self.rfile.readline()
            assert head[:1] == b"$", head
            n = int(head[1:-2])
            args.append(self.rfile.read(n + 2)[:-2].decode("utf-8"))
        return args

    def _send(self, payload: bytes) -> None:
        if self.server.dribble:
            for i in range(len(payload)):
                self.wfile.write(payload[i : i + 1])
                self.wfile.flush()
        else:
            self.wfile.write(payload)
            self.wfile.flush()

    def handle(self) -> None:
        srv = self.server
        authed = srv.password is None
        db = 0
        while True:
            cmd = self._read_command()
            if cmd is None:
                return
            name = cmd[0].upper()
            if name == "AUTH":
                if cmd[1] == srv.password:
                    authed = True
                    self._send(b"+OK\r\n")
                else:
                    self._send(b"-ERR invalid password\r\n")
                continue
            if not authed:
                self._send(b"-NOAUTH Authentication required.\r\n")
                continue
            if name == "SELECT":
                db = int(cmd[1])
                self._send(b"+OK\r\n")
            elif name == "PING":
                self._send(b"+PONG\r\n")
            elif name == "SET":
                srv.data.setdefault(db, {})[cmd[1]] = cmd[2]
                self._send(b"+OK\r\n")
            elif name == "MSET":
                d = srv.data.setdefault(db, {})
                for i in range(1, len(cmd), 2):
                    d[cmd[i]] = cmd[i + 1]
                self._send(b"+OK\r\n")
            elif name == "GET":
                self._send(_bulk(srv.data.get(db, {}).get(cmd[1])))
            elif name == "MGET":
                d = srv.data.get(db, {})
                out = [b"*%d\r\n" % (len(cmd) - 1)]
                out += [_bulk(d.get(k)) for k in cmd[1:]]
                self._send(b"".join(out))
            elif name == "INCRBY":
                d = srv.data.setdefault(db, {})
                d[cmd[1]] = str(int(d.get(cmd[1], "0")) + int(cmd[2]))
                self._send(b":%d\r\n" % int(d[cmd[1]]))
            elif name == "EXPIRE":
                srv.expires[cmd[1]] = int(cmd[2])
                self._send(b":1\r\n")
            elif name == "SCRIPT" and len(cmd) >= 3 and cmd[1].upper() == "LOAD":
                import hashlib

                sha = hashlib.sha1(cmd[2].encode("utf-8")).hexdigest()
                srv.scripts[sha] = cmd[2]
                self._send(_bulk(sha))
            elif name == "EVALSHA":
                sha, nkeys = cmd[1], int(cmd[2])
                keys = cmd[3 : 3 + nkeys]
                argv = cmd[3 + nkeys :]
                script = srv.scripts.get(sha)
                if script is None:
                    self._send(b"-NOSCRIPT No matching script.\r\n")
                # the one script the processor test loads: GET KEYS[1],
                # append ARGV[1] (a mini Lua interpreter is out of scope
                # — the server executes this known script's semantics)
                elif "redis.call('GET', KEYS[1])" in script:
                    base = srv.data.get(db, {}).get(keys[0])
                    if base is None:
                        self._send(b"$-1\r\n")
                    else:
                        self._send(_bulk(base + argv[0]))
                elif "return 1 + tonumber(ARGV[1])" in script:
                    self._send(b":%d\r\n" % (1 + int(argv[0])))
                elif "error(" in script:
                    self._send(b"-ERR user script failed\r\n")
                else:
                    self._send(b"-ERR unknown test script\r\n")
            elif name == "DROP":
                # test hook: hang up mid-conversation without a reply
                self.connection.close()
                return
            elif name == "HALFDROP":
                # test hook: die inside a bulk reply body
                self.wfile.write(b"$100\r\nonly-a-few-bytes")
                self.wfile.flush()
                self.connection.close()
                return
            else:
                self._send(b"-ERR unknown command '%s'\r\n" % name.encode())


class InProcessRespServer(TcpServer):
    def __init__(self, password: str | None = None, dribble: bool = False):
        self.password = password
        self.dribble = dribble
        self.data: dict[int, dict[str, str]] = {}
        self.scripts: dict[str, str] = {}
        self.expires: dict[str, int] = {}
        super().__init__(_Handler)


