"""Codec processors: compress / decompress / parse_log / grok-style
extraction (SURVEY §2.1 rows: processor_compress.go:22,
processor_decompress.go:21, processor_parse_log.go:105,
processor_grok.go:104).

compress/decompress use Python stdlib codecs (zlib/gzip/bz2/lzma)
through Arrow-batched pandas UDFs — there is no JVM-side Column
function for these, so tier-c is the honest mapping; batching keeps it
off the per-row path. Log/grok parsing is pure regexp_extract
(tier-a, pushdown-friendly).
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
import lzma as _lzma
import zlib as _zlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

def _flate_compress(b: bytes) -> bytes:
    co = _zlib.compressobj(6, _zlib.DEFLATED, -15)  # raw DEFLATE
    return co.compress(b) + co.flush()


def _flate_decompress(b: bytes) -> bytes:
    return _zlib.decompress(b, -15)


def _lz4_compress(b: bytes) -> bytes:
    from bento_spark.operators.lz4snappy import lz4_frame_compress

    return lz4_frame_compress(b)


def _lz4_decompress(b: bytes) -> bytes:
    from bento_spark.operators.lz4snappy import lz4_frame_decompress

    return lz4_frame_decompress(b)


def _snappy_compress(b: bytes) -> bytes:
    from bento_spark.operators.lz4snappy import snappy_compress

    return snappy_compress(b)


def _snappy_decompress(b: bytes) -> bytes:
    from bento_spark.operators.lz4snappy import snappy_decompress_any

    return snappy_decompress_any(b)


# full reference registry (internal/impl/pure/algorithms.go:194-299):
# gzip / pgzip (parallel gzip — same format, stdlib remap) / zlib /
# flate (raw DEFLATE) / bzip2 / lz4 (frame) / snappy (block); plus the
# repo's historical bz2/lzma spellings
_CODECS = {
    "zlib": (lambda b: _zlib.compress(b, 6), _zlib.decompress),
    "gzip": (lambda b: _gzip.compress(b, 6, mtime=0), _gzip.decompress),
    "pgzip": (lambda b: _gzip.compress(b, 6, mtime=0), _gzip.decompress),
    "flate": (_flate_compress, _flate_decompress),
    "bz2": (lambda b: _bz2.compress(b), _bz2.decompress),
    "bzip2": (lambda b: _bz2.compress(b), _bz2.decompress),
    "lzma": (lambda b: _lzma.compress(b), _lzma.decompress),
    "lz4": (_lz4_compress, _lz4_decompress),
    "snappy": (_snappy_compress, _snappy_decompress),
}


def compress_py(data: bytes, algo: str) -> bytes:
    if algo not in _CODECS:
        raise ValueError(f"unknown compression algorithm: {algo}")
    return _CODECS[algo][0](data)


def decompress_py(data: bytes, algo: str) -> bytes:
    if algo not in _CODECS:
        raise ValueError(f"unknown compression algorithm: {algo}")
    return _CODECS[algo][1](data)


def compress_col(col: Column, algo: str = "zlib") -> Column:
    """BINARY -> compressed BINARY (deterministic: fixed level, gzip
    mtime pinned to 0)."""
    if algo not in _CODECS:
        raise ValueError(f"unknown compression algorithm: {algo}")
    enc, _ = _CODECS[algo]

    @pandas_udf("binary")
    def run(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if b is None else enc(bytes(b)))

    return run(col)


def decompress_col(col: Column, algo: str = "zlib") -> Column:
    if algo not in _CODECS:
        raise ValueError(f"unknown compression algorithm: {algo}")
    _, dec = _CODECS[algo]

    @pandas_udf("binary")
    def run(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if b is None else dec(bytes(b)))

    return run(col)


_Z85 = ("0123456789abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_REV = {c: i for i, c in enumerate(_Z85)}


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85 (spec 32/Z85): 4-byte groups -> 5 chars; input must
    be 4-aligned (the Go encoder the reference kept for back-compat
    errors otherwise)."""
    if len(data) % 4:
        raise ValueError("z85: input length must be a multiple of 4")
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = ""
        for _ in range(5):
            chunk = _Z85[v % 85] + chunk
            v //= 85
        out.append(chunk)
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85: input length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for ch in text[i : i + 5]:
            v = v * 85 + _Z85_REV[ch]
        out += v.to_bytes(4, "big")
    return bytes(out)


def a85_encode_col(col: Column) -> Column:
    """BINARY -> ascii85 string (Go encoding/ascii85 semantics — the
    Bloblang ``encode("ascii85")`` scheme; stdlib a85encode matches
    Go's encoder incl. the all-zero 'z' fold)."""
    import base64 as _b64

    @pandas_udf("string")
    def run(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None else _b64.a85encode(bytes(b)).decode()
        )

    return run(col)


def a85_decode_col(col: Column) -> Column:
    import base64 as _b64

    @pandas_udf("binary")
    def run(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None if v is None else _b64.a85decode(str(v))
        )

    return run(col)


def tar_archive_col(names: Column, payloads: Column) -> Column:
    """``archive`` format=tar (processor_archive.go:59): zip of
    (names array, payload array) -> one deterministic tar BINARY
    (mtime/uid pinned to 0 so output is byte-stable)."""
    import io
    import tarfile

    @pandas_udf("binary")
    def run(name_s: pd.Series, payload_s: pd.Series) -> pd.Series:
        out = []
        for names_row, payloads_row in zip(name_s, payload_s):
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w") as tf:
                for nm, data in zip(names_row, payloads_row):
                    data = bytes(data)
                    info = tarfile.TarInfo(name=nm)
                    info.size = len(data)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(data))
            out.append(buf.getvalue())
        return pd.Series(out)

    return run(names, payloads)


def tar_unarchive(df: DataFrame, tar_col: str) -> DataFrame:
    """``unarchive`` format=tar (processor_unarchive.go:49): one tar
    BINARY -> one row per member (name, payload)."""
    import io
    import tarfile

    other = [c for c in df.columns if c != tar_col]
    schema = ", ".join(
        [
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.select(*other).schema.fields
        ]
        + ["member_name string", "payload binary"]
    )

    def run(batches):
        for pdf in batches:
            rows = {c: [] for c in [*other, "member_name", "payload"]}
            for _, r in pdf.iterrows():
                with tarfile.open(fileobj=io.BytesIO(bytes(r[tar_col]))) as tf:
                    for info in tf.getmembers():
                        # extractfile() is None for non-regular members
                        # (dirs, symlinks, devices) — skip them rather
                        # than crash the task (ADVICE r1).
                        if not info.isreg():
                            continue
                        for c in other:
                            rows[c].append(r[c])
                        rows["member_name"].append(info.name)
                        rows["payload"].append(tf.extractfile(info).read())
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, schema)


def _mp_encode(obj) -> bytes:
    """Minimal msgpack encoder (nil/bool/int/float/str/array/map) —
    enough for the `msgpack` processor's JSON-object surface
    (internal/impl/msgpack/processor.go:24) without a third-party lib."""
    import struct

    if obj is None:
        return b"\xc0"
    if obj is True:
        return b"\xc3"
    if obj is False:
        return b"\xc2"
    if isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            return struct.pack("B", obj)
        return b"\xd3" + struct.pack(">q", obj)
    if isinstance(obj, float):
        return b"\xcb" + struct.pack(">d", obj)
    if isinstance(obj, str):
        b = obj.encode()
        if len(b) < 32:
            return struct.pack("B", 0xA0 | len(b)) + b
        return b"\xdb" + struct.pack(">I", len(b)) + b
    if isinstance(obj, (list, tuple)):
        head = (
            struct.pack("B", 0x90 | len(obj))
            if len(obj) < 16
            else b"\xdd" + struct.pack(">I", len(obj))
        )
        return head + b"".join(_mp_encode(x) for x in obj)
    if isinstance(obj, dict):
        head = (
            struct.pack("B", 0x80 | len(obj))
            if len(obj) < 16
            else b"\xdf" + struct.pack(">I", len(obj))
        )
        return head + b"".join(_mp_encode(k) + _mp_encode(v) for k, v in obj.items())
    raise TypeError(f"msgpack: unsupported type {type(obj)}")


def _mp_decode(b: bytes, i: int = 0):
    import struct

    t = b[i]
    if t == 0xC0:
        return None, i + 1
    if t == 0xC3:
        return True, i + 1
    if t == 0xC2:
        return False, i + 1
    if t <= 0x7F:
        return t, i + 1
    if t == 0xD3:
        return struct.unpack(">q", b[i + 1 : i + 9])[0], i + 9
    if t == 0xCB:
        return struct.unpack(">d", b[i + 1 : i + 9])[0], i + 9
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return b[i + 1 : i + 1 + n].decode(), i + 1 + n
    if t == 0xDB:
        n = struct.unpack(">I", b[i + 1 : i + 5])[0]
        return b[i + 5 : i + 5 + n].decode(), i + 5 + n
    if 0x90 <= t <= 0x9F or t == 0xDD:
        if t == 0xDD:
            n = struct.unpack(">I", b[i + 1 : i + 5])[0]
            i += 5
        else:
            n, i = t & 0x0F, i + 1
        out = []
        for _ in range(n):
            v, i = _mp_decode(b, i)
            out.append(v)
        return out, i
    if 0x80 <= t <= 0x8F or t == 0xDF:
        if t == 0xDF:
            n = struct.unpack(">I", b[i + 1 : i + 5])[0]
            i += 5
        else:
            n, i = t & 0x0F, i + 1
        out = {}
        for _ in range(n):
            k, i = _mp_decode(b, i)
            v, i = _mp_decode(b, i)
            out[k] = v
        return out, i
    raise ValueError(f"msgpack: bad type byte 0x{t:02x}")


def msgpack_encode_col(col: Column) -> Column:
    """JSON string -> msgpack bytes (`msgpack` processor to_msgpack)."""
    import json

    @pandas_udf("binary")
    def run(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else _mp_encode(json.loads(x)))

    return run(col)


def msgpack_decode_col(col: Column) -> Column:
    """msgpack bytes -> JSON string (`msgpack` processor from_msgpack)."""
    import json

    @pandas_udf("string")
    def run(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None
            if x is None
            else json.dumps(_mp_decode(bytes(x))[0], sort_keys=True)
        )

    return run(col)


# Common Log Format: host ident user [ts] "METHOD path proto" status bytes
CLF_RE = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) (\S+)" (\d{3}) (\d+|-)$'
)

CLF_FIELDS = [
    ("host", 1, "string"),
    ("ident", 2, "string"),
    ("user", 3, "string"),
    ("ts_raw", 4, "string"),
    ("method", 5, "string"),
    ("path", 6, "string"),
    ("proto", 7, "string"),
    ("status", 8, "int"),
    ("bytes", 9, "string"),
]


def parse_clf(df: DataFrame, col: str) -> DataFrame:
    """`parse_log` for access logs: pure regexp_extract columns — stays
    inside whole-stage codegen, no UDF."""
    out = df
    for name, idx, typ in CLF_FIELDS:
        out = out.withColumn(name, F.regexp_extract(F.col(col), CLF_RE, idx).cast(typ))
    return out


# ---- syslog parse_log (processor_parse_log.go:105) -----------------------

# RFC3164: <PRI>Mmm dd HH:MM:SS host tag[pid]: msg
SYSLOG_3164_RE = (
    r"^(?:<(\d{1,3})>)?"
    r"([A-Z][a-z]{2}\s+\d{1,2}\s\d{2}:\d{2}:\d{2})\s"
    r"(\S+)\s"
    r"([^:\[\s]+)(?:\[(\d+)\])?:\s*"
    r"(.*)$"
)

# RFC5424: <PRI>VER TS HOST APP PROCID MSGID [SD] MSG
SYSLOG_5424_RE = (
    r"^<(\d{1,3})>(\d)\s(\S+)\s(\S+)\s(\S+)\s(\S+)\s(\S+)\s"
    r"(-|(?:\[.*\]))\s?(.*)$"
)


def parse_syslog(df: DataFrame, col: str, rfc: str = "3164") -> DataFrame:
    """``parse_log`` format=syslog_rfc3164 / syslog_rfc5424
    (processor_parse_log.go:105): pure regexp_extract columns plus the
    PRI split into facility (pri/8) and severity (pri%8) — all codegen.
    (The previous round shipped Apache CLF under this name; that now
    lives as ``parse_clf``.)"""
    c = F.col(col)
    if rfc == "3164":
        pri = F.regexp_extract(c, SYSLOG_3164_RE, 1)
        out = (
            df.withColumn("priority", pri.cast("int"))
            .withColumn("timestamp", F.regexp_extract(c, SYSLOG_3164_RE, 2))
            .withColumn("hostname", F.regexp_extract(c, SYSLOG_3164_RE, 3))
            .withColumn("appname", F.regexp_extract(c, SYSLOG_3164_RE, 4))
            .withColumn(
                "procid", F.regexp_extract(c, SYSLOG_3164_RE, 5).cast("int")
            )
            .withColumn("message", F.regexp_extract(c, SYSLOG_3164_RE, 6))
        )
    elif rfc == "5424":
        pri = F.regexp_extract(c, SYSLOG_5424_RE, 1)
        out = (
            df.withColumn("priority", pri.cast("int"))
            .withColumn("version", F.regexp_extract(c, SYSLOG_5424_RE, 2).cast("int"))
            .withColumn("timestamp", F.regexp_extract(c, SYSLOG_5424_RE, 3))
            .withColumn("hostname", F.regexp_extract(c, SYSLOG_5424_RE, 4))
            .withColumn("appname", F.regexp_extract(c, SYSLOG_5424_RE, 5))
            .withColumn("procid", F.regexp_extract(c, SYSLOG_5424_RE, 6))
            .withColumn("msgid", F.regexp_extract(c, SYSLOG_5424_RE, 7))
            .withColumn("structured_data", F.regexp_extract(c, SYSLOG_5424_RE, 8))
            .withColumn("message", F.regexp_extract(c, SYSLOG_5424_RE, 9))
        )
    else:
        raise ValueError(f"syslog rfc {rfc!r} not supported (3164/5424)")
    return out.withColumn(
        "facility", (F.col("priority") / 8).cast("int")
    ).withColumn("severity", F.col("priority") % 8)


# ---- full grok: %{PATTERN:name} library (processor_grok.go:104) ----------

# The standard grok base patterns (public logstash-patterns-core set —
# the same library the reference embeds).
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "POSINT": r"\d+",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPORHOST": r"(?:(?:\d{1,3}\.){3}\d{1,3}|[\w.-]+)",
    "HOSTNAME": r"[\w.-]+",
    "USER": r"[\w.-]+",
    "USERNAME": r"[\w.-]+",
    "EMAILADDRESS": r"[\w.+-]+@[\w.-]+",
    "UUID": r"[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HTTPDATE": r"\d{2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
    "LOGLEVEL": r"(?:DEBUG|INFO|WARN(?:ING)?|ERROR|FATAL|TRACE|CRITICAL)",
    "QUOTEDSTRING": r'"[^"]*"',
    "PATH": r"(?:/[\w.-]+)+",
    "URIPATH": r"(?:/[\w.:;=@#%&!$'()*+,~-]*)+",
}
_GROK_REF = _re_mod = None


_GROK_REF_RE = r"%\{(\w+)(?::([\w.\[\]]+))?(?::(\w+))?\}"

_GROK_TYPES = {"int": "long", "long": "long", "float": "double",
               "double": "double", "bool": "boolean",
               "boolean": "boolean", "string": "string"}


def grok_compile(
    pattern: str, extra: dict[str, str] | None = None
) -> tuple[str, list[tuple[str, str]]]:
    """Expand %{PATTERN:name[:type]} / %{PATTERN} references ->
    (java regex, [(field, spark type)]). Nested library references
    expand recursively; ``extra`` adds the config's
    `pattern_definitions` (processor_grok.go) to the library."""
    import re as _re

    lib = {**GROK_PATTERNS, **(extra or {})}
    fields: list[tuple[str, str]] = []

    def repl(m):
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if name not in lib:
            raise ValueError(f"unknown grok pattern %{{{name}}}")
        inner = _re.sub(_GROK_REF_RE, repl, lib[name])
        if field:
            fields.append((field, _GROK_TYPES.get(typ or "string", "string")))
            return f"({inner})"
        return f"(?:{inner})"

    # a bare user capture group '(...)' would shift every %{NAME:field}
    # group index — neutralize to non-capturing before expansion
    # (escaped parens and existing (?...) constructs untouched)
    safe = _re.sub(r"(?<!\\)\((?!\?)", "(?:", pattern)
    java = _re.sub(_GROK_REF_RE, repl, safe)
    return java, fields


def grok(df: DataFrame, col: str, pattern: str,
         extra: dict[str, str] | None = None) -> DataFrame:
    """``grok`` processor (processor_grok.go:104): %{PATTERN:name}
    pattern library -> one regexp per named capture, all codegen;
    `:int`/`:float` type suffixes cast the capture."""
    java, fields = grok_compile(pattern, extra)
    out = df
    for i, (name, typ) in enumerate(fields, start=1):
        c = F.regexp_extract(F.col(col), java, i)
        out = out.withColumn(name, c.cast(typ) if typ != "string" else c)
    return out
