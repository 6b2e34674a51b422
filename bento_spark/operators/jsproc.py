"""`javascript` processor — the reference's JS message API
(internal/impl/javascript/processor.go:107; docs
website/docs/components/processors/javascript.md) executed on a REAL
node child per partition instead of an embedded goja VM.

The documented ``bento.v0_*`` surface is reproduced verbatim:
``v0_msg_as_string`` / ``v0_msg_set_string`` / ``v0_msg_as_structured``
/ ``v0_msg_set_structured`` / ``v0_msg_exists_meta`` /
``v0_msg_get_meta`` / ``v0_msg_set_meta`` / ``v0_fetch``.

``v0_fetch`` (functions.go:89 — a SYNCHRONOUS HTTP call returning
``{"status": N, "body": "..."}``) is bridged to the Python parent:
node has no sound synchronous HTTP primitive, so the child emits a
fetch-request line and BLOCK-reads the reply from stdin
(fs.readSync on fd 0) while the parent performs the request with the
stdlib transport — same urllib discipline as the `http` processor,
bounded to one in-flight request per partition by the lockstep
protocol itself.

Execution shape: one node process per partition (the per-partition
resource of ``envelope.per_message``), NDJSON line framing in LOCKSTEP —
{c: content, m: {meta}} in; zero or more {f: {url, headers, method,
body}} fetch requests answered with {s: status, b: body} | {err};
finally {c, m, e} out — so a million-row partition is one child and
one pipe, not a process per message. Script errors are caught per
message into the `_error` column; the child never crashes the task."""

from __future__ import annotations

import json
import subprocess as _sp

from pyspark.sql import DataFrame

_HARNESS = r"""
const fs = require("fs");
let __pending = "";
function readLineSync() {
  const buf = Buffer.alloc(65536);
  for (;;) {
    const i = __pending.indexOf("\n");
    if (i >= 0) {
      const line = __pending.slice(0, i);
      __pending = __pending.slice(i + 1);
      return line;
    }
    let n = 0;
    try {
      n = fs.readSync(0, buf, 0, buf.length, null);
    } catch (e) {
      if (e.code === "EAGAIN") continue;
      if (e.code === "EOF") n = 0; else throw e;
    }
    if (n === 0) {
      if (__pending.length) { const l = __pending; __pending = ""; return l; }
      return null;
    }
    __pending += buf.toString("utf-8", 0, n);
  }
}
const userProgram = Buffer.from(process.argv[1], "base64").toString("utf-8");
const fn = new Function("bento", userProgram);
for (;;) {
  const lineIn = readLineSync();
  if (lineIn === null) break;
  if (!lineIn.trim()) continue;
  const msg = JSON.parse(lineIn);
  let content = msg.c;
  let meta = msg.m || {};
  let structured; // lazy-parsed, like the reference's dual representation
  let err = null;
  const bento = {
    v0_msg_as_string: () => String(content),
    v0_msg_set_string: (v) => { content = String(v); structured = undefined; },
    v0_msg_as_structured: () => {
      if (structured === undefined) structured = JSON.parse(content);
      return structured;
    },
    v0_msg_set_structured: (v) => { structured = v; content = null; },
    v0_msg_exists_meta: (k) => Object.prototype.hasOwnProperty.call(meta, k),
    v0_msg_get_meta: (k) => {
      if (!Object.prototype.hasOwnProperty.call(meta, k))
        throw new Error("key " + k + " not found");
      return meta[k];
    },
    v0_msg_set_meta: (k, v) => { meta[k] = String(v); },
    // functions.go:89 — synchronous HTTP via the parent bridge
    v0_fetch: (url, headers, method, body) => {
      fs.writeSync(1, JSON.stringify({
        f: { url: String(url), headers: headers || {},
             method: method || "GET", body: body || "" },
      }) + "\n");
      const reply = readLineSync();
      if (reply === null) throw new Error("v0_fetch: parent closed");
      const res = JSON.parse(reply);
      if (res.err) throw new Error(res.err);
      return { status: res.s, body: res.b };
    },
  };
  try {
    fn(bento);
  } catch (e) {
    err = String(e && e.message ? e.message : e);
  }
  if (content === null && structured !== undefined) {
    content = JSON.stringify(structured);
  }
  fs.writeSync(1, JSON.stringify({ c: content, m: meta, e: err }) + "\n");
}
"""


def _do_fetch(req: dict) -> dict:
    """Parent-side transport for v0_fetch: stdlib urllib with headers,
    non-2xx RETURNED as (status, body) like the http processor's
    transport contract."""
    import urllib.error
    import urllib.parse
    import urllib.request

    try:
        scheme = urllib.parse.urlsplit(req.get("url") or "").scheme.lower()
        if scheme not in ("http", "https"):
            # urlopen would happily serve file:// / ftp:// — a pipeline
            # script must not read arbitrary local files through the
            # bridge (the reference's fetch is an HTTP client only).
            return {"err": f"v0_fetch: unsupported URL scheme {scheme!r} "
                           "(only http/https)"}
        r = urllib.request.Request(
            req["url"],
            data=(req.get("body") or "").encode() or None,
            method=req.get("method") or "GET",
        )
        for k, v in (req.get("headers") or {}).items():
            r.add_header(k, str(v))
        try:
            with urllib.request.urlopen(r, timeout=30) as resp:  # noqa: S310
                return {"s": resp.status, "b": resp.read().decode()}
        except urllib.error.HTTPError as e:
            return {"s": e.code, "b": e.read().decode()}
    except Exception as ex:  # noqa: BLE001 - connection errors -> JS throw
        return {"err": f"v0_fetch: {type(ex).__name__}: {ex}"}


class _NodeChild:
    """One node process running the harness over ``code`` (base64), fed
    one message at a time in lockstep."""

    def __init__(self, b64: str, timeout: float):
        self.timeout = timeout
        self.proc = _sp.Popen(
            ["node", "-e", _HARNESS, "--", b64],
            stdin=_sp.PIPE, stdout=_sp.PIPE, stderr=_sp.PIPE,
        )

    def _send(self, obj: dict) -> None:
        self.proc.stdin.write(json.dumps(obj).encode() + b"\n")
        self.proc.stdin.flush()

    def _reply(self) -> dict:
        import select as _select

        # select() watches the fd, not Python's read buffer — safe ONLY
        # because the protocol is strict lockstep: node writes exactly
        # one line (fetch request or result) and then blocks reading
        # stdin, so a second line can never be sitting in the buffer
        # while the fd is idle. If the protocol ever pipelines, switch
        # to bufsize=0.
        ready, _, _ = _select.select([self.proc.stdout], [], [], self.timeout)
        if not ready:
            self.proc.kill()
            raise RuntimeError(f"javascript: no response within {self.timeout}s")
        line = self.proc.stdout.readline()
        if not line:
            err = self.proc.stderr.read().decode(errors="replace")[:500]
            raise RuntimeError(f"javascript: node exited: {err}")
        return json.loads(line.decode())

    def run(self, content: str, meta: dict) -> dict:
        """The script's ``{c, m, e}`` result for one message, answering
        its fetch-bridge requests on the way."""
        self._send({"c": content, "m": meta})
        while "f" in (res := self._reply()):
            self._send(_do_fetch(res["f"]))
        return res

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=5)
        except Exception:  # noqa: BLE001
            self.proc.kill()


def javascript_processor(
    df: DataFrame, code: str, content_col: str = "content", timeout: float = 120.0
) -> DataFrame:
    """Run the reference-API JS ``code`` once per message. ``content``
    is the message body; `_metadata` is exposed through the meta
    functions; script errors land in `_error`."""
    import base64

    from bento_spark.operators.envelope import (
        META, MessageError, per_message,
    )

    # One node runtime serves each non-empty partition; a one-file
    # input would funnel every row through a single node process while
    # the other cores idle. ensure_parallelism spreads the local
    # few-file case and no-ops at cluster scale (many files or an
    # upstream redistribution).
    from bento_spark.operators.dedup import ensure_parallelism

    b64 = base64.b64encode(code.encode("utf-8")).decode("ascii")

    def call(node, row):
        content = row[content_col]
        res = node.run(
            "" if content is None else str(content), dict(row[META] or {})
        )
        row[META] = res["m"]
        if res.get("e"):
            # the script's content edits before the throw are kept
            row[content_col] = res["c"]
            raise MessageError(f"javascript: {res['e']}")
        return res["c"]

    return per_message(
        ensure_parallelism(df), call, out=content_col,
        open=lambda: _NodeChild(b64, timeout), skip_errored=False, errors={},
    )


def _register() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    PROCESSORS["javascript"] = lambda df, conf: javascript_processor(
        df, conf["code"], conf.get("content", "content")
    )


_register()
