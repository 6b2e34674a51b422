"""`wasm` processor (internal/impl/wasm/processor_wazero.go) on the
from-scratch interpreter in operators/wasm_vm.py.

Faithful ABI (functions.go): host module ``bento_wasm`` exports
``v0_msg_as_bytes`` / ``v0_msg_set_bytes`` / ``v0_msg_get_meta`` /
``v0_msg_set_meta``; packed returns are ``ptr<<32 | len`` (ptrLen,
functions.go:11); in-bound buffers are allocated with the guest's own
``malloc``/``free`` (Go) or ``allocate``/``deallocate`` (Rust) exports
and freed after the call (processor_wazero.go:128-132, 223-236); the
configured ``function`` (default ``process``) runs once per message.

Spark integration: one interpreter instance per partition, opened by
``envelope.per_message`` (the reference pools one runtime per thread for the same
reason — module state is not thread-safe), module bytes shipped in the
task closure so executors don't need the file. Guest traps and ABI
errors land in the per-message `_error` channel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bento_spark.operators.wasm_vm import WasmInstance, WasmModule, WasmTrap


class BentoWasmRunner:
    """One module instance + the bento_wasm host ABI."""

    def __init__(self, module_bytes: bytes, function: str = "process"):
        self.module = WasmModule(module_bytes)
        self.function = function
        imports = {
            ("bento_wasm", "v0_msg_as_bytes"): self._as_bytes,
            ("bento_wasm", "v0_msg_set_bytes"): self._set_bytes,
            ("bento_wasm", "v0_msg_get_meta"): self._get_meta,
            ("bento_wasm", "v0_msg_set_meta"): self._set_meta,
            # minimal WASI so wasi-targeting modules instantiate; only
            # the calls a pure transform actually makes are meaningful
            ("wasi_snapshot_preview1", "fd_write"): lambda inst, *a: 0,
            ("wasi_snapshot_preview1", "proc_exit"): self._proc_exit,
            ("wasi_snapshot_preview1", "environ_get"): lambda inst, *a: 0,
            ("wasi_snapshot_preview1", "environ_sizes_get"): self._zero2,
            ("wasi_snapshot_preview1", "args_get"): lambda inst, *a: 0,
            ("wasi_snapshot_preview1", "args_sizes_get"): self._zero2,
            ("wasi_snapshot_preview1", "random_get"): lambda inst, *a: 0,
            ("wasi_snapshot_preview1", "clock_time_get"): lambda inst, *a: 0,
        }
        self.inst = WasmInstance(self.module, imports)
        exports = self.module.exports
        if function not in exports:
            raise WasmTrap(f"module exports no function {function!r}")
        if "malloc" in exports:
            self._alloc, self._free = "malloc", "free"
        elif "allocate" in exports:
            self._alloc, self._free = "allocate", "deallocate"
        else:
            self._alloc = self._free = None
        self._content = b""
        self._meta: dict[str, str] = {}
        self._to_free: list[int] = []
        self._err: str | None = None

    # -- host ABI --
    def _allocate_inbound(self, data: bytes) -> int:
        if self._alloc is None:
            raise WasmTrap("module exports no allocator (malloc/allocate)")
        ptr = self.inst.invoke(self._alloc, len(data))
        self.inst.memory_write(ptr, data)
        self._to_free.append(ptr)
        return ptr

    def _as_bytes(self, inst: WasmInstance) -> int:
        ptr = self._allocate_inbound(self._content)
        return (ptr << 32) | len(self._content)

    def _set_bytes(self, inst: WasmInstance, ptr: int, size: int) -> None:
        self._content = inst.memory_read(ptr, size)

    def _get_meta(self, inst: WasmInstance, kptr: int, ksize: int) -> int:
        key = inst.memory_read(kptr, ksize).decode("utf-8", "replace")
        val = self._meta.get(key, "").encode()
        ptr = self._allocate_inbound(val)
        return (ptr << 32) | len(val)

    def _set_meta(self, inst: WasmInstance, kptr: int, ksize: int,
                  vptr: int, vsize: int) -> None:
        key = inst.memory_read(kptr, ksize).decode("utf-8", "replace")
        self._meta[key] = inst.memory_read(vptr, vsize).decode("utf-8", "replace")

    def _proc_exit(self, inst: WasmInstance, code: int = 0):
        raise WasmTrap(f"proc_exit({code})")

    @staticmethod
    def _zero2(inst: WasmInstance, a: int = 0, b: int = 0) -> int:
        inst.memory_write(a, b"\x00\x00\x00\x00")
        inst.memory_write(b, b"\x00\x00\x00\x00")
        return 0

    # -- per-message entry --
    def run(self, content: bytes, meta: dict[str, str]) -> tuple[bytes, dict]:
        self._content = content
        self._meta = dict(meta)
        self._to_free = []
        try:
            self.inst.invoke(self.function)
        finally:
            if self._free:
                for ptr in self._to_free:
                    try:
                        self.inst.invoke(self._free, ptr)
                    except WasmTrap:
                        pass
        return self._content, self._meta


def wasm_processor(df: DataFrame, conf: dict) -> DataFrame:
    """YAML `wasm` processor: run `function` from `module_path` per
    message; content and metadata mutations flow back, traps -> _error."""
    from bento_spark.operators.envelope import META, per_message

    with open(conf["module_path"], "rb") as fh:
        module_bytes = fh.read()
    function = conf.get("function", "process")
    # fail fast on a bad module/function at build time, like the
    # reference's constructor instantiating one runner up front
    BentoWasmRunner(module_bytes, function)

    # The per-byte VM dispatch makes this the most compute-intensive
    # per-row boundary in the engine — a one-file input (the local
    # parquet case) would otherwise run the whole corpus in ONE task
    # while every other core idles (measured: proc_wasm sf1 50s single
    # task vs ~30 core-seconds of actual VM work). ensure_parallelism
    # is a no-op when the scan already spreads (many files) or the plan
    # upstream redistributes, so cluster-scale inputs pay nothing.
    from bento_spark.operators.dedup import ensure_parallelism

    def call(runner, row):
        out, row[META] = runner.run(
            str(row["content"]).encode(), dict(row[META] or {})
        )
        return out.decode("utf-8", "replace")

    return per_message(
        ensure_parallelism(df), call,
        open=lambda: BentoWasmRunner(module_bytes, function),
        errors={WasmTrap: lambda ex: f"wasm: {ex}"},
    )


# ---------------------------------------------------------------------------
# example guest module (the reference ships example modules under
# public/wasm/ for the same purpose: a runnable ABI demonstration)
# ---------------------------------------------------------------------------

def example_uppercase_module() -> bytes:
    """Hand-assembled guest: bump-allocator ``malloc``/``free`` and a
    ``process`` that uppercases ASCII a-z in place via the v0_msg ABI,
    then sets meta ``wasm=yes``. Used by the `proc_wasm` gate query and
    the ABI tests; assembly follows the W3C binary format directly."""
    I32, I64 = 0x7F, 0x7E

    def leb(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            out.append(b | (0x80 if n else 0))
            if not n:
                return bytes(out)

    def sleb(n: int) -> bytes:
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            done = (n == 0 and not b & 0x40) or (n == -1 and b & 0x40)
            out.append(b if done else b | 0x80)
            if done:
                return bytes(out)

    def name(s: str) -> bytes:
        return leb(len(s)) + s.encode()

    def vec(items: list) -> bytes:
        return leb(len(items)) + b"".join(items)

    def sec(sid: int, payload: bytes) -> bytes:
        return bytes([sid]) + leb(len(payload)) + payload

    def functype(params: list, results: list) -> bytes:
        return (b"\x60" + vec([bytes([p]) for p in params])
                + vec([bytes([r]) for r in results]))

    def code(locals_: list, body: bytes) -> bytes:
        entry = vec([leb(1) + bytes([vt]) for vt in locals_]) + body + b"\x0b"
        return leb(len(entry)) + entry

    types = sec(1, vec([
        functype([], [I64]),                  # v0_msg_as_bytes
        functype([I32, I32], []),             # v0_msg_set_bytes
        functype([I32, I32, I32, I32], []),   # v0_msg_set_meta
        functype([I32], [I32]),               # malloc
        functype([I32], []),                  # free
        functype([], []),                     # process
    ]))
    imports = sec(2, vec([
        name("bento_wasm") + name("v0_msg_as_bytes") + b"\x00" + leb(0),
        name("bento_wasm") + name("v0_msg_set_bytes") + b"\x00" + leb(1),
        name("bento_wasm") + name("v0_msg_set_meta") + b"\x00" + leb(2),
    ]))
    funcs = sec(3, vec([leb(3), leb(4), leb(5)]))
    mem = sec(5, vec([b"\x00" + leb(4)]))  # 256 KiB arena
    globals_ = sec(6, vec([bytes([I32, 1]) + b"\x41" + sleb(1024) + b"\x0b"]))
    exports = sec(7, vec([
        name("malloc") + b"\x00" + leb(3),
        name("free") + b"\x00" + leb(4),
        name("process") + b"\x00" + leb(5),
    ]))
    data = sec(11, vec([leb(0) + b"\x41" + sleb(0) + b"\x0b"
                        + leb(7) + b"wasmyes"]))
    malloc = code([I32], (
        b"\x23\x00\x21\x01"
        b"\x23\x00\x20\x00\x6a\x24\x00"
        b"\x20\x01"
    ))
    free = code([], b"")
    # process starts by resetting the bump pointer: free is a no-op,
    # so the arena is per-call (otherwise a long message stream would
    # exhaust linear memory — the allocator IS the guest's contract)
    process = code([I64, I32, I32, I32, I32, I32], bytes.fromhex((
        "41 80 08 24 00"        # bump = 1024
        "10 00 21 00"
        "20 00 42 20 88 a7 21 01"
        "20 00 a7 21 02"
        "41 00 21 03"
        "02 40 03 40"
        "20 03 20 02 4f 0d 01"
        "20 01 20 03 6a 21 04"
        "20 04 2d 00 00 21 05"
        "20 05 41 e1 00 4f"
        "20 05 41 fa 00 4d"
        "71 04 40"
        "20 04 20 05 41 20 6b 3a 00 00"
        "0b"
        "20 03 41 01 6a 21 03"
        "0c 00 0b 0b"
        "20 01 20 02 10 01"
        "41 00 41 04 41 04 41 03 10 02"
    ).replace(" ", "")))
    return (b"\x00asm\x01\x00\x00\x00" + types + imports + funcs + mem
            + globals_ + exports + data + sec(10, vec([malloc, free, process])))
