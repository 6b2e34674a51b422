"""``rate_limit`` resources: the reference's ``local`` X-every-Y limiter.

Reference: internal/impl/pure/rate_limit_local.go (count / byte_size per
interval, shared across components by name) and processor_rate_limit.go
(a processor that blocks the batch until the named resource admits it).

Spark mapping: rows inside a stage are vectorized — per-row throttling
would be meaningless and catastrophically slow — so the admission unit
is the Bento unit, the BATCH. Two integration points:

- streaming sources: ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``
  plus the trigger interval bound ingest rate declaratively (the
  scheduler enforces it; nothing blocks).
- sinks / driver-side loops: ``LocalRateLimit.throttle(n, bytes)``
  sleeps exactly as long as the windowed budget requires before the
  next batch is released (foreachBatch or sequential batch writes).

The resource registry mirrors the cache-resource pattern so YAML
configs share one limiter across processors and sinks by label.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


class RateLimitError(ValueError):
    pass


@dataclass
class LocalRateLimit:
    """Windowed budget: at most ``count`` admissions and ``byte_size``
    bytes per ``interval`` seconds; 0 disables that dimension
    (rate_limit_local.go:17-25). ``clock`` is injectable for tests."""

    count: int = 1000
    byte_size: int = 0
    interval: float = 1.0
    clock: object = time
    _window_start: float = field(default=0.0, init=False)
    _used_count: int = field(default=0, init=False)
    _used_bytes: int = field(default=0, init=False)

    def __post_init__(self):
        if self.count < 0 or self.byte_size < 0:
            raise RateLimitError("rate_limit: count/byte_size cannot be negative")
        if self.interval <= 0:
            raise RateLimitError("rate_limit: interval must be positive")

    def access(self, n: int = 1, nbytes: int = 0) -> float:
        """Try to admit ``n`` items / ``nbytes`` bytes. Returns 0.0 when
        admitted, else the seconds to wait before retrying — the
        reference's Access() contract (rate_limit_local.go:96)."""
        now = self.clock.monotonic()
        if now - self._window_start >= self.interval:
            self._window_start = now
            self._used_count = 0
            self._used_bytes = 0
        over_count = self.count and self._used_count + n > self.count
        over_bytes = self.byte_size and self._used_bytes + nbytes > self.byte_size
        if over_count or over_bytes:
            return max(0.0, self._window_start + self.interval - now)
        self._used_count += n
        self._used_bytes += nbytes
        return 0.0

    def throttle(self, n: int = 1, nbytes: int = 0) -> float:
        """Block until admitted; returns total seconds slept. A request
        larger than a whole window's budget is admitted alone in a
        fresh window (it can never fit a stricter budget)."""
        slept = 0.0
        whole_batch_oversized = (self.count and n > self.count) or (
            self.byte_size and nbytes > self.byte_size
        )
        while True:
            if whole_batch_oversized:
                # wait for a fresh window, then let it through alone
                now = self.clock.monotonic()
                if now - self._window_start >= self.interval:
                    self._window_start = now
                    self._used_count = n
                    self._used_bytes = nbytes
                    return slept
                wait = self._window_start + self.interval - now
            else:
                wait = self.access(n, nbytes)
                if wait == 0.0:
                    return slept
            self.clock.sleep(wait)
            slept += wait


_RESOURCES: dict[str, LocalRateLimit] = {}


def register_rate_limit(name: str, conf: dict | LocalRateLimit) -> LocalRateLimit:
    """Create/replace a named limiter (config `rate_limit_resources:`)."""
    if isinstance(conf, LocalRateLimit):
        rl = conf
    else:
        rl = LocalRateLimit(
            count=int(conf.get("count", 1000)),
            byte_size=int(conf.get("byte_size", 0)),
            interval=float(str(conf.get("interval", 1.0)).rstrip("s")),
        )
    _RESOURCES[name] = rl
    return rl


def get_rate_limit(name: str) -> LocalRateLimit:
    if name not in _RESOURCES:
        raise RateLimitError(
            f"unknown rate_limit resource {name!r} (have {sorted(_RESOURCES)})"
        )
    return _RESOURCES[name]


class RedisRateLimit:
    """``redis`` rate limit (internal/impl/redis/rate_limit.go): a
    DISTRIBUTED windowed budget shared by every process pointing at the
    same key — the cross-executor form the local limiter cannot give.

    Each window is one Redis key ``<prefix>:<floor(now/interval)>``:
    INCRBY-then-check (atomic — concurrent clients over-increment
    rather than double-admit, the same conservative bias as the
    reference), EXPIRE stamped on first touch so windows self-clean.
    Same access()/throttle() contract as LocalRateLimit, so the sink
    `rate_limit:` label and the processor both take either."""

    def __init__(self, client, count: int = 1000, interval: float = 1.0,
                 key_prefix: str = "bento_rl", clock=time):
        if interval <= 0:
            raise RateLimitError("rate_limit: interval must be positive")
        self.client = client  # RedisKV (generic command surface)
        self.count = count
        self.interval = interval
        self.key_prefix = key_prefix
        self.clock = clock

    def _key(self, now: float) -> str:
        return f"{self.key_prefix}:{int(now // self.interval)}"

    def access(self, n: int = 1, nbytes: int = 0) -> float:
        now = self.clock.time() if hasattr(self.clock, "time") else time.time()
        key = self._key(now)
        used = int(self.client.command("INCRBY", key, str(n)))
        if used == n:  # first touch of this window: stamp the TTL
            self.client.command(
                "EXPIRE", key, str(max(1, int(self.interval * 2)))
            )
        if self.count and used > self.count:
            return max(0.0, (int(now // self.interval) + 1) * self.interval - now)
        return 0.0

    def throttle(self, n: int = 1, nbytes: int = 0) -> float:
        slept = 0.0
        while True:
            wait = self.access(n, nbytes)
            if wait == 0.0:
                return slept
            self.clock.sleep(wait)
            slept += wait
