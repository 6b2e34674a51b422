"""One retry policy for every client: which errors are transient, how
many attempts an operation gets, the wait between them, and
reconnecting after a transient error.

Under heavy host load a peer sometimes resets a connection (seen at the
sf1 gate: a ``ConnectionResetError`` mid-MGET in ``kv_enrich``, dropped
broker connections in the Kafka source), and at local ``maxFailures=1``
one reset fails the whole query. Hence:

* Transient means ``ConnectionError`` or ``TimeoutError``, also when
  urllib wraps one in a ``URLError``. Any other error (a refused
  permission, a missing file) is not mended by a second try and
  surfaces at once.
* A client that saw a transient error is closed and its factory builds
  a fresh one: a socket reset mid-reply is desynced, and its next read
  would return the tail of the old reply.
* Attempts are bounded. The wait grows exponentially, with jitter so
  that clients which failed together do not retry together.

Only operations that are safe to repeat come here: reads, and writes
whose re-send is the at-least-once delivery contract. Two forms:
``for attempt in attempts():`` is the remainder loop (DynamoDB's
unprocessed keys, Kinesis's failed records), which breaks when nothing
remains and sleeps between rounds. ``Client(factory).run(op)`` calls
``op(client)`` and reconnects after a transient error; its ``resend``
names the protocol errors that are retried on the same client.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterator
from urllib.error import URLError

ATTEMPTS = 5  # the first try and four retries
BACKOFF_S = 0.1  # the wait before the first retry, before jitter


def transient(ex: BaseException) -> bool:
    cause = ex.reason if isinstance(ex, URLError) else ex
    return isinstance(cause, (ConnectionError, TimeoutError))


def delay(attempt: int, backoff_s: float = BACKOFF_S) -> float:
    """The wait before retry ``attempt`` (1 for the first retry): the
    exponential step times a jitter factor in [0.5, 1]."""
    return backoff_s * 2 ** (attempt - 1) * random.uniform(0.5, 1.0)


def attempts(n: int = ATTEMPTS, backoff_s: float = BACKOFF_S) -> Iterator[int]:
    """Yield the attempt numbers ``0 .. n-1``, sleeping before each
    retry. A loop that runs out falls into its ``else:`` clause."""
    for attempt in range(n):
        if attempt:
            time.sleep(delay(attempt, backoff_s))
        yield attempt


class Client:
    """A client built by ``factory`` at its first operation, whose
    operations follow the policy. Close it, or use it as a context
    manager."""

    def __init__(
        self,
        factory: Callable[[], object],
        *,
        attempts: int = ATTEMPTS,
        backoff_s: float = BACKOFF_S,
        resend: Callable[[Exception], bool] = lambda ex: False,
    ):
        self.factory = factory
        self.client = None
        self.attempts = attempts
        self.backoff_s = backoff_s
        self.resend = resend

    def run(self, op: Callable[[object], object]):
        for attempt in attempts(self.attempts, self.backoff_s):
            try:
                if self.client is None:
                    self.client = self.factory()
                return op(self.client)
            except Exception as ex:
                if transient(ex):
                    try:
                        self.close()
                    except Exception:  # noqa: BLE001 - already broken
                        pass
                elif not self.resend(ex):
                    raise
                if attempt + 1 == self.attempts:
                    raise

    def close(self) -> None:
        client, self.client = self.client, None
        if client is not None:
            client.close()

    def __enter__(self) -> "Client":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
