"""Driver-side profiling counters.

``py4j_calls`` counts the commands Python sends to the JVM over py4j.
Each command is one synchronous round-trip (25-80 µs when it waits on
no job), so building a plan Column by Column has a cost the Spark
status store never sees: no job runs while it is paid.
scripts/profile_queries.py reports the count per query, and
tests/test_operators.py bounds it for the MinHash-LSH plan builders.
"""

from __future__ import annotations

import gc
import threading
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.clientserver import ClientServerConnection


@dataclass
class Py4jCalls:
    """py4j commands sent inside one :func:`py4j_calls` block."""

    n: int = 0  # from every thread: stream callbacks, py4j's finalizer
    own: int = 0  # from the thread that opened the block


@contextmanager
def py4j_calls() -> Iterator[Py4jCalls]:
    """Count the py4j commands sent inside the block.

    Counts ``ClientServerConnection.send_command``, the transport of
    PySpark's default pinned-thread gateway. ``own`` is the exact cost
    of work done on the calling thread, such as building a plan; ``n``
    also holds other threads' commands, such as a stream's
    ``foreachBatch`` callbacks. The garbage collector runs first and is
    off inside the block, so no collection releases JVM handles (one
    command each) mid-count.
    """
    counter = Py4jCalls()
    opener = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        counter.n += 1
        if threading.get_ident() == opener:
            counter.own += 1
        return send(self, *args, **kwargs)

    gc.collect()
    gc_was_enabled = gc.isenabled()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = send
        if gc_was_enabled:
            gc.enable()
