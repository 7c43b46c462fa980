"""Chunk-loop observation through BatchChunker's public surface only.

:class:`StatusCounter` is an ``on_message`` hook that tallies the loop's
status lines by action. :func:`instrument_chunker` wraps
``BatchChunker.calculate_ranges`` and ``BatchChunker.execute`` for the
duration of a traced iteration, and inside ``execute`` wraps the
instance's ``coderef``, ``sleep_func`` and ``on_message`` hooks, so loops
the program builds internally (corpus onboarding, the chunked queries)
are traced the same way as the benchmark's own.
"""

from __future__ import annotations

import re
from collections import Counter
from contextlib import contextmanager

from dbix_batchchunker_spark import BatchChunker

_STATUS = re.compile(r"^IDs\s+\S+\s+to\s+\S+\s+(processed|skipped|shrunk|expanded),")
_RETRY = "Retrying after error"


class StatusCounter:
    """``on_message`` hook: counts status lines per action and retries,
    then forwards to ``forward`` if given."""

    def __init__(self, forward=None) -> None:
        self.counts: Counter = Counter()
        self.forward = forward

    def __call__(self, msg: str) -> None:
        m = _STATUS.match(msg)
        if m:
            self.counts[m.group(1)] += 1
        elif msg.startswith(_RETRY):
            self.counts["retries"] += 1
        if self.forward is not None:
            self.forward(msg)

    @property
    def decisions(self) -> int:
        c = self.counts
        return c["processed"] + c["skipped"] + c["shrunk"] + c["expanded"]

    @property
    def resizes(self) -> int:
        return self.counts["shrunk"] + self.counts["expanded"]


@contextmanager
def instrument_chunker(tracer, counters: list):
    """Trace every BatchChunker used inside the block. Each ``execute``
    appends its :class:`StatusCounter` to ``counters``."""
    orig_ranges = BatchChunker.calculate_ranges
    orig_execute = BatchChunker.execute

    def calculate_ranges(bc):
        with tracer.span("chunker.range"):
            return orig_ranges(bc)

    def execute(bc):
        coderef, sleep_func, on_message = bc.coderef, bc.sleep_func, bc.on_message
        counter = StatusCounter(on_message)
        counters.append(counter)

        def traced_coderef(*args):
            with tracer.span("chunker.dispatch"):
                return coderef(*args)

        def traced_sleep(seconds):
            with tracer.span("chunker.sleep"):
                return sleep_func(seconds)

        bc.coderef = traced_coderef if coderef is not None else None
        bc.sleep_func, bc.on_message = traced_sleep, counter
        try:
            with tracer.span("chunker.execute"):
                return orig_execute(bc)
        finally:
            bc.coderef, bc.sleep_func, bc.on_message = coderef, sleep_func, on_message

    BatchChunker.calculate_ranges, BatchChunker.execute = calculate_ranges, execute
    try:
        yield
    finally:
        BatchChunker.calculate_ranges, BatchChunker.execute = orig_ranges, orig_execute
