"""The keyed-state driver: the one place the engine keeps per-key state in
a pandas stateful operator (``applyInPandasWithState``).

A kernel supplies two functions over one plain Python state value:

  * ``fold(key, st, pdf) -> st`` folds one non-empty input frame into the
    key's state (``st`` is ``None`` for a key with no stored state).  It is
    not called on a timeout call.
  * ``flush(key, st, wm_us, timed_out) -> (frame | None, st | None,
    deadline_us | None)`` runs once per call, after every frame is folded:
    it returns the rows to emit, the state to keep (``None`` removes it)
    and the event time at which the key must be called again.  A key
    with no state after folding has nothing to flush.

The driver does the per-key protocol: it unpickles the stored state, folds,
flushes, stores the state only when its pickled bytes changed (or removes
it), arms the event-time timeout at ``max(deadline, watermark + 1 ms)`` and
yields the frame.  Spark clears a key's timeout on every call, so a kernel
returns its deadline on every flush that keeps state.

The state schema is one ``BinaryType`` field named ``<name>_<tag>``, where
the tag is 16 hex digits of the sha256 of the kernel's ``layout``: every
parameter that shapes what the kernel stores.  The engine's resume guard
(``engine.check_state_schema``) compares that schema, so a checkpoint
written under another layout — another aggregate list, TOPK bound,
session gap, pattern window or mode — is refused by name instead of being
misread.  Spark's own serializer already pickles the state row, so
pickling the value adds no new trust boundary.
"""

from __future__ import annotations

import hashlib
import pickle
from typing import Callable

from pyspark.sql import DataFrame, GroupedData
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import BinaryType, StructField, StructType


def apply_keyed(
    grouped: GroupedData,
    out_schema: StructType,
    name: str,
    layout,
    fold: Callable,
    flush: Callable,
    output_mode: str,
    event_time: bool = True,
) -> DataFrame:
    """Run ``fold`` / ``flush`` per key of ``grouped``.

    ``name`` is the function name the plan shows (the engine's run policy
    reads it); ``layout`` is a tuple of plain values whose ``repr`` is
    stable.  ``output_mode`` is the kernel's: ``"update"`` for one that
    re-emits a key's changed rows (sessions, bounded aggregates),
    ``"append"`` for one that emits every row exactly once (the CEP NFA).
    Spark requires the query to run in the same mode, and the engine's
    resume guard reads it.  With ``event_time=False`` the operator has no
    timeout and ``flush`` gets ``wm_us=None`` and must return no deadline.
    """

    def run(key, pdf_iter, state: GroupState):
        raw = state.get[0] if state.exists else None
        st = None if raw is None else pickle.loads(raw)
        timed_out = state.hasTimedOut
        if not timed_out:
            for pdf in pdf_iter:
                if not pdf.empty:
                    st = fold(key, st, pdf)
        if st is None:
            return
        wm_ms = state.getCurrentWatermarkMs() if event_time else None
        frame, st, deadline_us = flush(key, st, None if wm_ms is None else wm_ms * 1000, timed_out)
        if st is None:
            if raw is not None:
                state.remove()
        else:
            blob = pickle.dumps(st, protocol=pickle.HIGHEST_PROTOCOL)
            if blob != raw:
                state.update((blob,))
            if deadline_us is not None:
                state.setTimeoutTimestamp(max(deadline_us // 1000, wm_ms + 1))
        if frame is not None and len(frame.index):
            yield frame

    run.__name__ = run.__qualname__ = name
    tag = hashlib.sha256(repr(layout).encode()).hexdigest()[:16]
    return grouped.applyInPandasWithState(
        run,
        out_schema,
        StructType([StructField(f"{name}_{tag}", BinaryType())]),
        output_mode,
        GroupStateTimeout.EventTimeTimeout if event_time else GroupStateTimeout.NoTimeout,
    )
