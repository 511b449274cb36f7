"""CEP: event-pattern sequence matching over keyed event streams.

ksqlDB (and the reference client, gulfstream-h/ksql) stops at windowed
aggregates and joins; a CEP engine (the north rule names one) also needs
"A followed by B [followed by C ...] within T per key".

:func:`match_sequence` is a front-end to ``cep_nfa.match_pattern``'s
lowering: each step is a ``(name, pred, 1, 1)`` leg, so a batch frame runs
as one key shuffle and one kernel pass per partition, and a stream as one
keyed-state operator, whatever the step count.  ``absent`` and
``optional`` legs are span checks the kernel applies to each positive
match before it emits it.  Bad arguments raise ``AnalysisError``, as
``match_pattern``'s do.

Match semantics (relational, deterministic, oracle-checkable):

  * a match is one event per step, strictly increasing in (ts, id) order —
    the same offset contract as LATEST_BY_OFFSET — with every step within
    ``within_seconds`` of step 0;
  * ``mode='all'`` emits every such tuple (an event written twice matches
    twice); ``mode='first'`` keeps the least match per key by the steps'
    (ts, id) tuple (Flink's AFTER MATCH SKIP TO FIRST analog);
  * events with a NULL key, event time or id never match.

On a stream, a pattern of steps only in ``all`` mode is monotone — a later
event can add matches but never retract one — so each match is emitted in
the micro-batch that brings its last event.  A pattern with ``absent`` or
``optional`` legs, or in ``first`` mode, emits a match once the watermark
passes its first step's window, when no later event can change it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ..errors import AnalysisError
from .cep_nfa import _lower


def match_sequence(
    df: DataFrame,
    steps: list[tuple[str, Column]],
    within_seconds: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    mode: str = "all",
    absent: list[tuple[str, Column]] | None = None,
    optional: list[tuple[str, Column]] | None = None,
) -> DataFrame:
    """Detect ordered event sequences per key.

    ``steps`` are (name, predicate) pairs; the output carries, per match,
    the key plus ``<name>_id`` for every step and every optional leg.
    Works on a batch DataFrame or a watermarked stream, with the same rows;
    a stream's query runs in append output mode.

    ``absent`` adds NEGATION legs (Flink MATCH_RECOGNIZE's NOT pattern):
    each (name, predicate) pair drops a match if a matching event of the
    same key lies strictly between its first and last step in (ts, id)
    order.

    ``optional`` adds OPTIONAL legs (MATCH_RECOGNIZE's ``X?``): each one
    contributes every matching event strictly between the first and last
    step to ``<name>_id``, one row per event, or one NULL row when there is
    none; several optional legs multiply.
    """
    if len(steps) < 2:
        raise AnalysisError("a sequence pattern needs at least 2 steps")
    if mode not in ("all", "first"):
        raise AnalysisError(f"unknown match mode {mode!r}: expected 'all' or 'first'")
    spans = [(n, p, True) for n, p in absent or []] + [(n, p, False) for n, p in optional or []]
    return _lower(df, [(n, p, 1, 1) for n, p in steps], within_seconds, key_col, ts_col,
                  id_col, mode, spans)


def repeat(name: str, pred: Column, n: int) -> list[tuple[str, Column]]:
    """Quantifier sugar: ``A{n}`` with relaxed contiguity (Flink
    MATCH_RECOGNIZE's default `A A A` semantics) — n ordered occurrences of
    the same predicate, expanded to steps ``<name>1..<name>n``.  Splice into
    a ``match_sequence`` steps list:

        match_sequence(df, [*repeat("a", pred_a, 3), ("b", pred_b)], ...)

    Strict contiguity (no OTHER event between the occurrences) composes
    with ``absent``: add an absent leg whose predicate is the negation of
    the allowed fillers.

    Every expanded step is one more ``(1, 1)`` leg of the same NFA
    operator, so state stays one buffer per key; the match count, though,
    grows with the number of ordered n-subsets inside the window.  For
    variable bounds A{m,n} / A{m,}, with consecutive-run semantics, use
    ``cep_nfa.match_pattern`` with the legs ``[("a", pred_a, m, n),
    ("b", pred_b, 1, 1)]``.
    """
    if n < 1:
        raise AnalysisError("repeat() needs n >= 1")
    return [(f"{name}{i + 1}", pred) for i in range(n)]
