"""Run independent driver actions on parallel threads (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are sequential only because driver code calls them
sequentially. When a certificate computes several INDEPENDENT frames
(two persisted-index query runs, a fresh rebuild, two equality checks),
submitting them from a small thread pool lets the next job's tasks
back-fill executors freed by the current job's straggler tail — the
default FIFO scheduling is exactly that back-fill behaviour.

Results are answer-identical by construction: the thunks must be
independent deterministic computations, and every one of them was
already fully evaluated by the sequential form. Exceptions re-raise in
thunk order, so a caller's raise-order semantics are preserved.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target


def run_concurrent(*thunks: Callable[[], Any]) -> list[Any]:
    """Evaluate ``thunks`` on parallel driver threads; return their
    results in order. The first (by position) failing thunk's exception
    re-raises once every thread has finished — later thunks are not
    cancelled (the sequential form evaluated all of them too, except
    after a raise, where the extra evaluation is failure-mode-only and
    answer-invisible).

    ``inheritable_thread_target`` carries the JVM thread-locals (job
    group/description) into the pool threads under pinned-thread mode —
    the PySpark-documented way to run driver-side job threads."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(t)) for t in thunks
        ]
        return [f.result() for f in futures]
