"""Driver-thread job overlap (guide §2.6) — the ONE implementation.

Two r15 call sites (the multi-source writes, the IVF-PQ shape leg)
originally hand-rolled the same start/join/capture/re-raise
scaffolding around ``InheritableThread`` and immediately diverged on
the subtle parts (whether threads are joined when the MAIN thread
raises; where captured errors go).  This helper owns those invariants:

- background callables run on ``InheritableThread`` (JVM thread-locals
  — job descriptions, scheduler pools — propagate to the child jobs);
- the calling thread runs ``main`` concurrently;
- threads are ALWAYS joined, including when ``main`` raises — no
  background Spark job is left running after the caller has failed;
- ``main``'s exception propagates first (after the join); otherwise
  the first background error is re-raised — nothing is swallowed.

Overlap only INDEPENDENT jobs (disjoint inputs/outputs/session state):
the scheduler interleaves their tasks so per-job fixed costs stop
serializing, and results are identical to the sequential order by
construction.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence


def overlap(
    background: Sequence[Callable[[], Any]],
    main: Callable[[], Any] = lambda: None,
) -> "tuple[Any, list[Any]]":
    """Run ``background`` callables on driver threads while ``main``
    runs on the calling thread; return ``(main_result, bg_results)``.

    Exceptions: ``main``'s error wins (raised after every thread is
    joined); else the first background error by position.  ``main``
    defaults to a no-op so pure fan-out reads as ``overlap([a, b])``.
    """
    from pyspark import InheritableThread

    results: list[Any] = [None] * len(background)
    errors: list[BaseException | None] = [None] * len(background)

    def runner(i: int, fn: Callable[[], Any]) -> Callable[[], None]:
        def run() -> None:
            try:
                results[i] = fn()
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors[i] = exc

        return run

    threads = [
        InheritableThread(target=runner(i, fn))
        for i, fn in enumerate(background)
    ]
    for th in threads:
        th.start()
    try:
        out = main()
    except BaseException as main_exc:
        # join unconditionally: a main-thread failure must not leave
        # background Spark jobs running against paths the caller may
        # retry on (r15 review finding)
        for th in threads:
            th.join()
        # a background leg may hold the ROOT cause (e.g. the shared
        # resource it was preparing failed first and main failed as a
        # consequence) — chain the first background error as the main
        # error's __cause__-style context so no failure is invisible
        # (r15 ADVICE item)
        for exc in errors:
            if exc is not None and main_exc.__context__ is None:
                main_exc.__context__ = exc
                break
        raise
    for th in threads:
        th.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return out, results
