"""Task DAG runner — the engine's analog of Snowflake tasks
(reference ``ingest-dag.sql:1-3``, ``etl-dag.sql:1-5`` + ``AFTER``
edges; SURVEY §2.10 T1-T4).

A ``Task`` is a named Python callable with ``AFTER`` dependencies and
an optional cron string + IANA timezone (informational — scheduling is
delegated to an external scheduler, as Snowflake delegates to its task
engine; the runner only guarantees topological order).
``resume()``/``suspend()`` mirror ``ALTER TASK … RESUME``; ``run()``
executes one DAG pass; ``run_task()`` is ``EXECUTE TASK``; ``show()``
is ``SHOW TASKS``.

The timezone is a first-class field because the reference runs its two
DAGs in DIFFERENT zones — ingest at ``4 0 * * * America/New_York``
(``ingest-dag.sql:3``), ETL at ``0 5 * * * UTC`` (``etl-dag.sql:3``) —
so their relative offset moves with US DST (ingest 04:04/05:04 UTC vs
ETL 05:00 UTC). ``resolve_daily_fire`` pins that semantic for the
scheduler that consumes ``show()``.

Tasks whose dependencies have all finished run concurrently, each on
its own driver thread (the reference's tasks 1&2 do, as do the three
ingest tasks). A daily pass is dominated by driver round trips, not
by executor work: traced TV spans keep the executors busy 6-21% of
their wall time, so overlapping two tasks' planning, collects and job
launches shortens the pass without adding executor load. Tasks that
run together must not write into the same directory; the engine's
DAGs keep each task on its own tables. The one shared directory, the
ingest load ledger, takes each task's entry file by a rename of its
own and serialises its folds. A chain (one ready task at a time)
runs on the calling thread, exactly as before.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter


@dataclass
class Task:
    name: str
    fn: Callable[[], object]
    after: Sequence[str] = ()
    schedule: str | None = None  # 5-field cron, informational
    timezone: str = "UTC"  # IANA zone the cron is evaluated in
    enabled: bool = True


def _split_schedule(schedule: str | None) -> tuple[str | None, str | None]:
    """Accept Snowflake-style '<5-field cron> <tz>' strings (the
    reference inlines the zone: ``USING CRON 0 5 * * * UTC``) and
    split the trailing zone into the typed field."""
    if schedule is None:
        return None, None
    toks = schedule.split()
    if len(toks) == 6 and not any(c.isdigit() for c in toks[5]) \
            and toks[5] not in ("*", "?"):
        return " ".join(toks[:5]), toks[5]
    return schedule, None


def resolve_daily_fire(schedule: str, timezone: str, day) -> "dt.datetime":
    """UTC instant at which a fixed daily cron ('M H * * *') fires on
    the given LOCAL calendar date in ``timezone`` — zoneinfo applies
    the zone's DST rule for that date, which is the whole point of
    carrying the zone separately. Only the fixed-daily shape the
    reference uses is supported; anything fancier belongs to a real
    scheduler."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    toks = schedule.split()
    if len(toks) != 5 or not toks[0].isdigit() or not toks[1].isdigit() \
            or toks[2:] != ["*", "*", "*"]:
        raise ValueError(f"not a fixed daily cron: {schedule!r}")
    local = dt.datetime(
        day.year, day.month, day.day, int(toks[1]), int(toks[0]),
        tzinfo=ZoneInfo(timezone),
    )
    return local.astimezone(dt.timezone.utc)


@dataclass
class TaskDag:
    tasks: dict[str, Task] = field(default_factory=dict)

    def add(self, name: str, fn: Callable[[], object],
            after: Sequence[str] = (), schedule: str | None = None,
            timezone: str | None = None) -> Task:
        sched, inline_tz = _split_schedule(schedule)
        if timezone is not None and inline_tz is not None \
                and timezone != inline_tz:
            raise ValueError(
                f"task {name!r}: schedule embeds zone {inline_tz!r} "
                f"but timezone={timezone!r}"
            )
        t = Task(name=name, fn=fn, after=tuple(after), schedule=sched,
                 timezone=timezone or inline_tz or "UTC")
        self.tasks[name] = t
        return t

    def resume(self, name: str) -> None:
        self.tasks[name].enabled = True

    def suspend(self, name: str) -> None:
        self.tasks[name].enabled = False

    def order(self) -> list[str]:
        ts = TopologicalSorter(
            {n: list(t.after) for n, t in self.tasks.items()}
        )
        return list(ts.static_order())

    def run(self) -> dict[str, object]:
        """One DAG pass. Every task whose dependencies have finished
        is started at once, on its own driver thread carrying the
        caller's Spark local properties (job group, description); a
        lone ready task with nothing else running runs on the calling
        thread. A disabled task is skipped along with its whole
        downstream subtree (Snowflake suspended-task semantics); so is
        the subtree of a task that raises, while tasks that do not
        depend on it still run. The first failure, in topological
        order, is re-raised once nothing is left running. Results come
        back in topological key order."""
        from concurrent.futures import (
            FIRST_COMPLETED,
            ThreadPoolExecutor,
            wait,
        )

        from ..session import inheriting_target

        order = self.order()
        waiting = list(order)
        done: dict[str, object] = {}
        dead: set[str] = set()  # disabled, failed or downstream of one
        errors: dict[str, Exception] = {}
        running: dict = {}  # future -> task name

        def settle(name: str, call: Callable[[], object]) -> None:
            try:
                done[name] = call()
            except Exception as e:
                errors[name] = e
                dead.add(name)

        with ThreadPoolExecutor(max_workers=max(1, len(order))) as pool:
            while True:
                ready = []
                for name in list(waiting):
                    t = self.tasks[name]
                    if not t.enabled or any(d in dead for d in t.after):
                        dead.add(name)
                        waiting.remove(name)
                    elif all(d in done for d in t.after):
                        ready.append(name)
                        waiting.remove(name)
                if len(ready) == 1 and not running:
                    settle(ready[0], self.tasks[ready[0]].fn)
                    continue
                for name in ready:
                    fn = inheriting_target(self.tasks[name].fn)
                    running[pool.submit(fn)] = name
                if not running:
                    break
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in finished:
                    settle(running.pop(fut), fut.result)
        for name in order:
            if name in errors:
                raise errors[name]
        return {n: done[n] for n in order if n in done}

    def run_task(self, name: str) -> object:
        """EXECUTE TASK — run one task immediately, ignoring edges."""
        return self.tasks[name].fn()

    def show(self) -> list[dict[str, object]]:
        return [
            {
                "name": t.name,
                "after": list(t.after),
                "schedule": t.schedule,
                "timezone": t.timezone,
                "state": "started" if t.enabled else "suspended",
            }
            for t in self.tasks.values()
        ]
