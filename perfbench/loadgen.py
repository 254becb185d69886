"""Open-loop request generator.

Requests are due on a fixed schedule whatever the server does, so a
stall delays every request behind it. Latency is therefore timed from
each request's *due* time, not from when a free connection finally sent
it, and the generator reports how late its own dispatcher woke up.
"""

from __future__ import annotations

import queue
import random
import threading
import time
from dataclasses import dataclass


def poisson_offsets(rng: random.Random, rate: float, seconds: float) -> list[float]:
    """Arrival offsets (s) of a Poisson process of ``rate``/s over
    ``seconds``, conditioned on its mean count ``round(rate * seconds)``:
    given the count, Poisson arrival times are sorted uniform draws. The
    fixed count keeps every seed's request mix the same size."""
    return sorted(rng.uniform(0.0, seconds) for _ in range(round(rate * seconds)))


@dataclass
class Outcome:
    index: int
    due: float  # absolute perf_counter time the request was due
    sent: float
    done: float
    ok: bool
    detail: object = None

    @property
    def latency(self) -> float:
        return self.done - self.due


def run_open_loop(offsets: list[float], send, conns: int, lead: float = 0.05):
    """Issue request ``i`` at ``start + offsets[i]`` over at most ``conns``
    concurrent workers. ``send(worker, i)`` returns (ok, detail) and
    must not raise. Returns (outcomes in index order, dispatcher
    lateness in seconds per request)."""
    start = time.perf_counter() + lead
    work: queue.Queue = queue.Queue()
    outcomes: list[Outcome | None] = [None] * len(offsets)
    late: list[float] = []

    def worker(w: int) -> None:
        while True:
            item = work.get()
            if item is None:
                return
            i, due = item
            sent = time.perf_counter()
            ok, detail = send(w, i)
            outcomes[i] = Outcome(i, due, sent, time.perf_counter(), ok, detail)

    threads = [threading.Thread(target=worker, args=(w,), daemon=True) for w in range(conns)]
    for th in threads:
        th.start()
    try:
        for i, off in enumerate(offsets):
            due = start + off
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            late.append(max(0.0, time.perf_counter() - due))
            work.put((i, due))
    finally:
        for _ in threads:
            work.put(None)
        for th in threads:
            th.join()
    return outcomes, late
