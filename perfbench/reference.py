"""Host-speed reference, measured outside the program under test.

On a shared virtual machine, host speed drifts between runs and over
minutes (the same work took 60 s in one run and 95 s in another a few
minutes later).  A run times this fixed pure-Python kernel in four worker
processes of its own (started fresh, importing nothing from
``feathub_spark``, sharing no heap, JVM or session with the program) and
expresses the gated op times in units of the kernel's median time, so host
drift cancels while a program change does not.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

ROUNDS = 300_000  # ~0.1 s of interpreter work per process
PROCS = 4  # one per core: a sample is the median over the cores
BURST = 10  # samples right before and right after the measured window


def kernel(rounds: int) -> int:
    """Fixed integer and dict work; the result only guards against the loop
    being optimised away.  (A memory-bound variant, a random gather and a
    sort over 16 MB per process, swung with the JVM's own background work
    right after a step and overcorrected.)"""
    acc, table = 0, {}
    for i in range(rounds):
        k = (i * 2_654_435_761) % 4_093
        table[k] = table.get(k, 0) + i
        acc ^= k
    return acc + len(table)


def _worker() -> None:
    """Worker loop: read a round count per line on stdin, run the kernel,
    write its time; stop at end of input."""
    for line in sys.stdin:
        t0 = time.perf_counter()
        kernel(int(line))
        print(time.perf_counter() - t0, flush=True)


class Reference:
    """:data:`PROCS` worker processes, each this file run in isolated mode
    (``python3 -I``, so not even ``PYTHONPATH`` reaches the program), that
    run :func:`kernel` on demand.  Plain pipes, no ``multiprocessing``: its
    resource-tracker helper would outlive the run.  Usable as a context
    manager, which stops the workers and waits for each."""

    def __init__(self) -> None:
        self.procs = []
        try:
            for _ in range(PROCS):
                self.procs.append(subprocess.Popen(
                    [sys.executable, "-I", os.path.abspath(__file__)],
                    stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1))
            self.samples = []
            self.time()  # first call pays the workers' start; not a sample
            self.samples.clear()
        except BaseException:
            self.close()
            raise

    def time(self) -> float:
        """Run the kernel once in every process at the same time; record and
        return the median of the processes' own kernel times (one process
        descheduled for a moment does not move it)."""
        for p in self.procs:
            p.stdin.write(f"{ROUNDS}\n")
        times = []
        for p in self.procs:
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(f"reference worker {p.pid} exited with {p.wait()}")
            times.append(float(line))
        dt = statistics.median(times)
        self.samples.append(dt)
        return dt

    def burst(self) -> None:
        """:data:`BURST` samples back to back.  One sample varies by ~10%;
        the median of two bursts (before and after the ops) by ~3%."""
        for _ in range(BURST):
            self.time()

    def __enter__(self) -> "Reference":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        for p in self.procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self.procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()


if __name__ == "__main__":
    _worker()
