"""Memory-bandwidth micro: N threads stream a multiply over arrays far larger
than the last-level cache, concurrently, and report the summed read+write
bandwidth. The dedup pipeline's heavy stages are bandwidth-bound, so a slow
host window shows here before it shows in the benchmark.

The kernel is scale_bench.py's _MEMBW (np.multiply into a preallocated
array, 6 timed repetitions after a warming pass, all streams released by one
barrier), run in threads instead of processes -- numpy drops the interpreter
lock inside the ufunc loop, so the streams overlap the same way -- and with
64 MB arrays instead of 320 MB to keep four streams inside a small memory
budget.

Run: python3 perfbench/membw.py <streams>   (prints {"procs", "gbps"})
"""

from __future__ import annotations

import json
import sys
import threading
import time

import numpy as np

N_DOUBLES = 8_000_000  # 64 MB per array, >> LLC
REPS = 6


def stream_gbps(streams: int) -> float:
    barrier = threading.Barrier(streams)
    rates = [0.0] * streams

    def worker(k: int) -> None:
        a = np.random.default_rng(k).random(N_DOUBLES)
        b = np.empty_like(a)
        np.multiply(a, 1.0000001, out=b)  # touch + warm
        barrier.wait()  # all streams run concurrently or the sum overstates
        t0 = time.perf_counter()
        for _ in range(REPS):
            np.multiply(a, 1.0000001, out=b)
        rates[k] = REPS * a.nbytes * 2 / (time.perf_counter() - t0)  # read+write B/s

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(streams)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sum(rates) / 1e9


def main() -> None:
    streams = int(sys.argv[1])
    print(json.dumps({"procs": streams, "gbps": round(stream_gbps(streams), 3)}))


if __name__ == "__main__":
    main()
