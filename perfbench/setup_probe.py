"""One set-up sample: time ``session.get_spark()`` in this fresh process,
stop the session and its JVM, and print the seconds as the last line.

Run by ``run.py`` from the checkout root, with the same environment as
the measured process."""

from __future__ import annotations

import os
import sys
import time


def main() -> None:
    sys.path.insert(0, os.getcwd())
    t0 = time.perf_counter()
    from mapreduce_in_pthreads_spark.session import get_spark

    spark = get_spark("perfbench-setup")
    seconds = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    print(f"{seconds:.6f}")


if __name__ == "__main__":
    main()
