"""Drop-in CLI for the reference's one job (README.md:200-213):

    reference:  ./index -p 24 -c 10 > output.txt
    this repo:  python -m mapreduce_in_pthreads_spark.cli \\
                    --testfiles DIR -p 24 -c 10 > output.txt

Same flags, same input layout (``fileN.txt`` under a testfiles dir,
mapreduce.c:309), same output line format ``word: (file: line), …``
(mapreduce.c:218). ``-p`` selects how many fileN.txt to read (the
reference spawns one producer per file); ``-c`` maps to
``spark.sql.shuffle.partitions`` (one consumer per reduce partition).

Output-order contract: the reference's global order is
nondeterministic (reducer-finish order; SURVEY.md §2.2), so any
order-insensitive consumer of the reference's output accepts ours; we
emit sorted by word, which is additionally deterministic.
"""

from __future__ import annotations

import argparse
import os
import sys

from .operators.inverted_index import file_index
from .session import get_spark
from .sources.text import read_file_lines


def build_index(spark, paths: str | list[str]):
    """The reference's index over the named files (or a directory):
    ``(word, occurrences)`` rows, one per distinct word."""
    return file_index(read_file_lines(spark, paths))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="inverted index over word-per-line text files "
                    "(drop-in for the reference's ./index)")
    ap.add_argument("-p", type=int, default=0,
                    help="number of fileN.txt inputs (map tasks); "
                         "0/absent prompts, like the reference")
    ap.add_argument("-c", type=int, default=0,
                    help="reduce partitions (consumers); 0/absent "
                         "prompts, like the reference")
    ap.add_argument("--testfiles", default="testfiles",
                    help="directory containing file1.txt..fileN.txt")
    args = ap.parse_args(argv)

    # Reference parity (mapreduce.c:289-297): a missing/zero -p or -c
    # falls back to an interactive prompt (scanf there, input() here).
    if args.p == 0:
        args.p = int(input("Number of Map threads: "))
    if args.c == 0:
        args.c = int(input("Number of Reduce threads: "))

    paths = []
    for i in range(1, args.p + 1):
        p = os.path.join(args.testfiles, f"file{i}.txt")
        if os.path.exists(p):
            paths.append(p)
        else:
            # reference behavior: missing file logs and becomes a
            # no-op map task (mapreduce.c:100-103)
            print(f"no such file: {p}", file=sys.stderr)
    if not paths:
        print("no input files", file=sys.stderr)
        return 1

    spark = get_spark("inverted-index-cli")
    spark.sparkContext.setLogLevel("ERROR")
    # get_spark may hand back a pre-existing shared session: scope the
    # -c override to this job and restore on exit, so the CLI never
    # permanently mutates a session it does not own.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(args.c))
    try:
        it = build_index(spark, paths).orderBy("word").toLocalIterator()
        for row in it:
            sys.stdout.write(f"{row.word}: {row.occurrences}\n")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
