"""Golden replay against the reference's own corpus and output
(SURVEY.md §5.2 'Golden replay'): run this engine's text source +
normalization + inverted index over /root/reference/testfiles/ and
compare with /root/reference/output.txt as {word → multiset[(file,
line)]} — the same order-insensitive comparison the reference itself
admits (SURVEY.md §2.2).
"""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mapreduce_in_pthreads_spark.cli import build_index
from mapreduce_in_pthreads_spark.functions.normalize import normalize_word
from mapreduce_in_pthreads_spark.sources.text import read_word_per_line

REF = Path("/root/reference")
GOLDEN = REF / "output.txt"
TESTFILES = sorted((REF / "testfiles").glob("file*.txt"),
                   key=lambda p: int(re.search(r"\d+", p.name).group()))

needs_reference = pytest.mark.skipif(
    not GOLDEN.exists(), reason="reference corpus not present")


def parse_report(lines) -> dict[str, Counter]:
    """report line format: ``word: (file1.txt: 12), (file2.txt: 3), …``
    (mapreduce.c:171,180,218)."""
    out: dict[str, Counter] = {}
    for line in lines:
        word, _, rest = line.partition(": ")
        occ = Counter(
            (m.group(1), int(m.group(2)))
            for m in re.finditer(r"\(([^:]+): (\d+)\)", rest))
        out[word] = occ
    return out


def parse_golden() -> dict[str, Counter]:
    return parse_report(GOLDEN.read_text().splitlines())


def engine_index(spark) -> dict[str, Counter]:
    """The shipped job, ``cli.build_index``, parsed like the golden.
    Its file names are bare basenames, as the golden's are (argv
    strings, mapreduce.c:309)."""
    rows = build_index(spark, [str(p) for p in TESTFILES]).collect()
    return parse_report(f"{r.word}: {r.occurrences}" for r in rows)


@needs_reference
def test_golden_replay(spark):
    golden = parse_golden()
    mine = engine_index(spark)
    assert len(mine) == len(golden) == 4135          # distinct words
    assert sum(sum(c.values()) for c in mine.values()) == 21322
    assert mine == golden                            # full multiset equality


@needs_reference
def test_corpus_invariants(spark):
    """Appendix A pins: 22,271 physical lines, 949 dropped as
    empty-after-normalize. Line numbers count dropped lines too
    (mapreduce.c:109 before 112-114) — the BOM line of file1.txt is
    line 1, so the first 'the' is at line 2."""
    corpus = read_word_per_line(spark, [str(p) for p in TESTFILES])
    assert corpus.count() == 22271
    normalized = corpus.select(
        "filename", "linenum", normalize_word("raw_line").alias("word"))
    assert normalized.filter(F.col("word") == "").count() == 949
    file1 = normalized.filter(
        F.col("filename").endswith("file1.txt") & (F.col("word") == "the"))
    assert file1.agg(F.min("linenum")).first()[0] == 2


def _fgets_sim(data: bytes, buf: int = 49) -> list[tuple[int, str]]:
    """Pure-Python simulation of the reference's read loop
    (mapreduce.c:105-109, MAXLEN=50): repeated fgets(50) calls, each
    one numbered record, stopping at newline or 49 bytes."""
    out, i, n, num = [], 0, len(data), 0
    while i < n:
        j = i
        while j < n and j - i < buf and data[j:j + 1] != b"\n":
            j += 1
        # fgets consumes the newline only if the buffer is not already
        # full — a 49-byte read leaves '\n' for the NEXT call
        if j < n and j - i < buf and data[j:j + 1] == b"\n":
            j += 1
        num += 1
        out.append((num, data[i:j].decode("latin-1").rstrip("\n")))
        i = j
    return out


def test_strict_fgets_splits_long_lines(spark, tmp_path):
    """strict_fgets=True replicates the 49-byte buffer: a physical
    line longer than 49 bytes becomes several numbered records, and a
    line of exactly 49 bytes leaves the newline for its own record —
    matched against a byte-level fgets simulation."""
    data = (b"x" * 120 + b"\n"          # 3 records: 49+49+22(+\n)
            + b"short\n"
            + b"y" * 49 + b"\n"         # 2 records: 49 chars, then bare \n
            + b"\n"                      # empty line: 1 record
            + b"z" * 60)                 # no trailing newline: 2 records
    p = tmp_path / "long.txt"
    p.write_bytes(data)
    got = sorted(
        (r.linenum, r.raw_line)
        for r in read_word_per_line(spark, str(p), strict_fgets=True)
        .collect())
    want = sorted(_fgets_sim(data))
    assert got == want
    # and the lines land where the reference's would: 120-char line is
    # records 1-3, the 49er is 4-5 (bare-newline record 6), empty line
    # is 7, unterminated tail is 8-9
    assert len(got) == 9


def _node_names(plan) -> list[str]:
    children = plan.children()
    return [plan.nodeName()] + [
        name for i in range(children.size())
        for name in _node_names(children.apply(i))]


def test_read_word_per_line_decodes_each_file_once(spark, tmp_path):
    """The reader explodes the decode/split expression itself. Exploding
    a projected column instead makes Catalyst infer ``size(lines) > 0``
    and push it below the projection, where it decodes and splits every
    file a second time; so the optimized plan holds no Filter."""
    p = tmp_path / "a.txt"
    p.write_bytes(b"a\r\n\nb")
    for strict in (False, True):
        df = read_word_per_line(spark, str(p), strict_fgets=strict)
        plan = df._jdf.queryExecution().optimizedPlan()
        assert "Filter" not in _node_names(plan), plan.toString()
        assert sorted((r.linenum, r.raw_line) for r in df.collect()) == [
            (1, "a\r"), (2, ""), (3, "b")]


@needs_reference
def test_strict_fgets_identical_on_reference_corpus(spark):
    """The committed reference corpus never exceeds 49 bytes/line, so
    strict mode must be a no-op there (golden output unaffected)."""
    paths = [str(p) for p in TESTFILES[:4]]
    default = sorted(map(tuple, read_word_per_line(spark, paths).collect()))
    strict = sorted(map(tuple, read_word_per_line(
        spark, paths, strict_fgets=True).collect()))
    assert default == strict


def test_wordline_writer_round_trip_and_2pc(spark, tmp_path):
    """The wordline WRITER (df.write.format('wordline')) must publish
    one file<i>.txt per partition via the write-temp-then-rename
    two-phase commit (R11's per-reducer atomic sink + the strict
    naming contract, mapreduce.c:216-222,309), and a reader round
    trip must preserve the line multiset with correct per-file
    1-based numbering."""
    import os

    from mapreduce_in_pthreads_spark.sources.wordline_datasource import (
        register)

    register(spark)
    words = ["alpha", "beta", "", "gamma", "delta", "épsilon"]
    df = (spark.createDataFrame([(w,) for w in words], ["word"])
          .repartition(3))
    out = str(tmp_path / "corpus_out")
    df.write.format("wordline").mode("append").save(out)

    files = sorted(os.listdir(out))
    assert files == ["file1.txt", "file2.txt", "file3.txt"]
    assert not [f for f in files if f.endswith(".tmp")]

    back = read_word_per_line(spark, out).collect()
    assert sorted(r["raw_line"] for r in back) == sorted(words)
    # per-file numbering is 1-based and dense (every line numbered,
    # including the empty one)
    by_file: dict = {}
    for r in back:
        by_file.setdefault(r["filename"], []).append(r["linenum"])
    for nums in by_file.values():
        assert sorted(nums) == list(range(1, len(nums) + 1))
    assert sum(len(v) for v in by_file.values()) == len(words)


def test_wordline_writer_save_modes(spark, tmp_path):
    """Save-mode contract (round-7 ADVICE fix): overwrite clears stale
    file<i>.txt from a prior wider write (no orphaned tail files);
    append onto a non-empty corpus raises instead of clobbering; no
    attempt temps survive a commit."""
    import os

    from mapreduce_in_pthreads_spark.sources.wordline_datasource import (
        register)

    register(spark)
    out = str(tmp_path / "corpus_modes")
    wide = (spark.createDataFrame([(w,) for w in "abcde"], ["word"])
            .repartition(5))
    wide.write.format("wordline").mode("append").save(out)
    assert sorted(os.listdir(out)) == [f"file{i}.txt" for i in range(1, 6)]

    # overwrite with FEWER partitions must remove the stale tail
    narrow = (spark.createDataFrame([("x",), ("y",)], ["word"])
              .repartition(2))
    narrow.write.format("wordline").mode("overwrite").save(out)
    assert sorted(os.listdir(out)) == ["file1.txt", "file2.txt"]
    back = read_word_per_line(spark, out).collect()
    assert sorted(r["raw_line"] for r in back) == ["x", "y"]

    # append onto the non-empty corpus must raise, not clobber
    import pytest as _pytest
    with _pytest.raises(Exception, match="non-empty corpus"):
        narrow.write.format("wordline").mode("append").save(out)
    # the failed append must leave the corpus intact and temp-free
    assert sorted(os.listdir(out)) == ["file1.txt", "file2.txt"]
