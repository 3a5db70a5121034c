"""CLI drop-in parity + sink round-trips.

The CLI is the 'switch from the reference' story: same flags, same
input layout, same line format — its output over the reference's own
corpus must equal the committed golden output order-insensitively
(the only comparison the reference's nondeterministic ordering admits,
SURVEY.md §2.2).
"""

from __future__ import annotations

import re
import shutil
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mapreduce_in_pthreads_spark.cli import build_index
from mapreduce_in_pthreads_spark.sources.sinks import (
    write_partitioned, write_text_report)
from mapreduce_in_pthreads_spark.sources.text import LISTING_THRESHOLD

REF = Path("/root/reference")
SCRATCH = Path("/root/repo/.scratch")


def _parse(lines):
    out = {}
    for line in lines:
        if not line.strip():
            continue
        word, _, rest = line.partition(": ")
        out[word] = Counter(
            (m.group(1), int(m.group(2)))
            for m in re.finditer(r"\(([^:]+): (\d+)\)", rest))
    return out


@pytest.mark.skipif(not (REF / "output.txt").exists(),
                    reason="reference corpus not present")
def test_cli_output_matches_reference_golden(spark):
    paths = [str(REF / "testfiles" / f"file{i}.txt") for i in range(1, 25)]
    df = build_index(spark, paths)
    mine = _parse(f"{r.word}: {r.occurrences}"
                  for r in df.collect())
    golden = _parse((REF / "output.txt").read_text().splitlines())
    assert mine == golden


def _spec_words(files: dict[str, bytes]) -> list[tuple[str, int, str]]:
    """FIXTURES.md A1/A2 in plain Python: the lines of a file are its
    Latin-1 text split on \\n, where a final \\n ends the last line
    rather than starting an empty one (fgets); every line is numbered
    from 1; its word is the leading [a-z0-9]* run of the lowercased
    line. Returns every ``(file, line, word)``, empty words included."""
    out = []
    for name, data in files.items():
        lines = data.decode("latin-1").split("\n")
        if data.endswith(b"\n"):
            lines.pop()
        for num, line in enumerate(lines, 1):
            out.append(
                (name, num, re.match("[a-z0-9]*", line.lower()).group()))
    return out


def _spec_report(files: dict[str, bytes]) -> list[str]:
    """The index over ``_spec_words``: empty words are dropped after
    numbering. Report lines are ``word: (file: line), …`` with
    occurrences in (file, line) order."""
    occ: dict[str, list] = {}
    for name, num, word in _spec_words(files):
        if word:
            occ.setdefault(word, []).append((name, num))
    return sorted(
        f"{w}: " + ", ".join(f"({f}: {n})" for f, n in sorted(v))
        for w, v in occ.items())


def test_build_index_matches_spec_mirror(spark, tmp_path):
    """``build_index`` over more files than Spark's parallel-listing
    threshold (32), line for line against the spec mirror. The corpus
    carries every edge the reference's layout has: a UTF-8 BOM first
    line, CRLF endings, lines that normalize to empty, bytes above
    0x7F, one file with no trailing newline and one empty file."""
    import random

    rng = random.Random(7)
    vocab = [b"The", b"the", b"don't", b"Macbeth.", b"3rd", b"2000",
             b"KING", b"caf\xe9", b"\xe9t\xe9", b"'tis", b"", b"   ",
             b"---", b"o'er", b"Ab1c"]
    files = {}
    for i in range(1, 35):
        lines = [rng.choice(vocab) for _ in range(rng.randint(5, 40))]
        if i == 1:
            lines.insert(0, b"\xef\xbb\xbf")
        files[f"file{i}.txt"] = b"".join(w + b"\r\n" for w in lines)
    files["file2.txt"] += b"last"
    files["file3.txt"] = b""
    for name, data in files.items():
        (tmp_path / name).write_bytes(data)

    df = build_index(spark, [str(tmp_path / n) for n in files])
    got = sorted(f"{r.word}: {r.occurrences}" for r in df.collect())
    want = _spec_report(files)
    assert got == want
    # the BOM line is numbered, then dropped
    assert "(file1.txt: 1)" not in "\n".join(want)


def test_build_index_launches_no_job_before_action(spark, tmp_path):
    """Building the index over 40 named files — more than Spark's
    parallel-listing threshold — lists them on the driver: no Spark
    job runs until an action does. The threshold conf is left as it
    was, also when a missing path makes the load raise."""
    import uuid

    paths = []
    for i in range(1, 41):
        p = tmp_path / f"file{i}.txt"
        p.write_text(f"w{i}\n")
        paths.append(str(p))
    prior = spark.conf.get(LISTING_THRESHOLD)
    assert len(paths) > int(prior)
    sc = spark.sparkContext
    group = f"build-index-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build_index construction")
    try:
        df = build_index(spark, paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert spark.conf.get(LISTING_THRESHOLD) == prior
    assert df.count() == 40

    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        build_index(spark, paths + [str(tmp_path / "missing.txt")])
    assert spark.conf.get(LISTING_THRESHOLD) == prior


def test_cli_missing_file_is_noop(spark, tmp_path, capsys):
    """Reference parity (mapreduce.c:100-103): a missing fileN.txt
    logs 'no such file' and its map task is a no-op — the job still
    runs over the files that do exist."""
    from collections import Counter as C

    from mapreduce_in_pthreads_spark.cli import main

    tf = tmp_path / "testfiles"
    tf.mkdir()
    (tf / "file1.txt").write_text("alpha\nbeta\n")
    (tf / "file3.txt").write_text("gamma\n")  # file2.txt deliberately absent
    rc = main(["-p", "3", "-c", "2", "--testfiles", str(tf)])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"no such file: {tf / 'file2.txt'}" in cap.err
    parsed = _parse(cap.out.splitlines())
    assert set(parsed) == {"alpha", "beta", "gamma"}
    assert parsed["alpha"] == C({("file1.txt", 1): 1})
    assert parsed["gamma"] == C({("file3.txt", 1): 1})


def test_cli_prompts_when_flags_absent(spark, tmp_path, capsys,
                                       monkeypatch):
    """Reference parity (mapreduce.c:289-297): -p/-c absent (or 0)
    falls back to an interactive prompt for each."""
    from mapreduce_in_pthreads_spark.cli import main

    tf = tmp_path / "testfiles"
    tf.mkdir()
    (tf / "file1.txt").write_text("alpha\n")
    answers = iter(["1", "2"])
    prompts = []

    def fake_input(prompt=""):
        prompts.append(prompt)
        return next(answers)

    monkeypatch.setattr("builtins.input", fake_input)
    rc = main(["--testfiles", str(tf)])
    cap = capsys.readouterr()
    assert rc == 0
    assert prompts == ["Number of Map threads: ",
                       "Number of Reduce threads: "]
    assert "alpha" in cap.out


def test_cli_all_files_missing_errors(spark, tmp_path, capsys):
    from mapreduce_in_pthreads_spark.cli import main

    tf = tmp_path / "empty_testfiles"
    tf.mkdir()
    rc = main(["-p", "2", "-c", "2", "--testfiles", str(tf)])
    cap = capsys.readouterr()
    assert rc == 1
    assert "no input files" in cap.err


def test_parquet_sink_round_trip(spark, sf_dir):
    from mapreduce_in_pthreads_spark.plans.registry import REGISTRY

    out = str(SCRATCH / "lang_agg_parquet")
    df = REGISTRY["lang_aggregates"].fn(spark, sf_dir)
    write_partitioned(df, out, partition_cols=["lang"])
    back = spark.read.parquet(out)
    cols = ["lang", "n_docs", "total_tokens", "avg_chars", "n_sources"]
    assert (sorted(map(tuple, df.select(cols).collect()))
            == sorted(map(tuple, back.select(cols).collect())))
    shutil.rmtree(out, ignore_errors=True)


def test_text_report_sink(spark, sf_dir):
    from mapreduce_in_pthreads_spark.plans.registry import REGISTRY

    out = str(SCRATCH / "index_report")
    df = REGISTRY["inverted_index"].fn(spark, sf_dir).select(
        F.concat_ws(": ", "word", "occurrences").alias("line"))
    write_text_report(df, "line", out, coalesce=4)
    back = spark.read.text(out)
    assert back.count() == df.count()
    # per-partition atomic blocks: ≤4 part files (R11's reducer blocks)
    parts = [p for p in Path(out).glob("part-*")]
    assert 1 <= len(parts) <= 4
    shutil.rmtree(out, ignore_errors=True)
