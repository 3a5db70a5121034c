"""A Python Data Source sink (Spark 4 ``pyspark.sql.datasource`` API)
for the reference's word-per-line corpus format:
``df.write.format("wordline")`` writes one ``file<i>.txt`` per
partition, the layout the reference reads (one producer per
``testfiles/fileN.txt``, mapreduce.c:97-138, 307-313).

Format contract, mirrored from the reader in ``sources/text.py``:
one line per row, terminated by ``\\n``, with bytes encoded Latin-1
(1:1 char→byte like the C buffer), so reading the directory back
yields the same lines with per-file 1-based line numbers.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class _WordLineCommit(WriterCommitMessage):
    tmp_path: str
    final_path: str
    n_lines: int


class WordLineWriter(DataSourceWriter):
    """Two-phase-commit writer for the word-per-line format — the
    reference's sink contract (R11: each reducer emits its whole
    output atomically under ``printmutex``, mapreduce.c:216-222, and
    the STRICT ``file<i>.txt`` naming is part of the format,
    mapreduce.c:309) as a real ``df.write.format("wordline")`` sink:

    - each task attempt writes its partition to a hidden
      ``.file<i>.txt.tmp-<taskAttemptId>`` (one file per partition =
      the per-reducer atomic block; i = partitionId + 1 matches the
      reference naming). The attempt id in the name is what
      makes this FileOutputCommitter-v1-safe: a speculated or retried
      attempt racing a zombie writes a DIFFERENT temp, so no attempt
      can interleave with or truncate another's bytes;
    - ``commit`` (driver, after ALL tasks succeed) renames exactly the
      temp named in each WINNING attempt's commit message into place —
      publish-by-rename, so a failed/speculated task can never leave a
      half-written visible file. Loser-attempt temps are swept
      best-effort afterwards;
    - ``abort`` deletes the temps.

    Save modes: ``overwrite`` first clears every existing
    ``file<i>.txt`` in the target (a prior write with MORE partitions
    leaves no stale tail files); ``append`` is accepted only when the
    target holds no ``file<i>.txt`` yet — the strict naming contract
    has no well-defined append (file1.txt would silently clobber), so
    appending onto a non-empty corpus raises instead.

    Rows: the FIRST column, cast to str, becomes the line; bytes are
    Latin-1 (1:1 char→byte, the reader's decode mirrored).
    """

    def __init__(self, options: dict, overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("wordline sink requires a path")
        self._dir = path
        self._overwrite = overwrite

    def write(self, iterator) -> _WordLineCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        attempt = ctx.taskAttemptId()
        os.makedirs(self._dir, exist_ok=True)
        final = os.path.join(self._dir, f"file{pid + 1}.txt")
        tmp = os.path.join(self._dir, f".file{pid + 1}.txt.tmp-{attempt}")
        n = 0
        with open(tmp, "wb") as fh:
            for row in iterator:
                fh.write(str(row[0]).encode("latin-1") + b"\n")
                n += 1
        return _WordLineCommit(tmp_path=tmp, final_path=final, n_lines=n)

    def commit(self, messages) -> None:
        existing = glob.glob(os.path.join(self._dir, "file*.txt"))
        if self._overwrite:
            for path in existing:
                os.remove(path)
        elif existing:
            raise ValueError(
                "wordline sink: append onto a non-empty corpus is not "
                f"supported ({len(existing)} file<i>.txt already in "
                f"{self._dir}); use mode('overwrite') or a fresh path")
        for m in messages:
            os.replace(m.tmp_path, m.final_path)
        # best-effort sweep of loser-attempt temps (zombie/speculated
        # attempts whose commit message never reached the driver)
        for stale in glob.glob(os.path.join(self._dir, ".file*.txt.tmp-*")):
            try:
                os.remove(stale)
            except FileNotFoundError:
                pass

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.tmp_path)
            except FileNotFoundError:
                pass


class WordLineDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wordline"

    def writer(self, schema, overwrite: bool) -> WordLineWriter:
        return WordLineWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(WordLineDataSource)
