"""Word-per-line text corpus source with per-file 1-based line numbers.

Reference semantics being reproduced (verified golden-exact, SURVEY.md
Appendix A): the producer reads one file sequentially (mapreduce.c:107),
stamps each record with the verbatim filename (mapreduce.c:121) and a
1-based line ordinal that is incremented for EVERY physical line,
including lines later dropped as empty (increment at mapreduce.c:109
precedes the skip at 112-114).

DataFrames have no row order, so per-file ordinals are the one place
the reference's semantics need deliberate engineering (SURVEY.md §7):

- default path: ``spark.read.format("binaryFile")`` — one row per
  file — decoded as Latin-1 and split into the file's physical lines
  (``read_file_lines``), then ``posexplode`` over those lines. The
  ordinal is the explode position, computed *before* any filtering,
  exactly like the reference. One file = one row = one task;
  parallelism = #files, which is precisely the reference's map-side
  DOP (``-p`` spawns one producer per file, mapreduce.c:307-313).
- file listing happens on the driver. Spark already stats every
  explicit path there while it resolves the relation
  (``DataSource.checkAndGlobPathIfNecessary``); above
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32
  by default) it would also launch a listing job with one task per
  path, before any action runs, only to stat the same files again. The
  loader raises the threshold to the path count for the one ``load``
  call, so building a query over N named files launches no job.
  Scale note: for 10^5+ files on an object store, pass the containing
  directory instead of the file list. A directory is one root, listed
  by one call on the driver, so neither the threshold nor a stat per
  file applies to it.
- stream path (``stream_file_lines``): ``spark.readStream`` over the
  same binaryFile source, one file per micro-batch, with the same
  decode and split. Files are read in modification-time order, each
  path is read once (a shard landing later is read whatever its name),
  and files whose names start with ``.`` or ``_`` are skipped. A file
  stream cannot infer a schema, so binaryFile's fixed schema is given
  explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# binaryFile's fixed schema; a file stream will not infer one.
BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length bigint, content binary")

# The reference's line buffer is MAXLEN=50 (mapreduce.c:19,105), so
# each fgets call returns at most 49 bytes — a longer physical line
# becomes SEVERAL records, each incrementing linenum (mapreduce.c:109).
FGETS_BUF = 49

# Path count above which Spark lists files with a distributed job.
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _load_binary(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """binaryFile relation over ``paths``, listed on the driver.

    The threshold is read only while ``load`` resolves the relation
    (the file index is built then), so it is raised for that call
    alone and restored even when ``load`` raises, leaving a shared
    session's conf as the caller had it."""
    if isinstance(paths, str):
        paths = [paths]
    prior = spark.conf.get(LISTING_THRESHOLD)
    spark.conf.set(LISTING_THRESHOLD, str(max(int(prior), len(paths))))
    try:
        return spark.read.format("binaryFile").load(paths)
    finally:
        spark.conf.set(LISTING_THRESHOLD, prior)


def _records(binary: DataFrame,
             strict_fgets: bool) -> tuple[DataFrame, Column]:
    """binaryFile relation, batch or streaming → (relation, records):
    ``records`` is an expression over ``relation`` holding each file's
    records in order (see ``read_word_per_line`` for the rules).

    Callers project or explode ``records`` itself. Exploding a column
    projected from it would make Catalyst infer ``size(lines) > 0`` and
    push that filter below the projection, decoding and splitting
    every file a second time."""
    # binaryFile + Latin-1 decode, NOT spark.read.text: the text source
    # strips a leading UTF-8 BOM, but the reference reads raw bytes
    # (fgets, mapreduce.c:107) and its golden output depends on the BOM
    # line surviving as a (dropped-but-numbered) line. Latin-1 maps
    # every byte 1:1, exactly like the C char buffer.
    txt = F.decode("content", "ISO-8859-1")
    raw_lines = F.split(txt, "\n")
    # Drop exactly one trailing empty element when the file ends with
    # \n, so "a\n" is 1 line as fgets sees it. An explicit slice, NOT
    # regexp_replace('\n$'): Java's $ also matches before a FINAL line
    # terminator, so on a file ending "\r\n\r\n" it would strip two
    # newlines and lose the last (empty, but numbered) line.
    lines = F.when(
        txt.endswith("\n"),
        F.slice(raw_lines, F.lit(1), F.size(raw_lines) - 1),
    ).otherwise(raw_lines)
    if not strict_fgets:
        return binary, lines
    # One record per fgets(50) call: chunk every physical line into
    # 49-byte reads; the newline counts as the +1 byte of the final
    # read (it lands in the buffer and trims away downstream), so a
    # line whose content length is an exact multiple of 49 gets one
    # extra record holding just the newline. Pure expression — the
    # flatten preserves file order, so posexplode positions ARE the
    # fgets call ordinals. It reads ``lines`` once per element, so
    # ``lines`` is projected first rather than inlined.
    chunks = F.expr(f"""
        flatten(transform(lines, (line, i) ->
            CASE WHEN length(line)
                      + IF(i < size(lines) - 1 OR ends_nl, 1, 0) = 0
                 THEN array()
                 ELSE transform(
                     sequence(0,
                         cast(ceil((length(line)
                             + IF(i < size(lines) - 1 OR ends_nl,
                                  1, 0)) / {FGETS_BUF}.0) as int) - 1),
                     j -> substring(line, j * {FGETS_BUF} + 1,
                                    {FGETS_BUF}))
            END))
    """)
    return binary.select(
        "path", lines.alias("lines"), txt.endswith("\n").alias("ends_nl"),
    ), chunks


def _file_lines(binary: DataFrame) -> DataFrame:
    """binaryFile relation, batch or streaming → DataFrame[filename,
    lines], one row per file.

    ``lines`` holds the file's physical lines in order, so an element's
    1-based position is its ``linenum`` (see ``read_word_per_line``
    for the rules).
    """
    relation, lines = _records(binary, strict_fgets=False)
    return relation.select(F.col("path").alias("filename"),
                           lines.alias("lines"))


def read_file_lines(spark: SparkSession,
                    paths: str | list[str]) -> DataFrame:
    """Read text file(s) → DataFrame[filename, lines], one row per file
    (``_file_lines`` over a binaryFile relation listed on the driver)."""
    return _file_lines(_load_binary(spark, paths))


def stream_file_lines(spark: SparkSession, directory: str) -> DataFrame:
    """Streaming DataFrame[filename, lines] over the files arriving
    under ``directory``, one file per micro-batch."""
    return _file_lines(
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(directory))


def read_word_per_line(spark: SparkSession, paths: str | list[str],
                       strict_fgets: bool = False) -> DataFrame:
    """Read text file(s) → DataFrame[filename, linenum, raw_line].

    ``linenum`` is the 1-based physical line ordinal per file and is
    assigned BEFORE any normalization/filtering (mapreduce.c:109).
    A single trailing newline does not create a phantom final line
    (fgets never yields one, mapreduce.c:107).

    ``strict_fgets=True`` additionally replicates the reference's
    49-byte read buffer (SURVEY.md §1.3 quirk #2): each fgets(50) call
    is one numbered record, so a physical line of L bytes (+ newline)
    yields ceil((L+1)/49) records — the trailing record holding only
    the newline when L is an exact multiple of 49. The committed
    reference corpus never exceeds 49 bytes per line, so the default
    path is golden-identical there; strict mode exists for byte-level
    parity on corpora the reference would truncate.
    """
    relation, records = _records(_load_binary(spark, paths), strict_fgets)
    return relation.select(
        F.col("path").alias("filename"),
        F.posexplode(records).alias("pos0", "raw_line"),
    ).select(
        "filename",
        (F.col("pos0") + 1).cast("int").alias("linenum"),
        "raw_line",
    )
