"""The flagship inverted index as a STREAMING query over the
word-per-line corpus (SURVEY.md §7 stretch: a second wordline
micro-batch scenario).

The reference engine is architecturally a stream processor — bounded
producers feed blocking queues that consumers drain incrementally
(mapreduce.c:75-87, 97-222) — but it can only ever run to completion
over a fixed file list. This module runs the SAME plan as
``cli.build_index`` (``operators.inverted_index.file_index``) with
files arriving one per micro-batch (``sources.text.stream_file_lines``),
which is what "a new corpus shard landed" looks like in production:
the index is re-emitted complete and correct after every arrival, no
batch rebuild.

Execution contract:
- complete output mode — the index aggregation state IS the index;
  each trigger re-emits every word's current postings. No watermark:
  corpus shards are not event-time data and never "expire".
- per-word state is the posting multiset — the same unbounded
  collect_list the reference holds in uthash (mapreduce.c:170-174);
  the documented 100 TB surface stays the capped/count-style derived
  queries (``index_top_docs``, ``word_count``), streaming included.
- determinism: arrival order is pinned away by ``sort_array`` exactly
  as in batch, so stream-vs-batch parity is exact string equality
  (tests/test_streaming.py::test_wordline_streaming_index_parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.inverted_index import file_index, file_words
from ..sources.text import read_file_lines, stream_file_lines


def streaming_reference_index(spark: SparkSession, corpus: str) -> DataFrame:
    """Unbounded variant of ``cli.build_index``: the index over every
    file that has arrived under ``corpus`` so far, one file per
    micro-batch."""
    return file_index(stream_file_lines(spark, corpus))


def _adjacent_pair_sides(words: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared projection for the adjacent-word-pair join over
    ``file_words`` rows: each side is the nonempty word stream with a
    synthetic event time derived from the line ordinal (epoch +
    linenum seconds) — the wordline corpus has no timestamps, so the
    ordinal provides the event-time axis the join's range condition is
    expressed on."""
    event_time = F.timestamp_seconds(F.col("linenum"))
    left = words.select(
        F.col("filename").alias("l_file"), F.col("linenum").alias("l_ln"),
        F.col("word").alias("w1"), event_time.alias("l_time"),
        (F.col("linenum") + 1).alias("l_next"))
    right = words.select(
        F.col("filename").alias("r_file"), F.col("linenum").alias("r_ln"),
        F.col("word").alias("w2"), event_time.alias("r_time"))
    return left, right


def _adjacent_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """Inner equi-join on (file, linenum+1 = linenum) + a 1-second
    event-time range. Pairs are line-adjacent words with both lines
    nonempty after the reference's empty filter (mapreduce.c:109-114)
    — dropped lines break a pair, they do not bridge one."""
    return (left.join(
        right,
        (F.col("l_file") == F.col("r_file"))
        & (F.col("l_next") == F.col("r_ln"))
        & (F.col("r_time") >= F.col("l_time"))
        & (F.col("r_time") <= F.col("l_time")
           + F.expr("INTERVAL 1 SECOND")),
        "inner")
        .select(F.col("l_file").alias("filename"),
                F.col("l_ln").alias("linenum"), "w1", "w2"))


def streaming_adjacent_word_pairs(spark: SparkSession,
                                  corpus: str) -> DataFrame:
    """Stream-stream SELF-join over the corpus stream — the ninth
    streaming twin, and the first joining the corpus stream to itself:
    adjacent-line word pairs (the bigram relation of the word-per-line
    format) built while files arrive one per micro-batch. Inner join
    (the streaming outer variants emit null-matches only on watermark
    expiry, which a bounded source's final windows never trigger — the
    `streaming_purchase_click_join` parity discipline).

    Deliberately UNWATERMARKED, like the streaming index above and for
    the same reason: corpus shards are not event-time data — every
    file restarts its ordinals at 1, so an ordinal-derived watermark
    advanced by file N marks file N+1's early lines late and silently
    drops their pairs from join state (measured: 18.5k of 20k pairs
    lost). Spark allows watermark-free stream-stream INNER joins; the
    join state is then the corpus itself — exactly the complete-mode
    index's acknowledged state bound, with `index_top_docs`-style
    capped derivations as the declared 100 TB surface. The
    watermark+interval discipline for true event-time streams stays
    demonstrated by `streaming_purchase_click_join`."""
    left, _ = _adjacent_pair_sides(
        file_words(stream_file_lines(spark, corpus)))
    _, right = _adjacent_pair_sides(
        file_words(stream_file_lines(spark, corpus)))
    return _adjacent_pairs(left, right)


def batch_adjacent_word_pairs(spark: SparkSession,
                              corpus: str) -> DataFrame:
    """The identical logical plan on the batch reader — the parity
    oracle for the streaming self-join."""
    left, right = _adjacent_pair_sides(
        file_words(read_file_lines(spark, corpus)))
    return _adjacent_pairs(left, right)
