"""Flagship operator: the inverted index — the reference's one end-to-end
query (mapreduce.c R1→R11, SURVEY.md §2.1), Spark-first.

Reference plan (record-at-a-time, hand-threaded):
    scan → lowercase → leading-alnum trim → drop-empty →
    hash(word)%NC exchange → per-reducer collect-list → format → print

Spark plan (declarative; Catalyst fuses the narrow section into one
WholeStageCodegen stage, the groupBy is the one shuffle — the exact
analogue of the reference's single producer→consumer exchange):
    read → posexplode(split) → lower/regexp_extract → filter ≠ '' →
    groupBy(word).agg(collect_list)

Determinism contract (SURVEY.md §2.2): the key set and per-key multiset
of occurrences are deterministic; arrival order is NOT. The reference
itself interleaves files nondeterministically, so we pin a canonical
order with ``sort_array`` — within-file ascending order (the part the
reference does guarantee) is preserved by the sort.

Scale notes: ``collect_list`` has no map-side combine (neither does the
reference — every occurrence crosses the exchange, mapreduce.c:117-131).
At 100 TB you cap posting lists (``index_top_docs``) or store the index
bucketed by word; the derived count-style queries (word_count, doc
frequency) DO combine map-side and are the preferred scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.normalize import normalize_word
from ..sources.tables import load_table


def tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → (doc_id, pos, word), normalized.

    ``pos`` is the 1-based token ordinal assigned BEFORE the empty-word
    filter — the positional analogue of the reference's pre-filter
    linenum (increment at mapreduce.c:109 precedes the skip at 112-114).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "raw"),
    )
    return (
        tok.select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            normalize_word("raw").alias("word"),
        )
        .filter(F.col("word") != "")
    )


# DuckDB twin of tokens(); parallel unnest zips the token list with its
# 1-based ordinal list. Shared by every oracle that tokenizes documents.
TOKENS_SQL = """
SELECT doc_id, pos, regexp_extract(lower(raw), '^[a-z0-9]*', 0) AS word
FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS raw,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
    FROM documents
)
"""
TOKENS_FILTERED_SQL = f"SELECT * FROM ({TOKENS_SQL}) t WHERE word <> ''"


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word → n_occurrences + canonical occurrence string
    ``(doc: pos), (doc: pos), …`` — the reference's output line format
    (sprintf at mapreduce.c:171,180,218) with a pinned sort order."""
    occ = F.sort_array(F.collect_list(F.struct("doc_id", "pos")))
    return tokens(spark, sf_dir).groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.concat_ws(
            ", ",
            F.transform(occ, lambda o: F.format_string(
                "(%s: %s)", o["doc_id"], o["pos"])),
        ).alias("occurrences"),
    )


def file_words(files: DataFrame) -> DataFrame:
    """Word-per-line files → (filename, linenum, word), nonempty words.

    ``files`` is ``(filename, lines)``, one row per file, batch or
    streaming (``sources.text``). ``filename`` becomes the bare name,
    like the reference's argv strings (mapreduce.c:309), computed once
    per file; ``linenum`` is the line's 1-based position, assigned
    before empty words are dropped (mapreduce.c:109-114)."""
    named = files.select(
        F.element_at(F.split("filename", "/"), -1).alias("filename"),
        "lines")
    # Normalize inside the generator and filter its output column, so
    # each line is normalized exactly once. A filter on
    # ``normalize_word(raw_line)`` over exploded lines would be pushed
    # below the projection, evaluating the regex twice per line; a
    # generated column cannot move below its Generate. The generator's
    # input is an expression, not a column, so Catalyst infers no
    # ``size(...) > 0`` filter that would evaluate it once more.
    return (
        named.select("filename", F.posexplode(
            F.transform("lines", normalize_word)).alias("pos0", "word"))
        .filter(F.col("word") != "")
        .select("filename", (F.col("pos0") + 1).alias("linenum"), "word")
    )


def file_index(files: DataFrame) -> DataFrame:
    """Word-per-line files, batch or streaming → (word, occurrences):
    the reference's report line ``word: (file: line), …``
    (mapreduce.c:171,180,218), occurrences in (file, line) order."""
    occ = F.sort_array(F.collect_list(F.struct("filename", "linenum")))
    return file_words(files).groupBy("word").agg(
        F.concat_ws(
            ", ",
            F.transform(occ, lambda o: F.format_string(
                "(%s: %s)", o["filename"], o["linenum"])),
        ).alias("occurrences"),
    )


INVERTED_INDEX_SQL = f"""
SELECT word,
       count(*) AS n_occurrences,
       string_agg('(' || doc_id || ': ' || pos || ')', ', '
                  ORDER BY doc_id, pos) AS occurrences
FROM ({TOKENS_FILTERED_SQL}) w
GROUP BY word
"""


def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived query: word → total occurrences. Unlike the index this
    is map-side combinable — the 100 TB-preferred aggregation shape."""
    return tokens(spark, sf_dir).groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"))


WORD_COUNT_SQL = f"""
SELECT word, count(*) AS n_occurrences
FROM ({TOKENS_FILTERED_SQL}) w GROUP BY word
"""


def doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word → number of distinct documents containing it (the IDF
    denominator; SURVEY.md §2.1 'derived query surface')."""
    return tokens(spark, sf_dir).groupBy("word").agg(
        F.countDistinct("doc_id").alias("doc_freq"))


DOC_FREQUENCY_SQL = f"""
SELECT word, count(DISTINCT doc_id) AS doc_freq
FROM ({TOKENS_FILTERED_SQL}) w GROUP BY word
"""


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row corpus invariants — the numbers the reference's golden
    output pins (22,271 lines → 21,322 occurrences → 4,135 words for its
    own corpus; SURVEY.md Appendix A) computed for the documents table."""
    t = tokens(spark, sf_dir)
    return t.agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("word").alias("n_distinct_words"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


CORPUS_STATS_SQL = f"""
SELECT count(*) AS n_occurrences,
       count(DISTINCT word) AS n_distinct_words,
       count(DISTINCT doc_id) AS n_docs
FROM ({TOKENS_FILTERED_SQL}) w
"""


def index_top_docs(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Scale-capped index: per word keep only the k lowest-doc_id
    postings (deterministic tie-break) plus the true total count.
    This is the 100 TB answer to unbounded collect_list: bounded state
    per key via window top-k instead of a full posting list."""
    from pyspark.sql import Window

    t = tokens(spark, sf_dir).groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("word").orderBy(F.col("doc_id"))
    total = Window.partitionBy("word")
    return (
        t.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn("doc_freq", F.count(F.lit(1)).over(total))
        .filter(F.col("rn") <= k)
        .select("word", "doc_id", "tf", "rn", "doc_freq")
    )


INDEX_TOP_DOCS_SQL = f"""
WITH tf AS (
    SELECT word, doc_id, count(*) AS tf
    FROM ({TOKENS_FILTERED_SQL}) w
    GROUP BY word, doc_id
)
SELECT word, doc_id, tf, rn, doc_freq FROM (
    SELECT word, doc_id, tf,
           row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rn,
           count(*) OVER (PARTITION BY word) AS doc_freq
    FROM tf
) WHERE rn <= 5
"""


def incremental_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship index maintained INCREMENTALLY: the corpus is split
    into a 'state' shard (doc_id % 10 != 0 — yesterday's index) and a
    'delta' shard (doc_id % 10 == 0 — today's arrivals); each shard is
    aggregated to partial postings independently, and the partials are
    merged by concatenating posting arrays and summing counts — never
    re-tokenizing the state corpus.

    The oracle is the FULL-corpus ``INVERTED_INDEX_SQL``: a hash match
    proves ``index(state) ⊕ index(delta) == index(state ∪ delta)``,
    i.e. the flagship aggregation is a mergeable monoid. That is the
    production shape at 100 TB — daily deltas merge into a stored
    index (the state side becomes a parquet/bucketed-table read, the
    swap point is the ``_partial`` call), where the reference could
    only ever recompute from scratch (mapreduce.c has no persisted
    state at all). Same pattern as ``incremental_rollup_merge`` but
    for the non-combinable collect_list aggregate: lists concatenate,
    counts add."""
    def _partial(shard: DataFrame) -> DataFrame:
        return shard.groupBy("word").agg(
            F.count(F.lit(1)).alias("n_part"),
            F.collect_list(F.struct("doc_id", "pos")).alias("postings"))

    t = tokens(spark, sf_dir)
    state = _partial(t.filter(F.col("doc_id") % 10 != 0))
    delta = _partial(t.filter(F.col("doc_id") % 10 == 0))
    occ = F.sort_array(F.flatten(F.collect_list("postings")))
    return (
        state.unionByName(delta).groupBy("word")
        .agg(F.sum("n_part").alias("n_occurrences"),
             F.concat_ws(
                 ", ",
                 F.transform(occ, lambda o: F.format_string(
                     "(%s: %s)", o["doc_id"], o["pos"])),
             ).alias("occurrences"))
    )


def rdd_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship, re-expressed on the RDD API — the literal
    MapReduce formulation of the reference (BASELINE.json asks for the
    'RDD API equivalent'): flatMap = producer loop (mapreduce.c:
    107-131), aggregateByKey = per-reducer uthash upsert (mapreduce.c:
    168-185), the implicit hash partitioning = ``hash(word) % NC``
    (mapreduce.c:117).

    Output is identical to ``inverted_index`` and checked against the
    SAME DuckDB oracle — proving the DataFrame and RDD formulations
    compute one semantics. Python-per-row by construction; kept OFF the
    bench headline (the DataFrame flagship is the hot path, this is the
    API-parity demonstration).

    Two RDD-specific scale hazards are handled explicitly (the round-9
    sf1.0 probe caught both as a 40-minute single-core straggler):
    the combiner MUTATES its accumulator (``acc.append`` — the
    ``acc + [occ]`` idiom re-copies the list per element, quadratic in
    postings-per-key, fatal on a small-vocabulary corpus), and
    ``aggregateByKey`` gets an explicit ``defaultParallelism`` reducer
    count — an RDD inherits the scan's file-split partitioning (2
    parts for one 40 MB parquet), and unlike DataFrame shuffles there
    is no AQE to re-spread it.
    """
    import re

    word_re = re.compile(r"[a-z0-9]*")

    def tokenize(row):
        # mirrors tokens(): 1-based pos assigned BEFORE the empty filter
        for pos0, raw in enumerate(row.text.split(" ")):
            w = word_re.match(raw.lower()).group(0)
            if w:
                yield w, (row.doc_id, pos0 + 1)

    def upsert(acc, occ):                          # uthash upsert-append
        acc.append(occ)
        return acc

    def merge(a, b):                               # partition merge
        a.extend(b)
        return a

    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", "text").rdd
        .flatMap(tokenize)
        .aggregateByKey(
            [], upsert, merge,
            numPartitions=spark.sparkContext.defaultParallelism,
        )
        .map(lambda kv: (
            kv[0],
            len(kv[1]),
            ", ".join(f"({d}: {p})" for d, p in sorted(kv[1])),
        ))
    )
    return spark.createDataFrame(
        postings, "word string, n_occurrences bigint, occurrences string")


# Fixed two-word phrase queries over the corpus vocabulary (the same
# term pairs BM25 ranks on — text_analysis.BM25_QUERIES — so retrieval
# entries share a query workload).
PHRASES = ((0, "hash", "join"), (1, "window", "merge"),
           (2, "scan", "filter"))


def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search — the IR capability the flagship
    index CANNOT answer (word → doc:count loses adjacency): for each
    fixed two-word phrase, every document containing the exact phrase
    and its occurrence count, via the classic positional-postings
    merge: tokens at (doc, p) matching word₁ join tokens at (doc, p+1)
    matching word₂.

    The tokenizer (and its pre-filter position semantics,
    mapreduce.c:109-114) is ``tokens()`` — the same relation the
    flagship builds — so this entry demonstrates how a positional
    variant of the reference's index extends it to phrase queries.

    Scale: the phrase table broadcasts; BOTH sides of the positional
    join are pre-filtered to query terms before any shuffle (at 100 TB
    the posting lists for two terms, not the corpus, meet in the
    join); the join key is (doc_id, pos) — co-partitioned, no
    pair blowup beyond true candidate positions.
    """
    tok = tokens(spark, sf_dir)
    phrases = spark.createDataFrame(
        list(PHRASES), "phrase_id bigint, w1 string, w2 string")
    t1 = (tok.join(F.broadcast(phrases), tok.word == phrases.w1)
          .select("phrase_id", "w1", "w2", "doc_id", "pos"))
    t2 = tok.select(F.col("doc_id").alias("doc_id2"),
                    F.col("pos").alias("pos2"),
                    F.col("word").alias("word2"))
    hits = t1.join(
        t2, (F.col("doc_id") == F.col("doc_id2"))
        & (F.col("pos2") == F.col("pos") + 1)
        & (F.col("word2") == F.col("w2")))
    return (hits.groupBy("phrase_id",
                         F.concat_ws(" ", "w1", "w2").alias("phrase"),
                         "doc_id")
            .agg(F.count(F.lit(1)).alias("n_matches")))


def _phrase_values_sql() -> str:
    return ", ".join(f"({i}, '{a}', '{b}')" for i, a, b in PHRASES)


PHRASE_SEARCH_SQL = f"""
WITH tok AS ({TOKENS_FILTERED_SQL}),
q(phrase_id, w1, w2) AS (VALUES {_phrase_values_sql()})
SELECT q.phrase_id, q.w1 || ' ' || q.w2 AS phrase, t1.doc_id,
       count(*) AS n_matches
FROM tok t1
JOIN q ON t1.word = q.w1
JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
           AND t2.word = q.w2
GROUP BY q.phrase_id, phrase, t1.doc_id
"""


def postings_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings-list compression statistics: per word, delta-encode the
    sorted doc_id postings (store gaps, not absolutes — the universal
    inverted-index layout) and report the encoded size in
    variable-length bits — what the flagship index would cost on disk,
    and the measurement behind gap-encoding's win over raw ids.

    bits(gap) = ⌊log2(gap)⌋ + 1 computed as length(bin(gap)) — exact
    integer string length in both engines (first doc_id stored
    absolute, +1 so doc 0 encodes as a 1-bit gap too).

    Scale: one distinct postings relation, one lag window per word,
    one combinable aggregate — the same single-exchange profile as the
    flagship.
    """
    dw = (tokens(spark, sf_dir).select("doc_id", "word").distinct())
    w = Window.partitionBy("word").orderBy("doc_id")
    gaps = dw.withColumn(
        "gap", F.col("doc_id") - F.coalesce(
            F.lag("doc_id").over(w), F.lit(-1)))
    return (gaps.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n_postings"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("gap").alias("max_gap"),
                 F.sum(F.length(F.bin("gap"))).alias("encoded_bits"))
            .withColumn(
                "raw_bits", F.col("n_postings") * 64)
            .withColumn(
                "compression_ratio",
                F.round(F.col("raw_bits").cast("double")
                        / F.col("encoded_bits"), 6)))


POSTINGS_DELTA_SQL = f"""
WITH dw AS (
    SELECT DISTINCT doc_id, word FROM ({TOKENS_FILTERED_SQL}) t
), gaps AS (
    SELECT word, doc_id,
           doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY word
                                               ORDER BY doc_id), -1)
               AS gap
    FROM dw
)
SELECT word, count(*) AS n_postings, min(doc_id) AS first_doc,
       max(gap) AS max_gap,
       CAST(sum(length(bin(gap))) AS BIGINT) AS encoded_bits,
       count(*) * 64 AS raw_bits,
       round(CAST(count(*) * 64 AS DOUBLE)
             / CAST(sum(length(bin(gap))) AS DOUBLE), 6)
           AS compression_ratio
FROM gaps GROUP BY word
"""
