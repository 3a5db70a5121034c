"""The benchmark's workloads: what a round runs and how its output is
checked.

Each workload runs one cold pass, then warm rounds until the time
budget is spent. A round visits every query once, in an order drawn
from the seed and the round number; the same query never runs twice
back to back. Every call into the engine runs inside a span, so the
per-query times (build + plan + execute) and the traced per-layer split
come from the same records.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import gen
import spans as tr

# Registry queries of the ``tables`` workload. Chosen so that one round
# crosses every layer the engine has over parquet inputs:
#   scan + aggregate:               q1_pricing_summary
#   shuffle join, reused exchange:  tfidf_top_terms
#   vectors behind a repartition:   ann_topk_bruteforce
#   eager build-time jobs:          minhash_lsh_dedup (lineage checkpoints)
# Four queries keep a run, with its fresh JVM, three set-up samples and
# cold pass, near one minute.
TABLE_QUERIES = (
    "q1_pricing_summary",
    "tfidf_top_terms",
    "ann_topk_bruteforce",
    "minhash_lsh_dedup",
)

# Input sizes. Fact tables are large enough that scans, shuffles and
# task parallelism show; documents and embeddings stay small because
# several of their operators are super-linear in row count.
TABLES_SF = 0.02
TABLES_DOCS = 1_000
TABLES_VECS = 1_000
ROW_GROUPS_PER_CPU = 2
WORDLINE_FILES = 64
WORDLINE_LINES = 2_500
WORDLINE_VOCAB = 20_000


class Collected:
    """Rows already fetched from a query, in the shape
    ``tests/oracle.compare`` reads (``columns`` and ``collect()``)."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class Outcome:
    """What one workload run produced: per-query times of every pass,
    failures, the input size a round reads, and notes for the report."""

    def __init__(self):
        self.cold_s = 0.0
        self.warm: dict[str, list[float]] = {}
        self.round_s: list[float] = []
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.round_rows = 0
        self.inputs: dict = {}
        self.text_rows: tuple[str, str] | None = None


def _raised(e: Exception) -> str:
    return f"raised {type(e).__name__}: {str(e)[:500]}"


def _order(names, seed: int, rnd: int) -> list[str]:
    names = list(names)
    random.Random(seed * 1_000_003 + rnd).shuffle(names)
    return names


MIN_WARM_ROUNDS = 3


def _rounds(seconds: float, run_round) -> None:
    """One untimed warm-up round, then measured rounds until ``seconds``
    have passed, at least MIN_WARM_ROUNDS. After the cold pass the JIT
    is still compiling: the first warm round runs ~1.4x slower than the
    third, so it is kept out of the measured median."""
    run_round(0, "warmup")
    t0 = time.perf_counter()
    rnd = 1
    while rnd <= MIN_WARM_ROUNDS or time.perf_counter() - t0 < seconds:
        run_round(rnd, "warm")
        rnd += 1


class Tables:
    name = "tables"
    # per-layer metric prefixes this workload has no calls for
    absent_layers = ("text.", "sink.")

    def __init__(self, root: str, data_dir: str, seed: int, cpus: int):
        self.seed = seed
        self.dir, manifest = gen.make_tables(
            data_dir, seed, TABLES_SF, TABLES_DOCS, TABLES_VECS,
            ROW_GROUPS_PER_CPU * cpus)
        self.table_rows = {t: v["rows"] for t, v in manifest["tables"].items()}
        self.inputs = manifest

    def run(self, spark, tracer: tr.Tracer, seconds: float) -> Outcome:
        from mapreduce_in_pthreads_spark.plans.registry import REGISTRY
        from tests.oracle import compare, duck_con

        out = Outcome()
        out.inputs = self.inputs
        gc = spark.sparkContext._jvm.java.lang.System.gc

        def one(name: str, exec_span: str):
            with tracer.span(tr.QUERY, query=name) as q:
                with tracer.span(tr.BUILD):
                    df = REGISTRY[name].fn(spark, self.dir)
                with tracer.span(tr.PLAN):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(exec_span):
                    if exec_span == tr.EXEC_COLLECT:
                        rows = [tuple(r) for r in df.collect()]
                    else:
                        df.write.mode("overwrite").format("noop").save()
                        rows = None
            return tr.duration(q), df, rows

        # cold pass: the first execution of every query in this session,
        # collected so the output can be checked against the oracle
        results = {}
        with tracer.span(tr.ROUND, kind="cold", index=0):
            for name in _order(TABLE_QUERIES, self.seed, 0):
                out.attempted += 1
                gc()
                try:
                    secs, df, rows = one(name, tr.EXEC_COLLECT)
                except Exception as e:  # noqa: BLE001 — reported per query
                    out.failures.append((name, _raised(e)))
                    continue
                out.cold_s += secs
                results[name] = (df.columns, rows, df.inputFiles())

        con = duck_con(self.dir)
        for name, (cols, rows, files) in results.items():
            oracle = REGISTRY[name].oracle
            try:
                if oracle is None:
                    if not rows:
                        raise AssertionError("no rows and no oracle")
                else:
                    rel = con.sql(oracle)
                    compare(Collected(cols, rows), rel.fetchall(),
                            list(rel.columns))
            except AssertionError as e:
                out.failures.append((name, f"output check: {e}"))
                continue
            read = {os.path.basename(f).rsplit(".", 1)[0] for f in files}
            out.round_rows += sum(self.table_rows.get(t, 0) for t in read)
        con.close()

        failed = {n for n, _ in out.failures}
        live = [n for n in TABLE_QUERIES if n not in failed]

        def warm_round(rnd: int, kind: str) -> None:
            total = 0.0
            with tracer.span(tr.ROUND, kind=kind, index=rnd):
                for name in _order(live, self.seed, rnd):
                    out.attempted += 1
                    gc()
                    try:
                        secs, *_ = one(name, tr.EXEC_NOOP)
                    except Exception as e:  # noqa: BLE001
                        out.failures.append((name, _raised(e)))
                        continue
                    if kind == "warm":
                        out.warm.setdefault(name, []).append(secs)
                    total += secs
            if kind == "warm":
                out.round_s.append(total)

        _rounds(seconds, warm_round)
        return out


class Wordline:
    """The paper's job: inverted index over word-per-line files, written
    out as the reference's report lines."""

    name = "wordline_index"
    absent_layers = ()

    def __init__(self, root: str, data_dir: str, seed: int, cpus: int):
        self.seed = seed
        self.corpus, manifest = gen.make_wordline(
            data_dir, seed, WORDLINE_FILES, WORDLINE_LINES, WORDLINE_VOCAB)
        self.paths = gen.wordline_paths(self.corpus, WORDLINE_FILES)
        self.inputs = manifest
        self.out_root = os.path.join(root, "out")

    def run(self, spark, tracer: tr.Tracer, seconds: float) -> Outcome:
        from pyspark.sql import functions as F

        from mapreduce_in_pthreads_spark.cli import build_index
        from mapreduce_in_pthreads_spark.sources.sinks import write_text_report
        from mapreduce_in_pthreads_spark.sources.text import read_word_per_line

        out = Outcome()
        out.round_rows = self.inputs["lines"]
        # Generate counts the lines; the Filter above it keeps the
        # non-empty words
        out.text_rows = ("Generate", "Filter")
        occ, skipped = gen.wordline_mirror(self.corpus, WORDLINE_FILES)
        expected = gen.wordline_expected_lines(occ)
        out.inputs = {**self.inputs, "distinct_words": len(occ),
                      "occurrences": sum(len(v) for v in occ.values()),
                      "skipped_lines": skipped}
        del occ
        gc = spark.sparkContext._jvm.java.lang.System.gc
        traced = tracer.jobs_attributed

        def one(rnd: int, kind: str) -> None:
            path = os.path.join(self.out_root, f"round{rnd}")
            out.attempted += 1
            gc()
            with tracer.span(tr.ROUND, kind=kind, index=rnd):
                if traced:
                    with tracer.span(tr.TEXT_READ):
                        read_word_per_line(spark, self.paths)
                with tracer.span(tr.QUERY, query=self.name) as q:
                    with tracer.span(tr.BUILD):
                        idx = build_index(spark, self.paths)
                        lines = idx.select(F.concat_ws(
                            ": ", "word", "occurrences").alias("line"))
                    with tracer.span(tr.PLAN):
                        lines._jdf.queryExecution().executedPlan()
                    with tracer.span(tr.SINK) as s:
                        write_text_report(lines, "line", path)
            parts = [os.path.join(path, f) for f in os.listdir(path)
                     if f.startswith("part-")]
            s["files"] = len(parts)
            s["bytes"] = sum(os.path.getsize(p) for p in parts)
            got = []
            for p in parts:
                with open(p, encoding="latin-1") as fh:
                    got += fh.read().splitlines()
            shutil.rmtree(path, ignore_errors=True)
            if sorted(got) != expected:
                missing = len(set(expected) - set(got))
                out.failures.append((self.name, (
                    f"output check: {len(got)} lines, expected "
                    f"{len(expected)}, {missing} expected lines missing")))
                return
            secs = tr.duration(q)
            if kind == "cold":
                out.cold_s = secs
            elif kind == "warm":
                out.warm.setdefault(self.name, []).append(secs)
                out.round_s.append(secs)

        try:
            one(0, "cold")
            if not out.failures:
                _rounds(seconds, one)
        except Exception as e:  # noqa: BLE001 — reported, never dropped
            out.failures.append((self.name, _raised(e)))
        return out


WORKLOADS = {"tables": Tables, "wordline_index": Wordline}
