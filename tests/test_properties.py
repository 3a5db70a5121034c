"""Property-based + metamorphic tests (SURVEY.md §5.2).

The hypothesis suite pins the normalization expression to the
12-line executable spec that reproduces the reference's golden output
exactly (SURVEY.md Appendix A) — on arbitrary inputs, not just the
committed corpus. Metamorphic tests mirror invariances verified by
executing the reference (§2.2): input-file order and partition count
must not change results.
"""

from __future__ import annotations

import re
import pytest
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_in_pthreads_spark.functions.normalize import normalize_word
from mapreduce_in_pthreads_spark.plans.registry import REGISTRY


def spec_normalize(s: str) -> str:
    """SURVEY.md Appendix A, verified golden-exact vs the reference."""
    return re.match(r"[a-z0-9]*", s.lower()).group(0)


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.text(alphabet=st.characters(codec="latin-1", exclude_characters="\n"),
            max_size=30),
    min_size=1, max_size=50))
def test_normalize_matches_spec(spark, lines):
    """Engine normalization ≡ the executable spec on arbitrary latin-1
    lines (one Spark job per hypothesis batch would be slow, so the
    whole example list becomes one DataFrame)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(l,) for l in lines], ["raw_line"])
    got = [r.w for r in
           df.select(normalize_word("raw_line").alias("w")).collect()]
    # Spark lower() is Unicode-aware vs the C byte-wise tolower, but on
    # the [A-Za-z0-9] prefix they agree; the leading-run regex discards
    # everything where they could differ.
    expect = [spec_normalize(l) for l in lines]
    assert got == expect


def test_result_invariant_under_input_file_order(spark, tmp_path):
    """Reference invariance: producers write in any order; results
    identical (SURVEY.md §2.2). Engine analogue: corpus file order."""
    from mapreduce_in_pthreads_spark.cli import build_index
    from mapreduce_in_pthreads_spark.sources.text import read_word_per_line

    paths = []
    for i in range(1, 7):
        p = tmp_path / f"file{i}.txt"
        p.write_bytes(b"".join(b"W%d line %d\r\n" % (j % 4, j)
                               for j in range(i * 3)) + b"---\n")
        paths.append(str(p))
    rows = lambda df: sorted(map(tuple, df.collect()))
    fwd = rows(read_word_per_line(spark, paths))
    assert len(fwd) == sum(i * 3 + 1 for i in range(1, 7))
    assert fwd == rows(read_word_per_line(spark, list(reversed(paths))))
    assert (rows(build_index(spark, paths))
            == rows(build_index(spark, list(reversed(paths)))))


def test_wordcount_consistent_with_index(spark, sf_dir):
    """Cross-query invariant: Σ word_count == corpus occurrences, and
    word_count keys == inverted index keys (SURVEY.md §5.2)."""
    wc = {r.word: r.n_occurrences
          for r in REGISTRY["word_count"].fn(spark, sf_dir).collect()}
    idx = {r.word: r.n_occurrences
           for r in REGISTRY["inverted_index"].fn(spark, sf_dir).collect()}
    stats = REGISTRY["corpus_stats"].fn(spark, sf_dir).first()
    assert wc == {w: n for w, n in idx.items()}
    assert sum(wc.values()) == stats.n_occurrences
    assert len(wc) == stats.n_distinct_words


def test_sequence_packing_conserves_tokens(spark, sf_dir):
    """Packing invariants: chunks partition the corpus (Σ chunk_tokens
    per lang == Σ doc tokens per lang), chunk ids are contiguous from
    0, and every full-size chunk precedes the (single possible)
    ragged tail."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.text_analysis import SEQ_LEN
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    packed = REGISTRY["sequence_packing"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    want = {r.lang: r.total for r in docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("total")).collect()}
    got = {}
    per_lang = {}
    for r in packed:
        got[r.lang] = got.get(r.lang, 0) + r.chunk_tokens
        per_lang.setdefault(r.lang, []).append(r.chunk_id)
    assert got == want
    for lang, ids in per_lang.items():
        ids = sorted(ids)
        assert ids == list(range(len(ids))), lang


def test_curation_funnel_monotone(spark, sf_dir):
    """The funnel never grows: n_raw ≥ n_quality ≥ n_exact_unique ≥
    n_kept per language, and kept tokens ≤ corpus tokens."""
    rows = REGISTRY["curation_funnel"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_raw >= r.n_quality >= r.n_exact_unique >= r.n_kept
        assert r.n_kept >= 0 and r.tokens_kept >= 0


def test_duplicate_spans_pinned_semantics(spark, tmp_path):
    """Hand-crafted corpus with known shared spans: a 10-token exact
    span (run of 6 five-grams), a two-span pair (7- and 6-token spans
    separated by differing filler), and single-gram overlaps that must
    be excluded by SPAN_MIN_RUN."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_in_pthreads_spark.operators.dedup import duplicate_spans

    texts = {
        10: "a b c d e f g h i j",
        11: "f1 f2 a b c d e f g h i j f3 f4",
        12: "a b c d e z1 z2 z3 z4 z5 f g h i j",
        20: "s1 s2 s3 s4 s5 s6 s7 g1 g2 t1 t2 t3 t4 t5 t6",
        21: "h1 h2 s1 s2 s3 s4 s5 s6 s7 h3 t1 t2 t3 t4 t5 t6 h4",
    }
    tbl = pa.table({
        "doc_id": pa.array(list(texts), type=pa.int64()),
        "text": pa.array(list(texts.values())),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(["synthetic"] * len(texts)),
        "n_chars": pa.array([len(t) for t in texts.values()],
                            type=pa.int64()),
    })
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = duplicate_spans(spark, str(tmp_path)).collect()
    got = {(r.doc_a, r.doc_b):
           (r.max_span_tokens, r.n_spans, r.span_tokens) for r in rows}
    assert got == {
        (10, 11): (10, 1, 10),   # one exact 10-token span
        (20, 21): (7, 2, 13),    # 7-token and 6-token spans
    }                            # (10,12)/(11,12): run-1 overlaps dropped


def test_mixture_weights_invariants(spark, sf_dir):
    """Temperature mixing sanity: probabilities sum to ~1, quotas never
    exceed the budget, and the sqrt damping strictly flattens the mix
    (smaller language => larger quota per document)."""
    from mapreduce_in_pthreads_spark.operators.curation import (
        MIX_TOKEN_BUDGET)

    rows = REGISTRY["mixture_sampling_weights"].fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert abs(sum(r.mix_prob for r in rows) - 1.0) < 1e-9
    assert sum(r.doc_quota for r in rows) <= MIX_TOKEN_BUDGET
    by_docs = sorted(rows, key=lambda r: r.n_docs)
    for small, big in zip(by_docs, by_docs[1:]):
        if small.n_docs < big.n_docs:
            # damped: relative boost for the smaller language
            assert (small.doc_quota / small.n_docs
                    >= big.doc_quota / big.n_docs)


def test_unigram_logprob_invariants(spark, sf_dir):
    """Perplexity-filter surrogate sanity: every doc is scored exactly
    once, log-probs are negative, terciles are balanced to within one
    doc, and the head tercile's mean log-prob beats the tail's."""
    rows = REGISTRY["unigram_logprob_filter"].fn(spark, sf_dir).collect()
    from mapreduce_in_pthreads_spark.sources.tables import load_table
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert all(r.avg_logprob < 0 for r in rows)
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.avg_logprob)
    assert set(by_bucket) == {"head", "middle", "tail"}
    sizes = [len(v) for v in by_bucket.values()]
    assert max(sizes) - min(sizes) <= 1
    mean = lambda v: sum(v) / len(v)  # noqa: E731
    assert mean(by_bucket["head"]) > mean(by_bucket["tail"])


def test_bm25_matches_pure_python_reference(spark):
    """Independent BM25 replica: recompute idf/tf/length-norm scores in
    pure Python with the same decimal HALF_UP pinning steps and assert
    the engine's top-10 per query matches exactly — guards the formula
    and both engines against silent drift (the oracle alone only
    proves Spark == DuckDB)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow.parquet as paq

    from mapreduce_in_pthreads_spark.operators.text_analysis import (
        BM25_B, BM25_K1, BM25_QUERIES, BM25_TOP_K, bm25_topk_docs)

    from .conftest import SF_SMOKE

    def pin10(x: float) -> Decimal:
        return Decimal(x).quantize(Decimal("1E-10"), ROUND_HALF_UP)

    tbl = paq.read_table(f"{SF_SMOKE}/documents.parquet",
                         columns=["doc_id", "text"])
    docs = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    dl = {d: len(t.split(" ")) for d, t in docs.items()}
    n_docs, total_dl = len(docs), sum(dl.values())
    avgdl = total_dl / n_docs
    terms = sorted({t for _, t in BM25_QUERIES})
    tf: dict[tuple[int, str], int] = {}
    for d, t in docs.items():
        for w in t.split(" "):
            if w in terms:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df: dict[str, int] = {}
    for (d, w) in tf:
        df[w] = df.get(w, 0) + 1
    idf = {w: float(pin10(math.log(
        1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5)))) for w in df}
    scores: dict[tuple[int, int], Decimal] = {}
    for (d, w), f in tf.items():
        for qid, qw in BM25_QUERIES:
            if qw != w:
                continue
            denom = f + BM25_K1 * (1.0 - BM25_B
                                   + BM25_B * (dl[d] / avgdl))
            s = pin10(idf[w] * (f * (BM25_K1 + 1.0)) / denom)
            scores[(qid, d)] = scores.get((qid, d), Decimal(0)) + s
    want = set()
    by_q: dict[int, list] = {}
    for (qid, d), s in scores.items():
        by_q.setdefault(qid, []).append((d, s))
    for qid, items in by_q.items():
        items.sort(key=lambda x: (-x[1], x[0]))
        for rank, (d, s) in enumerate(items[:BM25_TOP_K], 1):
            bm25 = float(Decimal(float(s)).quantize(
                Decimal("1E-6"), ROUND_HALF_UP))
            want.add((qid, d, bm25, rank))
    got = {(r.query_id, r.doc_id, r.bm25, r.rank)
           for r in bm25_topk_docs(spark, SF_SMOKE).collect()}
    assert got == want


def test_count_min_never_undercounts_and_merges(spark, sf_dir):
    """The two defining CMS properties: estimates never undercount
    (overshoot >= 0 for every probed word), and the sketch is a
    mergeable monoid — a sketch built per-language and summed
    cell-wise equals the corpus-level sketch."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.text_analysis import (
        CMS_DEPTH, CMS_WIDTH)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["count_min_words"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_estimate >= r.exact_count
        assert r.overshoot == r.cms_estimate - r.exact_count

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word"))
    cells = F.array(*[
        F.struct(
            F.lit(i).alias("row"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("word"))),
                1, 15), 16, 10).cast("long") % CMS_WIDTH).alias("bucket"))
        for i in range(CMS_DEPTH)])
    exploded = tok.select("lang", F.explode(cells).alias("c"))
    merged = {(r.row, r.bucket): r.cnt for r in (
        exploded.groupBy("lang", "c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
        .collect())}
    direct = {(r.row, r.bucket): r.cnt for r in (
        exploded.groupBy("c.row", "c.bucket")
        .agg(F.count(F.lit(1)).alias("cnt")).collect())}
    assert merged == direct


def test_bfs_distances_triangle_inequality_and_source(spark, sf_dir):
    """BFS sanity: the source (lexicographic min word) is at distance
    0, every reached word's distance is within BFS_HOPS, and each
    distance-h word (h >= 1) has an in-neighbor at distance h-1."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.iterative import BFS_HOPS
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["word_graph_distances"].fn(spark, sf_dir).collect()
    dist = {r.word: r.dist for r in rows}
    assert min(dist.values()) == 0
    source = min(dist)  # any reached word; check the real source below
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.struct(F.get(toks, i).alias("src"),
                           F.get(toks, i + 1).alias("dst")))
    edges = {(r.src, r.dst) for r in
             docs.select(F.explode(bigrams).alias("e"))
             .select("e.src", "e.dst").distinct().collect()}
    all_words = sorted({w for e in edges for w in e})
    assert dist[all_words[0]] == 0, "source must be the min word"
    assert source in dist
    assert all(0 <= d <= BFS_HOPS for d in dist.values())
    preds = {}
    for s, t in edges:
        preds.setdefault(t, set()).add(s)
    for w, d in dist.items():
        if d >= 1:
            assert any(dist.get(p) == d - 1 for p in preds.get(w, ())), w


def test_semdedup_prune_invariants(spark, sf_dir):
    """SemDeDup policy invariants: one verdict per vector; the min-id
    vector of every cell survives; a vector is pruned IFF some
    lower-id cluster-mate reaches tau (checked against an independent
    numpy recomputation of the within-cell cosines on the final
    trained assignment)."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.quantizer import SEMDEDUP_TAU
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["semdedup_prune"].fn(spark, sf_dir).collect()
    emb = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
           for r in load_table(spark, sf_dir, "embeddings").collect()}
    assert sorted(r.vec_id for r in rows) == sorted(emb)

    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    n_pruned = 0
    for members in by_cell.values():
        members.sort(key=lambda r: r.vec_id)
        assert members[0].pruned == 0, "min-id representative pruned"
        for i, r in enumerate(members):
            e = emb[r.vec_id]
            cosines = [
                float(np.dot(e, emb[m.vec_id]))
                / (float(np.linalg.norm(e))
                   * float(np.linalg.norm(emb[m.vec_id])))
                for m in members[:i]]
            # 1e-9 slack in BOTH directions only excuses numpy-vs-
            # expression rounding at the boundary; the engine-vs-
            # oracle contract stays exact.
            if r.pruned:
                n_pruned += 1
                assert any(c >= SEMDEDUP_TAU - 1e-9 for c in cosines), (
                    r.vec_id, r.cell)
            else:
                assert not any(c >= SEMDEDUP_TAU + 1e-9 for c in cosines), (
                    r.vec_id, r.cell)
    assert n_pruned > 0, "tau prunes nothing — threshold miscalibrated"


def test_dsir_selects_target_domain(spark, sf_dir):
    """DSIR semantics: the importance ranking must actually prefer the
    target domain — the target language's mean log-weight is the
    strict per-language maximum, and a strong majority of the selected
    top-N are target-language docs (85/100 at sf0.01; bound at 60 to
    absorb corpus regeneration). Also pins the selection contract:
    exactly DSIR_SELECT_N selected, and every selected weight >= every
    unselected weight."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.curation import (
        DSIR_SELECT_N, DSIR_TARGET_LANG)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    res = REGISTRY["dsir_importance_weights"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = res.join(docs, "doc_id").collect()
    sel = [r for r in j if r.selected == 1]
    assert len(sel) == DSIR_SELECT_N
    assert min(r.log_weight for r in sel) >= max(
        r.log_weight for r in j if r.selected == 0)
    n_target = sum(1 for r in sel if r.lang == DSIR_TARGET_LANG)
    assert n_target >= 0.6 * DSIR_SELECT_N, n_target
    means = {}
    for r in j:
        means.setdefault(r.lang, []).append(r.log_weight)
    means = {k: sum(v) / len(v) for k, v in means.items()}
    assert max(means, key=means.get) == DSIR_TARGET_LANG, means


def test_rrf_fusion_consistency(spark, sf_dir):
    """RRF contract: the fused score is exactly 1/(K+rank_bm25) +
    1/(K+rank_tfd) (recomputed in python); Pareto dominance holds
    (better on BOTH input ranks => better fused rank); and the
    rank_bm25 column agrees with the standalone bm25_topk_docs
    ranking on the docs both surface."""
    from mapreduce_in_pthreads_spark.operators.text_analysis import RRF_K

    rows = REGISTRY["rrf_fusion_topk"].fn(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        expect = round(1.0 / (RRF_K + r.rank_bm25)
                       + 1.0 / (RRF_K + r.rank_tfd), 6)
        assert abs(r.rrf_score - expect) < 1e-9, r
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        for a in rs:
            for b in rs:
                if (a.rank_bm25 < b.rank_bm25
                        and a.rank_tfd < b.rank_tfd):
                    assert a.fused_rank < b.fused_rank, (a, b)
    bm25 = REGISTRY["bm25_topk_docs"].fn(spark, sf_dir).collect()
    bm25_rank = {(r.query_id, r.doc_id): r.rank for r in bm25}
    for r in rows:
        key = (r.query_id, r.doc_id)
        if key in bm25_rank:
            assert r.rank_bm25 == bm25_rank[key], key


def test_soft_dedup_weight_mass(spark, sf_dir):
    """SoftDeDup contract: weight * commonness == 1 per doc, every doc
    appears once, each cluster's total mass is exactly 1 (so the
    expected mix equals hard dedup), and the corpus has at least one
    non-singleton cluster for the reweighting to act on."""
    rows = REGISTRY["soft_dedup_weights"].fn(spark, sf_dir).collect()
    from mapreduce_in_pthreads_spark.sources.tables import load_table
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    mass = {}
    for r in rows:
        assert abs(r.weight * r.commonness - 1.0) < 1e-12
        mass[r.cluster_id] = mass.get(r.cluster_id, 0.0) + r.weight
    assert all(abs(m - 1.0) < 1e-9 for m in mass.values())
    assert any(r.commonness > 1 for r in rows)


def test_asof_nearest_invariants(spark, sf_dir):
    """Nearest as-of contract: every match is within tolerance with
    direction matching the gap sign and a non-purchase partner; and on
    a 100-purchase sample a python brute force over the user's events
    confirms the match is truly the nearest (past preferred on ties)."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.advanced import ASOF_TOL_US
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["asof_join_nearest_event"].fn(spark, sf_dir).collect()
    assert {r.direction for r in rows} == {"prior", "next", None}
    for r in rows:
        if r.direction is None:
            assert r.matched_event_id is None and r.gap_us is None
            continue
        assert r.matched_type != "purchase"
        assert abs(r.gap_us) <= ASOF_TOL_US
        assert (r.gap_us >= 0) == (r.direction == "prior")

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros("ts").alias("us")).collect()
    by_user = {}
    for e in ev:
        by_user.setdefault(e.user_id, []).append(e)
    purchases = {(e.user_id, e.event_id): e.us
                 for e in ev if e.event_type == "purchase"}
    for r in rows[:100]:
        p_us = purchases[(r.user_id, r.purchase_id)]
        best = None  # (abs_gap, dir_rank, ordered_id, event_id)
        for e in by_user[r.user_id]:
            if e.event_type == "purchase":
                continue
            prior = (e.us, e.event_id) < (p_us, r.purchase_id)
            key = (abs(p_us - e.us), 0 if prior else 1,
                   -e.event_id if prior else e.event_id)
            if abs(p_us - e.us) <= ASOF_TOL_US and (
                    best is None or key < best[0]):
                best = (key, e.event_id)
        if best is None:
            assert r.matched_event_id is None, r
        else:
            assert r.matched_event_id == best[1], (r, best)


def test_equi_depth_decile_invariants(spark, sf_dir):
    """Equi-depth contract per status: bucket populations differ by at
    most 1 (ntile), buckets tile the value range in order (hi_k <=
    lo_{k+1}), and populations sum to the status' order count."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["equi_depth_deciles"].fn(spark, sf_dir).collect()
    want = {r.o_orderstatus: r.n for r in
            load_table(spark, sf_dir, "orders").groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    by_status = {}
    for r in rows:
        by_status.setdefault(r.o_orderstatus, []).append(r)
    assert set(by_status) == set(want)
    for status, bs in by_status.items():
        bs.sort(key=lambda r: r.decile)
        assert [r.decile for r in bs] == list(range(1, len(bs) + 1))
        sizes = [r.n_orders for r in bs]
        assert max(sizes) - min(sizes) <= 1
        assert sum(sizes) == want[status]
        for a, b in zip(bs, bs[1:]):
            assert a.lo <= a.hi <= b.lo


def test_event_rate_anomaly_invariants(spark, sf_dir):
    """Anomaly scoring: the first ANOM_LOOKBACK hours of every type
    are unscored (warm-up), every scored z recomputes exactly from
    the trailing dense counts, and anomalies are exactly |z| > 2."""
    from mapreduce_in_pthreads_spark.operators.timeseries import (
        ANOM_LOOKBACK, ANOM_Z)

    rows = REGISTRY["event_rate_anomaly"].fn(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    n_scored = 0
    for series in by_type.values():
        series.sort(key=lambda r: r.hour_us)
        hours = [r.hour_us for r in series]
        assert hours == list(range(hours[0], hours[-1] + 1,
                                   3_600_000_000)), "grid not dense"
        for i, r in enumerate(series):
            if i < ANOM_LOOKBACK:
                assert r.z is None, r
                continue
            window = [s.n_events for s in series[i - ANOM_LOOKBACK:i]]
            k = len(window)
            mean = sum(window) / k
            var = (sum(c * c for c in window) - sum(window)**2 / k) / (k - 1)
            if var > 0:
                n_scored += 1
                z = (r.n_events - mean) / var ** 0.5
                assert abs(r.z - round(z, 6)) < 1e-9, r
                assert r.is_anomaly == (1 if abs(r.z) > ANOM_Z else 0)
            else:
                assert r.z is None
    assert n_scored > 0


def test_session_path_transition_mass(spark, sf_dir):
    """Markov-matrix contract: each from_type's probabilities sum to 1
    (within rounding), and total transition count equals
    n_events - n_sessions — every session of length L contributes
    exactly L-1 transitions (cross-pinned against the standalone
    session_windows_30m sessionizer)."""
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["session_path_transitions"].fn(spark, sf_dir).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for fs in by_from.values():
        assert abs(sum(r.p for r in fs) - 1.0) < 1e-4
        for r in fs:
            assert abs(r.p - r.n / sum(x.n for x in fs)) < 1e-6
    n_events = load_table(spark, sf_dir, "events").count()
    n_sessions = REGISTRY["session_windows_30m"].fn(spark, sf_dir).count()
    assert sum(r.n for r in rows) == n_events - n_sessions


def test_daily_profile_similarity_vs_numpy(spark, sf_dir):
    """Series-similarity contract: recompute every (query, candidate)
    cosine from raw hour-of-day count vectors in numpy and confirm
    each query's returned top-k IS the k best (score and membership),
    ranks contiguous, cosines in [0, 1]."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.timeseries import (
        SIM_N_QUERY_USERS, SIM_TOP_K)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["daily_profile_similarity"].fn(spark, sf_dir).collect()
    prof = {}
    for r in (load_table(spark, sf_dir, "events")
              .groupBy("user_id", F.hour("ts").alias("hod"))
              .agg(F.count(F.lit(1)).alias("c")).collect()):
        prof.setdefault(r.user_id, np.zeros(24))[r.hod] = r.c
    by_q = {}
    for r in rows:
        assert 0.0 <= r.cos_sim <= 1.0
        by_q.setdefault(r.query_user, []).append(r)
    assert set(by_q) == set(range(SIM_N_QUERY_USERS))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        want = sorted(
            ((round(float(np.dot(prof[q], prof[u]))
                    / (float(np.linalg.norm(prof[q]))
                       * float(np.linalg.norm(prof[u]))), 6), -u)
             for u in prof if u != q),
            reverse=True)[:SIM_TOP_K]
        got = [(r.cos_sim, -r.user_id) for r in rs]
        assert got == want, (q, got[:3], want[:3])


def test_novelty_curve_conservation(spark, sf_dir):
    """Novelty-curve invariants: cum_unique is the running sum of
    n_introduced, the final cum_unique equals the corpus' distinct
    trigram count, Σ novelty contributions never exceed per-doc
    distinct grams, and doc 0 is 100% novel."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = sorted(
        REGISTRY["ngram_novelty_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r.doc_id)
    run = 0
    for r in rows:
        run += r.n_introduced
        assert r.cum_unique == run
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(toks)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)))
    total = (docs.select(F.explode(
        F.array_distinct(F.slice(
            tri, 1, F.greatest(F.size(toks) - 2, F.lit(0))))).alias("g"))
        .select("g").distinct().count())
    assert rows[-1].cum_unique == total
    assert rows[0].novelty_rate == 1.0


def test_rolling_correlation_vs_numpy(spark, sf_dir):
    """Recompute every scored r with numpy over the dense series and
    match to 1e-9; warm-up rows (first CORR_WINDOW-1 hours) are NULL;
    r always in [-1, 1]."""
    import numpy as np

    from mapreduce_in_pthreads_spark.operators.timeseries import (
        CORR_WINDOW)

    rows = sorted(
        REGISTRY["rolling_correlation"].fn(spark, sf_dir).collect(),
        key=lambda r: r.hour_us)
    xs = np.array([r.n_click for r in rows], dtype=float)
    ys = np.array([r.n_purchase for r in rows], dtype=float)
    for i, r in enumerate(rows):
        if i < CORR_WINDOW - 1:
            assert r.r is None
            continue
        wx = xs[i - CORR_WINDOW + 1:i + 1]
        wy = ys[i - CORR_WINDOW + 1:i + 1]
        if wx.std() == 0 or wy.std() == 0:
            assert r.r is None
            continue
        want = float(np.corrcoef(wx, wy)[0, 1])
        assert abs(r.r - want) < 1e-6, (i, r.r, want)
        assert -1.0 <= r.r <= 1.0


def test_image_phash_group_structure(spark, sf_dir):
    """pHash grouping contract: exactly one canonical (the min doc_id)
    per hash group, group sizes sum to the corpus, and a numpy
    re-derivation of the aHash from independently decoded pixel
    arrays matches for a 50-doc sample."""
    import numpy as np

    from mapreduce_in_pthreads_spark.operators.multimodal import (
        PHASH_GRID, encode_bmp)
    from mapreduce_in_pthreads_spark.sources.tables import load_table
    import struct as _struct

    rows = REGISTRY["image_phash_groups"].fn(spark, sf_dir).collect()
    docs = {r.doc_id: r for r in
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "n_chars").collect()}
    assert sorted(r.doc_id for r in rows) == sorted(docs)
    groups = {}
    for r in rows:
        groups.setdefault(r.phash, []).append(r)
    for g in groups.values():
        assert all(r.group_size == len(g) for r in g)
        canon = [r for r in g if r.is_canonical]
        assert len(canon) == 1
        assert canon[0].doc_id == min(r.doc_id for r in g)
    for r in rows[:50]:
        d = docs[r.doc_id]
        payload = encode_bmp(
            int(d.n_chars) % 16 + 1, int(d.doc_id) % 8 + 1,
            (d.text or "x").encode("utf-8")[:8] or b"x")
        off = _struct.unpack("<I", payload[10:14])[0]
        w, h = _struct.unpack("<ii", payload[18:26])
        stride = (w * 3 + 3) & ~3
        # full decode into an array, then grid-sample with numpy
        px = np.frombuffer(payload[off:off + stride * h],
                           dtype=np.uint8).reshape(h, stride)
        grays = []
        for gy in range(PHASH_GRID):
            for gx in range(PHASH_GRID):
                sy, sx = (gy * h) // PHASH_GRID, (gx * w) // PHASH_GRID
                grays.append(int(px[sy, sx * 3:sx * 3 + 3]
                                 .astype(int).sum()) // 3)
        mean = sum(grays) // (PHASH_GRID ** 2)
        val = 0
        for g_ in grays:
            val = (val << 1) | (1 if g_ > mean else 0)
        assert format(val, "016x") == r.phash, r.doc_id


def test_audio_silence_runs_reference(spark, sf_dir):
    """Islands contract: runs recomputed by a direct pure-python pass
    over each payload's int16 samples match exactly (start, length,
    ordinal); runs never overlap and are maximal (neighbors above
    threshold)."""
    import numpy as np

    from mapreduce_in_pthreads_spark.operators.multimodal import (
        SILENCE_MIN_RUN, SILENCE_THRESH)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["audio_silence_runs"].fn(spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.run_idx, r.start_sample, r.run_len))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").collect()
    want = {}
    for d in docs:
        buf = d.text.encode("utf-8")
        buf = buf[:len(buf) & ~1]
        s = np.frombuffer(buf, dtype="<i2").astype(int)
        silent = (np.abs(s) < SILENCE_THRESH).tolist() + [False]
        runs, start = [], None
        for k, f in enumerate(silent):
            if f and start is None:
                start = k
            elif not f and start is not None:
                if k - start >= SILENCE_MIN_RUN:
                    runs.append((len(runs) + 1, start, k - start))
                start = None
        if runs:
            want[d.doc_id] = runs
    assert got == want
    assert sum(len(v) for v in want.values()) > 0


def test_pretrain_report_extends_funnel(spark, sf_dir):
    """The composed report's first four stages must equal
    curation_funnel's counts exactly (same definitions, reused), and
    the stage chain must narrow monotonically through the new
    semantic and selection stages."""
    rep = {r.lang: r for r in
           REGISTRY["pretrain_curation_report"].fn(spark, sf_dir)
           .collect()}
    fun = {r.lang: r for r in
           REGISTRY["curation_funnel"].fn(spark, sf_dir).collect()}
    assert set(rep) == set(fun)
    for lang, r in rep.items():
        f = fun[lang]
        assert (r.n_raw, r.n_quality, r.n_exact_unique, r.n_kept) == \
            (f.n_raw, f.n_quality, f.n_exact_unique, f.n_kept)
        assert (r.n_raw >= r.n_quality >= r.n_exact_unique
                >= r.n_kept >= r.n_semantic >= r.n_selected >= 0)
    assert sum(r.n_semantic for r in rep.values()) < \
        sum(r.n_kept for r in rep.values()), "semantic stage inert"
    assert sum(r.n_selected for r in rep.values()) > 0


def test_phrase_search_vs_python_scan(spark, sf_dir):
    """Phrase-search ground truth: a direct python scan of every
    normalized token stream for phrase adjacency produces the same
    (phrase, doc, count) set."""
    import re as _re

    from mapreduce_in_pthreads_spark.operators.inverted_index import (
        PHRASES)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["phrase_search_positional"].fn(spark, sf_dir).collect()
    got = {(r.phrase_id, r.doc_id): r.n_matches for r in rows}
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").collect()
    want = {}
    for d in docs:
        # positions are PRE-filter (tokens() semantics): a token that
        # normalizes to '' still occupies its ordinal, so words
        # straddling it are NOT phrase-adjacent
        toks = [_re.match(r"[a-z0-9]*", t.lower()).group(0)
                for t in d.text.split(" ")]
        for pid, w1, w2 in PHRASES:
            n = sum(1 for a, b in zip(toks, toks[1:])
                    if a == w1 and b == w2)
            if n:
                want[(pid, d.doc_id)] = n
    assert got == want and len(want) > 0


def test_lang_confusion_consistency(spark, sf_dir):
    """Confusion matrix must recompute exactly from the standalone
    classifier's per-doc output; per-declared-lang shares sum to 1;
    cell counts sum to the corpus size."""
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    cells = REGISTRY["lang_confusion_matrix"].fn(spark, sf_dir).collect()
    pred = REGISTRY["lang_id_heuristic"].fn(spark, sf_dir).collect()
    want = {}
    for p in pred:
        want[(p.declared_lang, p.pred_lang)] = \
            want.get((p.declared_lang, p.pred_lang), 0) + 1
    assert {(c.declared_lang, c.pred_lang): c.n for c in cells} == want
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(c.n for c in cells) == n_docs
    shares = {}
    for c in cells:
        shares[c.declared_lang] = shares.get(c.declared_lang, 0.0) + c.share
        assert c.correct == (1 if c.declared_lang == c.pred_lang else 0)
    assert all(abs(v - 1.0) < 1e-4 for v in shares.values())


def test_skipgram_pmi_recompute(spark, sf_dir):
    """PMI sanity: pairs are canonical (wa <= wb), every count >= the
    threshold, and PMI recomputes from raw python co-occurrence
    counts over the same +-SKIP_WINDOW windows."""
    import math

    from mapreduce_in_pthreads_spark.operators.text_analysis import (
        SKIP_MIN_COUNT, SKIP_WINDOW)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["skipgram_pmi"].fn(spark, sf_dir).collect()
    assert rows
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    cab, uni, t_pairs, n_tokens = {}, {}, 0, 0
    for d in docs:
        toks = d.text.split(" ")
        n_tokens += len(toks)
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
        for i, a in enumerate(toks):
            for j in range(i + 1, min(i + SKIP_WINDOW + 1, len(toks))):
                key = tuple(sorted((a, toks[j])))
                cab[key] = cab.get(key, 0) + 1
                t_pairs += 1
    for r in rows:
        assert r.wa <= r.wb and r.c_ab >= SKIP_MIN_COUNT
        assert cab[(r.wa, r.wb)] == r.c_ab
        want = math.log((r.c_ab / t_pairs)
                        / ((uni[r.wa] / n_tokens)
                           * (uni[r.wb] / n_tokens)))
        assert abs(r.pmi - round(want, 6)) < 1e-9, (r, want)
    assert len(rows) == sum(1 for v in cab.values() if v >= SKIP_MIN_COUNT)


def test_shot_boundaries_reference(spark, sf_dir):
    """Frame-diff detector ground truth: intensities, deltas, and
    boundary flags recomputed with a direct python pass over the
    payload chunks match exactly; frame 0 never flags."""
    from mapreduce_in_pthreads_spark.operators.multimodal import (
        FRAME_BYTES, SHOT_DELTA_THRESH)
    from mapreduce_in_pthreads_spark.sources.tables import load_table

    rows = REGISTRY["frame_shot_boundaries"].fn(spark, sf_dir).collect()
    got = {(r.doc_id, r.frame_idx):
           (r.intensity, r.delta, r.is_boundary) for r in rows}
    want = {}
    for d in load_table(spark, sf_dir, "documents").select(
            "doc_id", "text").collect():
        payload = d.text.encode("utf-8")
        n_frames = max(len(payload) // FRAME_BYTES, 1)
        prev = None
        for f in range(n_frames):
            inten = sum(payload[f * FRAME_BYTES:(f + 1) * FRAME_BYTES])
            delta = None if prev is None else abs(inten - prev)
            want[(d.doc_id, f)] = (
                inten, delta,
                1 if delta is not None
                and delta >= SHOT_DELTA_THRESH else 0)
            prev = inten
    assert got == want
    assert sum(v[2] for v in want.values()) > 0


def test_ann_recall_report_consistency(spark, sf_dir):
    """Recall cells recompute exactly from the standalone entries'
    outputs; every (method, query) cell exists (miss-proof grid);
    n_hits <= TOP_K; and the trained-IVF mean beats the label-IVF
    mean which beats single-bucket LSH on this corpus — the ordering
    the quantizer family exists to demonstrate."""
    from mapreduce_in_pthreads_spark.operators.similarity import (
        N_QUERIES, TOP_K)

    rows = REGISTRY["ann_recall_report"].fn(spark, sf_dir).collect()
    assert len(rows) == 4 * N_QUERIES
    bf = {}
    for r in REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).collect():
        bf.setdefault(r.query_id, set()).add(r.vec_id)
    impls = {"ivf_label": "ann_ivf_topk",
             "ivf_trained": "ann_ivf_trained_topk",
             "ivf_multiprobe": "ann_ivf_multiprobe_topk",
             "lsh_sign": "ann_lsh_topk"}
    got = {}
    for name, entry in impls.items():
        for r in REGISTRY[entry].fn(spark, sf_dir).collect():
            if r.vec_id in bf.get(r.query_id, set()):
                got[(name, r.query_id)] = \
                    got.get((name, r.query_id), 0) + 1
    means = {}
    for r in rows:
        assert 0 <= r.n_hits <= TOP_K
        assert abs(r.recall - round(r.n_hits / TOP_K, 6)) < 1e-12
        assert r.n_hits == got.get((r.method, r.query_id), 0)
        means.setdefault(r.method, []).append(r.recall)
    means = {k: sum(v) / len(v) for k, v in means.items()}
    assert means["ivf_multiprobe"] > means["ivf_trained"] \
        > means["ivf_label"] > means["lsh_sign"]


def test_kwic_snippets_contain_match(spark, sf_dir):
    """Every KWIC snippet contains its keyword at the expected offset
    within the raw token window, occ_ranks are contiguous per term,
    and no term exceeds the cap."""
    from mapreduce_in_pthreads_spark.operators.text_analysis import (
        KWIC_MAX_PER_TERM, KWIC_WINDOW)

    rows = REGISTRY["keyword_in_context"].fn(spark, sf_dir).collect()
    per_term = {}
    for r in rows:
        per_term.setdefault(r.word, []).append(r)
        toks = r.snippet.split(" ")
        assert len(toks) <= 2 * KWIC_WINDOW + 1
        # the match sits at index pos - start within the snippet
        start = max(r.pos - KWIC_WINDOW, 1)
        assert toks[r.pos - start].lower().startswith(r.word), r
    for word, rs in per_term.items():
        ranks = sorted(r.occ_rank for r in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(rs) <= KWIC_MAX_PER_TERM


def test_gini_bounds_and_uniform_zero(spark, sf_dir):
    """Gini in [0, 1); a synthetic check that the rank formula gives 0
    for perfectly uniform counts and the known value for a dominated
    distribution."""
    rows = REGISTRY["source_balance_gini"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.gini < 1.0
        assert r.n_sources >= 2

    def gini(xs):
        xs = sorted(xs)
        n, s = len(xs), sum(xs)
        return 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) \
            - (n + 1) / n
    assert abs(gini([10, 10, 10, 10])) < 1e-12
    assert gini([0.0001, 0.0001, 0.0001, 100]) > 0.74  # one dominates


def _py_bpe_apply(seq: str, left: str, right: str) -> str:
    """Reference BPE merge application: left-to-right non-overlapping
    over the symbol list (Sennrich 2016 semantics)."""
    syms = seq.split(" ")
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return " ".join(out)


@given(st.lists(st.sampled_from(["a", "b", "ab", "aa"]),
                min_size=1, max_size=12),
       st.sampled_from([("a", "a"), ("a", "b"), ("b", "a"),
                        ("ab", "a"), ("aa", "ab")]))
@settings(max_examples=25, deadline=None)
def test_bpe_apply_merge_matches_reference(spark, syms, pair):
    """The double-space replace() trick must implement exactly the
    greedy left-to-right non-overlapping merge — including the
    'a a a a' + (a,a) → 'aa aa' consecutive-occurrence case and
    merged-symbol operands like ('ab','a')."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.operators.text_analysis import (
        _bpe_apply_merge,
    )

    seq = " ".join(syms)
    left, right = pair
    got = (spark.createDataFrame([(seq,)], "seq string")
           .select(_bpe_apply_merge(
               F.col("seq"), F.lit(left), F.lit(right)).alias("m"))
           .collect()[0]["m"])
    assert got == _py_bpe_apply(seq, left, right)


def test_bpe_train_rounds_consistent_with_merge_step(spark, sf_dir):
    """Round 1 of the trainer must pick exactly the argmax of
    bpe_merge_step's candidate relation (same counting, same
    tie-break)."""
    step = REGISTRY["bpe_merge_step"].fn(spark, sf_dir).collect()
    best = sorted(step, key=lambda r: (-r["pair_count"],
                                       r["left"], r["right"]))[0]
    train = {r["merge_idx"]: r
             for r in REGISTRY["bpe_train_merges"].fn(spark, sf_dir)
             .collect()}
    assert (train[1]["left"], train[1]["right"],
            train[1]["pair_count"]) == (
        best["left"], best["right"], best["pair_count"])


# --- round-6 array-program properties -------------------------------------


@settings(max_examples=30, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]),
                         min_size=0, max_size=25),
                min_size=1, max_size=12))
def test_repeated_ngram_mask_property(spark, docs):
    """The per-row interval-union mask must equal the brute-force
    position-set replica on ARBITRARY short token lists — including
    sub-window-size documents (the descending-sequence regression
    class) and highly repetitive ones."""
    from pyspark.sql import functions as F

    from mapreduce_in_pthreads_spark.functions.tokens import \
        sliding_ngrams
    from mapreduce_in_pthreads_spark.operators.text_analysis import \
        MASK_N

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        ["doc_id", "text"])
    toks = F.split("text", " ")
    d = df.select("doc_id", sliding_ngrams(toks, MASK_N).alias("grams"))
    idx = F.transform("grams", lambda g, i: F.struct(
        (i + 1).alias("pos"), g.alias("g")))
    rep = F.transform(
        F.filter(idx, lambda s_: F.array_position(
            F.col("grams"), s_["g"]) < s_["pos"]),
        lambda s_: s_["pos"])
    d = d.withColumn("rep", rep)
    m = F.greatest(F.size("rep") - 1, F.lit(0))
    gaps = F.zip_with(
        F.slice("rep", 2, m), F.slice("rep", 1, m),
        lambda b, a: F.least(F.lit(MASK_N), b - a))
    covered = F.when(F.size("rep") == 0, F.lit(0)).otherwise(
        F.lit(MASK_N) + F.aggregate(gaps, F.lit(0), lambda acc, x: acc + x))
    got = {r["doc_id"]: r["c"]
           for r in d.select("doc_id", covered.alias("c")).collect()}
    for i, toks_py in enumerate(docs):
        # note: split(" ") of "" yields [""] — mirror that
        toks_py = toks_py if toks_py else [""]
        grams = [" ".join(toks_py[k:k + MASK_N])
                 for k in range(len(toks_py) - MASK_N + 1)]
        seen, masked = set(), set()
        for k, g in enumerate(grams):
            if g in seen:
                masked.update(range(k, k + MASK_N))
            else:
                seen.add(g)
        assert got[i] == len(masked), (i, toks_py)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=1000),
                min_size=2, max_size=40))
def test_holt_fold_matches_python_recursion(spark, ys):
    """The F.aggregate Holt fold must equal the plain-Python
    recursion bit-for-bit on arbitrary integer series."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [([float(y) for y in ys],)], ["arr"])

    def step(s_, y):
        new_l = (y + s_["l"] + s_["b"]) / 2
        return F.struct(
            new_l.alias("l"),
            ((new_l - s_["l"]) / 2 + s_["b"] / 2).alias("b"))

    init = F.struct(
        F.element_at("arr", 1).alias("l"),
        (F.element_at("arr", 2) - F.element_at("arr", 1)).alias("b"))
    rest = F.slice("arr", 3, F.greatest(F.size("arr") - 2, F.lit(0)))
    r = df.select(F.aggregate(rest, init, step).alias("st")).first()
    l, b = float(ys[0]), float(ys[1]) - float(ys[0])
    for y in [float(v) for v in ys[2:]]:
        nl = (y + l + b) / 2
        l, b = nl, (nl - l) / 2 + b / 2
    assert r["st"]["l"] == l and r["st"]["b"] == b


# --- round-7 session-3 algorithmic identities (hypothesis) ------------------


@given(st.lists(st.integers(min_value=-50, max_value=50),
                min_size=1, max_size=200))
@settings(max_examples=200, deadline=None)
def test_cusum_closed_form_identity(zs):
    """The CUSUM prefix-sum − clamped-running-min closed form used by
    ``cusum_changepoint`` equals the textbook max(0, C + z) recursion
    for ARBITRARY integer deviation series — the identity the whole
    distributed formulation rides (real-data parity is pinned in
    test_round7_session3_ops; this is the adversarial-input guard)."""
    # textbook recursion
    c = 0
    rec = []
    for z in zs:
        c = max(0, c + z)
        rec.append(c)
    # closed form: C_t = P_t - min(0, min_{s<=t} P_s)
    p = 0
    pmin = 0
    for z, want in zip(zs, rec):
        p += z
        pmin = min(pmin, p)
        assert p - min(0, pmin) == want


@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5),
                          st.integers(1, 40)),
                min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_pmi_integer_test_equals_fraction_pmi(pairs):
    """The exact integer inequality 2N·c_ab > m_a·m_b used by
    ``_pmi_collocation_edges`` must agree with PMI > 0 computed in
    exact rational arithmetic under the unordered-pair independence
    model (p_ab = c/N vs 2·p_a·p_b with p_w = m_w/2N — the factor 2
    because an unordered a≠b pair arises from two ordered
    arrangements), for arbitrary pair-count tables — no float
    boundary, no edge flip."""
    from fractions import Fraction

    cab = Counter()
    for a, b, c in pairs:
        if a != b:
            cab[(min(a, b), max(a, b))] += c
    if not cab:
        return
    n = sum(cab.values())
    m = Counter()
    for (a, b), c in cab.items():
        m[a] += c
        m[b] += c
    for (a, b), c in cab.items():
        integer_edge = 2 * n * c > m[a] * m[b]
        # PMI > 0  <=>  p(a,b) > 2·p(a)·p(b) with p(w) = m_w / (2N)
        rational_edge = (Fraction(c, n)
                         > 2 * Fraction(m[a], 2 * n)
                         * Fraction(m[b], 2 * n))
        assert integer_edge == rational_edge


@given(st.lists(st.integers(0, 20), min_size=6, max_size=6),
       st.lists(st.integers(0, 20), min_size=6, max_size=6))
@settings(max_examples=200, deadline=None)
def test_t_closeness_emd_closed_form_vs_transport(q_counts, p_counts):
    """The ordered-attribute EMD closed form Σ|cumdiff|/(m−1) used by
    ``t_closeness_audit`` equals a literal earth-moving simulation
    (push surplus left-to-right, cost = mass × distance / (m−1)) for
    arbitrary 6-bucket distributions."""
    if sum(q_counts) == 0 or sum(p_counts) == 0:
        return
    m = 6
    q = [c / sum(q_counts) for c in q_counts]
    p = [c / sum(p_counts) for c in p_counts]
    # closed form
    cum = 0.0
    emd_closed = 0.0
    for i in range(m):
        cum += q[i] - p[i]
        emd_closed += abs(cum)
    emd_closed /= m - 1
    # transport simulation: carry the imbalance one step at a time;
    # each carried unit of mass costs 1/(m-1)
    carry = 0.0
    moved = 0.0
    for i in range(m - 1):
        carry += q[i] - p[i]
        moved += abs(carry)
    emd_transport = moved / (m - 1)
    assert emd_closed == pytest.approx(emd_transport, abs=1e-12)
