"""Seeded input generators for the benchmark, cached on disk per seed.

Two inputs, both made only from the seed:

- ``tables``: the engine's ten parquet tables (schemas as in FIXTURES.md
  part B), written with several row groups per core so that a scan can
  run as several tasks. Value domains follow the committed test tables:
  2-decimal doubles, 5 regions, 25 nations, 5 event types, 64-dim unit
  embeddings with labels 0..9, documents over a ~31-token vocabulary.
  The documents carry a few exact and near duplicates so that dedup
  queries have work to find.
- ``wordline``: a word-per-line corpus ``file1.txt..fileN.txt`` in the
  reference's input layout: CRLF endings, a leading UTF-8 BOM line per
  file, a Zipf vocabulary, capitals, trailing punctuation and ``'s``,
  and about 4% of lines that normalize to empty.

``wordline_mirror`` recomputes the inverted index of a corpus in plain
Python from the bytes on disk, following FIXTURES.md's spec (lower →
leading ``[a-z0-9]*`` run → drop if empty, line number already
consumed). It shares no code with the engine.

Each cache directory is built under a temporary name and renamed into
place, so an interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections import defaultdict

import numpy as np

# Row counts per unit of scale, as in the committed test tables (sf0.01 has
# 1,500 customers, 15,000 orders, ~4 line items per order, ...).
_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
           "orders": 1_500_000, "events": 1_000_000, "users": 15_000}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "new", "hot", "large", "cold", "red", "blue", "old"]
_PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order group filter stream vector").split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def _tables(rng: np.random.Generator, sf: float, n_docs: int,
            n_vecs: int) -> dict:
    import pyarrow as pa

    n_cust = int(_PER_SF["customer"] * sf)
    n_supp = max(10, int(_PER_SF["supplier"] * sf))
    n_part = int(_PER_SF["part"] * sf)
    n_ord = int(_PER_SF["orders"] * sf)
    n_evt = int(_PER_SF["events"] * sf)
    n_users = max(10, int(_PER_SF["users"] * sf))
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": _keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": _keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": _keys(n_part),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 65, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _EPOCH_1995 + order_days * _DAY_US,
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines_per_order = rng.integers(1, 8, n_ord)  # 1..7, mean 4
    n_li = int(lines_per_order.sum())
    l_orderkey = np.repeat(_keys(n_ord), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order,
                       lines_per_order)
    ship_days = np.minimum(
        np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_li),
        2499)
    out["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _EPOCH_1995 + ship_days * _DAY_US})

    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    out["events"] = pa.table({
        "event_id": _keys(n_evt),
        "ts": _EPOCH_2024 + ts,
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    vocab = np.array(_DOC_VOCAB)
    texts = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < 0.01:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and roll < 0.04:  # near duplicate: a few tokens swapped
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(vocab[rng.integers(
                0, len(vocab), rng.integers(10, 100))]))
    out["documents"] = pa.table({
        "doc_id": _keys(n_docs),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": _keys(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def _build_atomically(final: str, build) -> dict:
    """Run ``build(tmpdir) -> manifest`` unless ``final`` exists; return
    the manifest either way."""
    manifest_path = os.path.join(final, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return manifest


def prune_cache(parent: str, keep: int) -> None:
    """Keep the ``keep`` most recently used seed directories."""
    if not os.path.isdir(parent):
        return
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def make_tables(root: str, seed: int, sf: float, n_docs: int, n_vecs: int,
                groups: int) -> tuple[str, dict]:
    """Write the ten tables for ``seed`` under ``root`` (cached). Every
    table with at least ``groups`` rows gets ``groups`` row groups."""
    import pyarrow.parquet as pq

    final = os.path.join(root, f"seed{seed}-sf{sf}-{n_docs}-{n_vecs}-{groups}")

    def build(tmp: str) -> dict:
        rng = np.random.default_rng(seed)
        sizes = {}
        for name, tbl in _tables(rng, sf, n_docs, n_vecs).items():
            path = os.path.join(tmp, f"{name}.parquet")
            # region and nation stay one group: they are fixed-size dims
            rg = (tbl.num_rows if name in ("region", "nation")
                  else max(1, -(-tbl.num_rows // groups)))
            pq.write_table(tbl, path, row_group_size=rg)
            meta = pq.ParquetFile(path).metadata
            sizes[name] = {"rows": meta.num_rows,
                           "row_groups": meta.num_row_groups,
                           "bytes": os.path.getsize(path)}
        return {"seed": seed, "sf": sf, "tables": sizes}

    manifest = _build_atomically(final, build)
    os.utime(final)
    return final, manifest


# Word-per-line corpus ------------------------------------------------------

_BOM_LINE = b"\xef\xbb\xbf\r\n"
_EMPTY_FORMS = ["", "   ", "---", "...", "\"", "*", "(", "'"]
_PUNCT = [".", ",", "!", "?", ";", ":"]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(letters[rng.integers(0, 26, rng.integers(2, 10))])
        if rng.random() < 0.03:
            w += str(rng.integers(0, 100))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_wordline(root: str, seed: int, n_files: int, lines_per_file: int,
                  vocab_size: int) -> tuple[str, dict]:
    """Write ``file1.txt..file{n_files}.txt`` for ``seed`` under ``root``
    (cached); the manifest carries the sizes."""
    final = os.path.join(
        root, f"seed{seed}-{n_files}x{lines_per_file}-{vocab_size}-zipf1")

    def build(tmp: str) -> dict:
        rng = np.random.default_rng(seed)
        vocab = _vocabulary(rng, vocab_size)
        n_body = lines_per_file - 1  # line 1 is the BOM line
        total = n_files * n_body
        # Zipf (s=1) over the finite vocabulary: the top word is ~10% of
        # lines, like "the" in English text
        weights = 1.0 / np.arange(1, vocab_size + 1)
        ids = rng.choice(vocab_size, total, p=weights / weights.sum())
        kind = rng.random(total)
        punct = rng.integers(0, len(_PUNCT), total)
        empty = rng.integers(0, len(_EMPTY_FORMS), total)
        n_bytes = 0
        for f in range(n_files):
            out = [_BOM_LINE]
            for j in range(f * n_body, (f + 1) * n_body):
                w, k = vocab[ids[j]], kind[j]
                if k < 0.04:
                    w = _EMPTY_FORMS[empty[j]]
                elif k < 0.14:
                    w = w.capitalize()
                elif k < 0.20:
                    w = w + _PUNCT[punct[j]]
                elif k < 0.23:
                    w = w + "'s"
                elif k < 0.25:
                    w = w.upper()
                out.append(w.encode("ascii") + b"\r\n")
            data = b"".join(out)
            n_bytes += len(data)
            with open(os.path.join(tmp, f"file{f + 1}.txt"), "wb") as fh:
                fh.write(data)
        return {"seed": seed, "files": n_files,
                "lines": n_files * lines_per_file, "bytes": n_bytes}

    manifest = _build_atomically(final, build)
    os.utime(final)
    return final, manifest


def wordline_paths(corpus_dir: str, n_files: int) -> list[str]:
    return [os.path.join(corpus_dir, f"file{i}.txt")
            for i in range(1, n_files + 1)]


_LEADING = re.compile(r"[a-z0-9]*")


def wordline_mirror(corpus_dir: str, n_files: int):
    """Inverted index of the corpus in plain Python: word → list of
    (filename, linenum), and the number of lines dropped as empty.

    Reads bytes as Latin-1 (one char per byte, like the C reference's
    fgets buffer), splits on ``\\n`` without a phantom final line, and
    numbers every physical line before dropping empties."""
    occ: dict[str, list] = defaultdict(list)
    skipped = 0
    for path in wordline_paths(corpus_dir, n_files):
        name = os.path.basename(path)
        with open(path, "rb") as fh:
            text = fh.read().decode("latin-1")
        lines = text.split("\n")
        if text.endswith("\n"):
            lines.pop()
        for num, raw in enumerate(lines, 1):
            word = _LEADING.match(raw.lower()).group(0)
            if word:
                occ[word].append((name, num))
            else:
                skipped += 1
    return occ, skipped


def wordline_expected_lines(occ: dict) -> list[str]:
    """The report lines the index must produce, ``word: (f: n), ...``
    with occurrences ordered by (filename, linenum)."""
    return sorted(
        f"{w}: " + ", ".join(f"({f}: {n})" for f, n in sorted(v))
        for w, v in occ.items())
