"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed writes
byte-identical parquet files. The engine only ever sees the files; the
ground truth each generator plants (duplicate pairs, GC counts) is returned
to the benchmark for its output checks.

* ``tpch_tables`` — the ten fixture tables in the fixture schemas, TPC-H-ish
  value domains (dates 1995-2001, five market segments, five regions,
  return flags A/N/R), so the registry's relational queries and their
  DuckDB oracles select non-trivial row sets.
* ``corpus`` — a ``documents``/``embeddings`` pair with planted exact and
  near duplicates over a large vocabulary, so that near-duplicate pairs are
  the planted ones and no word 3-shingle is common to many documents.
* ``reads`` — FASTA-like ``atgc`` reads for the container-pipe stage.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_WS_RE = re.compile(r"\s+", re.ASCII)


def _write(dirpath: str, name: str, table: pa.Table) -> None:
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(dirpath, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(lo, hi, n) * _DAY_US
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def tpch_tables(dirpath: str, seed: int, scale: float) -> None:
    """Write the ten fixture tables at ``scale`` (1.0 = the sf0.1 fixture's
    row counts: 600k lineitem, 150k orders)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(15_000 * scale))
    n_supp = max(10, int(1_000 * scale))
    n_part = max(50, int(20_000 * scale))
    n_ord = max(200, int(150_000 * scale))
    n_li = max(800, int(600_000 * scale))
    n_ev = max(200, int(100_000 * scale))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(dirpath, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }))
    _write(dirpath, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    _write(dirpath, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }))
    _write(dirpath, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    adjectives = np.array(["large", "hot", "small", "green", "blue", "bright"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL"])
    _write(dirpath, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
            nouns[rng.integers(0, 6, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    }))
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    _write(dirpath, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2404, n_ord),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    }))
    _write(dirpath, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, 1, 2499, n_li),
    }))
    ev_ts = (
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    )
    _write(dirpath, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(20, n_ev // 80), n_ev), pa.int64()),
        "event_type": np.array(
            ["view", "click", "purchase", "signup", "error"]
        )[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 200.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }))
    # documents/embeddings complete the catalog that load_tables registers
    corpus(dirpath, seed, n_docs=max(50, int(500 * scale)), vocab=400,
           words=(10, 60), n_vecs=max(50, int(500 * scale)))


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < size:
        n = int(rng.integers(2, 10))
        out.add("".join(letters[rng.integers(0, 26, n)]))
    return sorted(out)


def norm_words(text: str) -> list[str]:
    """The engine's documented normalization (trim, collapse ASCII
    whitespace, lower) split into words."""
    return _WS_RE.sub(" ", text.strip(" \t\n\r\f\v").lower()).split(" ")


def shingles(text: str, n: int = 3) -> set[str]:
    ws = norm_words(text)
    if ws == [""] or len(ws) < n:
        return set()
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def corpus(
    dirpath: str,
    seed: int,
    *,
    n_docs: int,
    vocab: int,
    words: tuple[int, int],
    n_vecs: int,
    exact_frac: float = 0.03,
    near_frac: float = 0.05,
) -> dict:
    """Write ``documents`` and ``embeddings`` with planted duplicates.

    Of ``n_docs`` documents, ``exact_frac`` are copies of an earlier
    document that differ only in case and whitespace (the exact tier's
    normalization removes the difference) and ``near_frac`` are copies with
    a few words replaced, kept only when their word 3-shingle Jaccard with
    the source is at least 0.85. Doc ids are a seeded permutation, so
    neither side of a pair is systematically the smaller id. Returns the
    planted pairs and corpus statistics."""
    rng = np.random.default_rng([seed, 2])
    voc = np.array(_vocabulary(rng, vocab))
    # mild rank skew: frequent words recur, but no 3-shingle is common
    weights = 1.0 / (np.arange(vocab) + 50.0)
    weights /= weights.sum()
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    lengths = rng.integers(words[0], words[1] + 1, n_base)
    flat = voc[rng.choice(vocab, size=int(lengths.sum()), p=weights)]
    pos = 0
    for n in lengths:
        texts.append(" ".join(flat[pos:pos + n]))
        pos += n
    exact_pairs: list[tuple[int, int]] = []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        ws = texts[src].split(" ")
        sep = ["  " if rng.random() < 0.2 else " " for _ in ws[1:]]
        copy = ws[0].upper() + "".join(s + w for s, w in zip(sep, ws[1:]))
        exact_pairs.append((src, len(texts)))
        texts.append(" " + copy + "\t")
    near_pairs: list[tuple[int, int]] = []
    while len(near_pairs) < n_near:
        src = int(rng.integers(0, n_base))
        ws = texts[src].split(" ")
        if len(ws) < 40:
            continue
        ws = list(ws)
        for _ in range(max(1, len(ws) // 70)):
            ws[int(rng.integers(0, len(ws)))] = str(voc[rng.integers(0, vocab)])
        copy = " ".join(ws)
        if jaccard(shingles(texts[src]), shingles(copy)) < 0.85:
            continue
        near_pairs.append((src, len(texts)))
        texts.append(copy)
    ids = rng.permutation(len(texts)).astype(np.int64)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    _write(dirpath, "documents", pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 5, len(texts))],
        "source": np.char.add("src", rng.integers(0, 20, len(texts)).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    dim = 64
    emb = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    _write(dirpath, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }))

    def pairs(p):
        return sorted(tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in p)

    return {
        "doc_ids": [int(i) for i in ids],
        "texts": texts,
        "exact_pairs": pairs(exact_pairs),
        "near_pairs": pairs(near_pairs),
        "embeddings": emb,
    }


def reads(dirpath: str, seed: int, *, n_reads: int, read_len: int) -> dict:
    """Write ``fasta`` (one FASTA line per row: a header per read, then
    60-column sequence lines) and ``reads`` (one row per read: ``value`` =
    ``"<id> <sequence>"`` and a ``sample`` key)."""
    rng = np.random.default_rng([seed, 3])
    bases = np.frombuffer(b"acgt", dtype=np.uint8)
    # per-read GC bias so the top-k ranking is not a near-tie
    bias = rng.uniform(0.3, 0.7, n_reads)
    u = rng.random((n_reads, read_len))
    gc = u < bias[:, None]
    pick = rng.integers(0, 2, (n_reads, read_len))
    codes = np.where(gc, bases[1 + pick], bases[np.where(pick == 0, 0, 3)])
    seqs = [row.tobytes().decode("ascii") for row in codes]
    lines: list[str] = []
    values: list[str] = []
    for i, s in enumerate(seqs):
        rid = f"read_{i:07d}"
        lines.append(f">random sequence {rid}")
        lines.extend(s[j:j + 60] for j in range(0, read_len, 60))
        values.append(f"{rid} {s}")
    _write(dirpath, "fasta", pa.table({"value": lines}))
    _write(dirpath, "reads", pa.table({
        "value": values,
        "sample": pa.array(rng.integers(0, 64, n_reads), pa.int32()),
    }))
    return {"lines": lines, "values": values}


def digest60(doc_id: int) -> int:
    """The export manifest's 60-bit md5 prefix of a row key."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
