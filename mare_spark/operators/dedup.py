"""Deduplication operators for large text corpora.

Four tiers, all shuffle-disciplined for the 100 TB case:

* :func:`exact_dedup` — hash-groupBy on a normalized digest. One shuffle on
  the digest; no row ever meets a non-identical row.
* :func:`ngram_jaccard_pairs` — exact Jaccard over word n-gram shingles via
  an inverted-index self-join (explode → join on shingle → count). Cost is
  bounded by shingle-bucket sizes, not |corpus|²; a frequency cap drops
  stop-shingles that would create quadratic buckets.
* :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH. The scale
  path: candidate generation touches only same-band-bucket pairs; signature
  math is pure JVM expression code (xxhash64 + universal hashing), no UDF.
* :func:`simhash_pairs` — 64-bit SimHash with chunk-banding for candidate
  generation + popcount verify (Hamming ≤ k).
* :func:`embedding_cosine_pairs` — near-dup by embedding cosine; brute
  self-join above a threshold (exact, for modest N) — the LSH-bucketed scale
  variant lives in :mod:`mare_spark.operators.similarity`.

ANSI-mode note (Spark 4 default): all hash arithmetic is constructed to fit
in 63 bits (31-bit hashes × 31-bit multipliers, MinHash permutations mod the
universe-sized prime 2^31-1), so no overflow errors and no need to disable
ANSI.
"""

from __future__ import annotations

import logging
import os
import random
import re

# whitespace-run collapse shared by the UDF shingle path — must mirror
# normalize_text EXACTLY: Java \s (Spark) and RE2 \s (DuckDB oracle) are
# ASCII-only, while Python \s is Unicode by default — re.ASCII restricts
# it to [ \t\n\r\f\v], the same set Java matches. A non-breaking space
# must stay inside a token on every engine or the UDF tiers' shingle sets
# diverge from the expression tier and the oracles.
_WS_RE = re.compile(r"\s+", re.ASCII)
_ASCII_WS = " \t\n\r\f\v"

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_log = logging.getLogger("mare_spark.dedup")

from mare_spark.numeric import fround

# Mersenne prime 2^31 - 1 — the MinHash permutation modulus. It must match
# the 31-bit base-hash universe: with a modulus far above the universe
# (2^61-1 was used initially), a*h+b wraps at most once, so for every
# a < 2^30 the "permutation" is monotone in h and deterministically picks
# the smallest base hash — half the permutations carry no randomness and
# signature agreement collapses below the Jaccard it should estimate.
_MERSENNE31 = (1 << 31) - 1


def py_tokens(t):
    """THE Python-side tokenizer — the single implementation every
    UDF-tier consumer must call (shingle hashing, MinHash, token stats,
    n-gram counting). Mirrors :func:`normalize_text` byte-for-byte:
    ASCII-whitespace collapse + strip + lower + split on single spaces,
    so UDF-tier counts hash-match the ``string_split`` SQL oracles."""
    return _WS_RE.sub(" ", (t or "").strip(_ASCII_WS).lower()).split(" ")


# Shared per-WORKER hash caches (r10, ADVICE r9). The vectorizing UDFs
# used to carry one up-to-4M-entry dict per CLOSURE, and a pickled
# closure cell is deserialized per task — several operators in one
# pipeline could hold multiple hundreds-of-MB dicts per Python worker,
# every task restarted its warm-up from zero, and overflow handling was a
# full clear() that rehashed the entire working set. One module-level
# dict per hash CONVENTION instead, reached inside the UDF bodies as an
# ATTRIBUTE of the imported module (``import mare_spark.operators.dedup
# as _D; _D._TOKEN_HASH_CACHE``) — NOT as a bare global: cloudpickle
# pickles a nested function's bare-global references by VALUE, giving
# every task its own snapshot copy (verified empirically; a bare-global
# dict never carried state across tasks), while the module import
# resolves to the worker process's ONE dict. A reused Python worker
# (``spark.python.worker.reuse``, default true) thus keeps one warm
# cache per convention across batches, tasks, operators and queries
# (guide §4.5).
# Overflow evicts the oldest HALF (insertion order ≈ first-seen order;
# the Zipf head re-enters on the next batch) instead of clear()ing.
# Values are pure functions of the key, so staleness cannot exist; the
# three conventions never share a dict (signed/endian differences).
_TOKEN_HASH_CACHE: dict = {}  # token -> blake2b-8 ("big", unsigned)
_MH_GRAM_CACHE: dict = {}     # gram  -> blake2b-8 ("big", SIGNED) — MinHash tier
_SH_GRAM_CACHE: dict = {}     # gram  -> blake2b-8 ("little")      — SimHash tier

# Per-cache entry cap. ~200 B/entry (short-token key + int + dict slot),
# so the 1M default bounds each cache near ~200 MB per worker — sized for
# the default spark.executor.pyspark/memoryOverhead headroom; raise via
# MARE_HASH_CACHE_CAP on workers provisioned with more Python memory
# (the r8/r9 closures used a 4M cap PER CLOSURE, which ADVICE r9 flagged
# as unbounded in aggregate).
_HASH_CACHE_CAP = int(os.environ.get("MARE_HASH_CACHE_CAP", "1000000"))

# Cell budget for the MinHash affine signature grid (num_perm × grams
# uint64 — see _minhash_base_udf): 32M cells ≈ 256 MB per in-flight
# grid per worker. Arrow's maxRecordsPerBatch caps rows, not grams/row,
# so without this a batch of long documents can demand a multi-GB grid.
_MH_GRID_ELEMS = int(os.environ.get("MARE_MH_GRID_ELEMS", str(32_000_000)))


def _hash_cache_room(cache: dict) -> None:
    """Bound ``cache`` to ``_HASH_CACHE_CAP`` entries by evicting the
    OLDEST half on overflow (dicts preserve insertion order) — the warm
    Zipf head survives, unlike the old full ``clear()``."""
    if len(cache) > _HASH_CACHE_CAP:
        from itertools import islice

        for k in list(islice(iter(cache), len(cache) // 2)):
            del cache[k]


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread expression-heavy per-row work across all cores when the scan
    produced fewer partitions than the cluster has slots (small files →
    1 task → single-threaded shingling). No-op when the input is already
    wide — never adds a shuffle to an at-scale corpus scan.

    The width question is answered from the scan-size hint read_table
    attaches (one stat/scandir — bytes AND file count since r10, so
    directory-shaped tables are sized by their part files, not the ~4 KB
    directory inode) when present: ``df.rdd.getNumPartitions()`` costs a
    throwaway physical-planning pass (~130 ms per fresh DataFrame,
    measured) that the bench paid once per operator invocation. The
    estimate reproduces Spark's own FilePartition packing (each file
    additionally charged ``openCostInBytes``; split size capped at
    ``maxPartitionBytes`` but floored at bytes-per-core), so a
    many-small-files scan that is already wide is NOT re-shuffled
    (VERDICT r9 #5 — the raw byte threshold used to add a RoundRobin
    there). DataFrames without the hint (filtered/derived) keep the
    exact probe."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    scan_bytes = getattr(df, "_mare_scan_bytes", None)
    if scan_bytes is not None:
        conf = df.sparkSession.conf
        raw = conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )
        try:
            max_pb = int(raw)
            open_cost = int(
                conf.get("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
            )
        except ValueError:
            max_pb = None  # "128m"-style value: fall through to the probe
        if max_pb is not None:
            n_files = getattr(df, "_mare_scan_files", 1)
            padded = scan_bytes + n_files * open_cost
            split = min(max_pb, max(open_cost, padded // max(target, 1)))
            est_splits = -(-padded // max(split, 1))  # ceil
            if est_splits < target:
                return df.repartition(target)
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _candidate_shingles(base: DataFrame, cand: DataFrame) -> DataFrame:
    """Shingle sets restricted to docs that appear in a candidate pair.

    The verify stage only needs shingles for candidate docs — a small
    fraction of the corpus at any sane threshold. Semi-joining the shingle
    table down first means the two subsequent pair-joins shuffle only the
    candidate subset; AQE broadcasts the tiny candidate-doc list into the
    semi-join, so the full corpus is never shuffled for verification at all.
    """
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc"))
        .union(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    return base.select("doc", "shingles").join(cand_docs, "doc", "left_semi")


def attach_caches(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Record the intermediate persists backing ``result`` so a composing
    pipeline can release them once downstream state is materialized (see
    :func:`release_caches`). Long-lived sessions otherwise accumulate one
    base+candidate cache per operator invocation."""
    existing = getattr(result, "_mare_caches", ())
    result._mare_caches = tuple(existing) + tuple(cached)
    return result


def release_caches(df: DataFrame) -> None:
    """Unpersist the intermediates recorded by :func:`attach_caches`.

    ONLY safe once nothing downstream still needs ``df``'s lineage — i.e.
    after the consumer has materialized its own state (collected, written,
    or eagerly checkpointed, as :func:`dedup_clusters` does)."""
    for cached in getattr(df, "_mare_caches", ()):
        cached.unpersist()
    df._mare_caches = ()


def _verified_jaccard(sh_a: str, sh_b: str) -> Column:
    """Exact Jaccard of two DISTINCT-element shingle arrays, for the LSH
    verify stages: ``|a∩b| / (|a| + |b| − |a∩b|)``.

    Every verify input is a sorted-distinct hash array by construction
    (``np.unique`` in :func:`hashed_word_shingles`, ``sorted(set(...))``
    in :func:`_minhash_base_udf`), so ``|a∪b| = |a| + |b| − |a∩b|`` exactly —
    including the empty/empty case (0, same NULL-on-0/0 division as
    before). That replaces ``array_union``'s per-pair materialization (a
    hash-set build plus an ``|a|+|b|``-element array allocated only to be
    counted) with two integer subtractions; ``array_intersect`` still runs
    once per pair (codegen subexpression elimination covers its two
    textual uses). Same integer operands → bit-identical division and
    rounding (r10; guide §1.2 per-task work — measured on the verify
    stage, the largest CPU slice of the jaccard/pipeline invocations).
    """
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(sh_a) + F.size(sh_b) - inter
    return fround(inter / union, 6)


def _persisted_candidates(cand: DataFrame) -> DataFrame:
    """Persist the candidate-pair set: it feeds both the verify joins and the
    :func:`_candidate_shingles` semi-join, and without a persist the expensive
    candidate-generation self-join would run once per consumer. Materialized
    eagerly (see :func:`_materialize`): the verify action launches its join
    exchanges concurrently and a cold cache would be raced through once per
    exchange."""
    return _materialize(cand.persist(StorageLevel.MEMORY_AND_DISK))


def _materialize(df: DataFrame) -> DataFrame:
    """Build a persisted DataFrame's cache NOW (one job) and return it.

    A lazy persist is built by whichever consumer iterates it first — but
    AQE submits the shuffle-stage jobs of a downstream join's two sides
    CONCURRENTLY, and when both sides read the same cold cache each stage
    races through the full upstream compute before any cache block exists
    (measured on the jaccard path: the shingle pandas-UDF subtree executed
    2-3x per invocation, visible as stage pairs with identical shuffle
    write sizes). One cheap count() per persist serializes the cache build,
    so every consumer — concurrent or not — reads warm blocks. The same
    stampede happens on a cluster; this is a compute-once guarantee, not a
    local-mode tweak (measured interleaved: the barrier costs ≤0.2 s on the
    local bench while removing 2-3x duplicate executor work)."""
    df.count()
    return df


def normalize_text(col: Column) -> Column:
    """Canonical text form shared by every dedup tier (and the SQL oracles):
    lowercase, trim, collapse whitespace runs."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of every exact (normalized) duplicate
    group. Returns (id, digest, group size).

    Scale: one shuffle on the 128-bit digest (uniform keys — no skew);
    partial aggregation map-side. At 100 TB this is the cheapest possible
    exact dedup: no text comparison ever happens, only digest equality.

    NULL-text rows are excluded: md5(NULL) is NULL and groupBy would
    collect every extraction failure into ONE phantom "duplicate" group,
    discarding unrelated documents on the keep-representative pass.
    """
    digest = F.md5(normalize_text(F.col(text_col))).alias("digest")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), digest)
        .groupBy("digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .select(id_col, "digest", "n_copies")
    )


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text (JVM-side:
    split → sequence → transform → array_distinct; no UDF).

    The transform is gated on ``size >= n``: Spark's ``sequence(1, k)``
    generates a *descending* ``[1, 0]`` when k = 0, and ``slice(_, 0, n)``
    then throws INVALID_PARAMETER_VALUE.START — short docs must yield an
    empty shingle set, not a job abort."""
    words = F.split(normalize_text(text_col), " ")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    has_content = ~(
        (F.size(words) == 1) & (F.element_at(words, 1) == "")
    )  # contentless docs normalize to [''] — no shingles at ANY n,
    # matching hashed_word_shingles' ws == [''] guard
    return F.when(
        (F.size(words) >= n) & has_content, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<string>"))


def _gram_coeffs(n: int):
    """Per-position odd 64-bit combination constants for the token-combine
    gram hash (deterministic: derived from blake2b of the position label, so
    every worker/run agrees without shipping state)."""
    import hashlib

    import numpy as np

    return [
        np.uint64(
            int.from_bytes(
                hashlib.blake2b(
                    b"mare-shingle-coef-%d" % i, digest_size=8
                ).digest(),
                "big",
            )
            | 1
        )
        for i in range(n)
    ]


def _mix64(x):
    """splitmix64 finalizer, vectorized over a uint64 ndarray — full-width
    bit diffusion for the linear-combination gram hash (the combination
    alone is linear in the token hashes; downstream consumers treat the
    value as an opaque uniform 64-bit id)."""
    import numpy as np

    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return x


def hashed_word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes (sorted), via an
    Arrow-batched pandas UDF.

    Two deliberate choices:
    * **Longs, not strings** — every downstream consumer (explode,
      frequency groupBy, self-join, intersect/union verify) works on
      fixed-width longs: smaller shuffles, cheaper compares, identical set
      semantics (a 64-bit collision inside one corpus' shingle space is
      ~|S|²/2⁶⁵ — negligible against the threshold decision).
    * **pandas UDF, not expression code** — Spark's higher-order array
      functions (``transform``/``filter`` lambdas) are CodegenFallback:
      they evaluate on the interpreted path row-at-a-time, measured ~2 ms
      per document for the shingle pipeline — the same trap simhash64 hit
      (see ``_simhash_pudf``). The Arrow-batched Python loop is ~50×
      faster and scales per-core.

    Hash scheme (r9 optimization pass — guide §4.2, vectorize the per-task
    work): each DISTINCT token is blake2b-8-hashed once per task (dict
    cache — Zipf token reuse makes hashlib calls rare), and a gram's hash
    is the splitmix64-finalized linear combination
    ``mix64(Σ_i C_i · t_{j+i} mod 2⁶⁴)`` of its n token hashes with fixed
    odd per-position constants. The whole Arrow batch is processed as ONE
    flat token-hash array (per-doc windows are slices of it; windows that
    would cross a document boundary are simply never sliced out), so the
    per-gram cost is three numpy vector ops across the batch instead of
    one hashlib call per gram — measured 2.2× faster end-to-end on the
    fixture corpus (3× on the hash work; tokenization now dominates).
    Gram equality ↔ token-tuple equality is preserved exactly
    (position-distinct constants keep the combination order-sensitive);
    only the 64-bit values differ from the old per-gram blake2b, which no
    output or oracle observes — oracles compare string grams / verified
    Jaccard values, both invariant under any injective-modulo-collisions
    hash. In-document dedup + signed-order sort come out of one
    ``np.unique`` over the int64 view.

    NB: the MinHash tier (:func:`_minhash_base_udf`) deliberately KEEPS
    per-gram blake2b-8 — its signature values gate LSH candidate recall,
    so its hash convention is output-visible and pinned.
    """
    import hashlib
    from itertools import chain

    import numpy as np
    import pandas as pd

    C = _gram_coeffs(n)
    blake2b = hashlib.blake2b

    def shingle_batch(texts):
        # The shared per-worker cache MUST be reached through the
        # worker's imported module object: cloudpickle pickles a nested
        # function's bare-global references BY VALUE (a per-task snapshot
        # copy — verified empirically: a bare-global dict never advanced
        # its state across tasks, while the module-attribute form is the
        # worker module's one dict), so only the attribute access shares
        # across tasks under worker reuse.
        import mare_spark.operators.dedup as _D

        cache = _D._TOKEN_HASH_CACHE
        tok = [py_tokens(t) for t in texts]
        flat = list(chain.from_iterable(tok))
        gi = cache.__getitem__
        try:
            TH = np.fromiter(map(gi, flat), dtype=np.uint64, count=len(flat))
        except KeyError:
            _hash_cache_room(cache)
            for w in flat:
                if w not in cache:
                    cache[w] = int.from_bytes(
                        blake2b(w.encode("utf-8"), digest_size=8).digest(),
                        "big",
                    )
            TH = np.fromiter(map(gi, flat), dtype=np.uint64, count=len(flat))
        nwin = len(flat) - n + 1
        if nwin > 0:
            ACC = C[0] * TH[:nwin]
            for i in range(1, n):
                ACC = ACC + C[i] * TH[i : i + nwin]
            G = _mix64(ACC).view(np.int64)
        out = []
        pos = 0
        for ws in tok:
            m = len(ws) - n + 1
            # contentless docs normalize to [''] — no shingles at ANY n
            # (without this, every empty doc shares one phantom 1-gram)
            if ws == [""] or m <= 0:
                out.append([])
            else:
                out.append(np.unique(G[pos : pos + m]).tolist())
            pos += len(ws)
        return pd.Series(out)

    shingle_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(shingle_batch, "array<bigint>")(text_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index self-join.

    Plan: explode shingles → (optionally drop shingles shared by more than
    ``max_shingle_freq`` docs — they generate quadratic candidate blowup and
    carry no discriminative signal) → self-join on shingle → count common
    shingles per pair → Jaccard = common / (|a| + |b| - common).

    Scale: the join key is the shingle, so work is Σ bucket², bounded by the
    frequency cap — never |corpus|². This is also precisely the candidate
    set: pairs sharing zero shingles are never materialized. Shingles are
    carried as 64-bit token-combine hashes end-to-end (fixed-width join
    keys and set elements — see :func:`hashed_word_shingles`); the PPJoin
    prefix, length, and position filters prune the
    candidate set before the distinct — all three are exact (no true pair
    at the threshold can be dropped).
    """
    from pyspark.sql import Window as W

    base = _materialize(
        _fan_out(df).select(
            F.col(id_col).alias("doc"),
            hashed_word_shingles(F.col(text_col), n).alias("shingles"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )

    inv = base.select("doc", F.size("shingles").alias("n_sh"),
                      F.explode("shingles").alias("shingle"))
    # Document frequency, Zipf-skew-safe. Natural-language shingle
    # frequencies are Zipfian: the hottest shingle in a web-scale corpus
    # appears in ~every boilerplate page, so a bare count WINDOW over the
    # shingle would funnel ALL of a hot key's rows into one un-splittable
    # window task (WindowExec cannot be skew-split by AQE; a count
    # aggregate CAN partial-combine map-side and a shuffled join CAN be
    # AQE-skew-split). Shape: (1) the frequency aggregate partial-combines
    # hot keys map-side; (2) the >cap HEAD of the distribution — at most
    # N/cap keys, Zipf-concentrated far below that in practice — is
    # anti-joined away (AQE picks broadcast when it fits, skew-splits the
    # probe otherwise); (3) the df annotation for the PPJoin rarest-first
    # order is a window over the SURVIVORS, whose groups are ≤ cap by
    # construction — bounded tasks, no skew possible. The agg branch
    # re-reads `base`, which is persisted above.
    freq = inv.groupBy("shingle").agg(F.count("*").alias("df_freq"))
    if max_shingle_freq is not None:
        # One inner join against the ≤cap-frequency survivors both DROPS
        # the hot head and DELIVERS the df annotation (r9 optimization
        # pass — the previous shape anti-joined the >cap head and then
        # re-counted survivors with a count window over the shingle,
        # paying a second shingle exchange plus a window sort for a
        # number the aggregate already knew). Join groups are ≤ cap by
        # construction, so no skew is possible; AQE broadcasts the kept
        # set when it fits and skew-splits the probe otherwise — the
        # exact safety argument of the anti-join it replaces.
        inv = inv.join(freq.filter(F.col("df_freq") <= max_shingle_freq),
                       "shingle")
    else:
        # uncapped: annotate via the partial-combined aggregate +
        # AQE-skew-splittable join (a count window over an unbounded
        # shingle group would funnel a Zipf-hot key into one task)
        inv = inv.join(freq, "shingle")

    # PPJoin-style prefix filter (exact): under a global shingle order
    # (rarest first), two sets with Jaccard ≥ t MUST share a shingle within
    # each one's first |s| - ceil(t*|s|) + 1 entries. Indexing only those
    # prefixes shrinks the self-join by ~(1-t)² while remaining exact —
    # the difference between Σ bucket² over all shingles and over rare ones.
    w = W.partitionBy("doc").orderBy(F.asc("df_freq"), F.asc("shingle"))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    # Persist the prefix index: it feeds BOTH sides of the candidate
    # self-join, and without a materialization point the whole chain above
    # (explode + frequency annotation + two window sorts) executes twice.
    # The prefix is the SMALL end of the index — ~(1-t) of the exploded
    # shingles — and disk-backed, so this is the standard "index once,
    # probe twice" materialization, not a corpus-sized cache.
    prefix = _materialize(
        inv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("shingle", "doc", "n_sh", "rn")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Jaccard ≥ t additionally implies (both exact, cheap row predicates):
    # * length filter — min(|a|,|b|) ≥ t · max(|a|,|b|);
    # * position filter — the common shingles number ≥ t·(|a|+|b|)/(1+t),
    #   but at the matched prefix positions at most
    #   min(|a|-rn_a, |b|-rn_b) + 1 common shingles remain (the global
    #   rarity order is shared, so everything before rn on either side is
    #   disjoint for THIS match).
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    alpha = F.lit(threshold / (1.0 + threshold)) * (na + nb)
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(
            (F.col("a.doc") < F.col("b.doc"))
            & (F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb))
            & (F.least(na - F.col("a.rn"), nb - F.col("b.rn")) + 1 >= alpha)
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )

    cand = _persisted_candidates(cand)
    sh = _candidate_shingles(base, cand)
    result = (
        cand.join(sh.withColumnsRenamed({"doc": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc": "doc_b", "shingles": "sh_b"}), "doc_b")
        .withColumn("jaccard", _verified_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return attach_caches(result, base, cand, prefix)


def _perm_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31, 2), rng.randrange(0, 1 << 31))
        for _ in range(num_perm)
    ]


def minhash_signature(
    text_col: Column, num_perm: int = 32, shingle_n: int = 3, seed: int = 42
) -> Column:
    """MinHash signature as an ``array<bigint>`` of length ``num_perm``.

    Base shingle hash: 31 high bits of xxhash64 (shiftrightunsigned 33) so
    ``a*h + b < 2^62`` — ANSI-overflow-safe; per-permutation universal hash
    ``(a*h + b) mod (2^31-1)`` (the modulus must sit at the universe size —
    see ``_MERSENNE31``); min over shingles.

    NB: expression-code tier for API completeness/composability — the
    higher-order ``transform`` lambdas here are CodegenFallback
    (interpreted); the hot path (:func:`minhash_lsh_pairs`) uses the
    vectorized ``_minhash_base_udf`` instead.

    CROSS-TIER INCOMPATIBILITY: this tier's base shingle hash is xxhash64;
    the UDF tier's is blake2b-8. The two tiers agree on the Jaccard
    ESTIMATOR (same permutation family, same modulus) but NOT on signature
    values — never compare/join signatures produced by different tiers."""
    shingles = word_shingles(text_col, shingle_n)
    h31 = F.transform(shingles, lambda s: F.shiftrightunsigned(F.xxhash64(s), 33))
    sig = [
        F.array_min(
            F.transform(h31, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE31))
        )
        for a, b in _perm_coeffs(num_perm, seed)
    ]
    return F.array(*sig)


def _minhash_base_udf(num_perm: int, shingle_n: int, seed: int):
    """Arrow-batched UDF: per document, the sorted distinct 64-bit shingle
    hashes AND the ``num_perm`` MinHash signature, in one pass.

    Shingle hash: per-gram blake2b-8 (signed int64) — deliberately PINNED
    even after :func:`hashed_word_shingles` moved to the token-combine
    scheme (r9): the signature values derived from these hashes gate LSH
    candidate recall, so this tier's hash convention is output-visible
    and must not drift. The verify-stage Jaccard VALUES still equal the
    exact tier's (Jaccard over any injective-modulo-collisions hashing of
    the same gram sets is identical); only the raw shingle ids differ
    between tiers — never join them. Signature base: the hash's top 31
    bits (keeps the affine
    ``a*h + b`` under 2^62); per-permutation universal hash
    ``(a*h + b) mod (2^31-1)`` (modulus at the universe size — see
    ``_MERSENNE31``), minimized over shingles — the whole
    (num_perm × |shingles|) grid is one numpy broadcast per document.

    CROSS-TIER INCOMPATIBILITY: :func:`minhash_signature` (expression tier)
    hashes shingles with xxhash64, not blake2b-8 — same estimator, different
    signature values. Never mix signatures across tiers.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    coeffs = _perm_coeffs(num_perm, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.uint64)[:, None]
    M = np.uint64(_MERSENNE31)
    empty_sig = [int(b % M) for b in B[:, 0]]
    # r9 optimization pass (guide §4.2), BIT-IDENTICAL outputs:
    # * gram → blake2b hash memoized per WORKER since r10 (the shared
    #   module-level _MH_GRAM_CACHE — Zipf gram reuse across near-dup
    #   docs makes hashlib calls rare after warm-up, and worker reuse now
    #   keeps the warm set across tasks);
    # * the (num_perm × total-grams) affine grid is ONE numpy broadcast
    #   per batch with per-document minima via minimum.reduceat at the
    #   doc offsets, replacing one grid launch per document (~30% off
    #   the pass; differential-verified identical on the full fixture).

    def mh_batch(texts):
        # worker-module attribute access — the bare global would be a
        # per-task pickled COPY (see shingle_batch)
        import mare_spark.operators.dedup as _D

        gram_cache = _D._MH_GRAM_CACHE
        get = gram_cache.get
        shingles_out = []
        offs = [0]
        flat: list = []
        for t in texts:
            ws = py_tokens(t)
            grams = (
                set()
                if ws == [""]
                else {
                    " ".join(ws[i : i + shingle_n])
                    for i in range(len(ws) - shingle_n + 1)
                }
            )
            hs = []
            for g in grams:
                h = get(g)
                if h is None:
                    _hash_cache_room(gram_cache)
                    h = int.from_bytes(
                        hashlib.blake2b(
                            g.encode("utf-8"), digest_size=8
                        ).digest(),
                        "big",
                        signed=True,
                    )
                    gram_cache[g] = h
                hs.append(h)
            # distinct by construction even under a blake2b-8 collision
            # (_verified_jaccard's invariant); minima ignore duplicates
            hs = sorted(set(hs))
            shingles_out.append(hs)
            flat.extend(hs)
            offs.append(len(flat))
        h31 = np.array(flat, dtype=np.int64).astype(np.uint64) >> np.uint64(33)
        # empty docs contribute zero elements to `flat`, so consecutive
        # non-empty docs' segments abut — reduceat over non-empty starts
        # reduces exactly one document per segment.
        #
        # The affine grid is (num_perm × grams) uint64 — UNBOUNDED by
        # maxRecordsPerBatch, which caps ROWS not grams/row: a 10k-row
        # batch of long documents can demand a multi-GB grid (measured:
        # a 50k-doc single-partition batch at 64 perms churned ~256 MB
        # grids into 4-40× run-time variance from allocator/GC pressure).
        # Process DOC-ALIGNED groups whose gram total keeps the grid
        # ≤ _MH_GRID_ELEMS cells (~256 MB at 8 B/cell): per-doc minima
        # never cross a group boundary, so outputs are bit-identical to
        # the one-shot grid (pinned by
        # test_minhash_grid_chunking_is_bit_identical).
        nonempty = [d for d in range(len(shingles_out)) if offs[d + 1] > offs[d]]
        sig_out: list = [None] * len(shingles_out)
        max_grams = max(_MH_GRID_ELEMS // max(len(A), 1), 1)
        lo = 0
        while lo < len(nonempty):
            hi = lo
            g0 = offs[nonempty[lo]]
            # extend the group while it stays under the gram budget;
            # always take at least one doc (a single huge doc pays its
            # own grid — unavoidable)
            while (
                hi + 1 < len(nonempty)
                and offs[nonempty[hi + 1] + 1] - g0 <= max_grams
            ):
                hi += 1
            g1 = offs[nonempty[hi] + 1]
            SIG = (A * h31[None, g0:g1] + B) % M
            starts = np.array(
                [offs[d] - g0 for d in nonempty[lo : hi + 1]], dtype=np.int64
            )
            MINS = np.minimum.reduceat(SIG, starts, axis=1)
            for j, d in enumerate(nonempty[lo : hi + 1]):
                sig_out[d] = MINS[:, j].tolist()
            lo = hi + 1
        for d in range(len(shingles_out)):
            if sig_out[d] is None:
                sig_out[d] = list(empty_sig)
        return pd.DataFrame({"shingles": shingles_out, "sig": sig_out})

    mh_batch.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(
        mh_batch, "struct<shingles: array<bigint>, sig: array<bigint>>"
    )


def _mh_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """Persisted (doc, shingles, sig) signature table — the shared
    materialization point of the LSH tiers (see the plan discussion in
    :func:`minhash_lsh_pairs`). Built eagerly (:func:`_materialize`): the
    band-bucket self-join's two exchange sides launch concurrently and
    would otherwise race the signature UDF through twice."""
    return _materialize(
        _fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            _minhash_base_udf(num_perm, shingle_n, seed)(
                F.col(text_col)
            ).alias("mh"),
        )
        .select(
            "doc",
            F.col("mh.shingles").alias("shingles"),
            F.col("mh.sig").alias("sig"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _mh_buckets(base: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc, band_idx, band_hash) bucket table.

    Band hash = xxhash64 of the band's signature slice — slice/xxhash64
    are plain (codegen'd) expressions, no lambdas. Docs with NO shingles
    (null/empty/shorter-than-n text) all carry the same constant empty
    signature: they would band-collide with each other and then 0/0 in
    the Jaccard verify (an ANSI divide-by-zero error, not a null) — by
    definition they share no content, so they never enter bucketing."""
    band_cols = [
        F.xxhash64(F.slice("sig", i * r + 1, r)) for i in range(bands)
    ]
    return base.filter(F.size("shingles") > 0).select(
        "doc", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    )


def _drop_over_full_buckets(
    buckets: DataFrame, cap: int, keys: tuple[str, str] = ("band_idx", "band_hash")
) -> DataFrame:
    """Drop every bucket (keyed by ``keys``) holding more than ``cap``
    docs — the quadratic-candidate guard for bucketed LSH joins, in the
    hot-head shape: partial-combined count (skew-immune), tiny >cap head,
    broadcast/skew-splittable anti-join. Never a count window (WindowExec
    would colocate the hot bucket's rows in one un-splittable task)."""
    over_full = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    return buckets.join(over_full, list(keys), "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    Jaccard over the shingle sets.

    Plan (the standard scale recipe):
      1. signature: ``num_perm`` minhashes per doc (map-only).
      2. banding: split into ``bands`` rows-per-band groups, hash each band,
         posexplode → (band_idx, band_hash) — docs agreeing on ANY band
         become candidates.
      3. bucket self-join on (band_idx, band_hash) with id< id — only
         same-bucket pairs are ever compared (never a cross join).
      4. verify candidates with exact Jaccard and filter by ``threshold``.

    At 100 TB: stage 1 is embarrassingly parallel; stage 3's shuffle is on
    band hashes (uniform for distinct content); stage 4 touches only the
    candidate set. The hazard AQE can NOT fix is a mass-duplicate bucket:
    k identical documents agree on every band, so one bucket emits k²/2
    candidate pairs — splitting the partition redistributes the work but
    the quadratic OUTPUT remains. ``bucket_cap`` drops (band_idx,
    band_hash) buckets holding more than that many docs, via the same
    hot-head shape as the shingle frequency cap (partial-combined count →
    tiny >cap head → broadcast anti-join; never a count window). Docs in
    a dropped bucket still pair through their other ``bands - 1`` bands
    unless those are over-full too — and a group that saturates EVERY
    band is verbatim mass duplication, which belongs to (and is caught
    by) the exact-dedup tier run before any near-dup pass. The cap is
    OPT-IN (default ``None``, like ``embedding_lsh_pairs``): a default
    cap would silently drop pairs that only agree in over-full buckets
    with no runtime signal, so corpus-scale callers state the cap at the
    call site (the registered scale queries pass ``bucket_cap=10_000``).
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    # Materialize (doc, shingle set, full signature) ONCE, in a single
    # Arrow-batched numpy UDF. Expression-code signatures were tried first
    # and abandoned twice over: (a) without a materialization point,
    # CollapseProject inlines the shingle pipeline into every permutation
    # (num_perm × recompute, measured 100×+ slowdown); (b) even
    # materialized, the per-permutation ``array_min(transform(...))``
    # lambdas are higher-order functions — CodegenFallback, interpreted
    # row-at-a-time (the same trap hashed_word_shingles documents). The
    # numpy path computes the whole (num_perm × |shingles|) affine-min in
    # one vectorized op per document. At corpus scale this persist is the
    # standard "signature table" materialization point (disk-backed so it
    # spills instead of OOMing).
    base = _mh_base(df, text_col, id_col, num_perm, shingle_n, seed)
    buckets = _mh_buckets(base, bands, r)
    if bucket_cap is not None:
        buckets = _drop_over_full_buckets(buckets, bucket_cap)
    # Materialize the (post-cap) bucket table once (r10 — guide §2.4,
    # compute-once): the candidate self-join's two exchange sides each
    # recompute this whole subtree otherwise — band projection PLUS the
    # cap aggregate and its anti-join — because exchange reuse does not
    # fire across the deduplicated self-join sides (verified empirically:
    # forced-SMJ plans show 4 hashpartitioning(band_idx, band_hash)
    # exchanges and 0 ReusedExchange). The table is three fixed-width
    # columns (no arrays — cheap columnar encode, unlike `base`); census
    # at sf0.1: invocation CPU 9.7-10.0 s → 7.1-7.8 s, executorRunTime
    # 25-26 s → 20-22 s, at +1 barrier job. At corpus scale the saved
    # duplicate is a corpus-sized projection + aggregate per side.
    buckets = _materialize(buckets.persist(StorageLevel.MEMORY_AND_DISK))

    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )

    cand = _persisted_candidates(cand)
    sh = _candidate_shingles(base, cand)
    verified = (
        cand.join(sh.withColumnsRenamed({"doc": "doc_a", "shingles": "sh_a"}), "doc_a")
        .join(sh.withColumnsRenamed({"doc": "doc_b", "shingles": "sh_b"}), "doc_b")
        .withColumn("jaccard", _verified_jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return attach_caches(verified, base, buckets, cand)


def minhash_lsh_join(
    df_left: DataFrame,
    df_right: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs ACROSS two corpora — the incremental-ingest
    dedup: find which documents of a NEW crawl (left) near-duplicate an
    EXISTING corpus (right) without recomputing anything pairwise inside
    either side and without concatenating them into one table.

    ``bucket_cap`` caps each side's (band_idx, band_hash) buckets exactly
    as in :func:`minhash_lsh_pairs` — the cross join of a hot bucket is
    |left bucket| × |right bucket| candidates, which no partition split
    can shrink. Opt-in (default ``None``): drops are silent, so the cap
    belongs at the call site where the scale trade-off is visible.

    Same recipe as :func:`minhash_lsh_pairs` (identical UDF, permutations,
    and banding — same ``seed`` makes signatures comparable across calls),
    but the bucket join is left-buckets x right-buckets on
    (band_idx, band_hash): candidates are only cross-corpus collisions, so
    within-corpus duplicates are never generated, and the verify stage
    fetches each side's shingles from its own signature table. Returns
    (id_left, id_right, jaccard >= threshold).

    At 100 TB the right side's signature/bucket tables are the "index":
    persist or write them once per corpus epoch and only the (smaller) new
    crawl pays signature compute per ingest.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    base_l = _mh_base(df_left, text_col, id_col, num_perm, shingle_n, seed)
    base_r = _mh_base(df_right, text_col, id_col, num_perm, shingle_n, seed)
    buckets_l = _mh_buckets(base_l, bands, r)
    buckets_r = _mh_buckets(base_r, bands, r)
    if bucket_cap is not None:
        buckets_l = _drop_over_full_buckets(buckets_l, bucket_cap)
        buckets_r = _drop_over_full_buckets(buckets_r, bucket_cap)
    cand = (
        buckets_l
        .alias("x")
        .join(
            buckets_r.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash")),
        )
        .select(
            F.col("x.doc").alias("id_left"), F.col("y.doc").alias("id_right")
        )
        .distinct()
    )
    cand = _persisted_candidates(cand)
    # per-side verify-set restriction (the _candidate_shingles shape, one
    # side each): semi-join the signature table down to candidate docs so
    # the pair-joins shuffle only the candidate subset
    sh_l = (
        base_l.select("doc", "shingles")
        .join(
            cand.select(F.col("id_left").alias("doc")).distinct(),
            "doc",
            "left_semi",
        )
        .withColumnsRenamed({"doc": "id_left", "shingles": "sh_l"})
    )
    sh_r = (
        base_r.select("doc", "shingles")
        .join(
            cand.select(F.col("id_right").alias("doc")).distinct(),
            "doc",
            "left_semi",
        )
        .withColumnsRenamed({"doc": "id_right", "shingles": "sh_r"})
    )
    verified = (
        cand.join(sh_l, "id_left")
        .join(sh_r, "id_right")
        .withColumn("jaccard", _verified_jaccard("sh_l", "sh_r"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_left", "id_right", "jaccard")
    )
    return attach_caches(verified, base_l, base_r, cand)


def simhash64(text_col: Column, shingle_n: int = 2) -> Column:
    """64-bit SimHash of the normalized text, as a bigint — pure expression
    code: per-shingle xxhash64, per-bit weighted votes, sign → bit.

    Implementation: for each bit position we sum ``±1`` votes across
    shingles (aggregate over the shingle array) and set the bit when the sum
    is positive. 64 aggregate expressions — verbose but codegen'd; no UDF.
    """
    shingles = word_shingles(text_col, shingle_n)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    bits = []
    for i in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        # bit 63 is the sign bit: 1<<63 overflows signed long, use Long.MIN
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        bits.append(F.when(vote > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _simhash_pudf(shingle_n: int):
    """Arrow-batched SimHash: blake2b-hashed word shingles, 64-wide bit
    votes vectorized in numpy, sign bits packed into one int64. Docs
    with NO grams (NULL/contentless, or shorter than the shingle) emit
    NULL — a zero signature would make every such doc a Hamming-0
    "duplicate" of every other; simhash_pairs filters them out before
    bucketing (the same guard as the MinHash tier)."""
    import hashlib

    import numpy as np
    import pandas as pd

    # gram → blake2b hash memoized per WORKER (r9 memo, r10 shared
    # module-level _SH_GRAM_CACHE; value-preserving — the signature values
    # drive bucket candidates, so the hash convention is pinned exactly
    # like the MinHash tier's; the memo only skips repeat hashlib calls
    # on Zipf-repeated grams)

    def simhash_batch(texts):
        # worker-module attribute access — the bare global would be a
        # per-task pickled COPY (see shingle_batch)
        import mare_spark.operators.dedup as _D

        gram_cache = _D._SH_GRAM_CACHE
        get = gram_cache.get
        out = np.full(len(texts), None, dtype=object)
        shifts = np.arange(64, dtype=np.uint64)
        for row, t in enumerate(texts):
            ws = py_tokens(t)  # THE shared tokenizer (ASCII-\s contract)
            grams = (
                set()
                if ws == [""]
                else {
                    " ".join(ws[i : i + shingle_n])
                    for i in range(max(len(ws) - shingle_n + 1, 0))
                }
            )
            if not grams:
                out[row] = None
                continue

            def _h(g):
                h = get(g)
                if h is None:
                    _hash_cache_room(gram_cache)
                    h = int.from_bytes(
                        hashlib.blake2b(g.encode(), digest_size=8).digest(),
                        "little",
                    )
                    gram_cache[g] = h
                return h

            hs = np.fromiter(
                (_h(g) for g in grams),
                dtype=np.uint64,
                count=len(grams),
            )
            bits = (hs[:, None] >> shifts) & np.uint64(1)
            votes = bits.sum(axis=0, dtype=np.int64) * 2 - len(hs)
            sig = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out[row] = int(sig.astype(np.int64))
        return pd.Series(out)

    simhash_batch.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return F.pandas_udf(simhash_batch, "long")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    shingle_n: int = 2,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation (pigeonhole-complete): split the 64-bit hash into
    ``max_hamming + 1`` chunks — any pair within the Hamming bound must
    agree on at least one chunk, so an equi-join per chunk finds ALL
    qualifying pairs without a cross join. Verify with popcount on XOR.
    Smaller bounds ⇒ fewer/wider chunks ⇒ fewer candidates — the standard
    recall/cost dial.

    ``bucket_cap`` bounds the quadratic hazard the chunk join shares with
    every bucketed candidate generator: a (chunk_idx, chunk) bucket of k
    docs emits k²/2 candidates, and AQE partition-splitting cannot shrink
    that OUTPUT. Over-full buckets (mass duplication, or chunk-value
    saturation when the corpus outgrows a chunk's bit width) drop via the
    hot-head shape — partial-combined count, tiny >cap head, broadcast
    anti-join. Pairs in a dropped bucket still qualify through any other
    agreeing chunk; a pair agreeing ONLY in saturated buckets is the
    verbatim-duplication case owned by the exact-dedup tier. The cap is
    OPT-IN (default ``None``): the default contract stays strict
    pigeonhole completeness — a silent default cap would revoke the
    "finds ALL qualifying pairs" guarantee with no runtime signal, so
    corpus-scale callers state it explicitly.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    # chunk bit-boundaries: spread 64 bits as evenly as possible
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    # Signature via a vectorized numpy pandas UDF. The expression-code
    # alternative (64 bit-vote aggregates — see simhash64) exceeds janino's
    # 64 KB codegen limit, falls back to interpreted eval and runs ~10×
    # slower; the 64×n bit-vote matrix is exactly the shape numpy is good
    # at. This is the sanctioned UDF case: built-ins can't express it fast.
    base = _materialize(
        _fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            _simhash_pudf(shingle_n)(F.col(text_col)).alias("sh"),
        )
        # gram-less docs (NULL signature) never enter bucketing — the
        # same contract as the MinHash tier's size(shingles) > 0 filter
        .filter(F.col("sh").isNotNull())
        # eager (see _materialize): the chunk self-join's two exchange
        # sides launch concurrently and would race the simhash UDF twice
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    chunk_cols = [
        # a 64-bit-wide chunk (max_hamming=0) IS the signature: the full
        # mask literal (2^64-1) would overflow LongType
        F.col("sh")
        if bounds[i + 1] - bounds[i] == 64
        else F.shiftrightunsigned(F.col("sh"), bounds[i]).bitwiseAND(
            F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
        )
        for i in range(n_chunks)
    ]
    chunks = base.select(
        "doc",
        "sh",
        F.posexplode(F.array(*chunk_cols)).alias("chunk_idx", "chunk"),
    )
    if bucket_cap is not None:
        chunks = _drop_over_full_buckets(
            chunks, bucket_cap, keys=("chunk_idx", "chunk")
        )
    # Materialize the (post-cap) chunk table once (r10 — guide §2.4): the
    # chunk self-join's two exchange sides otherwise each recompute the
    # chunk projection plus, when capped, the bucket-cap aggregate and
    # anti-join (exchange reuse does not fire across deduplicated
    # self-join sides — see minhash_lsh_pairs). Four fixed-width columns,
    # cheap encode; same census evidence as the minhash bucket persist.
    chunks = _materialize(chunks.persist(StorageLevel.MEMORY_AND_DISK))
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.sh").alias("sh_a"),
            F.col("y.sh").alias("sh_b"),
        )
        .distinct()
    )
    result = (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return attach_caches(result, base, chunks)


def _dedup_clusters_driver(directed: DataFrame) -> DataFrame:
    """In-memory exact union-find over a collected (src, dst) edge list —
    min-id representative per component, identical semantics to the
    distributed propagation (pinned by test)."""
    from pyspark.sql.types import StructField, StructType

    rows = directed.collect()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[0]), find(r[1])
        if ra != rb:
            # attach the larger root under the smaller: the root stays
            # the component minimum throughout, so find() IS the label
            parent[max(ra, rb)] = min(ra, rb)
    dt = directed.schema[0].dataType
    schema = StructType(
        [StructField("member", dt, True), StructField("cluster", dt, True)]
    )
    data = [(n, find(n)) for n in parent]
    return directed.sparkSession.createDataFrame(data, schema)


def _edge_sample_row_bytes(rows) -> int:
    """Mean Python-heap bytes of a collected (src, dst) edge row — the
    driver union-find holds exactly these objects, so the routing gate
    must price the ACTUAL id type (a 64-char sha string costs ~10× a
    long), not assume fixed-width rows."""
    import sys

    if not rows:
        return 1
    total = sum(
        sys.getsizeof(r[0]) + sys.getsizeof(r[1]) + 64  # dict-entry slack
        for r in rows
    )
    return max(1, total // len(rows))


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
    driver_edges_limit: int | None = 1_000_000,
    driver_bytes_limit: int | None = 256 << 20,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS via connected
    components (iterative min-label propagation), returning
    (member, cluster) where cluster = min id in the component — i.e. the
    canonical representative to KEEP per duplicate group.

    Plan: labels start as each node's own id; each round every node takes
    the min of its own and its neighbors' labels (join on edges both
    directions + groupBy-min); stop when a round changes nothing. Rounds ≤
    graph diameter — near-dup components are tiny (pairs/triples), so this
    converges in 2-3 rounds regardless of corpus size; each round is one
    join + one aggregate on the EDGE set, never the corpus.

    Cost tiers — resolution is proportional to the EDGE set, which a
    thresholded near-dup pass keeps orders of magnitude below the corpus:

    * edges ≤ ``driver_edges_limit`` AND estimated driver heap ≤
      ``driver_bytes_limit`` (the common case; 1M long-id (src, dst)
      rows is ~tens of MB of driver heap — but string doc ids cost ~10×
      a long, so the byte gate prices a 256-row sample's ACTUAL row
      width, never row count alone): the materialized edges are
      collected ONCE and resolved by exact in-memory union-find (the
      same bounded-driver tier as ``learn_bpe_merges``). What this buys
      is NOT local wall-clock (measured parity with the distributed
      loop at sf0.1 on local[32], where a round costs ~0.1 s) but
      (a) diameter-independence — min-label propagation needs one JOB
      per graph-diameter hop, so a pathological duplicate chain of
      depth 200 costs 200 scheduled rounds distributed and nothing
      here — and (b) on a real cluster, removing d shuffle round-trips
      plus d checkpoint materializations of scheduler latency. The
      probe is a ``limit(N+1).count()`` over already-checkpointed rows,
      never a full count of an unbounded set. The engaged tier and the
      byte estimate are logged (``mare_spark.dedup`` at INFO) so the
      routing is observable in production driver logs.
    * above the limit (a mass-duplicate corpus at 100 TB): the
      distributed loop below, unchanged — one job per round,
      Observation-fused convergence, lineage-truncating checkpoints.

    Both tiers produce identical labels (pinned by test); pass
    ``driver_edges_limit=None`` to force the distributed path.
    """
    # Iterative plans nest: round k's logical plan would embed round k-1's
    # (twice — the join and the convergence check), which itself embeds the
    # upstream pair-generation plan. Without lineage truncation Catalyst
    # re-analyzes an exponentially growing tree every round and compile time
    # dwarfs execution. localCheckpoint (eager) materializes the rows AND
    # cuts the lineage, keeping every round's plan constant-size — on a real
    # cluster swap in reliable checkpoint() for executor-loss tolerance.
    # Materialize the (typically expensive) pair set ONCE, then mirror the
    # checkpointed rows for bidirectional edges. Unioning the two directions
    # BEFORE materializing would run the upstream pair-generation plan twice
    # inside one job (exchange reuse across differently-projected branches
    # is not guaranteed under AQE).
    # The routing probe rides INSIDE the checkpoint job as an Observation
    # (the r9 optimization pass): the old shape paid three extra scheduler
    # round-trips per invocation — a limit(N+1).count() job, a head(256)
    # sample job, and the union-find tier's own collect() job. The edge
    # count is now observed during the one materializing job; the byte
    # gate prices a 256-row local fetch (as before — the gate must run
    # BEFORE any full collect, that is its purpose), and the union-find
    # tier's collect doubles as the final pull. Identical routing
    # semantics: the exact count replaces the min(count, N+1) probe.
    obs = Observation()
    directed = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .observe(obs, F.count(F.lit(1)).alias("n_edges"))
        .localCheckpoint(eager=True)
    )
    if driver_edges_limit is not None:
        probe = obs.get["n_edges"] or 0
        if probe <= driver_edges_limit:
            row_bytes = _edge_sample_row_bytes(directed.head(256))
            est = probe * row_bytes
            if driver_bytes_limit is None or est <= driver_bytes_limit:
                _log.info(
                    "dedup_clusters: driver union-find tier engaged "
                    "(%d edges, ~%d bytes est at %d B/row)",
                    probe, est, row_bytes,
                )
                return _dedup_clusters_driver(directed)
            _log.info(
                "dedup_clusters: %d edges within the row limit but "
                "~%d bytes est > driver_bytes_limit=%d — distributed "
                "tier engaged",
                probe, est, driver_bytes_limit,
            )
        else:
            _log.info(
                "dedup_clusters: > %d edges — distributed tier engaged",
                driver_edges_limit,
            )
    edges = directed.union(directed.select(F.col("dst"), F.col("src")))

    # Seed labels with the first propagation round fused into initialization:
    # label₀(n) = min({n} ∪ neighbors(n)). Every node appears as a src (edges
    # are bidirectional), so this is one aggregate over the edge set — and
    # pair/triple components (the near-dup norm) then converge in a single
    # verify iteration instead of two. Deliberately NOT checkpointed: the
    # seed is one aggregate over the already-checkpointed edges, round 1
    # references it twice (the neighbor join and the merge) but both
    # branches share the identical agg subtree so the exchange is reused,
    # and skipping the eager materialization saves one whole job — i.e.
    # one full pass over the edge set — per invocation. Rounds still
    # checkpoint (that is where lineage would otherwise nest).
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.col("src"), F.min("dst")).alias("label")
    )

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Convergence check fused into the materializing action: an
        # Observation on a _changed flag is collected DURING the eager
        # localCheckpoint job, so each round costs exactly one job — the r1
        # shape (checkpoint + separate join/limit/count job per round) paid
        # one extra full pass over the label set every iteration.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label"))
                .cast("long")
                .alias("_changed"),
            )
            .observe(obs, F.sum("_changed").alias("n_changed"))
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if (obs.get["n_changed"] or 0) == 0:
            converged = True
            break

    if not converged:
        # Components whose diameter exceeds the cap would keep partially
        # propagated labels — merged clusters would silently be wrong.
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iterations} "
            "iterations — a duplicate chain is longer than the cap; raise "
            "max_iterations"
        )

    return labels.select(F.col("node").alias("member"), F.col("label").alias("cluster"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two float array columns via the SEQUENTIAL
    expression fold — summation order matches a SQL oracle's list_sum
    bit-for-bit (numpy's pairwise-blocked sums round differently at the
    ulp level, which can flip a 6dp grid snap; hash-checked rows use
    THIS, scale tiers use the vectorized numpy UDFs). Degenerate (zero)
    vectors score 0.0 on both engines by an explicit guard — the raw
    division is NaN in Spark but NULL in DuckDB (r8 review)."""
    # denominator spelled EXACTLY as the oracles spell it —
    # sqrt(Σa²)·sqrt(Σb²), never sqrt(Σa²·Σb²), which rounds differently
    den = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(den == 0.0, F.lit(0.0)).otherwise(_dot(a, b) / den)


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    exact_max_rows: int | None = 100_000,
    dim: int | None = None,
    scoring: str = "numpy",
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold.

    Guarded routing: below ``exact_max_rows`` this is the *exact* tier — an
    all-pairs theta self-join (O(N²) BroadcastNestedLoop, fine for modest N,
    zero false negatives). Above it, the O(N²) plan would not survive, so
    inputs route through the banded-LSH scale tier
    (:func:`mare_spark.operators.similarity.embedding_lsh_pairs`), whose
    candidates are exact-cosine verified — no false positives, recall
    tunable via its banding. The size probe is ``limit(N+1).count()``
    (bounded — never a full count of a 100 TB corpus). Pass
    ``exact_max_rows=None`` to force the exact tier.
    """
    if exact_max_rows is not None:
        n_probe = df.select(id_col).limit(exact_max_rows + 1).count()
        if n_probe > exact_max_rows:
            from mare_spark.operators.similarity import embedding_lsh_pairs

            if dim is None:
                # the probe row is already on the driver conceptually; one
                # bounded fetch beats failing the scale-tier handoff
                # a NULL vector in the probe row would TypeError; take
                # the first NON-NULL vector's length
                dim = len(
                    df.select(vec_col)
                    .filter(F.col(vec_col).isNotNull())
                    .limit(1)
                    .collect()[0][0]
                )
            return embedding_lsh_pairs(
                df, vec_col=vec_col, id_col=id_col, threshold=threshold, dim=dim
            )
    # scoring tiers (r8 review — hard_negatives' convention): "fold" is
    # the sequential expression fold whose summation order matches a SQL
    # oracle's list_sum bit-for-bit (hash-checked rows); "numpy" is the
    # vectorized Arrow scale path (pairwise-blocked sums — ulp-different
    # near a 6dp grid boundary, fine when no oracle replays the value)
    if scoring == "fold":
        pair_cos = cosine_similarity
    elif scoring == "numpy":
        from mare_spark.operators.similarity import pairwise_cosine

        pair_cos = pairwise_cosine
    else:
        raise ValueError(f"scoring must be 'numpy' or 'fold', got {scoring!r}")

    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    a = base.withColumnsRenamed({"vid": "id_a", "v": "v_a"})
    b = base.withColumnsRenamed({"vid": "id_b", "v": "v_b"})
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", fround(pair_cos(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def substring_overlap_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 12,
    keep: int = 8,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """Candidate pairs for cross-document substring overlap, via shared
    winnowing fingerprints — the bucketed approximation of suffix-array
    substring dedup (exact suffix arrays don't distribute; shared
    rolling-hash picks of ``window``-char runs do).

    Each document keeps its ``keep`` smallest rolling-hash values
    (:func:`mare_spark.operators.text.rolling_hash_fingerprint` — a
    bottom-k sketch of its character ``window``-grams); documents sharing
    at least ``min_shared`` picks very likely share verbatim character
    runs (boilerplate headers, license blocks, quoted passages) even when
    their word-level Jaccard is low. Downstream: route candidates to exact
    verification or strip the common run.

    Scale: explode is ``keep`` rows/doc (constant), the self-join key is
    the fingerprint value (bucketed — Σ bucket², capped by
    ``max_fp_freq`` exactly like the shingle index), never all-pairs.
    """
    from mare_spark.operators.text import rolling_hash_fingerprint

    fp = rolling_hash_fingerprint(
        df, text_col, id_col, window=window, keep=keep
    )
    # The fingerprint table is narrow (id + ``keep`` hashes per doc) but
    # its UDF is the expensive part; it feeds the frequency aggregate and
    # both sides of the self-join, so persist it rather than recompute —
    # cheap at any scale precisely because it is k hashes per document,
    # not the exploded index. Eager (see _materialize): the self-join's
    # exchange sides launch concurrently and would race the UDF through
    # once per side on a cold cache.
    fp = _materialize(fp.persist(StorageLevel.MEMORY_AND_DISK))
    inv = fp.select(F.col(id_col).alias("doc"), F.explode("fingerprint").alias("fp"))
    if max_fp_freq is not None:
        # Frequency cap via the hot-key HEAD set, not a count window:
        # fingerprints of corpus-wide boilerplate runs are Zipf-hot, and a
        # window would funnel every row of a hot fingerprint into one
        # un-splittable task just to count-then-discard it. The aggregate
        # partial-combines hot keys map-side; the >cap head (≤ N/cap keys)
        # is anti-joined away — AQE broadcasts it when small, skew-splits
        # the probe otherwise. The self-join below then has buckets ≤ cap
        # by construction.
        hot = (
            inv.groupBy("fp").agg(F.count("*").alias("_fp_freq"))
            .filter(F.col("_fp_freq") > max_fp_freq).select("fp")
        )
        inv = inv.join(hot, "fp", "left_anti")
    return attach_caches(
        inv.alias("a")
        .join(inv.alias("b"), "fp")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared),
        fp,
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    prefix_words: int = 8,
    max_dist: int = 50,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Edit-distance near-dup verification: candidate pairs share their
    first-``prefix_words`` digest (the prefix-8 granularity
    dedup_cluster_stats already audits), verified by full Levenshtein
    distance ≤ ``max_dist`` on the normalized text — the character-level
    verify kernel for templated/near-identical documents where set-based
    Jaccard under-weights small ordered edits.

    Candidate contract: prefix-bucket blocking (recall = near-dups that
    agree on their opening words — the templated-document case this tier
    targets; swap in an LSH candidate table for general recall). Buckets
    over ``bucket_cap`` docs are dropped whole — the same frequency-cap
    guard as the shingle inverted index, so one degenerate prefix (an
    empty-ish boilerplate opening shared by millions of docs at 100 TB)
    cannot quadratically explode the join. Join key is the 128-bit
    digest: fixed-width, uniform, freq-capped — Σ bucket², never
    all-pairs.

    Returns ``(doc_a, doc_b, edit_dist)``, doc_a < doc_b.
    """
    s = normalize_text(F.col(text_col))
    # NULL text keeps a NULL prefix key (concat_ws never returns NULL, so
    # a bare md5 would bucket NULL-text docs under md5('') TOGETHER with
    # genuinely-empty docs — the phantom-bucket class fp_sorted guards
    # against): NULL keys drop out of the equi-join, matching the SQL
    # oracle's NULL pk, and cannot push the empty-text bucket over the
    # cap on one engine only.
    pk = F.when(
        F.col(text_col).isNotNull(),
        F.md5(F.concat_ws(" ", F.slice(F.split(s, " "), 1, prefix_words))),
    )
    # _fan_out: a small-file scan yields one partition, serializing the
    # O(len²) Levenshtein verify on a single core — same spread as the
    # shingling tiers
    t = _fan_out(df).select(
        F.col(id_col).alias("_id"), s.alias("_s"), pk.alias("_pk")
    )
    # Bucket cap via the hot-key HEAD set, not a count window: a hot
    # prefix digest (short/templated openings shared by millions of docs)
    # would put its every row — full text included — into one
    # un-splittable window task just to be counted and discarded. The
    # aggregate branch projects the digest only (no text moves), partial-
    # combines map-side, and the tiny >cap head anti-joins away (AQE
    # broadcast). Buckets entering the a×b self-join are ≤ cap by
    # construction.
    hot = (
        t.select("_pk").groupBy("_pk").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > bucket_cap).select("_pk")
    )
    t = t.join(hot, "_pk", "left_anti")
    a = t.select(
        F.col("_pk"), F.col("_id").alias("doc_a"), F.col("_s").alias("_sa")
    )
    b = t.select(
        F.col("_pk"), F.col("_id").alias("doc_b"), F.col("_s").alias("_sb")
    )
    # Threshold form: levenshtein(l, r, t) early-exits at O(len·t) per
    # pair instead of the full O(len²) DP, returning -1 above the bound —
    # on long documents inside a near-cap bucket the DP is the dominant
    # cost, so this bounds the verify kernel itself, not just the output.
    # BETWEEN 0 AND max_dist filters exactly the rows the unbounded form
    # would have filtered (the -1 sentinel rows are precisely the
    # > max_dist ones), so the oracle still hash-matches.
    return (
        a.join(b, "_pk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "edit_dist", F.levenshtein("_sa", "_sb", max_dist)
        )
        .filter(F.col("edit_dist").between(0, max_dist))
        .select("doc_a", "doc_b", "edit_dist")
    )
