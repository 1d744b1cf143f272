"""The benchmark workloads.

Each workload has four phases:

* ``prepare`` (untimed, before Spark starts): write the seeded inputs and
  compute the ground truth every output is checked against;
* ``register`` (part of set-up): the table or corpus registration a user
  session performs once;
* ``run_pass`` (timed, after ``WARM_PASSES`` untimed ones): one closed-loop
  pass over the workload's operations, each fully executed; returns the
  outputs and the operation count. The untimed warm pass of set-up runs it
  with ``warm=True``, which only changes ``olap_tpch``: its timed passes
  keep no rows, its warm pass does;
* ``check`` (untimed): compare one pass's outputs with the ground truth;
  returns ``(failed operations, recall or None)``.

``PASS_S`` sets how many passes a run of ``--seconds`` times:
``round(seconds / PASS_S)`` (at least one), however long they take.

Operation names in a pass double as span names and Spark job-group labels
(``p<pass>|<op>|<phase>``) in the traced run.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
from collections import defaultdict

import numpy as np
import pandas as pd

import gen


class Op:
    """One operation in a pass: the traced run labels its Spark jobs with
    ``p<pass>|<name>|<phase>`` so the event log splits by operation."""

    def __init__(self, ctx, name: str):
        self.ctx, self.name = ctx, name

    @contextlib.contextmanager
    def phase(self, phase: str):
        ctx = self.ctx
        if ctx.tracer.enabled:
            ctx.spark.sparkContext.setJobGroup(
                f"p{ctx.tracer.pass_id}|{self.name}|{phase}", phase
            )
        with ctx.tracer.span(f"ops.{phase}", op=self.name):
            yield
        if ctx.cache_probe is not None:
            ctx.cache_probe.sample()


class Ctx:
    """What a pass needs: the session, the tracer, and a failure log. The
    traced run adds a persisted-RDD probe, sampled after every phase and
    after every pass."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.errors: list[str] = []
        self.cache_probe = None
        self.persists_left: list[int] = []

    def op(self, name: str) -> Op:
        return Op(self, name)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns by name, timestamps as
    naive UTC, floats rounded, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            if not np.allclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-6,
                               equal_nan=True):
                return False
        elif not all(x == y for x, y in zip(a.tolist(), b.tolist())):
            return False
    return True


def duck_oracle(data_dir: str, sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, f)}'"
                )
        return con.execute(sql).df()
    finally:
        con.close()


def _spark_pandas(rows, columns) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in rows], columns=columns)


# ---------------------------------------------------------------------------
# olap_tpch
# ---------------------------------------------------------------------------


class OlapTpch:
    """Seven registry queries, each fully executed through the ``noop``
    sink, in a seed-shuffled order."""

    QUERIES = (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_revenue_change", "q_sql_returned_items", "q_window_topk_per_group",
        "events_tumbling_window",
    )
    SCANNED = ("lineitem", "orders", "customer", "supplier", "nation",
               "region", "events")
    # Every pass compiles 5-21 new generated classes (Spark's codegen cache
    # misses) and the JIT compiles them in the background, so pass times
    # fall for about five passes after set-up: on a 4-vCPU host with little
    # CPU steal 5.3, 4.3, 4.1, 3.8, 3.5, then 3.2-3.5 s.
    WARM_PASSES = 4
    PASS_S = 3.5

    def __init__(self, work: str, seed: int, tiny: bool):
        self.dir = os.path.join(work, "tpch")
        self.seed, self.scale = seed, 0.01 if tiny else 0.25
        self.rng = random.Random(seed)

    def prepare(self) -> None:
        gen.tpch_tables(self.dir, self.seed, self.scale)
        import pyarrow.parquet as pq

        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.dir, f"{t}.parquet")).metadata.num_rows
            for t in self.SCANNED
        )
        from mare_spark.registry import all_queries

        self.defs = {n: all_queries()[n] for n in self.QUERIES}
        self.expected = {
            n: duck_oracle(self.dir, d.oracle) for n, d in self.defs.items()
        }

    def register(self, spark) -> None:
        from mare_spark.tables import load_tables

        load_tables(spark, self.dir)

    def run_pass(self, ctx: Ctx, warm: bool = False) -> dict:
        """Timed passes write every result to the ``noop`` sink, which keeps
        no rows; the warm pass collects every result through Arrow instead,
        and those are the results checked against the DuckDB oracles."""
        order = list(self.QUERIES)
        self.rng.shuffle(order)
        out: dict = {"ops": len(order), "results": {}} if warm else {"ops": len(order)}
        for name in order:
            op = ctx.op(name)
            try:
                with op.phase("build"):
                    df = self.defs[name].fn(ctx.spark, self.dir)
                with op.phase("action"):
                    if warm:
                        out["results"][name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed query is counted, not fatal
                ctx.errors.append(f"{name}: {exc!r}"[:500])
        return out

    def check(self, ctx: Ctx, out: dict) -> tuple[int, float | None]:
        if "results" not in out:
            return 0, None
        # a query that raised has no result and is already counted failed
        bad = [
            n for n, got in out["results"].items()
            if not frames_match(got, self.expected[n])
        ]
        ctx.errors.extend(f"{n}: result differs from the DuckDB oracle" for n in bad)
        # no duplicates are planted in these tables: recall of the empty set
        return len(bad), 1.0

    def cleanup(self) -> None:
        pass


# ---------------------------------------------------------------------------
# llm_dedup_export: the MaRe pipe stage, then the workload
# ---------------------------------------------------------------------------

GC_MAP = "awk '{ n += gsub(/[gc]/, \"\") } END { print n+0 }' /dna > /count"
GC_SUM = "awk '{ s += $1 } END { print s+0 }' /counts > /sum"
SCORE = "awk '{ id = $1; n = gsub(/[gc]/, \"\", $2); print id, n }' /reads > /scores"
TOP_K = 10
TOPK = f"LC_ALL=C sort -k2,2nr -k1,1 /scores | head -n {TOP_K} > /top"


class PipeStage:
    """The paper's own traffic, run inside ``llm_dedup_export`` on the
    subprocess backend over seeded FASTA-like reads: a GC count
    (``repartition`` + ``map`` + tree ``reduce``) and a screening-style top-k
    (``repartition_by`` + ``map`` + ``collect_reduce``)."""

    def __init__(self, work: str, seed: int, tiny: bool):
        self.dir = os.path.join(work, "reads")
        self.out_dir = os.path.join(work, "pipe_out")
        self.seed, self.tiny = seed, tiny
        self.parts = 4 if tiny else 8

    def prepare(self) -> None:
        n = 500 if self.tiny else 4000
        r = gen.reads(self.dir, self.seed, n_reads=n, read_len=300)
        self.input_rows = len(r["lines"]) + len(r["values"])
        self.gc_total = sum(s.count("g") + s.count("c") for s in r["lines"])
        scored = []
        for v in r["values"]:
            rid, seq = v.split(" ")
            scored.append((-(seq.count("g") + seq.count("c")), rid))
        self.topk = [f"{rid} {-neg}" for neg, rid in sorted(scored)[:TOP_K]]
        os.makedirs(self.out_dir, exist_ok=True)

    def register(self, spark) -> None:
        from mare_spark.tables import read_table

        read_table(spark, self.dir, "fasta")
        read_table(spark, self.dir, "reads")

    def run(self, ctx: Ctx, out: dict) -> None:
        from mare_spark.codecs import TextFile
        from mare_spark.dataset import MaRe
        from mare_spark.tables import read_table

        spark = ctx.spark
        op = ctx.op("pipe_gc_count")
        try:
            with op.phase("build"):
                res = (
                    MaRe(read_table(spark, self.dir, "fasta"))
                    .repartition(self.parts)
                    .map(TextFile("/dna"), TextFile("/count"), "busybox:1", GC_MAP)
                    .reduce(TextFile("/counts"), TextFile("/sum"), "busybox:1",
                            GC_SUM, depth=2)
                )
            with op.phase("action"):
                out["gc"] = [r.value for r in res.df.collect()]
        except Exception as exc:
            ctx.errors.append(f"pipe_gc_count: {exc!r}"[:500])
        op = ctx.op("pipe_topk")
        local = os.path.join(self.out_dir, "top.txt")
        try:
            with op.phase("build"):
                scored = (
                    MaRe(read_table(spark, self.dir, "reads"))
                    .repartition_by("sample", self.parts)
                    .map(TextFile("/reads"), TextFile("/scores"), "busybox:1", SCORE)
                )
            with op.phase("action"):
                scored.collect_reduce(
                    TextFile("/scores"), TextFile("/top"), "busybox:1", TOPK, local
                )
            with open(local) as fh:
                out["top"] = fh.read().splitlines()
        except Exception as exc:
            ctx.errors.append(f"pipe_topk: {exc!r}"[:500])

    def check(self, out: dict) -> list[str]:
        bad = []
        if "gc" in out and out["gc"] != [str(self.gc_total)]:
            bad.append(f"pipe_gc_count: got {out['gc']}, want {self.gc_total}")
        if "top" in out and out["top"] != self.topk:
            bad.append("pipe_topk: top-k differs from the recount")
        return bad

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)


class LlmDedupExport:
    """Exact dedup, MinHash-LSH near-dup pairs, the cleaning pipeline
    exported as training shards and verified, and exact top-k cosine, over
    a seeded corpus with planted duplicates; then the MaRe pipe stage."""

    THRESHOLD = 0.8
    MIN_TOKENS = 30
    SHARDS = 8
    WARM_PASSES = 0
    PASS_S = 14.0

    def __init__(self, work: str, seed: int, tiny: bool):
        self.dir = os.path.join(work, "corpus")
        self.export_dir = os.path.join(work, "export")
        self.seed, self.tiny = seed, tiny
        self.pipe = PipeStage(work, seed, tiny)

    def prepare(self) -> None:
        if self.tiny:
            size = dict(n_docs=300, vocab=3000, words=(10, 120), n_vecs=300)
        else:
            size = dict(n_docs=600, vocab=50_000, words=(20, 330), n_vecs=5000)
        c = gen.corpus(self.dir, self.seed, **size)
        self.pipe.prepare()
        self.input_rows = len(c["texts"]) + size["n_vecs"] + self.pipe.input_rows
        self.near_pairs = c["near_pairs"]
        ids, texts = c["doc_ids"], c["texts"]
        sh = {i: gen.shingles(t) for i, t in zip(ids, texts)}
        n_tok = {i: len(gen.norm_words(t)) for i, t in zip(ids, texts)}
        # exact Jaccard edges via an inverted index (no shingle is shared
        # by more than the operator's 1000-doc cap, so the cap never binds)
        index: dict[str, list[int]] = defaultdict(list)
        for i, s in sh.items():
            for g in s:
                index[g].append(i)
        if max(map(len, index.values())) > 1000:
            raise RuntimeError("generated corpus has a shingle above the 1000-doc cap")
        common: dict[tuple[int, int], int] = defaultdict(int)
        for docs in index.values():
            if len(docs) > 1:
                docs = sorted(docs)
                for x in range(len(docs)):
                    for y in range(x + 1, len(docs)):
                        common[(docs[x], docs[y])] += 1
        self.edges = set()
        for (a, b), k in common.items():
            if k / (len(sh[a]) + len(sh[b]) - k) >= self.THRESHOLD:
                self.edges.add((a, b))
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        self.kept = {
            i for i in ids if n_tok[i] >= self.MIN_TOKENS and find(i) == i
        }
        shard_xor = defaultdict(int)
        shard_rows = defaultdict(int)
        shard_tok = defaultdict(int)
        for i in self.kept:
            d = gen.digest60(i)
            s = d % self.SHARDS
            shard_xor[s] ^= d
            shard_rows[s] += 1
            shard_tok[s] += n_tok[i]
        self.manifest = {
            s: (shard_rows[s], shard_tok[s], shard_xor[s]) for s in shard_rows
        }
        from mare_spark.registry import all_queries

        q = all_queries()
        self.defs = {n: q[n] for n in (
            "dedup_exact", "dedup_minhash_lsh", "pipeline_clean_corpus",
            "sim_topk_cosine")}
        self.exp_exact = duck_oracle(self.dir, q["dedup_exact"].oracle)
        self.exp_topk = duck_oracle(self.dir, q["sim_topk_cosine"].oracle)

    def register(self, spark) -> None:
        from mare_spark.tables import read_table

        read_table(spark, self.dir, "documents")
        read_table(spark, self.dir, "embeddings")
        self.pipe.register(spark)

    def _collect(self, ctx: Ctx, name: str):
        from mare_spark.operators.dedup import release_caches

        op = ctx.op(name)
        with op.phase("build"):
            df = self.defs[name].fn(ctx.spark, self.dir)
        with op.phase("action"):
            rows = df.collect()
        release_caches(df)
        return _spark_pandas(rows, df.columns)

    def run_pass(self, ctx: Ctx, warm: bool = False) -> dict:
        from mare_spark.operators.dedup import release_caches
        from mare_spark.operators.export import export_training_shards, verify_export

        out: dict = {"ops": 7}
        for name, key in (("dedup_exact", "exact"), ("dedup_minhash_lsh", "pairs")):
            try:
                out[key] = self._collect(ctx, name)
            except Exception as exc:
                ctx.errors.append(f"{name}: {exc!r}"[:500])
        op = ctx.op("pipeline_clean_corpus")
        try:
            with op.phase("build"):
                kept = self.defs["pipeline_clean_corpus"].fn(ctx.spark, self.dir)
            with op.phase("action"), ctx.tracer.span("export.write"):
                out["manifest"] = export_training_shards(
                    kept, self.export_dir, id_col="doc_id", token_col="n_tokens",
                    n_shards=self.SHARDS,
                )
            release_caches(kept)
            vop = ctx.op("verify_export")
            with vop.phase("action"), ctx.tracer.span("export.verify"):
                out["verified"] = verify_export(ctx.spark, self.export_dir)
        except Exception as exc:
            ctx.errors.append(f"pipeline/export: {exc!r}"[:500])
        try:
            out["topk"] = self._collect(ctx, "sim_topk_cosine")
        except Exception as exc:
            ctx.errors.append(f"sim_topk_cosine: {exc!r}"[:500])
        self.pipe.run(ctx, out)
        return out

    def exported_ids(self) -> set[int]:
        import pyarrow.dataset as ds

        t = ds.dataset(self.export_dir, format="parquet", partitioning="hive",
                       exclude_invalid_files=True).to_table(columns=["doc_id"])
        return set(t.column("doc_id").to_pylist())

    def check(self, ctx: Ctx, out: dict) -> tuple[int, float | None]:
        """Outputs of operations that raised are missing here; those are
        already counted as failed."""
        bad: list[str] = []
        if "exact" in out and not frames_match(out["exact"], self.exp_exact):
            bad.append("dedup_exact differs from the DuckDB oracle")
        if "pairs" in out:
            pairs = out["pairs"]
            got = {(int(a), int(b)) for a, b in zip(pairs["doc_a"], pairs["doc_b"])}
            false = [p for p in got if p not in self.edges]
            found = sum(1 for p in self.near_pairs if p in got)
            if false or found < 0.98 * len(self.near_pairs):
                bad.append(
                    f"dedup_minhash_lsh: {len(false)} pairs below the threshold, "
                    f"{found}/{len(self.near_pairs)} planted pairs found"
                )
        recall = None
        if "manifest" in out:
            man = out["manifest"]
            got_man = {
                s["shard"]: (s["rows"], s["tokens"], s["id_xor"]) for s in man["shards"]
            }
            # the files on disk are the last pass's export
            ids = self.exported_ids()
            if got_man != self.manifest or ids != self.kept:
                bad.append(
                    f"pipeline_clean_corpus/export: {len(ids)} docs exported, "
                    f"{len(self.kept)} expected"
                )
            removed = sum(1 for a, b in self.near_pairs if not (a in ids and b in ids))
            recall = removed / len(self.near_pairs) if self.near_pairs else 1.0
            if "verified" in out and out["verified"] != man:
                bad.append("verify_export disagrees with the export manifest")
        if "topk" in out and not frames_match(out["topk"], self.exp_topk):
            bad.append("sim_topk_cosine differs from the DuckDB oracle")
        bad.extend(self.pipe.check(out))
        ctx.errors.extend(bad)
        return len(bad), recall

    def clusters(self, out: dict) -> int:
        """Multi-document clusters implied by the LSH pairs the pass
        returned (connected components of size >= 2)."""
        pairs = out.get("pairs")
        if pairs is None:
            return 0
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
            parent[find(int(a))] = find(int(b))
        return len({find(x) for x in list(parent)})

    def export_stats(self) -> tuple[float, int]:
        size = files = 0
        for root, _, names in os.walk(self.export_dir):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
        return size / 1e6, files

    def cleanup(self) -> None:
        shutil.rmtree(self.export_dir, ignore_errors=True)
        self.pipe.cleanup()



WORKLOADS = {
    "olap_tpch": OlapTpch,
    "llm_dedup_export": LlmDedupExport,
}
