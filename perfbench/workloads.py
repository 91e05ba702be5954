"""The benchmark's three workloads.

Each workload generates its inputs from the run's seed, builds its
state through the package's public insert/load path in ``setup``,
yields fixed op sequences from ``plan``, runs one op per ``execute``
call, and checks each op's output in ``check`` against an oracle that
does not use the code under test (numpy for vector search, DuckDB
mirrors for curation and RAG). ``layer_metrics`` runs the traced run's
per-layer probes. README.md says why each workload exists.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract as C
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract_oracle as O
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import text as TX
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import vector as V
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
    hash_embed_py,
    hash_embedding_udf,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    curation,
    dedup,
    ingest,
    rag,
    search,
    textstats,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.plans.explain import plan_summary
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.catalog import load_tables

#: per-layer metrics reported by every traced run; a layer a workload
#: does not reach stays 0
LAYER_UNITS = {
    "session.start_s": "s",
    "session.gc_ms": "ms",
    "session.jit_ms": "ms",
    "sources.load_ms": "ms",
    "sources.collection_files": "count",
    "ingest.build_s": "s",
    "ingest.upsert_ms": "ms",
    "ingest.touched_shards": "count",
    "ingest.rows_rewritten_per_row": "ratio",
    "functions.scan_us_per_row": "us",
    "functions.cosine_us_per_row": "us",
    "functions.l2_normalize_us_per_row": "us",
    "functions.hash_embed_us_per_chunk": "us",
    "search.topk_build_ms": "ms",
    "search.topk_exec_ms": "ms",
    "rag.build_ms": "ms",
    "rag.exec_ms": "ms",
    "textstats.gate_ms": "ms",
    "dedup.exact_ms": "ms",
    "dedup.near_dup_ms": "ms",
    "curation.docs_kept": "count",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_kept": "count",
    "dedup.pair_yield": "ratio",
    "plans.exchanges": "count",
    "plans.python_stages": "count",
    "op.self_ms": "ms",
    "sources.self_ms": "ms",
    "ingest.self_ms": "ms",
    "functions.self_ms": "ms",
    "search.self_ms": "ms",
    "rag.self_ms": "ms",
    "textstats.self_ms": "ms",
    "dedup.self_ms": "ms",
    "curation.self_ms": "ms",
    "plans.self_ms": "ms",
    "trace.query_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.spans": "count",
}


def empty_layer_metrics() -> dict:
    return {name: (0.0, unit) for name, unit in LAYER_UNITS.items()}


@dataclass(frozen=True)
class Op:
    kind: str  # "read" or "update"
    index: int  # position of its input in the generated inputs


def _interleave(n_updates: int, reads_per_update: int, first_update: int = 0, first_read: int = 0) -> list[Op]:
    """update, then ``reads_per_update`` reads, repeated."""
    ops = []
    for u in range(n_updates):
        ops.append(Op("update", first_update + u))
        r = first_read + u * reads_per_update
        ops += [Op("read", r + j) for j in range(reads_per_update)]
    return ops


class Workload:
    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = tracer
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)

    def rng(self, stream: int) -> np.random.Generator:
        """Independent, reproducible random stream ``stream`` of the seed."""
        return np.random.default_rng([self.seed, stream])

    def timed_noop(self, df, name: str, rows: int, reps: int = 3) -> float:
        """Median µs per row of writing ``df`` to Spark's noop sink."""
        times = []
        for _ in range(reps):
            with self.tracer.span(name):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times.append((time.perf_counter() - t) * 1e6 / rows)
        return statistics.median(times)

    def plan_counts(self, dfs: list) -> dict:
        exchanges = python_stages = 0
        for df in dfs:
            with self.tracer.span("plans.summary"):
                s = plan_summary(df)
            exchanges += s["n_exchanges"]
            python_stages += s["n_python_stages"]
        return {
            "plans.exchanges": (exchanges, "count"),
            "plans.python_stages": (python_stages, "count"),
        }

    def median_span(self, name: str) -> float:
        d = self.tracer.durations_ms(name)
        return statistics.median(d) if d else 0.0

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# ------------------------------------------------------------ vector search


def exact_topk(store: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    """Numpy cosine top-k with the engine's tie rule (score desc, id asc)."""
    norms = np.sqrt(np.einsum("ij,ij->i", store, store))
    qn = float(np.sqrt(q @ q))
    scores = (store @ q) / (np.where(norms == 0.0, 1e-12, norms) * (qn or 1e-12))
    order = np.lexsort((ids, -scores))[:k]
    return [int(i) for i in ids[order]], [round(float(s), 6) for s in scores[order]]


def unit_rows(X: np.ndarray) -> np.ndarray:
    n = np.sqrt(np.einsum("ij,ij->i", X, X))[:, None]
    return X / np.where(n == 0.0, 1e-12, n)


class VectorWorkload(Workload):
    """A durable sharded collection built in set-up through
    ``ingest.prepare_vectors`` + ``ingest.write_collection``, read with
    ``search.collection_topk`` and written with ``ingest.upsert_collection``."""

    N = 2000
    DIM = 64
    SHARDS = 8
    K = 10
    BATCH = 256

    def _write_raw(self, path: str, ids: np.ndarray, X: np.ndarray) -> None:
        emb = pa.FixedSizeListArray.from_arrays(pa.array(X.ravel()), X.shape[1])
        pq.write_table(
            pa.table({"vec_id": ids, "embedding": emb.cast(pa.list_(pa.float64()))}), path
        )

    def setup(self) -> None:
        X = self.rng(0).standard_normal((self.N, self.DIM))
        self.raw = os.path.join(self.work, "raw.parquet")
        self._write_raw(self.raw, np.arange(self.N, dtype=np.int64), X)
        self.path = os.path.join(self.work, "collection")
        with self.tracer.span("ingest.build"):
            prepared = ingest.prepare_vectors(self.spark.read.parquet(self.raw), self.DIM, self.SHARDS)
            ingest.write_collection(prepared, self.path, self.SHARDS)
        # the oracle's copy of the collection: id-indexed unit rows
        self.store = unit_rows(X)
        self.ids = np.arange(self.N, dtype=np.int64)

    def make_batches(self, n: int) -> None:
        """``n`` upsert batches: half ids already stored, half new."""
        rng = self.rng(2)
        self.batches, next_id = [], self.N
        for _ in range(n):
            old = rng.choice(next_id, self.BATCH // 2, replace=False)
            new = np.arange(next_id, next_id + self.BATCH // 2)
            next_id += self.BATCH // 2
            ids = rng.permutation(np.concatenate([old, new])).astype(np.int64)
            self.batches.append((ids, rng.standard_normal((self.BATCH, self.DIM))))
        self.rows_written: list[float] = []
        self.touched: list[float] = []

    def read(self, q: np.ndarray, op_id):
        with self.tracer.span("search.topk_build", op_id):
            df = search.collection_topk(self.spark, self.path, q.tolist(), k=self.K)
        with self.tracer.span("search.topk_exec", op_id):
            rows = df.collect()
        return [int(r["vec_id"]) for r in rows], [round(float(r["score"]), 6) for r in rows]

    def upsert(self, index: int, op_id):
        ids, X = self.batches[index]
        path = os.path.join(self.work, f"batch-{index}.parquet")
        self._write_raw(path, ids, X)
        with self.tracer.span("ingest.upsert", op_id):
            res = ingest.upsert_collection(
                self.spark, self.path, self.spark.read.parquet(path), self.SHARDS, self.DIM
            )
        self.touched.append(len(res["touched_shards"]))
        self.rows_written.append(res["rows_written"] / self.BATCH)
        return res

    def execute(self, op: Op, op_id=None):
        if op.kind == "update":
            return self.upsert(op.index, op_id)
        return self.read(self.queries[op.index], op_id)

    def check_read(self, q: np.ndarray, out) -> bool:
        return out == exact_topk(self.store, self.ids, q, self.K)

    def check_upsert(self, index: int, out) -> bool:
        """Applies the batch to the oracle's copy; checks run in op
        order, so later reads are checked against the updated copy."""
        ids, X = self.batches[index]
        grow = int(ids.max()) + 1 - len(self.ids)
        if grow > 0:
            self.store = np.vstack([self.store, np.zeros((grow, self.DIM))])
            self.ids = np.arange(len(self.store), dtype=np.int64)
        self.store[ids] = unit_rows(X)
        if len(out["touched_shards"]) == self.SHARDS:  # every row was rewritten
            return out["rows_written"] == len(self.ids)
        return bool(out["touched_shards"]) and out["rows_written"] >= self.BATCH

    def layer_metrics(self) -> dict:
        raw = self.spark.read.parquet(self.raw)
        q = V.vec_lit(self.queries[0].tolist())
        m = {
            "ingest.build_s": (self.median_span("ingest.build") / 1e3, "s"),
            "ingest.upsert_ms": (self.median_span("ingest.upsert"), "ms"),
            "ingest.touched_shards": (statistics.mean(self.touched), "count"),
            "ingest.rows_rewritten_per_row": (statistics.mean(self.rows_written), "ratio"),
            "search.topk_build_ms": (self.median_span("search.topk_build"), "ms"),
            "search.topk_exec_ms": (self.median_span("search.topk_exec"), "ms"),
            "sources.collection_files": (
                sum(len(fs) for _, _, fs in os.walk(self.path)), "count"
            ),
            "functions.scan_us_per_row": (
                self.timed_noop(raw.select("vec_id", "embedding"), "functions.scan", self.N),
                "us",
            ),
            "functions.cosine_us_per_row": (
                self.timed_noop(raw.select(V.cosine_sim("embedding", q)), "functions.cosine", self.N),
                "us",
            ),
            "functions.l2_normalize_us_per_row": (
                self.timed_noop(raw.select(V.l2_normalize("embedding")), "functions.l2_normalize", self.N),
                "us",
            ),
        }
        read = search.collection_topk(self.spark, self.path, self.queries[0].tolist(), k=self.K)
        write = ingest.prepare_vectors(
            self.spark.read.parquet(os.path.join(self.work, "batch-0.parquet")), self.DIM, self.SHARDS
        )
        m.update(self.plan_counts([read, write]))
        return m


class ServeTopK(VectorWorkload):
    """Read-only serving loop: distinct exact cosine top-10 queries.
    Its write latency comes from upserts run after the timed window, so
    no write shares the window with the reads; the warm-up upsert runs
    first."""

    WARMUP_READS = 4
    READS = 40
    POST_UPDATES = 3

    def plan(self):
        self.queries = self.rng(1).standard_normal((self.WARMUP_READS + self.READS, self.DIM))
        self.make_batches(1 + self.POST_UPDATES)
        warm = [Op("update", 0)] + [Op("read", i) for i in range(self.WARMUP_READS)]
        timed = [Op("read", self.WARMUP_READS + i) for i in range(self.READS)]
        return warm, timed, [Op("update", 1 + i) for i in range(self.POST_UPDATES)]

    def check(self, op: Op, out) -> bool:
        if op.kind == "update":
            return self.check_upsert(op.index, out)
        return self.check_read(self.queries[op.index], out)


class IngestMixed(VectorWorkload):
    """Upsert batches of 256 (half existing ids, half new) alternating
    with read-your-writes top-k reads on the same collection."""

    UPDATES = 4
    READS_PER_UPDATE = 8
    WARMUP_UPDATES = 1
    WARMUP_READS = 3  # per warm-up update

    def plan(self):
        total = self.WARMUP_UPDATES + self.UPDATES
        self.make_batches(total)
        # the reads after batch b search for its first READS_PER_UPDATE
        # rows (a mix of new and replaced ids) and expect each at rank 1
        probes = [(b, j) for b in range(total) for j in range(self.READS_PER_UPDATE)]
        self.queries = np.array([self.batches[b][1][j] for b, j in probes])
        self.expect_first = [int(self.batches[b][0][j]) for b, j in probes]
        warm = _interleave(self.WARMUP_UPDATES, self.WARMUP_READS)
        timed = _interleave(
            self.UPDATES, self.READS_PER_UPDATE, self.WARMUP_UPDATES, self.WARMUP_UPDATES * self.READS_PER_UPDATE
        )
        return warm, timed, []

    def check(self, op: Op, out) -> bool:
        if op.kind == "update":
            return self.check_upsert(op.index, out)
        first_ok = bool(out[0]) and out[0][0] == self.expect_first[op.index]
        return first_ok and self.check_read(self.queries[op.index], out)


# ------------------------------------------------------------ curation + RAG


#: the sf0.1 documents' vocabulary: 30 words, 10-100 tokens per doc
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]


def generate_documents(seed: int, n: int):
    """A corpus shaped like the sf0.1 ``documents`` table: ~1 % exact
    copies and ~5 % one-token edits of earlier documents, so exact and
    near-dup removal both have work."""
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[rng.integers(i)])
        elif i > 10 and r < 0.06:
            toks = texts[rng.integers(i)].split()
            toks[rng.integers(len(toks))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _curate(docs):
    """``curate_corpus`` with the declared contract slot's parameters,
    which its DuckDB mirror reproduces."""
    return curation.curate_corpus(
        docs,
        min_quality=C.CURATE_MIN_QUALITY,
        langs=C.CURATE_LANGS,
        near_dup_threshold=C.NEAR_DUP_THRESHOLD,
        n_hashes=C.MINHASH_N,
        n_bands=C.MINHASH_BANDS,
        shingle_n=C.SHINGLE_N,
        tid_path="vocab",
    )


class CurateRag(Workload):
    """Curation passes over a generated corpus, each followed by RAG
    context queries over the surviving documents."""

    DOCS = 500
    UPDATES = 2
    READS_PER_UPDATE = 14
    WARMUP_UPDATES = 2
    WARMUP_READS = 1  # per warm-up update

    def setup(self) -> None:
        pdf = generate_documents(self.seed, self.DOCS)
        self.docs_dir = os.path.join(self.work, "docs")
        os.makedirs(self.docs_dir)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(self.docs_dir, "documents.parquet"),
        )
        with self.tracer.span("sources.load"):
            self.docs = load_tables(self.spark, self.docs_dir)["documents"]
            self.docs.count()

    def plan(self):
        rng = self.rng(4)
        n_warm = self.WARMUP_UPDATES * self.WARMUP_READS
        n_q = n_warm + self.UPDATES * self.READS_PER_UPDATE
        self.questions = []
        while len(self.questions) < n_q:
            q = " ".join(rng.choice(VOCAB, rng.integers(3, 7)))
            if q not in self.questions:
                self.questions.append(q)
        warm = _interleave(self.WARMUP_UPDATES, self.WARMUP_READS)
        timed = _interleave(self.UPDATES, self.READS_PER_UPDATE, self.WARMUP_UPDATES, n_warm)
        self._oracle = None
        self.curated: dict[int, object] = {}
        return warm, timed, []

    def execute(self, op: Op, op_id=None):
        if op.kind == "update":
            # bench.py's honest-rep rule: every pass pays its signatures
            dedup.clear_signature_cache()
            with self.tracer.span("curation.curate_corpus", op_id):
                self.survivors = _curate(self.docs).select("doc_id", "text").localCheckpoint(eager=True)
            self.curated[op.index] = self.survivors
            return op.index
        q = self.questions[op.index]
        with self.tracer.span("rag.build", op_id):
            df = rag.rag_context(self.survivors, q, k=C.RAG_K, dim=C.RAG_DIM, max_words=C.CHUNK_WORDS)
        with self.tracer.span("rag.exec", op_id):
            row = df.collect()[0]
        return row["context"], row["prompt"]

    # ---- oracles

    def oracle(self):
        """DuckDB: the contract's curation mirror over the generated
        corpus, then the RAG tail over its survivors. The RAG mirror is
        the contract's (same chunk SQL, token hash, normalization and
        cosine), except that each token is hashed once instead of once
        per dimension."""
        if self._oracle is not None:
            return self._oracle
        import duckdb

        con = duckdb.connect()
        src = os.path.join(self.docs_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
        kept = sorted(r[0] for r in con.execute(O._oracle_curate_corpus()).fetchall())
        con.execute("DROP VIEW documents")
        con.execute(
            f"CREATE TABLE documents AS SELECT doc_id, text FROM read_parquet('{src}') "
            "WHERE doc_id IN (SELECT unnest(?))",
            [kept],
        )
        d = C.RAG_DIM
        con.execute(f"CREATE TABLE chunked AS {O._oracle_chunk_documents()}")
        con.execute(
            f"""
CREATE TABLE emb AS
WITH tok AS (SELECT chunk_id, unnest(regexp_split_to_array(trim(chunk_text), '\\s+')) AS t FROM chunked),
hashed AS (SELECT chunk_id, {O._sq_tok_hash('t')} AS h FROM tok),
b AS (SELECT chunk_id, h % {d} AS j,
             sum(CASE WHEN h % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END) AS v
      FROM hashed GROUP BY chunk_id, h % {d}),
p AS (SELECT chunk_id, list({{'j': j, 'v': v}}) AS p FROM b GROUP BY chunk_id),
raw AS (SELECT c.chunk_id, c.chunk_text,
          list_transform(range(0, {d}), j -> CAST(coalesce(
            list_sum(list_transform(list_filter(p.p, e -> e.j = j), e -> e.v)), 0.0) AS DOUBLE)) AS rawv
        FROM chunked c LEFT JOIN p USING (chunk_id))
SELECT chunk_id, chunk_text,
       list_transform(rawv, x -> x / coalesce(nullif({O._sq_norm('rawv')}, 0), 1e-12)) AS e
FROM raw
"""
        )
        self._oracle = (con, kept)
        return self._oracle

    def rag_oracle(self, question: str):
        con, _ = self.oracle()
        prompt = rag.PROMPT_TEMPLATE.replace("'", "''")
        # the question vector is a bound one-row column, not a literal,
        # so DuckDB does not rebuild it per list element
        return con.execute(
            f"""
WITH qv AS (SELECT CAST(? AS DOUBLE[]) AS q),
hits AS (SELECT chunk_id, chunk_text, {O._sq_cosine('e', 'q')} AS score
         FROM emb, qv ORDER BY score DESC, chunk_id LIMIT {C.RAG_K}),
ctx AS (SELECT string_agg('- ' || chunk_text, chr(10) || chr(10) ORDER BY score DESC, chunk_text) AS context
        FROM hits)
SELECT context, printf('{prompt}', context, ?) FROM ctx
""",
            [hash_embed_py(question, dim=C.RAG_DIM), question],
        ).fetchone()

    def check(self, op: Op, out) -> bool:
        if op.kind == "update":
            got = sorted(r[0] for r in self.curated[out].select("doc_id").collect())
            return got == self.oracle()[1]
        return tuple(out) == self.rag_oracle(self.questions[op.index])

    # ---- traced-run probes

    def layer_metrics(self) -> dict:
        docs = self.docs
        m = {
            "sources.load_ms": (self.median_span("sources.load"), "ms"),
            "rag.build_ms": (self.median_span("rag.build"), "ms"),
            "rag.exec_ms": (self.median_span("rag.exec"), "ms"),
        }
        chunks = ingest.chunk_documents(self.survivors, max_words=C.CHUNK_WORDS).localCheckpoint(eager=True)
        m["functions.hash_embed_us_per_chunk"] = (
            self.timed_noop(
                chunks.select(hash_embedding_udf(dim=C.RAG_DIM)("chunk_text")),
                "functions.hash_embed",
                chunks.count(),
            ),
            "us",
        )

        # curate_corpus's stages, one action each, built from the same
        # public column builders and operators curate_corpus composes
        def stage(name, df):
            with self.tracer.span(name):
                t = time.perf_counter()
                out = df.localCheckpoint(eager=True)
                return out, (time.perf_counter() - t) * 1e3

        base = docs.select("*", TX.tokens(F.col("text")).alias("__toks"))
        base = base.select("*", F.array_distinct(F.transform("__toks", F.lower)).alias("__ltoks"))
        enriched = base.select(
            "*",
            textstats.quality_columns("text", toks_col="__toks")[-1],
            textstats.lang_columns("text", ltoks_col="__ltoks")[0],
        ).drop("__toks", "__ltoks")
        gated, m_gate = stage(
            "textstats.gate",
            enriched.filter(
                (F.col("quality") >= C.CURATE_MIN_QUALITY) & F.col("pred_lang").isin(C.CURATE_LANGS)
            ),
        )
        deduped, m_exact = stage("dedup.exact", dedup.exact_dedup(gated, ["text"]))
        dedup.clear_signature_cache()
        pairs, m_near = stage(
            "dedup.near_dup",
            dedup.near_dup_pairs(
                deduped,
                threshold=C.NEAR_DUP_THRESHOLD,
                n_hashes=C.MINHASH_N,
                n_bands=C.MINHASH_BANDS,
                shingle_n=C.SHINGLE_N,
                tid_path="vocab",
            ),
        )
        losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        with self.tracer.span("curation.anti_join"):
            kept = deduped.join(losers, "doc_id", "left_anti").count()
        sig = dedup.minhash_signature(
            dedup.shingle_tids_vocab(deduped, n=C.SHINGLE_N), dedup.minhash_perms(C.MINHASH_N)
        )
        with self.tracer.span("dedup.candidates"):
            candidates = dedup.lsh_candidate_pairs(sig, C.MINHASH_BANDS, C.MINHASH_N).count()
        n_pairs = pairs.count()
        m.update(
            {
                "textstats.gate_ms": (m_gate, "ms"),
                "dedup.exact_ms": (m_exact, "ms"),
                "dedup.near_dup_ms": (m_near, "ms"),
                "curation.docs_kept": (kept, "count"),
                "dedup.candidate_pairs": (candidates, "count"),
                "dedup.pairs_kept": (n_pairs, "count"),
                "dedup.pair_yield": (n_pairs / max(candidates, 1), "ratio"),
            }
        )
        q = self.questions[0]
        m.update(self.plan_counts([
            _curate(docs),
            rag.rag_context(self.survivors, q, k=C.RAG_K, dim=C.RAG_DIM, max_words=C.CHUNK_WORDS),
        ]))
        return m


WORKLOADS = {"serve_topk": ServeTopK, "ingest_mixed": IngestMixed, "curate_rag": CurateRag}
