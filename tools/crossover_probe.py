"""Genuinely-scaled crossover probe for the self-audit families
(r9 verdict #2): the round-9 second-wave idle timings showed
`dedup_recall` / `containment_pairs` >2x their DuckDB mirrors at
sf0.1 (5k docs), with the credible-but-unmeasured explanation that
the mirrors are QUADRATIC (brute-force all-pairs) and therefore
artificially cheap at toy size. Replica synthesis was measured and
rejected in round 9 (BASELINE.md: replication grows result sets
quadratically BY CONSTRUCTION) — this probe scales the data the way
real data scales: the real sf corpus plus RECOMBINED distinct docs — new
  doc = first half of hash-chosen parent A + second half of
  hash-chosen parent B, so token/shingle frequency statistics (which
  drive the brute-force mirror's join fan-out) stay corpus-realistic
  while no duplication FAMILY grows (pairwise Jaccard between
  recombinations ~0.33, far under the 0.8 threshold; uniform-random
  synthetic text was tried first and rejected — random 3-shingles
  never collide, which makes the quadratic mirror artificially
  LINEAR). Near-dup positives come from the real corpus slice;
  containment excerpts are planted by the entry itself (every 7th
  doc).

Usage:  python tools/crossover_probe.py <family> <scale> [<scale> ...]
        family = any documents-table entry (dedup_recall,
        containment_pairs, exact_dedup_docs, ...)
        scale = doc count

Prints one JSON line per scale: spark median (3 reps, warm excluded)
vs DuckDB mirror median on the SAME parquet.
"""
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FAMILY = sys.argv[1]
SCALES = [int(x) for x in sys.argv[2:]] or [5000, 25000]

from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract

spark = get_spark("crossover_probe")
spark.sparkContext.setLogLevel("ERROR")
qs = {**contract.queries(), **contract.extra_queries()}
oracles = contract.oracle_sql()


def synth_documents(n: int, out: str) -> None:
    """The real corpus + (n - |corpus|) recombined distinct docs."""
    real = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    base_n = real.count()
    parents = real.select(
        F.col("doc_id").alias("__pid"), F.split("text", " ").alias("__toks")
    ).localCheckpoint(eager=True)
    gen = spark.range(base_n, max(n, base_n)).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), F.lit(base_n)).alias("__pa"),
        F.pmod(F.xxhash64(F.col("id") * 31 + 7), F.lit(base_n)).alias("__pb"),
    )
    pa = parents.select(
        F.col("__pid").alias("__pa"), F.col("__toks").alias("__ta")
    )
    pb = parents.select(
        F.col("__pid").alias("__pb"), F.col("__toks").alias("__tb")
    )
    recomb = (
        gen.join(pa, "__pa")
        .join(pb, "__pb")
        .select(
            "doc_id",
            F.array_join(
                F.concat(
                    F.slice(F.col("__ta"), 1, F.floor(F.size("__ta") / 2).cast("int")),
                    F.slice(
                        F.col("__tb"),
                        (F.floor(F.size("__tb") / 2) + 1).cast("int"),
                        F.size("__tb"),
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    docs = real.unionByName(recomb).select(
        "doc_id",
        "text",
        F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.length("text").alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(out)


def synth_embeddings(n: int, out: str) -> None:
    """The real vector corpus + (n - |corpus|) deterministic fresh
    vectors (hash-derived components in [-1, 1]) — corpus growth the
    way a vector store grows: new ids, same dimensionality and
    distribution family; the fixed query set's exact-kNN work (both
    engines) scales linearly with N."""
    real = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base_n = real.count()
    dim = len(real.first().embedding)
    gen = spark.range(base_n, max(n, base_n)).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(
                        F.xxhash64(F.col("id") * 97 + j), F.lit(2_000_001)
                    )
                    / F.lit(1_000_000.0)
                    - 1.0
                ).cast("float")
                for j in range(dim)
            ]
        ).alias("embedding"),
        F.lit(0).alias("label"),
    )
    real.select("vec_id", "embedding", "label").unionByName(gen).write.mode(
        "overwrite"
    ).parquet(out)


#: families whose input table is not documents
EMBEDDING_FAMILIES = {
    "knn_join",
    "knn_join_expr",
    "topk_cosine",
    "topk_l2",
    "mmr_knn_join",
    "bq_topk",
}


for scale in SCALES:
    tmp = tempfile.mkdtemp(prefix="crossover_")
    try:
        if FAMILY in EMBEDDING_FAMILIES:
            synth_embeddings(scale, f"{tmp}/embeddings.parquet")
            tables = ["embeddings"]
        else:
            synth_documents(scale, f"{tmp}/documents.parquet")
            tables = ["documents"]

        def run():
            t0 = time.perf_counter()
            qs[FAMILY](spark, tmp).write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        warm = run()
        times = [run() for _ in range(3)]

        import duckdb

        con = duckdb.connect()
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tmp}/{t}.parquet/*.parquet')"
            )
        sql = oracles[FAMILY]
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        dwarm = time.perf_counter() - t0
        dts = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dts.append(time.perf_counter() - t0)
        con.close()
        sm, dm = statistics.median(times), statistics.median(dts)
        print(
            json.dumps(
                {
                    "family": FAMILY,
                    "scale": scale,
                    "spark_warm": round(warm, 3),
                    "spark_median": round(sm, 3),
                    "duckdb_warm": round(dwarm, 3),
                    "duckdb_median": round(dm, 3),
                    "ratio": round(sm / dm, 3) if dm else None,
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
