"""Table maintenance: small-file compaction for append-heavy
collections.

The engine's durable tables (sharded vector collections, ANN code/
bucket tables) are written incrementally — every streaming micro-batch
or bulk append adds files. The reference never hits this because its
store is an in-memory matrix rebuilt per process (SURVEY.md §1.3); a
durable 100 TB table hits it hard: scan planning cost and task count
grow with the FILE count, not the byte count, so a partition that
accumulated 10k 100 KB files plans 10k splits where 80 would do.

Compaction is the standard fix and it is a pure Spark job: read the
table, rewrite it with bounded file sizes, swap directories. The swap
goes through the Hadoop FileSystem API bound to the table's own path
scheme, so hdfs:// and s3a:// collections compact the same way local
ones do (same reasoning as the ANN sidecar — never ``os``-module file
ops for table paths).

Sizing uses ``maxRecordsPerFile`` derived from the observed average
row width — one distributed pass, no per-partition driver loop, so a
table with 10k partition directories compacts in a single job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "table_file_stats",
    "compact_collection",
    "audit_constraints",
    "publish_table",
    "PublishAuditError",
]


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem + Path for ``path``'s scheme (local/hdfs/s3a)."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def table_file_stats(spark: SparkSession, path: str, suffix: str = ".parquet") -> dict:
    """``{n_files, total_bytes}`` for the data files under ``path``
    (recursive; checkpoint/metadata sidecars excluded by suffix)."""
    fs, hpath, _ = _fs_and_path(spark, path)
    it = fs.listFiles(hpath, True)
    n_files = 0
    total = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(suffix) and not name.startswith(("_", ".")):
            n_files += 1
            total += st.getLen()
    return {"n_files": n_files, "total_bytes": total}


def compact_collection(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = "shard",
) -> dict:
    """Rewrite a parquet table so every data file is ~``target_file_bytes``.

    One distributed job: the table is read whole, re-clustered on the
    partition column (one write task per partition directory, so files
    aren't fragmented across tasks) and written with
    ``maxRecordsPerFile`` = target bytes / observed average row width.
    The old directory is swapped out atomically-per-rename and removed
    only after the replacement is in place, so a concurrent reader sees
    either the old or the new file set, never a mix.

    .. warning:: Do NOT compact a table written by a Structured
       Streaming file sink (e.g. the ``stream_*_index_ingest`` tables)
       while it still serves sink-log-based readers: those readers list
       files through ``_spark_metadata``, and the rewritten files are
       not in the log — they would see the OLD file list (now deleted)
       or miss the new files. Stop the stream, compact, drop the
       ``_spark_metadata`` directory (readers then fall back to plain
       directory listing), and restart the stream with a fresh
       checkpoint/sink if continued ingest is needed.

    Returns ``{files_before, files_after, total_bytes, rows}``.
    """
    before = table_file_stats(spark, path)
    df = spark.read.parquet(path)
    rows = df.count()
    if rows == 0 or before["n_files"] == 0:
        return {**before, "files_before": before["n_files"], "files_after": before["n_files"], "rows": rows}
    avg_row = max(1, before["total_bytes"] // rows)
    max_records = max(1, target_file_bytes // avg_row)

    fs, hpath, jvm = _fs_and_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compacting")
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__precompact")
    if fs.exists(tmp):
        fs.delete(tmp, True)

    writer = df.repartition(partition_col) if partition_col and partition_col in df.columns else df.coalesce(
        max(1, (before["total_bytes"] + target_file_bytes - 1) // target_file_bytes)
    )
    w = writer.write.mode("overwrite").option("maxRecordsPerFile", max_records)
    if partition_col and partition_col in df.columns:
        w = w.partitionBy(partition_col)
    w.parquet(str(tmp))

    # swap: current → __precompact, new → current, drop the old copy
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(hpath, old):
        raise IOError(f"compact swap failed renaming {path}")
    if not fs.rename(tmp, hpath):
        fs.rename(old, hpath)  # roll back
        raise IOError(f"compact swap failed installing {tmp}")
    fs.delete(old, True)

    after = table_file_stats(spark, path)
    return {
        "files_before": before["n_files"],
        "files_after": after["n_files"],
        "total_bytes": after["total_bytes"],
        "rows": rows,
    }


def audit_constraints(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    fks: dict[str, tuple[DataFrame, str]] | None = None,
    checks: dict[str, Column] | None = None,
) -> DataFrame:
    """Constraint audit — the pre-publish data-quality gate: one row
    per declared constraint with its violation count.

    * ``not_null``: columns that must never be NULL — counted in ONE
      scan-wide aggregate shared by all such columns (and by
      ``checks``), no per-constraint pass;
    * ``unique``: key lists that must be unique — one groupBy per key
      (count>1 groups summed), the same shuffle a dedup would pay;
    * ``fks``: ``child_col → (parent_df, parent_col)`` referential
      checks — anti-join counts; the parent key set is usually a
      dimension, so AQE broadcasts it;
    * ``checks``: named boolean Columns that must hold per row (range
      checks, regex shapes) — violations counted in the shared scan.

    Returns ``(constraint, kind, n_violations)`` via a union of the
    tiny per-constraint scalar frames — a 100 TB audit costs one wide
    scan plus one shuffle per uniqueness key plus one pruned anti-join
    per FK, all independent jobs Catalyst can share scans across.
    """
    spark = df.sparkSession
    results: list[DataFrame] = []
    aggs, names = [], []
    for c in not_null or []:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"))
        names.append((f"not_null({c})", "not_null", f"__nn_{c}"))
    for name, cond in (checks or {}).items():
        # a NULL check result is a VIOLATION: "must hold per row" means
        # rows where the predicate is unknown don't get to pass silently
        aggs.append(
            F.sum((~F.coalesce(cond, F.lit(False))).cast("long")).alias(f"__ck_{name}")
        )
        names.append((f"check({name})", "check", f"__ck_{name}"))
    if aggs:
        row = df.agg(*aggs)
        structs = F.array(
            *[
                F.struct(
                    F.lit(label).alias("constraint"),
                    F.lit(kind).alias("kind"),
                    F.coalesce(F.col(alias), F.lit(0)).alias("n_violations"),
                )
                for label, kind, alias in names
            ]
        )
        results.append(row.select(F.explode(structs).alias("r")).select("r.*"))
    for key in unique or []:
        dup = (
            df.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("n_violations"))
            .select(
                F.lit(f"unique({','.join(key)})").alias("constraint"),
                F.lit("unique").alias("kind"),
                F.col("n_violations"),
            )
        )
        results.append(dup)
    for child_col, (parent, parent_col) in (fks or {}).items():
        orphans = (
            df.filter(F.col(child_col).isNotNull())
            .join(
                parent.select(F.col(parent_col).alias(child_col)).distinct(),
                child_col,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(
                F.lit(f"fk({child_col})").alias("constraint"),
                F.lit("fk").alias("kind"),
                F.col("n_violations"),
            )
        )
        results.append(orphans)
    if not results:
        return spark.createDataFrame(
            [], "constraint string, kind string, n_violations long"
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


class PublishAuditError(RuntimeError):
    """Raised when a write-audit-publish run fails its constraint
    audit; carries the violation rows and the staging path left on
    disk for inspection."""

    def __init__(self, staging_path: str, violations: list):
        self.staging_path = staging_path
        self.violations = violations
        detail = ", ".join(f"{r['constraint']}={r['n_violations']}" for r in violations)
        super().__init__(
            f"audit failed ({detail}); staged data left at {staging_path}"
        )


def publish_table(
    df,
    path: str,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    checks: dict | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Write-audit-publish (WAP): stage the table next to its final
    location, run the declared constraint audit ON THE STAGED FILES,
    and only then swap it into place — readers never see data that
    failed the audit, and a failed run leaves the staging directory on
    disk for debugging instead of half-publishing.

    The audit reads what was actually WRITTEN (not the input plan), so
    write-path bugs (lossy casts, partition pruning mistakes) are
    caught too. Swap is the same rename pair ``compact_collection``
    uses — a concurrent reader sees the old table or the new one,
    never a mix. Raises :class:`PublishAuditError` on violations.

    Returns ``{rows, n_files, violations: []}`` on success.
    """
    spark = df.sparkSession
    fs, hpath, jvm = _fs_and_path(spark, path)
    staging = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__staging")
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__prepublish")
    if fs.exists(staging):
        fs.delete(staging, True)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(str(staging))

    staged = spark.read.parquet(str(staging))
    audit = audit_constraints(
        staged, not_null=not_null, unique=unique, checks=checks
    ).collect()
    bad = [r.asDict() for r in audit if r["n_violations"] > 0]
    if bad:
        raise PublishAuditError(str(staging), bad)

    if fs.exists(old):
        fs.delete(old, True)
    had_prev = fs.exists(hpath)
    if had_prev and not fs.rename(hpath, old):
        raise IOError(f"publish swap failed renaming {path}")
    if not fs.rename(staging, hpath):
        if had_prev:
            fs.rename(old, hpath)  # roll back
        raise IOError(f"publish swap failed installing {staging}")
    if had_prev:
        fs.delete(old, True)
    stats = table_file_stats(spark, path)
    return {"rows": spark.read.parquet(path).count(), "n_files": stats["n_files"], "violations": []}
