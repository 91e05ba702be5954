"""Corpus curation: the end-to-end training-data filter pipeline.

This is the composite the individual operators exist for — the standard
LLM pre-training data flow (C4/Gopher/RefinedWeb-style, public
literature): quality gate → language filter → exact dedup → near-dup
removal, emitting the surviving documents plus a per-stage audit count.

Each stage is one of this engine's checked operators (textstats
quality_score / lang_id, dedup exact + MinHash-LSH), composed so
Catalyst sees ONE plan: the quality/language predicates prune before
any hashing happens, exact dedup runs before the (more expensive)
near-dup stage, and the near-dup join only ever touches the already-
filtered survivor set.

Scale: the flow is filter → filter → one window shuffle (exact dedup)
→ collide-verify joins on the reduced set. Nothing scans the corpus
twice except the final anti-join of near-dup losers, which joins on
doc_id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    contamination as C,
    dedup as D,
    pii as PII,
    textstats as T,
)

__all__ = ["curate_corpus", "curate_corpus_full", "curation_report", "doc_signals", "c4_clean"]


def _attach_quality_lang(df: DataFrame, text_col: str) -> DataFrame:
    """Attach ``quality`` + ``pred_lang`` with the token arrays
    projected ONCE per row (r13 optimization): the signal expressions
    reference the token array ~4× each and per-language, and inlined
    ``tokens(text)`` re-runs the regex split per reference —
    higher-order-function expressions evaluate interpreted with no CSE
    (the dedup.shingle_tids_hash lesson; measured on the curation
    composite in OPTIMIZATION_r13.md). Values are identical: the
    pre-projected columns hold exactly the subexpressions the inline
    forms computed."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import (
        text as TX,
    )

    # collision guard (r14, ADVICE): a pre-existing __toks/__ltoks column
    # (leaked from a composed operator) would make the projections below
    # ambiguous and the final drop() would remove both copies
    clash = {"__toks", "__ltoks"} & set(df.columns)
    if clash:
        raise ValueError(
            f"input already carries reserved column(s) {sorted(clash)}; "
            "drop or rename them before the quality/lang projection"
        )
    base = df.select("*", TX.tokens(F.col(text_col)).alias("__toks"))
    base = base.select(
        "*",
        F.array_distinct(F.transform(F.col("__toks"), F.lower)).alias("__ltoks"),
    )
    # pick each signal by name; the optimizer folds the struct away
    quality = F.struct(*T.quality_columns(text_col, toks_col="__toks"))["quality"]
    pred_lang = F.struct(*T.lang_columns(text_col, ltoks_col="__ltoks"))["pred_lang"]
    return base.select(
        "*", quality.alias("quality"), pred_lang.alias("pred_lang")
    ).drop("__toks", "__ltoks")


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: list[str] | None = None,
    near_dup_threshold: float = 0.8,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tid_path: str = "hash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Surviving documents after the full curation chain.

    Near-dup pairs keep the LOWER doc_id (the canonical copy survives,
    later copies drop) — the same keep-min rule as exact dedup, so the
    pipeline is deterministic end to end. Returns the surviving rows of
    ``docs`` with ``quality`` and ``pred_lang`` audit columns attached.
    ``max_bucket_size`` caps pathological LSH buckets in the near-dup
    stage (see dedup.lsh_candidate_pairs) — on a real crawl, set it;
    boilerplate buckets otherwise blow up quadratically. NOTE: exact
    dedup runs BEFORE near-dup here, so identical boilerplate already
    collapsed — the cap matters for *near*-identical template families.
    Raises ``ValueError`` if ``docs`` already carries a reserved
    ``__toks`` or ``__ltoks`` column; drop them before calling.
    """
    # quality + lang are pure per-row expressions: attach them on the
    # scan — no enrichment joins, no shuffle (token arrays projected
    # once, see _attach_quality_lang)
    enriched = _attach_quality_lang(docs, text_col)
    gated = enriched.filter(F.col("quality") >= min_quality)
    if langs:
        gated = gated.filter(F.col("pred_lang").isin(list(langs)))

    deduped = D.exact_dedup(gated, [text_col], id_col=id_col)

    pairs = D.near_dup_pairs(
        deduped,
        threshold=near_dup_threshold,
        n_hashes=n_hashes,
        n_bands=n_bands,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
        tid_path=tid_path,
        max_bucket_size=max_bucket_size,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return deduped.join(losers, id_col, "left_anti")


def curate_corpus_full(
    docs: DataFrame,
    probes: DataFrame | None = None,
    min_quality: float = 0.5,
    langs: list[str] | None = None,
    max_dup_ngram_ratio: float = 1.0,
    repeat_n: int = 3,
    near_dup_threshold: float = 0.8,
    contam_n: int = 5,
    contam_threshold: float = 0.5,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    tid_path: str = "hash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The full hygiene chain a pre-training pipeline runs, as ONE plan:

    quality gate → language filter → repetition gate (Gopher-style
    duplicate-n-gram ceiling) → PII redaction → exact dedup → near-dup
    removal → benchmark decontamination (when ``probes`` is given).

    Ordering rationale: the cheap per-row gates (quality, lang,
    repetition — pure projections/doc-local aggregations) prune before
    anything joins; PII redaction rewrites the text BEFORE dedup so two
    copies differing only in, say, a contact address still collapse;
    decontamination runs last, on the survivor set, because its
    broadcast-collision cost scales with surviving rows.

    Returns survivors with audit columns ``(quality, pred_lang,
    dup_ngram_ratio)`` and ``text_col`` holding the REDACTED text.
    """
    # quality + lang attach as pure expressions (token arrays projected
    # once, see _attach_quality_lang); only the repetition signal needs
    # its aggregation, so only IT joins back
    rep = T.repetition_stats(docs, n=repeat_n, id_col=id_col, text_col=text_col).select(
        id_col, "dup_ngram_ratio"
    )
    # LEFT join + coalesce(0): repetition_stats emits a row for every
    # doc whose text tokenizes (shingles guarantees ≥1 shingle for
    # non-null text), but a NULL-text doc has no repetition row — an
    # inner join would silently drop it here instead of letting the
    # quality gate count/reject it like every other gate does.
    enriched = (
        _attach_quality_lang(docs, text_col)
        .join(rep, id_col, "left")
        .withColumn("dup_ngram_ratio", F.coalesce(F.col("dup_ngram_ratio"), F.lit(0.0)))
    )
    gated = enriched.filter(
        (F.col("quality") >= min_quality)
        & (F.col("dup_ngram_ratio") <= max_dup_ngram_ratio)
    )
    if langs:
        gated = gated.filter(F.col("pred_lang").isin(list(langs)))

    red = PII.pii_redact(gated, id_col=id_col, text_col=text_col, out_col="__red")
    red = red.drop(text_col).withColumnRenamed("__red", text_col)

    deduped = D.exact_dedup(red, [text_col], id_col=id_col)
    pairs = D.near_dup_pairs(
        deduped,
        threshold=near_dup_threshold,
        n_hashes=n_hashes,
        n_bands=n_bands,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
        tid_path=tid_path,
        max_bucket_size=max_bucket_size,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = deduped.join(losers, id_col, "left_anti")

    if probes is not None:
        flagged = C.contaminated_docs(
            survivors, probes, n=contam_n, threshold=contam_threshold,
            id_col=id_col, text_col=text_col,
        )
        survivors = survivors.join(flagged, id_col, "left_anti")
    return survivors


def curation_report(
    docs: DataFrame,
    curated: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row audit: input count, surviving count, drop rate."""
    n_in = docs.select(F.count("*").alias("n_input"))
    n_out = curated.select(F.count("*").alias("n_survived"))
    return n_in.crossJoin(n_out).select(
        "n_input",
        "n_survived",
        F.round(1.0 - F.col("n_survived") / F.col("n_input"), 6).alias("drop_rate"),
    )


def doc_signals(
    docs: DataFrame,
    repeat_n: int = 3,
    lm_alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The materialized per-document signals table: every quality gate's
    input computed ONCE — heuristic quality + predicted language (pure
    expressions riding the base scan), repetition ratios (per-row
    projection), and the bigram-LM perplexity (the one signal needing
    corpus-level state). Real pipelines persist exactly this frame and
    iterate on gate thresholds without touching the corpus again —
    re-gating is then a filter over a tiny table instead of a 100 TB
    re-scan.

    LEFT joins keep blank/NULL-text docs visible with NULL LM scores
    (the signals table must account for every doc; silently dropping
    ungateable rows is how corpora leak garbage).

    Output: ``(id, quality, pred_lang, dup_ngram_ratio, n_bigrams,
    avg_logp, ppl)``. Raises ``ValueError`` if ``docs`` already carries
    a reserved ``__toks`` or ``__ltoks`` column; drop them before
    calling.
    """
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
        lm as LM,
    )

    base = _attach_quality_lang(docs, text_col).select(
        F.col(id_col), "quality", "pred_lang"
    )
    rep = T.repetition_stats(docs, n=repeat_n, id_col=id_col, text_col=text_col).select(
        id_col, "dup_ngram_ratio"
    )
    lm = LM.lm_score(docs, alpha=lm_alpha, id_col=id_col, text_col=text_col)
    return (
        base.join(rep, id_col, "left")
        .join(lm, id_col, "left")
        .select(
            id_col, "quality", "pred_lang", "dup_ngram_ratio",
            "n_bigrams", "avg_logp", "ppl",
        )
    )


def c4_clean(
    docs: DataFrame,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style line-level page cleaning (Raffel et al. 2020 §2.2, the
    published Common-Crawl recipe): keep only lines that end in
    terminal punctuation AND carry at least ``min_words_per_line``
    words; then gate the page itself — drop it when the cleaned text
    has fewer than ``min_sentences`` sentences or contains the
    boilerplate markers ("lorem ipsum", a curly brace, "javascript").

    Differs from the doc-level quality gate (textstats.quality_columns)
    in that it REWRITES the text: navigation stubs, button labels and
    code fragments are removed line-by-line while the prose survives.

    Pure projection — array ops on the split text, no shuffle, no UDF;
    every predicate is mirrorable SQL (regex kept to a dialect-neutral
    character class).

    Returns ``(id, n_lines, n_kept_lines, n_sentences, clean_text,
    keep)`` where ``keep`` is the page-level gate.
    """
    txt = F.col(text_col)
    lines = F.split(txt, "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line),
    )
    clean = F.array_join(F.transform(kept, F.trim), "\n")
    # sentences ≈ terminal-punctuation runs in the cleaned text
    n_sent = F.size(F.split(clean, "[.!?]+")) - F.lit(1)
    # page-level markers test the ORIGINAL page (C4 drops the whole
    # page on sight, independent of which lines survive)
    lower = F.lower(txt)
    bad = (
        lower.contains("lorem ipsum")
        | txt.contains("{")
        | lower.contains("javascript")
    )
    return docs.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        clean.alias("clean_text"),
        ((n_sent >= min_sentences) & ~bad & (F.size(kept) >= 1)).alias("keep"),
    )
