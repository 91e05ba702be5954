"""DuckDB oracle SQL mirrors for the driver contract.

Every checked entry in :mod:`.contract` (``queries()`` +
``extra_queries()``) has its ANSI-SQL twin here: same tables, same
arithmetic (sequential float folds, md5-derived portable hashes, the
exact rounding discipline), aliased to the same column names, so the
driver's row-count + schema + value-hash compare is byte-meaningful.

Layout mirrors the operator families: ``_sq_*`` are reusable SQL
fragment builders (dot/norm/cosine, tokenization, shingles, MinHash,
PQ/SQ/BM25 CTEs); ``_oracle_*`` build one query's SQL; ``oracle_sql()``
is the registry the driver reads (re-exported by
``contract.oracle_sql``). Constants are imported from
:mod:`.contract` — the single source of truth for workload parameters —
which never imports this module at top level, so there is no cycle.
"""

from __future__ import annotations

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions import text as TX
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import (
    dedup as D,
    textstats as T,
)

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (  # noqa: E501
    BM25_B,
    BM25_K1,
    BM25Q_MOD,
    BM25Q_TOKENS,
    BQ_SHORTLIST,
    BUDGET_TOKENS,
    BULK_DIM,
    BULK_N,
    CHUNK_STRIDE,
    CHUNK_WORDS,
    CONTAM_N,
    CONTAM_PROBE_MOD,
    CONTAM_PROBE_TOKENS,
    CONTAM_THRESHOLD,
    CURATE_LANGS,
    CURATE_MAX_DUP,
    CURATE_MIN_QUALITY,
    DSIR_ALPHA,
    DSIR_BUCKETS,
    DUP_SPAN_N,
    EMB_NEAR_DUP_TAU,
    FILTER_LABEL,
    GRAPH_BEAM,
    GRAPH_DEG,
    GRAPH_ENTRIES,
    GRAPH_K,
    GRAPH_ROUNDS,
    GROUP_TOPK_K,
    HYBRID_K_EACH,
    HYBRID_W_DENSE,
    IVF_NPROBE,
    IVF_N_CENTROIDS,
    JACCARD_MIN,
    KMEANS_K,
    KNN_K,
    KNN_QUERIES,
    KFOLD_K,
    PORTABLE_SQL_FORECAST_REVENUE,
    PORTABLE_SQL_HOT_KEYS,
    PORTABLE_SQL_KNN_JOIN,
    PORTABLE_SQL_RANGE_SEARCH,
    PORTABLE_SQL_TOPK_COSINE,
    PORTABLE_SQL_PRIORITY_ORDERS,
    PQ_BEAM_RERANK,
    RANGE_COS_T,
    RANGE_L2_RADIUS,
    LANG_HEAD_DIM,
    LM_ALPHA,
    MAXSIM_K,
    MRL_M,
    MRL_SHORTLIST,
    LSH_PLANES,
    MINHASH_BANDS,
    MINHASH_N,
    MIX_TARGET,
    MIXPIPE_MIN_PCTL,
    MIXPIPE_TARGET,
    MULTIPROBE_BUCKETS,
    NEAR_DUP_THRESHOLD,
    N_SHARDS,
    PACK_SEQ_LEN,
    POOL_DOC_LIMIT,
    PPM_HEADER,
    PPM_W,
    PPM_H,
    PQ_KSUB,
    PQ_M,
    PQ_RERANK,
    PRICE_BANDS,
    RAG_DIM,
    RAG_K,
    RAG_QUESTION,
    RANK_EVAL_M,
    REPEAT_N,
    RRF_C,
    SAMPLE_RATES,
    SESSION_GAP_MIN,
    SHARD_PROBE,
    SHINGLE_N,
    SIMHASH_BITS,
    SIMHASH_BLOCKS,
    SIMHASH_MAX_HAMMING,
    SQ_RERANK,
    RP_OUT,
    TOPK_K,
    TOPNG_N,
    TOPNG_TOP,
    VIEW_CLICK_WINDOW_MIN,
    WAV_CH,
    WAV_FRAMES,
    WAV_RATE,
    WAV_SPEC_FRAME,
    _PERMS,
    _lang_head_artifact,
)


def _sq_dot(a: str, b: str) -> str:
    """Sequential-fold double dot product (mirrors functions.vector.dot)."""
    return (
        f"list_sum(list_transform({a}, (x, i) ->"
        f" CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )

def _sq_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

def _sq_cosine(a: str, b: str) -> str:
    # per-side zero-only ε guard, mirroring functions.vector.cosine_sim
    return (
        f"({_sq_dot(a, b)} / (coalesce(nullif({_sq_norm(a)}, 0), 1e-12)"
        f" * coalesce(nullif({_sq_norm(b)}, 0), 1e-12)))"
    )

def _sq_l2sq(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform({a}, (x, i) ->"
        f" (CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )

def _sq_score(a: str, b: str, metric: str) -> str:
    if metric == "cosine":
        return _sq_cosine(a, b)
    return f"(- {_sq_l2sq(a, b)})"

def _sq_vec(vec) -> str:
    return "([" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[])"

#: whitespace tokenization of trimmed text (mirrors functions.text.tokens)
_SQ_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

#: portable 60-bit token hash (mirrors functions.text.portable_token_hash)
def _sq_tok_hash(t: str) -> str:
    return f"CAST(concat('0x', substr(md5({t}), 1, 15)) AS BIGINT)"

def _sq_shingles(toks: str, n: int) -> str:
    """Word n-gram shingles (mirrors functions.text.shingles)."""
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )

def _sq_minhash_sig() -> str:
    """MinHash signature list literal over column ``tids`` (mirrors
    operators.dedup.minhash_signature with the shared perms)."""
    mins = ", ".join(
        f"list_min(list_transform(tids, x -> ({a} * x + {b}) % {D.MINHASH_PRIME}))"
        for a, b in _PERMS
    )
    return f"[{mins}]"

def _sq_tids_ctes_from(src: str) -> str:
    """shingle → dense-vocab tids CTEs over ``src`` (mirrors
    operators.dedup.shingle_tids_vocab — the vocabulary is built over
    exactly the rows the Spark side sees); exposes ``tids(doc_id, tids)``."""
    return f"""
__toks AS (SELECT doc_id, {_SQ_TOKS} AS t FROM {src}),
__sh AS (SELECT doc_id, unnest(list_distinct({_sq_shingles('t', SHINGLE_N)})) AS shingle FROM __toks),
__vocab AS (SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS tid
            FROM (SELECT DISTINCT shingle FROM __sh)),
tids AS (SELECT doc_id, list(tid) AS tids FROM __sh JOIN __vocab USING (shingle) GROUP BY doc_id)
"""

_SQ_TIDS_CTES = _sq_tids_ctes_from("documents")

#: near-dup candidate+verify CTEs on top of ``tids``; exposes
#: ``near_pairs(id_a, id_b, jaccard)`` (unrounded jaccard, thresholded)
_SQ_NEAR_DUP_CTES = f"""
__sig AS (SELECT doc_id, tids, {_sq_minhash_sig()} AS sig FROM tids),
__bands AS (SELECT doc_id, j AS band,
                   array_to_string(list_transform(list_slice(sig, j * {MINHASH_N // MINHASH_BANDS} + 1,
                        (j + 1) * {MINHASH_N // MINHASH_BANDS}), x -> CAST(x AS VARCHAR)), '-') AS key
            FROM __sig, (SELECT unnest(range(0, {MINHASH_BANDS})) AS j)),
__cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM __bands a JOIN __bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
near_pairs AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(ta.tids, tb.tids)) AS DOUBLE)
           / (len(ta.tids) + len(tb.tids) - len(list_intersect(ta.tids, tb.tids))) AS jaccard
  FROM __cand JOIN tids ta ON ta.doc_id = id_a JOIN tids tb ON tb.doc_id = id_b
  WHERE CAST(len(list_intersect(ta.tids, tb.tids)) AS DOUBLE)
           / (len(ta.tids) + len(tb.tids) - len(list_intersect(ta.tids, tb.tids))) >= {NEAR_DUP_THRESHOLD}
)
"""

#: simhash CTE; exposes ``sim(doc_id, simhash)`` (mirrors operators.dedup.simhash)
_SQ_SIMHASH_CTES = f"""
__h AS (SELECT doc_id, list_transform({_SQ_TOKS}, t -> {_sq_tok_hash('t')}) AS hs FROM documents),
__c AS (SELECT doc_id, list_transform(range(0, {SIMHASH_BITS}),
             j -> list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1))) AS counts FROM __h),
sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}),
             j -> CASE WHEN counts[j + 1] >= 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
        FROM __c)
"""

def _r6(expr: str, name: str) -> str:
    return f"round({expr}, 6) + 0.0 AS {name}"


def _oracle_model_lang_id() -> str:
    """Mirror of the trained head: hash-embed each doc in SQL, dot with
    the LITERAL weight columns from the same artifact, argmax with
    numpy's first-max tie rule (CASE chain in class order)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
        NumpyLogisticHead,
    )

    head = NumpyLogisticHead(_lang_head_artifact(), dim=LANG_HEAD_DIM)
    d = LANG_HEAD_DIM
    th = _sq_tok_hash("t")
    scores = []
    for ci, cls in enumerate(head.classes):
        wc = _sq_vec(head.W[:, ci])
        scores.append(f"({_sq_dot('e', wc)} + {float(head.b[ci])!r}) AS s{ci}")
    # numpy argmax = first index attaining the max
    case = "CASE "
    for ci, cls in enumerate(head.classes):
        conds = [f"s{ci} >= s{cj}" for cj in range(len(head.classes)) if cj != ci]
        case += f"WHEN {' AND '.join(conds)} THEN '{cls}' " if conds else ""
    case += f"ELSE '{head.classes[-1]}' END"
    return f"""
WITH w AS (SELECT doc_id,
  CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE {_SQ_TOKS} END AS w
  FROM documents),
raw AS (SELECT doc_id,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM w),
emb AS (SELECT doc_id,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM raw),
sc AS (SELECT doc_id, {', '.join(scores)} FROM emb)
SELECT doc_id, {case} AS model_lang FROM sc
"""

def _oracle_ppm_image_features() -> str:
    w, h = PPM_W, PPM_H
    n_bytes = len(PPM_HEADER) + w * h * 3
    pix = f"CAST((doc_id * 31 + y * {w} + x + 7 * c) % 256 AS DOUBLE)"
    lum_c = lambda c: f"CAST((doc_id * 31 + y * {w} + x + {7 * c}) % 256 AS DOUBLE)"  # noqa: E731
    luma = f"((0.299 * {lum_c(0)} + 0.587 * {lum_c(1)}) + 0.114 * {lum_c(2)})"
    return f"""
WITH px AS (
  SELECT doc_id, x, y, c, {pix} AS v
  FROM documents, range(0, {w}) tx(x), range(0, {h}) ty(y), range(0, 3) tc(c)
),
chan AS (SELECT doc_id, c, avg(v) AS m FROM px GROUP BY 1, 2),
chansd AS (
  SELECT px.doc_id, px.c, sqrt(avg(pow(px.v - chan.m, 2))) AS sd
  FROM px JOIN chan ON px.doc_id = chan.doc_id AND px.c = chan.c
  GROUP BY 1, 2
),
lum AS (
  SELECT doc_id, x, y, {luma} AS l
  FROM documents, range(0, {w}) tx(x), range(0, {h}) ty(y)
),
lstats AS (
  SELECT doc_id, avg(l) AS ml,
         avg(CASE WHEN floor(l / 64.0) = 0 THEN 1.0 ELSE 0.0 END) AS h0,
         avg(CASE WHEN floor(l / 64.0) = 1 THEN 1.0 ELSE 0.0 END) AS h1,
         avg(CASE WHEN floor(l / 64.0) = 2 THEN 1.0 ELSE 0.0 END) AS h2,
         avg(CASE WHEN floor(l / 64.0) = 3 THEN 1.0 ELSE 0.0 END) AS h3
  FROM lum GROUP BY 1
),
mm AS (SELECT doc_id, min(v) AS mn, max(v) AS mx FROM px GROUP BY 1),
fv AS (
  SELECT c0.doc_id, [
    {float(w)!r}, {float(h)!r}, {float(w) / float(h)!r},
    c0.m / 255.0, c1.m / 255.0, c2.m / 255.0,
    s0.sd / 255.0, s1.sd / 255.0, s2.sd / 255.0,
    l.ml / 255.0, l.h0, l.h1, l.h2, l.h3,
    mm.mn / 255.0, mm.mx / 255.0
  ]::DOUBLE[] AS f
  FROM chan c0
  JOIN chan c1 ON c0.doc_id = c1.doc_id AND c1.c = 1
  JOIN chan c2 ON c0.doc_id = c2.doc_id AND c2.c = 2
  JOIN chansd s0 ON c0.doc_id = s0.doc_id AND s0.c = 0
  JOIN chansd s1 ON c0.doc_id = s1.doc_id AND s1.c = 1
  JOIN chansd s2 ON c0.doc_id = s2.doc_id AND s2.c = 2
  JOIN lstats l ON c0.doc_id = l.doc_id
  JOIN mm ON c0.doc_id = mm.doc_id
  WHERE c0.c = 0
)
SELECT doc_id, {n_bytes} AS n_bytes, CAST(j AS INT) AS pos,
       {_r6('f[CAST(j + 1 AS BIGINT)]', 'val')}
FROM fv, range(0, 16) tj(j)
"""

def _oracle_jpeg_image_features() -> str:
    """Analytic mirror of the baseline-JPEG REAL-decode entry: the
    constant-block fixture round-trips the DCT exactly (DC quant 8 —
    see contract.JPEG_W), so the expected pixels are pure formulas of
    (doc_id, x, y): per-8x8-block luma, per-MCU chroma, then the SAME
    JFIF YCbCr->RGB arithmetic the decoder runs (floor(x+0.5), clamp)
    — the oracle never parses a single entropy-coded bit, so Huffman /
    DC-prediction / IDCT / upsample / color bugs all break the hash."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        JPEG_H,
        JPEG_W,
    )

    w, h = JPEG_W, JPEG_H
    yv = "CAST((doc_id * 37 + (y // 8) * 59 + (x // 8) * 17) % 256 AS DOUBLE)"
    cb = "CAST((doc_id * 7 + (x // 16) * 29 + 64) % 256 AS DOUBLE)"
    cr = "CAST((doc_id * 13 + (x // 16) * 53 + 192) % 256 AS DOUBLE)"
    clamp = lambda e: f"least(255.0, greatest(0.0, floor({e} + 0.5)))"  # noqa: E731
    return f"""
WITH ycc AS (
  SELECT doc_id, x, y, {yv} AS yv, {cb} AS cbv, {cr} AS crv
  FROM documents, range(0, {w}) tx(x), range(0, {h}) ty(y)
),
rgbpx AS (
  SELECT doc_id, x, y,
         {clamp('yv + 1.402 * (crv - 128)')} AS r,
         {clamp('yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128)')} AS g,
         {clamp('yv + 1.772 * (cbv - 128)')} AS b
  FROM ycc
),
px AS (
  SELECT doc_id, x, y, c,
         CASE WHEN c = 0 THEN r WHEN c = 1 THEN g ELSE b END AS v
  FROM rgbpx, range(0, 3) tc(c)
),
chan AS (SELECT doc_id, c, avg(v) AS m FROM px GROUP BY 1, 2),
chansd AS (
  SELECT px.doc_id, px.c, sqrt(avg(pow(px.v - chan.m, 2))) AS sd
  FROM px JOIN chan ON px.doc_id = chan.doc_id AND px.c = chan.c
  GROUP BY 1, 2
),
lum AS (
  SELECT doc_id, x, y, ((0.299 * r + 0.587 * g) + 0.114 * b) AS l
  FROM rgbpx
),
lstats AS (
  SELECT doc_id, avg(l) AS ml,
         avg(CASE WHEN floor(l / 64.0) = 0 THEN 1.0 ELSE 0.0 END) AS h0,
         avg(CASE WHEN floor(l / 64.0) = 1 THEN 1.0 ELSE 0.0 END) AS h1,
         avg(CASE WHEN floor(l / 64.0) = 2 THEN 1.0 ELSE 0.0 END) AS h2,
         avg(CASE WHEN floor(l / 64.0) = 3 THEN 1.0 ELSE 0.0 END) AS h3
  FROM lum GROUP BY 1
),
mm AS (SELECT doc_id, min(v) AS mn, max(v) AS mx FROM px GROUP BY 1),
fv AS (
  SELECT c0.doc_id, [
    {float(w)!r}, {float(h)!r}, {float(w) / float(h)!r},
    c0.m / 255.0, c1.m / 255.0, c2.m / 255.0,
    s0.sd / 255.0, s1.sd / 255.0, s2.sd / 255.0,
    l.ml / 255.0, l.h0, l.h1, l.h2, l.h3,
    mm.mn / 255.0, mm.mx / 255.0
  ]::DOUBLE[] AS f
  FROM chan c0
  JOIN chan c1 ON c0.doc_id = c1.doc_id AND c1.c = 1
  JOIN chan c2 ON c0.doc_id = c2.doc_id AND c2.c = 2
  JOIN chansd s0 ON c0.doc_id = s0.doc_id AND s0.c = 0
  JOIN chansd s1 ON c0.doc_id = s1.doc_id AND s1.c = 1
  JOIN chansd s2 ON c0.doc_id = s2.doc_id AND s2.c = 2
  JOIN lstats l ON c0.doc_id = l.doc_id
  JOIN mm ON c0.doc_id = mm.doc_id
  WHERE c0.c = 0
)
SELECT doc_id, CAST(j AS INT) AS pos, {_r6('f[CAST(j + 1 AS BIGINT)]', 'val')}
FROM fv, range(0, 16) tj(j)
"""


def _oracle_png_image_features() -> str:
    """Analytic mirror of the PNG REAL-decode entry: the SAME pixel
    formula as the PPM oracle at the PNG geometry — the oracle never
    inflates the payload, so the decoder's zlib + filter
    reconstruction is independently checked; n_bytes excluded (deflate
    encoding detail, not decode contract)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        PNG_H,
        PNG_W,
    )

    w, h = PNG_W, PNG_H
    pix = f"CAST((doc_id * 31 + y * {w} + x + 7 * c) % 256 AS DOUBLE)"
    lum_c = lambda c: f"CAST((doc_id * 31 + y * {w} + x + {7 * c}) % 256 AS DOUBLE)"  # noqa: E731
    luma = f"((0.299 * {lum_c(0)} + 0.587 * {lum_c(1)}) + 0.114 * {lum_c(2)})"
    return f"""
WITH px AS (
  SELECT doc_id, x, y, c, {pix} AS v
  FROM documents, range(0, {w}) tx(x), range(0, {h}) ty(y), range(0, 3) tc(c)
),
chan AS (SELECT doc_id, c, avg(v) AS m FROM px GROUP BY 1, 2),
chansd AS (
  SELECT px.doc_id, px.c, sqrt(avg(pow(px.v - chan.m, 2))) AS sd
  FROM px JOIN chan ON px.doc_id = chan.doc_id AND px.c = chan.c
  GROUP BY 1, 2
),
lum AS (
  SELECT doc_id, x, y, {luma} AS l
  FROM documents, range(0, {w}) tx(x), range(0, {h}) ty(y)
),
lstats AS (
  SELECT doc_id, avg(l) AS ml,
         avg(CASE WHEN floor(l / 64.0) = 0 THEN 1.0 ELSE 0.0 END) AS h0,
         avg(CASE WHEN floor(l / 64.0) = 1 THEN 1.0 ELSE 0.0 END) AS h1,
         avg(CASE WHEN floor(l / 64.0) = 2 THEN 1.0 ELSE 0.0 END) AS h2,
         avg(CASE WHEN floor(l / 64.0) = 3 THEN 1.0 ELSE 0.0 END) AS h3
  FROM lum GROUP BY 1
),
mm AS (SELECT doc_id, min(v) AS mn, max(v) AS mx FROM px GROUP BY 1),
fv AS (
  SELECT c0.doc_id, [
    {float(w)!r}, {float(h)!r}, {float(w) / float(h)!r},
    c0.m / 255.0, c1.m / 255.0, c2.m / 255.0,
    s0.sd / 255.0, s1.sd / 255.0, s2.sd / 255.0,
    l.ml / 255.0, l.h0, l.h1, l.h2, l.h3,
    mm.mn / 255.0, mm.mx / 255.0
  ]::DOUBLE[] AS f
  FROM chan c0
  JOIN chan c1 ON c0.doc_id = c1.doc_id AND c1.c = 1
  JOIN chan c2 ON c0.doc_id = c2.doc_id AND c2.c = 2
  JOIN chansd s0 ON c0.doc_id = s0.doc_id AND s0.c = 0
  JOIN chansd s1 ON c0.doc_id = s1.doc_id AND s1.c = 1
  JOIN chansd s2 ON c0.doc_id = s2.doc_id AND s2.c = 2
  JOIN lstats l ON c0.doc_id = l.doc_id
  JOIN mm ON c0.doc_id = mm.doc_id
  WHERE c0.c = 0
)
SELECT doc_id, CAST(j AS INT) AS pos,
       {_r6('f[CAST(j + 1 AS BIGINT)]', 'val')}
FROM fv, range(0, 16) tj(j)
"""

def _oracle_y4m_video_features() -> str:
    """Analytic mirror of the Y4M REAL-decode entry: every statistic
    recomputed from the luma formula (doc_id*7 + i*13 + y*W + x) mod
    256 over DuckDB ranges — the oracle never parses the stream."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        Y4M_FRAMES,
        Y4M_H,
        Y4M_W,
    )

    w, h, nf = Y4M_W, Y4M_H, Y4M_FRAMES
    hdr_len = len(b"YUV4MPEG2 W%d H%d F25:1 Cmono\n" % (w, h))
    n_bytes = hdr_len + nf * (6 + w * h)
    lum = f"CAST((doc_id * 7 + i * 13 + y * {w} + x) % 256 AS DOUBLE)"
    lum_prev = f"CAST((doc_id * 7 + (i - 1) * 13 + y * {w} + x) % 256 AS DOUBLE)"
    return f"""
WITH px AS (
  SELECT doc_id, i, y, x, {lum} AS v
  FROM documents, range(0, {nf}) ti(i), range(0, {h}) ty(y), range(0, {w}) tx(x)
),
m AS (SELECT doc_id, avg(v) AS mean_l, sqrt(avg(v * v) - avg(v) * avg(v)) AS std_l
      FROM px GROUP BY 1),
mo AS (
  SELECT doc_id, avg(abs({lum} - {lum_prev})) AS motion
  FROM documents, range(1, {nf}) ti(i), range(0, {h}) ty(y), range(0, {w}) tx(x)
  GROUP BY 1
)
SELECT m.doc_id, {w} AS width, {h} AS height, {nf} AS n_frames,
       25 AS fps_num, 1 AS fps_den,
       {_r6('m.mean_l', 'mean_luma')}, {_r6('m.std_l', 'std_luma')},
       {_r6('mo.motion', 'motion')},
       {n_bytes} AS n_bytes, TRUE AS is_real
FROM m JOIN mo ON m.doc_id = mo.doc_id
"""


def _oracle_wav_audio_features() -> str:
    frames, rate, ch = WAV_FRAMES, WAV_RATE, WAV_CH
    n_bytes = 44 + frames * ch * 2
    v = "CAST((doc_id * 13 + i * 5 + 911 * c + 17) % 60001 - 30000 AS DOUBLE)"
    return f"""
WITH s AS (
  SELECT doc_id, i, c, {v} AS v
  FROM documents, range(0, {frames}) ti(i), range(0, {ch}) tc(c)
),
allst AS (
  SELECT doc_id, avg(v) AS mean_v, sqrt(avg(v * v)) AS rms_v,
         max(abs(v)) AS peak_v, min(v) AS mn, max(v) AS mx,
         avg(CASE WHEN least(floor(abs(v) / 8192.0), 3) = 0 THEN 1.0 ELSE 0.0 END) AS b0,
         avg(CASE WHEN least(floor(abs(v) / 8192.0), 3) = 1 THEN 1.0 ELSE 0.0 END) AS b1,
         avg(CASE WHEN least(floor(abs(v) / 8192.0), 3) = 2 THEN 1.0 ELSE 0.0 END) AS b2,
         avg(CASE WHEN least(floor(abs(v) / 8192.0), 3) = 3 THEN 1.0 ELSE 0.0 END) AS b3
  FROM s GROUP BY 1
),
chrms AS (SELECT doc_id, c, sqrt(avg(v * v)) AS rmsc FROM s GROUP BY 1, 2),
z AS (
  SELECT doc_id, avg(CASE WHEN v * pv < 0 THEN 1.0 ELSE 0.0 END) AS zcr
  FROM (SELECT doc_id, v,
               lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
        FROM s WHERE c = 0) t
  WHERE pv IS NOT NULL GROUP BY 1
),
fv AS (
  SELECT a.doc_id, [
    {float(frames)!r}, {float(rate)!r}, {float(ch)!r}, {frames / rate!r},
    a.mean_v / 32768.0, a.rms_v / 32768.0, a.peak_v / 32768.0,
    z.zcr, r0.rmsc / 32768.0, r1.rmsc / 32768.0,
    a.b0, a.b1, a.b2, a.b3,
    a.mn / 32768.0, a.mx / 32768.0
  ]::DOUBLE[] AS f
  FROM allst a
  JOIN z ON a.doc_id = z.doc_id
  JOIN chrms r0 ON a.doc_id = r0.doc_id AND r0.c = 0
  JOIN chrms r1 ON a.doc_id = r1.doc_id AND r1.c = 1
)
SELECT doc_id, {n_bytes} AS n_bytes, CAST(j AS INT) AS pos,
       {_r6('f[CAST(j + 1 AS BIGINT)]', 'val')}
FROM fv, range(0, 16) tj(j)
"""


def _oracle_wav_spectral_features() -> str:
    """Whole DSP chain restated in SQL from the analytic sample
    formula (never parsing a byte): DFT by GROUP BY over a
    range(K)·range(N) lattice with the float sequence
    ``(2·pi())·(k·n)/N`` matching the Spark matmul's operand order,
    then centroid/bandwidth/rolloff/flatness/band fractions.  Sum
    ORDER differs from numpy only at ~1e-15 relative (pairwise vs
    sequential) — absorbed by round(6); the one threshold compare
    (rolloff's cum >= 0.85·total) has a MEASURED minimum relative
    margin of 0.15·total on the sf0.01 fixture (the DFT of the
    near-sawtooth sample formula concentrates power, so the crossing
    bin jumps past the threshold) — ~14 orders above any sum-order
    drift."""
    n_fr = WAV_FRAMES // WAV_SPEC_FRAME
    N = WAV_SPEC_FRAME
    K = N // 2 + 1
    return f"""
WITH s AS (
  SELECT doc_id, CAST(i // {N} AS INT) AS f, i % {N} AS n,
         CAST((doc_id * 13 + i * 5 + 17) % 60001 - 30000 AS DOUBLE) AS v
  FROM documents, range(0, {n_fr * N}) ti(i)
),
kt AS (SELECT unnest(range(0, {K})) AS k),
spec AS (
  SELECT doc_id, f, k,
         sum(v * cos((2 * pi()) * (k * n) / {float(N)!r})) AS re,
         sum(-(v * sin((2 * pi()) * (k * n) / {float(N)!r}))) AS im
  FROM s, kt GROUP BY 1, 2, 3
),
pw AS (SELECT doc_id, f, k, re * re + im * im AS p,
              sqrt(re * re + im * im) AS m,
              k * {float(WAV_RATE)!r} / {float(N)!r} AS fk
       FROM spec),
agg AS (SELECT doc_id, f, sum(m) AS msum, sum(p) AS psum, sum(m * fk) AS mfk
        FROM pw GROUP BY 1, 2),
cen AS (SELECT doc_id, f, msum, psum,
               CASE WHEN msum > 0 THEN mfk / msum ELSE 0.0 END AS c
        FROM agg),
bw AS (SELECT p.doc_id, p.f,
              CASE WHEN c.msum > 0
                   THEN sqrt(sum(p.m * (p.fk - c.c) * (p.fk - c.c)) / c.msum)
                   ELSE 0.0 END AS bwv
       FROM pw p JOIN cen c ON p.doc_id = c.doc_id AND p.f = c.f
       GROUP BY p.doc_id, p.f, c.msum, c.c),
flat AS (SELECT doc_id, f,
                exp(avg(ln(p + 1e-12))) / (avg(p) + 1e-12) AS fl
         FROM pw WHERE k >= 1 GROUP BY 1, 2),
roll AS (
  SELECT doc_id, f, min(fk) AS rl FROM (
    SELECT doc_id, f, fk,
           sum(p) OVER (PARTITION BY doc_id, f ORDER BY k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(p) OVER (PARTITION BY doc_id, f) AS tot
    FROM pw) t
  WHERE cum >= 0.85 * tot GROUP BY 1, 2),
bd AS (SELECT doc_id, f, least(k // 4, 3) AS b, sum(p) AS pb
       FROM pw GROUP BY 1, 2, 3),
bfr AS (SELECT doc_id, f,
               sum(CASE WHEN b = 0 THEN pb END) AS e0,
               sum(CASE WHEN b = 1 THEN pb END) AS e1,
               sum(CASE WHEN b = 2 THEN pb END) AS e2,
               sum(CASE WHEN b = 3 THEN pb END) AS e3
        FROM bd GROUP BY 1, 2),
tstats AS (SELECT doc_id, f, sqrt(avg(v * v)) / 32768.0 AS rms,
                  avg(v) / 32768.0 AS dc
           FROM s GROUP BY 1, 2),
z AS (SELECT doc_id, f,
             avg(CASE WHEN v * pv < 0 THEN 1.0 ELSE 0.0 END) AS zcr
      FROM (SELECT doc_id, f, v,
                   lag(v) OVER (PARTITION BY doc_id, f ORDER BY n) AS pv
            FROM s) t
      WHERE pv IS NOT NULL GROUP BY 1, 2)
SELECT t.doc_id, t.f AS frame_idx,
       {_r6('t.rms', 'rms')}, {_r6('t.dc', 'dc')}, {_r6('z.zcr', 'zcr')},
       {_r6('c.c', 'centroid_hz')}, {_r6('bw.bwv', 'bandwidth_hz')},
       {_r6('CASE WHEN c.psum > 0 THEN roll.rl ELSE 0.0 END', 'rolloff_hz')},
       {_r6('flat.fl', 'flatness')},
       {_r6('CASE WHEN c.psum > 0 THEN bfr.e0 / c.psum ELSE 0.0 END', 'b0')},
       {_r6('CASE WHEN c.psum > 0 THEN bfr.e1 / c.psum ELSE 0.0 END', 'b1')},
       {_r6('CASE WHEN c.psum > 0 THEN bfr.e2 / c.psum ELSE 0.0 END', 'b2')},
       {_r6('CASE WHEN c.psum > 0 THEN bfr.e3 / c.psum ELSE 0.0 END', 'b3')}
FROM tstats t
JOIN z ON t.doc_id = z.doc_id AND t.f = z.f
JOIN cen c ON t.doc_id = c.doc_id AND t.f = c.f
JOIN bw ON t.doc_id = bw.doc_id AND t.f = bw.f
JOIN flat ON t.doc_id = flat.doc_id AND t.f = flat.f
JOIN roll ON t.doc_id = roll.doc_id AND t.f = roll.f
JOIN bfr ON t.doc_id = bfr.doc_id AND t.f = bfr.f
"""


def _oracle_video_frames() -> str:
    # stub strides: frame_bytes=64, every_n=10 → stride 640; one frame
    # per stride offset over max(len, 1) bytes (ASCII corpus: VARCHAR
    # slicing == byte slicing)
    stride, fb = 64 * 10, 64
    return f"""
WITH p AS (SELECT doc_id, text AS s, greatest(octet_length(encode(text)), 1) AS n FROM documents),
idx AS (SELECT doc_id, s, unnest(range(0, CAST(ceil(n / {float(stride)}) AS BIGINT))) AS i FROM p)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       octet_length(encode(substring(s, CAST(i * {stride} + 1 AS BIGINT), {fb}))) AS n_frame_bytes,
       md5(substring(s, CAST(i * {stride} + 1 AS BIGINT), {fb})) AS frame_md5
FROM idx
"""

def _oracle_image_features() -> str:
    # stub decode: feature j = sha256 digest byte j scaled to [-1, 1];
    # digest byte j = hex pair (2j+1, 2j+2) of the hex digest.
    # Exploded to scalar rows to mirror the Spark side's posexplode.
    d = 16
    byte_j = (
        "CAST(CAST(concat('0x', substr(sha256(text), CAST(j * 2 + 1 AS BIGINT), 2))"
        " AS BIGINT) AS DOUBLE)"
    )
    return f"""
WITH j AS (SELECT unnest(range(0, {d})) AS j)
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  CAST(j AS INT) AS pos,
  {_r6(f'({byte_j} / 255.0) * 2.0 - 1.0', 'val')}
FROM documents, j
"""

def _oracle_binary_meta() -> str:
    return """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS content_id
FROM documents
"""

def _oracle_bulk_random_load() -> str:
    # Exploded to scalar (pos, val) rows to mirror the Spark side's
    # posexplode (driver canon cannot hash array cells).
    n, d = BULK_N, BULK_DIM
    h = "CAST(concat('0x', substr(md5(concat_ws('-', '42', CAST(vec_id AS VARCHAR), CAST(j AS VARCHAR))), 1, 15)) AS BIGINT)"
    return f"""
WITH ids AS (SELECT unnest(range(0, {n})) AS vec_id),
raw AS (SELECT vec_id,
  list_transform(range(0, {d}), j ->
    (CAST({h} AS DOUBLE) / 1152921504606846976.0) * 2.0 - 1.0) AS c
  FROM ids),
norm AS (SELECT vec_id,
  list_transform(c, x -> x / coalesce(nullif({_sq_norm('c')}, 0), 1e-12)) AS e
  FROM raw),
expl AS (SELECT vec_id, unnest(range(0, {d})) AS pos FROM norm),
j AS (SELECT e.vec_id, x.pos, e.e[x.pos + 1] AS v
      FROM norm e JOIN expl x ON e.vec_id = x.vec_id)
SELECT vec_id, CAST(pos AS INT) AS pos, {_r6('v', 'val')}
FROM j
"""

def _oracle_collection_stats() -> str:
    return """
SELECT count(*) AS n_vectors,
       min(len(embedding)) AS dim_min,
       max(len(embedding)) AS dim_max
FROM embeddings
"""

def _oracle_topk(metric: str) -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (SELECT vec_id, {_sq_score('embedding', 'qv', metric)} AS s FROM embeddings, q)
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_shard_pruned_topk() -> str:
    # stored vectors are NORMALIZED at write (prepare: normalize-on-write),
    # so the mirror scores the normalized list against the raw query
    norm_e = (
        f"list_transform(embedding, x -> CAST(x AS DOUBLE)"
        f" / coalesce(nullif({_sq_norm('embedding')}, 0), 1e-12))"
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
n AS (SELECT vec_id, {norm_e} AS e FROM embeddings
      WHERE len(embedding) = 64 AND vec_id % {N_SHARDS} = {SHARD_PROBE}),
scored AS (SELECT vec_id, {_sq_cosine('e', 'qv')} AS s FROM n, q)
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_sharded_topk() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (SELECT vec_id, CAST(vec_id % {N_SHARDS} AS INT) AS shard,
                  {_sq_cosine('embedding', 'qv')} AS s FROM embeddings, q),
ranked AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY s DESC, vec_id) AS rn FROM scored)
SELECT vec_id, shard, {_r6('s', 'score')} FROM ranked
WHERE rn <= {TOPK_K} ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_knn() -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES}),
scored AS (SELECT qid, e.vec_id AS neighbor_id, {_sq_cosine('e.embedding', 'qv')} AS s
           FROM embeddings e, q),
ranked AS (SELECT qid, neighbor_id, s,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY s DESC, neighbor_id) AS INT) AS rank
           FROM scored)
SELECT qid, neighbor_id, {_r6('s', 'score')}, rank FROM ranked WHERE rank <= {KNN_K}
"""

def _oracle_knn_grouped() -> str:
    return f"""
WITH q AS (SELECT label, vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES}),
scored AS (SELECT q.label, qid, e.vec_id AS neighbor_id, {_sq_cosine('e.embedding', 'qv')} AS s
           FROM embeddings e JOIN q ON e.label = q.label),
ranked AS (SELECT label, qid, neighbor_id, s,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY s DESC, neighbor_id) AS INT) AS rank
           FROM scored)
SELECT label, qid, neighbor_id, {_r6('s', 'score')}, rank FROM ranked WHERE rank <= {KNN_K}
"""

def _sq_bucket(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN {_sq_dot(vec_expr, _sq_vec(p))} > 0 THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j, p in enumerate(LSH_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"

def _oracle_lsh_topk() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {_sq_bucket('qv')} AS qbucket FROM q),
cand AS (SELECT vec_id, embedding FROM embeddings, qb WHERE {_sq_bucket('embedding')} = qb.qbucket),
scored AS (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM cand, q)
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_lsh_topk_filtered() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT {_sq_bucket('qv')} AS qbucket FROM q),
cand AS (SELECT vec_id, embedding FROM embeddings, qb
         WHERE {_sq_bucket('embedding')} = qb.qbucket AND label = {FILTER_LABEL}),
scored AS (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM cand, q)
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_ivf_topk() -> str:
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
assign AS (SELECT e.vec_id, e.embedding,
                  c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
cells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM assign WHERE rn = 1),
probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY {_sq_l2sq('qv', 'c.cv')}, c.cid) AS rn
                           FROM cent c, q) WHERE rn <= {IVF_NPROBE}),
cand AS (SELECT vec_id, embedding FROM cells WHERE ivf_cell IN (SELECT cid FROM probe)),
scored AS (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM cand, q)
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_ivf_knn_join() -> str:
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES}),
assign AS (SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
cells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM assign WHERE rn = 1),
probe AS (SELECT qid, cid FROM
            (SELECT qs.qid, c.cid,
                    row_number() OVER (PARTITION BY qs.qid ORDER BY {_sq_l2sq('qs.qv', 'c.cv')}, c.cid) AS rn
             FROM qs, cent c)
          WHERE rn <= {IVF_NPROBE}),
cand AS (SELECT p.qid, cl.vec_id, cl.embedding, qs.qv
         FROM probe p JOIN cells cl ON cl.ivf_cell = p.cid
                      JOIN qs ON qs.qid = p.qid),
scored AS (SELECT qid, vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM cand),
ranked AS (SELECT qid, vec_id, s,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rank
           FROM scored)
SELECT qid, vec_id, {_r6('s', 'score')}, rank FROM ranked WHERE rank <= {KNN_K}
"""

def _oracle_topk_filtered() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s
           FROM embeddings, q WHERE label = {FILTER_LABEL})
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_recall_ivf() -> str:
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM embeddings, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
assign AS (SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
cells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM assign WHERE rn = 1),
probe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY {_sq_l2sq('q.qv', 'c.cv')}, c.cid) AS rn
                           FROM cent c, q) WHERE rn <= {IVF_NPROBE}),
approx AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s
                               FROM cells, q WHERE ivf_cell IN (SELECT cid FROM probe))
           ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _sq_rp_list(src_vec: str = "embedding") -> str:
    """DuckDB list expression for the sign-random-projection of a
    64-dim vector — SAME md5-parity matrix, SAME left-to-right signed
    summation order as operators.projection.project_expr, re-derived
    here (no artifact exchange: the matrix is a function of the dims
    alone)."""
    import math

    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.projection import (
        sign_matrix,
    )

    signs = sign_matrix(64, RP_OUT)
    scale = repr(1.0 / math.sqrt(RP_OUT))
    dims = []
    for row in signs:
        terms = []
        for d, sgn in enumerate(row):
            op = "+" if sgn > 0 else "-"
            terms.append(f"{op} CAST({src_vec}[{d + 1}] AS DOUBLE)")
        expr = " ".join(terms)
        if expr.startswith("+ "):
            expr = expr[2:]
        dims.append(f"({expr}) * {scale}")
    return "[" + ", ".join(dims) + "]"


def _oracle_more_like_these() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        MLT_SEEDS,
    )

    ids = ", ".join(str(i) for i in MLT_SEEDS)
    return f"""
WITH cm AS (SELECT i, avg(CAST(embedding[i] AS DOUBLE)) AS v
            FROM embeddings, unnest(range(1, 65)) AS u(i)
            WHERE vec_id IN ({ids}) GROUP BY i),
c AS (SELECT list(v ORDER BY i) AS cv FROM cm),
scored AS (SELECT vec_id, {_sq_cosine('embedding', 'cv')} AS s
           FROM embeddings, c WHERE vec_id NOT IN ({ids}))
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""


def _oracle_grep_many() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        GREP_PATTERNS,
    )

    vals = ", ".join(f"('{p}')" for p in GREP_PATTERNS)
    return f"""
SELECT p.pattern, d.doc_id
FROM documents d JOIN (VALUES {vals}) p(pattern)
  ON contains(d.text, p.pattern)
ORDER BY p.pattern, d.doc_id
"""


def _oracle_grep_like() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        GREP_LIKE_PATTERN,
    )

    return f"""
SELECT doc_id FROM documents WHERE text LIKE '{GREP_LIKE_PATTERN}'
ORDER BY doc_id
"""


def _oracle_grep_corpus() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        GREP_PATTERN,
    )

    return f"""
SELECT doc_id FROM documents WHERE contains(text, '{GREP_PATTERN}')
ORDER BY doc_id
"""


def _oracle_rp_topk() -> str:
    return f"""
WITH pe AS (SELECT vec_id, {_sq_rp_list()} AS rp FROM embeddings),
q AS (SELECT rp AS qv FROM pe WHERE vec_id = 0),
scored AS (SELECT vec_id, {_sq_cosine('rp', 'qv')} AS s FROM pe, q)
SELECT vec_id, {_r6('s', 'score')} FROM scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""


def _oracle_rp_knn_join() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        KNN_K,
        KNN_QUERIES,
        RP_SHORTLIST,
    )

    return f"""
WITH pe AS (SELECT vec_id, embedding, {_sq_rp_list()} AS rp FROM embeddings),
pq AS (SELECT vec_id AS qid, embedding AS qv, rp AS rq FROM pe WHERE vec_id < {KNN_QUERIES}),
sl AS (SELECT qid, pe.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY {_sq_cosine('pe.rp', 'rq')} DESC, pe.vec_id) AS rn
       FROM pe, pq),
cand AS (SELECT qid, neighbor_id FROM sl WHERE rn <= {RP_SHORTLIST}),
rer AS (SELECT cand.qid, cand.neighbor_id,
               {_sq_cosine('e.embedding', 'q.qv')} AS s
        FROM cand
        JOIN embeddings e ON e.vec_id = cand.neighbor_id
        JOIN pq q ON q.qid = cand.qid),
ranked AS (SELECT qid, neighbor_id, s,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY s DESC, neighbor_id) AS INT) AS rank
           FROM rer)
SELECT qid, neighbor_id, {_r6('s', 'score')}, rank FROM ranked WHERE rank <= {KNN_K}
"""


def _oracle_recall_rp() -> str:
    return f"""
WITH qe AS (SELECT embedding AS qv64 FROM embeddings WHERE vec_id = 0),
exact AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv64')} AS s FROM embeddings, qe)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
pe AS (SELECT vec_id, {_sq_rp_list()} AS rp FROM embeddings),
q AS (SELECT rp AS qv FROM pe WHERE vec_id = 0),
approx AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('rp', 'qv')} AS s FROM pe, q)
           ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""


def _oracle_recall_lsh() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM embeddings, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
qb AS (SELECT {_sq_bucket('qv')} AS qbucket FROM q),
cand AS (SELECT vec_id, embedding FROM embeddings, qb WHERE {_sq_bucket('embedding')} = qb.qbucket),
approx AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM cand, q)
           ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _sq_graph_beam_adc_ctes() -> str:
    """Compressed-domain scoring feed for the beam mirror: the PQ
    encode CTEs (the _sq_pq_ctes recipe: codebooks = subspace slices
    of the first PQ_KSUB rows, per-subspace argmin codes), a LUT PER
    QUERY (gq instead of the single-query q), and ``adcall(qid, node,
    s)`` MATERIALIZED — every (query, node) ADC score, which the
    unrolled rounds then just equi-join (the Spark side computes ADC
    only for traversed candidates; values agree wherever evaluated
    because both are the same list_sum/aggregate fold over the same
    LUT doubles, the hash-green pq_topk precedent)."""
    dsub = 64 // PQ_M
    sl_e = f"list_slice(e.embedding, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    sl_c = f"list_slice(c.cv, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    sl_q = f"list_slice(gq.qv, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    return f"""
gcb AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {PQ_KSUB}),
gsub AS (SELECT unnest(range(0, {PQ_M})) AS j),
__gpqd AS (SELECT e.vec_id, s.j, c.cid, {_sq_l2sq(sl_e, sl_c)} AS d
          FROM embeddings e, gsub s, gcb c),
__gpqc AS (SELECT vec_id, j, cid FROM (
            SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
            FROM __gpqd) WHERE rn = 1),
__gpqcode AS (SELECT vec_id, list(cid ORDER BY j) AS code FROM __gpqc GROUP BY vec_id),
__glutv AS (SELECT gq.qid, s.j, c.cid, {_sq_dot(sl_q, sl_c)} AS v FROM gsub s, gcb c, gq),
__glut AS (SELECT qid, list(l ORDER BY j) AS lut FROM (
              SELECT qid, j, list(v ORDER BY cid) AS l FROM __glutv GROUP BY qid, j) GROUP BY qid),
adcall AS MATERIALIZED (SELECT q.qid, e.vec_id AS node,
                     list_sum(list_transform(range(0, {PQ_M}),
                              j -> q.lut[j + 1][e.code[j + 1] + 1])) AS s
              FROM __gpqcode e, __glut q)"""


def _sq_graph_beam_ctes(
    score: str = "cosine",
    entries_sql: str | None = None,
    pre_sql: str | None = None,
    sc0_sql: str | None = None,
) -> str:
    """Graph-ANN serving mirror (operators/graph_ann.graph_beam_search
    with explicit entries): the exact deg-GRAPH_DEG cosine kNN graph
    (self excluded before ranking — same pair frame both engines),
    then every fixed beam round unrolled as MATERIALIZED CTEs (DuckDB
    inlines CTEs by default and an un-pinned unrolled iteration goes
    combinatorial).
    Per round, exactly the Spark dataflow: frontier = unexpanded beam
    rows, neighbor expansion via the edge equi-join (DISTINCT), the
    seen anti-join (NOT EXISTS), the sequential-double-fold cosine
    score, then the (score DESC, node ASC) top-GRAPH_BEAM window with
    all prior beam rows flipped to expanded.  Exposes ``bfin(qid,
    node, s)`` = the final beam and ``scall`` = every scored pair.

    ``score='adc'`` swaps the cosine for the compressed-domain PQ
    lookup (the graph_beam_search_pq tier): the materialized
    ``adcall`` all-pairs feed (:func:`_sq_graph_beam_adc_ctes`)
    replaces the inline fold, every other CTE identical."""
    if score == "adc":
        adc = _sq_graph_beam_adc_ctes() + ","
        sc0 = f"""sc0 AS MATERIALIZED (SELECT a.qid, a.node, a.s
      FROM adcall a JOIN gent ON gent.node = a.node)"""
    else:
        adc = ""
        sc0 = f"""sc0 AS MATERIALIZED (SELECT gq.qid, gent.node, {_sq_cosine('gq.qv', 'e.embedding')} AS s
      FROM gq CROSS JOIN gent JOIN embeddings e ON e.vec_id = gent.node)"""
    if sc0_sql is not None:
        # per-query entry feed (the hnsw descent): sc0 comes from the
        # caller's CTE chain (inserted via pre_sql); gent goes unused
        sc0 = f"sc0 AS MATERIALIZED ({sc0_sql})"
    head = f"""gq AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       WHERE vec_id < {KNN_QUERIES}),
gpair AS MATERIALIZED (SELECT a.vec_id AS node, b.vec_id AS nbr,
         {_sq_cosine('a.embedding', 'b.embedding')} AS gs
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
gedges AS MATERIALIZED (SELECT node, nbr FROM (
         SELECT node, nbr, row_number() OVER (PARTITION BY node ORDER BY gs DESC, nbr) AS rn
         FROM gpair) WHERE rn <= {GRAPH_DEG}),
{entries_sql or f"gent AS (SELECT vec_id AS node FROM embeddings WHERE vec_id < {GRAPH_ENTRIES})"},
{(pre_sql.strip() + ",") if pre_sql else ""}
{adc}
{sc0},
b0 AS MATERIALIZED (SELECT qid, node, s, FALSE AS exp FROM (
      SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM sc0) WHERE rn <= {GRAPH_BEAM}),
seen0 AS MATERIALIZED (SELECT qid, node FROM sc0)"""
    if score == "adc":
        sci = """SELECT n.qid, n.node, a.s
      FROM n{i} n JOIN adcall a ON a.qid = n.qid AND a.node = n.node"""
    else:
        sci = (
            "SELECT n.qid, n.node, "
            + _sq_cosine("gq.qv", "e.embedding")
            + """ AS s
      FROM n{i} n JOIN embeddings e ON e.vec_id = n.node JOIN gq ON gq.qid = n.qid"""
        )
    rounds = [head]
    for i in range(1, GRAPH_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""n{i} AS (SELECT DISTINCT f.qid, g.nbr AS node
      FROM (SELECT qid, node FROM b{p} WHERE NOT exp) f
      JOIN gedges g ON g.node = f.node),
sc{i} AS MATERIALIZED ({sci.format(i=i)}
      WHERE NOT EXISTS (SELECT 1 FROM seen{p} sn WHERE sn.qid = n.qid AND sn.node = n.node)),
b{i} AS MATERIALIZED (SELECT qid, node, s, exp FROM (
      SELECT qid, node, s, exp, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM (SELECT qid, node, s, TRUE AS exp FROM b{p}
            UNION ALL SELECT qid, node, s, FALSE AS exp FROM sc{i})) WHERE rn <= {GRAPH_BEAM}),
seen{i} AS MATERIALIZED (SELECT qid, node FROM seen{p}
      UNION ALL SELECT qid, node FROM sc{i})""")
    body = ",\n".join(rounds)
    scall = " UNION ALL ".join(
        f"SELECT qid, node, s FROM sc{i}" for i in range(GRAPH_ROUNDS + 1)
    )
    return f"""{body},
bfin AS (SELECT qid, node, s FROM b{GRAPH_ROUNDS}),
scall AS ({scall})"""


def _sq_hnsw_ctes() -> tuple[str, str]:
    """HNSW coarse-to-fine mirror (operators/hnsw.py): portable
    integer-geometric layer assignment over the 60-bit hash of the id
    STRING, exact deg-HNSW_DEG kNN graph per upper layer, the static
    entry fallback chain (highest occupied layer's lowest ids), then
    every fixed descent hop unrolled — entry scoring → per-hop
    neighbor expansion → DISTINCT-deduped top-HNSW_WIDTH merge (a
    re-reached node re-scores to the identical value, so DISTINCT on
    (qid, node, s) is exact). Returns ``(cte_block, final_cte_name)``;
    the final CTE holds the per-query base-layer entries and plugs
    into :func:`_sq_graph_beam_ctes` as ``sc0_sql``. Requires ``gq``
    (defined by the beam head before this block is inserted)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        HNSW_DEG,
        HNSW_ENTRY_CAP,
        HNSW_HOPS,
        HNSW_MAX_LAYER,
        HNSW_SCALE_C,
        HNSW_WIDTH,
    )

    cosab = _sq_cosine("a.embedding", "b.embedding")
    th = _sq_tok_hash("CAST(vec_id AS VARCHAR)")
    lvl = " + ".join(
        f"(CASE WHEN ({th}) % {HNSW_SCALE_C**l} = 0 THEN 1 ELSE 0 END)"
        for l in range(1, HNSW_MAX_LAYER + 1)
    )
    parts = [f"hlv AS MATERIALIZED (SELECT vec_id, {lvl} AS lvl FROM embeddings)"]
    for l in range(1, HNSW_MAX_LAYER + 1):
        parts.append(
            f"""hp{l} AS MATERIALIZED (SELECT a.vec_id AS node, b.vec_id AS nbr, {cosab} AS gs
      FROM embeddings a JOIN hlv xa ON xa.vec_id = a.vec_id AND xa.lvl >= {l}
      JOIN embeddings b ON b.vec_id <> a.vec_id
      JOIN hlv xb ON xb.vec_id = b.vec_id AND xb.lvl >= {l})"""
        )
        parts.append(
            f"""he{l} AS MATERIALIZED (SELECT node, nbr FROM (
      SELECT node, nbr, row_number() OVER (PARTITION BY node ORDER BY gs DESC, nbr) AS rn
      FROM hp{l}) WHERE rn <= {HNSW_DEG})"""
        )
    tiers = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS tier FROM (SELECT vec_id FROM hlv WHERE lvl >= {l}"
        f" ORDER BY vec_id LIMIT {HNSW_ENTRY_CAP})"
        for i, l in enumerate(range(HNSW_MAX_LAYER, -1, -1))
    )
    parts.append(f"htier AS ({tiers})")
    parts.append(
        "hent AS (SELECT vec_id AS node FROM htier"
        " WHERE tier = (SELECT min(tier) FROM htier))"
    )
    cosq = _sq_cosine("gq.qv", "e.embedding")
    parts.append(
        f"""hs0 AS MATERIALIZED (SELECT gq.qid, hent.node, {cosq} AS s
      FROM gq CROSS JOIN hent JOIN embeddings e ON e.vec_id = hent.node)"""
    )
    parts.append(
        f"""hc0 AS MATERIALIZED (SELECT qid, node, s FROM (
      SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM hs0) WHERE rn <= {HNSW_WIDTH})"""
    )
    step, prev = 0, "hc0"
    for l in range(HNSW_MAX_LAYER, 0, -1):
        for _ in range(HNSW_HOPS):
            step += 1
            parts.append(
                f"""hn{step} AS (SELECT DISTINCT c.qid, g.nbr AS node
      FROM {prev} c JOIN he{l} g ON g.node = c.node)"""
            )
            parts.append(
                f"""hs{step} AS MATERIALIZED (SELECT n.qid, n.node, {cosq} AS s
      FROM hn{step} n JOIN embeddings e ON e.vec_id = n.node JOIN gq ON gq.qid = n.qid)"""
            )
            parts.append(
                f"""hc{step} AS MATERIALIZED (SELECT qid, node, s FROM (
      SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM (SELECT DISTINCT qid, node, s FROM (
            SELECT qid, node, s FROM {prev}
            UNION ALL SELECT qid, node, s FROM hs{step}))) WHERE rn <= {HNSW_WIDTH})"""
            )
            prev = f"hc{step}"
    return ",\n".join(parts), prev


def _oracle_hnsw_topk() -> str:
    pre, fin = _sq_hnsw_ctes()
    beam = _sq_graph_beam_ctes(
        pre_sql=pre, sc0_sql=f"SELECT qid, node, s FROM {fin}"
    )
    return f"""
WITH {beam}
SELECT qid, node AS neighbor_id, {_r6('s', 'score')},
       CAST(rn AS INT) AS rank
FROM (SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM bfin)
WHERE rn <= {GRAPH_K}
"""


def _oracle_recall_hnsw() -> str:
    pre, fin = _sq_hnsw_ctes()
    beam = _sq_graph_beam_ctes(
        pre_sql=pre, sc0_sql=f"SELECT qid, node, s FROM {fin}"
    )
    return f"""
WITH {beam},
approx AS (SELECT qid, node AS neighbor_id FROM (
      SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM bfin) WHERE rn <= {GRAPH_K}),
exact AS (SELECT qid, neighbor_id FROM (
      SELECT gq.qid, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY gq.qid ORDER BY {_sq_cosine('e.embedding', 'gq.qv')} DESC, e.vec_id) AS rn
      FROM embeddings e, gq) WHERE rn <= {GRAPH_K})
SELECT qid, count(*) / {float(GRAPH_K)} AS recall
FROM approx JOIN exact USING (qid, neighbor_id) GROUP BY qid
"""


def _sq_medoid_entries_ctes() -> str:
    """One-Lloyd-iteration medoid entries (graph_ann.medoid_entries
    with kmeans_iters=1): seed E-step (the _sq_kmeans_ctes fold), M-step
    per-dim means with empty-cluster fallback to the seed
    (clustering.kmeans_update's keep-previous rule), second E-step
    against the updated centroids, per-cluster argmin (dist asc, id
    asc).  Ends defining ``gent`` for the beam CTEs.  Centroid means
    differ from Spark's partial-agg sums at ~1 ulp — argmin decisions
    ride gaps 6+ orders larger on the testdata (the kmeans_assign /
    kmeans_one_iter hash-green precedent)."""
    dim = 64
    fold = (
        "list_sum(list_transform(e.embedding, (x, i) -> "
        "(CAST(x AS DOUBLE) - CAST(c[i] AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(c[i] AS DOUBLE))))"
    )
    return f"""mseed AS (SELECT list(embedding ORDER BY vec_id) AS cs
          FROM embeddings WHERE vec_id < {KMEANS_K}),
me1 AS (SELECT e.vec_id, e.embedding,
               list_transform(mseed.cs, c -> {fold}) AS ds
        FROM embeddings e, mseed),
ma1 AS (SELECT vec_id, embedding,
               CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cluster
        FROM me1),
mex AS (SELECT cluster, unnest(range(1, {dim + 1})) AS i, embedding FROM ma1),
mg AS (SELECT cluster, i, avg(CAST(embedding[i] AS DOUBLE)) AS v
       FROM mex GROUP BY 1, 2),
mkk AS (SELECT unnest(range(0, {KMEANS_K})) AS cl),
mnc AS (SELECT mkk.cl,
               COALESCE((SELECT list(v ORDER BY i) FROM mg WHERE mg.cluster = mkk.cl),
                        list_transform(mseed.cs[mkk.cl + 1], x -> CAST(x AS DOUBLE))) AS cv
        FROM mkk, mseed),
mcs AS (SELECT list(cv ORDER BY cl) AS cs2 FROM mnc),
me2 AS (SELECT e.vec_id,
               list_transform(mcs.cs2, c -> list_sum(list_transform(e.embedding,
                 (x, i) -> (CAST(x AS DOUBLE) - c[i]) * (CAST(x AS DOUBLE) - c[i])))) AS ds
        FROM embeddings e, mcs),
ma2 AS (SELECT vec_id,
               CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cluster,
               list_min(ds) AS dist
        FROM me2),
gent AS (SELECT vec_id AS node FROM (
          SELECT vec_id, cluster, dist,
                 row_number() OVER (PARTITION BY cluster ORDER BY dist, vec_id) AS rn
          FROM ma2) WHERE rn = 1)"""


def _oracle_graph_beam_medoid_topk() -> str:
    """Beam search seeded by the one-iteration k-means MEDOIDS — the
    data-aware entry selection oracle-paired end-to-end (selection +
    traversal in one hash)."""
    return f"""
WITH {_sq_graph_beam_ctes(entries_sql=_sq_medoid_entries_ctes())}
SELECT qid, node AS neighbor_id, {_r6('s', 'score')}, CAST(rn AS INT) AS rank
FROM (SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM bfin)
WHERE rn <= {GRAPH_K}
"""


def _oracle_graph_beam_pq_topk() -> str:
    """DiskANN-proper mirror: the unrolled beam rounds fed by the
    materialized all-pairs ADC CTE instead of the inline cosine —
    same traversal, compressed-domain scores."""
    return f"""
WITH {_sq_graph_beam_ctes(score='adc')}
SELECT qid, node AS neighbor_id, {_r6('s', 'score')}, CAST(rn AS INT) AS rank
FROM (SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM bfin)
WHERE rn <= {GRAPH_K}
"""


def _oracle_recall_graph_pq() -> str:
    """Production graph-PQ read path quantified: top-PQ_BEAM_RERANK of
    the ADC beam exactly rescored (cosine over the full vectors),
    top-GRAPH_K, recall vs the exact kNN."""
    return f"""
WITH {_sq_graph_beam_ctes(score='adc')},
rr AS (SELECT qid, node FROM (
      SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn FROM bfin)
      WHERE rn <= {PQ_BEAM_RERANK}),
rscored AS (SELECT rr.qid, rr.node, {_sq_cosine('e.embedding', 'gq.qv')} AS s
      FROM rr JOIN embeddings e ON e.vec_id = rr.node JOIN gq ON gq.qid = rr.qid),
approx AS (SELECT qid, node AS neighbor_id FROM (
      SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn FROM rscored)
      WHERE rn <= {GRAPH_K}),
exact AS (SELECT qid, neighbor_id FROM (
      SELECT gq.qid, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY gq.qid ORDER BY {_sq_cosine('e.embedding', 'gq.qv')} DESC, e.vec_id) AS rn
      FROM embeddings e, gq) WHERE rn <= {GRAPH_K})
SELECT qid, count(*) / {float(GRAPH_K)} AS recall
FROM approx JOIN exact USING (qid, neighbor_id) GROUP BY qid
"""


def _oracle_graph_beam_pq_filtered_topk() -> str:
    """ADC traversal + answer predicate composed: the adc-fed rounds'
    scored union windowed under node % 3 = 0."""
    return f"""
WITH {_sq_graph_beam_ctes(score='adc')}
SELECT qid, node AS neighbor_id, {_r6('s', 'score')}, CAST(rn AS INT) AS rank
FROM (SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM scall WHERE node % 3 = 0)
WHERE rn <= {GRAPH_K}
"""


def _oracle_graph_beam_filtered_topk() -> str:
    """Filtered beam search mirror: the SAME unrolled traversal (the
    routing beam ignores the predicate), answers = top-GRAPH_K of the
    union of every round's scored frame restricted to the allowed set
    (node % 3 = 0) — each (qid, node) is scored at most once (the seen
    anti-join), so the union needs no dedup, and a per-round running
    top-k equals this global window."""
    return f"""
WITH {_sq_graph_beam_ctes()}
SELECT qid, node AS neighbor_id, {_r6('s', 'score')}, CAST(rn AS INT) AS rank
FROM (SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM scall WHERE node % 3 = 0)
WHERE rn <= {GRAPH_K}
"""


def _oracle_recall_graph_filtered() -> str:
    return f"""
WITH {_sq_graph_beam_ctes()},
approx AS (SELECT qid, node AS neighbor_id FROM (
      SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM scall WHERE node % 3 = 0) WHERE rn <= {GRAPH_K}),
exact AS (SELECT qid, neighbor_id FROM (
      SELECT gq.qid, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY gq.qid ORDER BY {_sq_cosine('e.embedding', 'gq.qv')} DESC, e.vec_id) AS rn
      FROM embeddings e, gq WHERE e.vec_id % 3 = 0) WHERE rn <= {GRAPH_K})
SELECT qid, count(*) / {float(GRAPH_K)} AS recall
FROM approx JOIN exact USING (qid, neighbor_id) GROUP BY qid
"""


def _oracle_range_search_cosine() -> str:
    """Radius search mirror: the same sequential-fold cosine, a WHERE
    instead of a LIMIT — nearest corpus score sits >= 3e-4 from the
    cutoff (measured at both SFs), so membership is float-safe."""
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, {_r6('s', 'score')} FROM (
  SELECT e.vec_id, {_sq_cosine('e.embedding', 'q.qv')} AS s FROM embeddings e, q)
WHERE s >= {RANGE_COS_T}
"""


def _oracle_range_join_l2() -> str:
    cut = -(RANGE_L2_RADIUS * RANGE_L2_RADIUS)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES})
SELECT qid, neighbor_id, {_r6('s', 'score')} FROM (
  SELECT q.qid, e.vec_id AS neighbor_id, -({_sq_l2sq('e.embedding', 'q.qv')}) AS s
  FROM embeddings e, q)
WHERE s >= {cut!r}
"""


def _sq_ivf_range_cand() -> str:
    """IVF assign + probe (the _oracle_ivfpq_topk mirror pattern)
    exposing ``rcand(vec_id, embedding)`` = rows in the probed cells,
    and ``q(qv)``."""
    return f"""
cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
__iassign AS (SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
__icells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM __iassign WHERE rn = 1),
__iprobe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY {_sq_l2sq('qv', 'c.cv')}, c.cid) AS rn
                           FROM cent c, q) WHERE rn <= {IVF_NPROBE}),
rcand AS (SELECT vec_id, embedding FROM __icells WHERE ivf_cell IN (SELECT cid FROM __iprobe))"""


def _oracle_ivf_range_search() -> str:
    return f"""
WITH {_sq_ivf_range_cand()}
SELECT vec_id, {_r6('s', 'score')} FROM (
  SELECT e.vec_id, {_sq_cosine('e.embedding', 'q.qv')} AS s FROM rcand e, q)
WHERE s >= {RANGE_COS_T}
"""


def _oracle_range_recall_ivf() -> str:
    return f"""
WITH {_sq_ivf_range_cand()},
truth AS (SELECT e.vec_id FROM embeddings e, q WHERE {_sq_cosine('e.embedding', 'q.qv')} >= {RANGE_COS_T}),
found AS (SELECT e.vec_id FROM rcand e, q WHERE {_sq_cosine('e.embedding', 'q.qv')} >= {RANGE_COS_T})
SELECT (SELECT count(*) FROM found JOIN truth USING (vec_id)) * 1.0
       / (SELECT count(*) FROM truth) AS recall
"""


def _oracle_range_count() -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES})
SELECT qid, count(*) AS n_in_range FROM (
  SELECT q.qid, {_sq_cosine('e.embedding', 'q.qv')} AS s FROM embeddings e, q)
WHERE s >= {RANGE_COS_T}
GROUP BY qid
"""


def _oracle_graph_beam_topk() -> str:
    return f"""
WITH {_sq_graph_beam_ctes()}
SELECT qid, node AS neighbor_id, {_r6('s', 'score')},
       CAST(rn AS INT) AS rank
FROM (SELECT qid, node, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM bfin)
WHERE rn <= {GRAPH_K}
"""


def _oracle_recall_graph() -> str:
    return f"""
WITH {_sq_graph_beam_ctes()},
approx AS (SELECT qid, node AS neighbor_id FROM (
      SELECT qid, node, row_number() OVER (PARTITION BY qid ORDER BY s DESC, node) AS rn
      FROM bfin) WHERE rn <= {GRAPH_K}),
exact AS (SELECT qid, neighbor_id FROM (
      SELECT gq.qid, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY gq.qid ORDER BY {_sq_cosine('e.embedding', 'gq.qv')} DESC, e.vec_id) AS rn
      FROM embeddings e, gq) WHERE rn <= {GRAPH_K})
SELECT qid, count(*) / {float(GRAPH_K)} AS recall
FROM approx JOIN exact USING (qid, neighbor_id) GROUP BY qid
"""


def _sq_pq_ctes(src: str = "embeddings") -> str:
    """PQ CTEs mirroring operators.pq: codebooks = subspace slices of
    the first PQ_KSUB corpus rows; codes = per-subspace argmin (ties →
    lowest centroid id); LUT = subspace dot products against the query;
    exposes ``pq_scored(vec_id, s)`` with the ADC score — the same
    double-precision folds, in the same order, as the Spark side.
    ``src`` is the (vec_id, embedding) relation to encode — the full
    corpus by default, a pre-pruned candidate CTE for IVF-PQ."""
    dsub = 64 // PQ_M
    sl_e = f"list_slice(e.embedding, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    sl_c = f"list_slice(c.cv, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    sl_q = f"list_slice(q.qv, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    return f"""
cb AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {PQ_KSUB}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sub AS (SELECT unnest(range(0, {PQ_M})) AS j),
__pqd AS (SELECT e.vec_id, s.j, c.cid, {_sq_l2sq(sl_e, sl_c)} AS d
          FROM {src} e, sub s, cb c),
__pqc AS (SELECT vec_id, j, cid FROM (
            SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
            FROM __pqd) WHERE rn = 1),
__pqcode AS (SELECT vec_id, list(cid ORDER BY j) AS code FROM __pqc GROUP BY vec_id),
__pqlutv AS (SELECT s.j, c.cid, {_sq_dot(sl_q, sl_c)} AS v FROM sub s, cb c, q),
__pqlut AS (SELECT list(l ORDER BY j) AS lut FROM (
              SELECT j, list(v ORDER BY cid) AS l FROM __pqlutv GROUP BY j) ),
pq_scored AS (SELECT vec_id,
                     list_sum(list_transform(range(0, {PQ_M}),
                              j -> lut[j + 1][code[j + 1] + 1])) AS s
              FROM __pqcode, __pqlut)
"""

def _oracle_pq_topk() -> str:
    return f"""
WITH {_sq_pq_ctes()}
SELECT vec_id, {_r6('s', 'score')} FROM pq_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_ivfpq_topk() -> str:
    """IVF mirror (assign + probe) restricted to the probed cells, then
    the PQ mirror encoding/scoring only those candidates — encoding is
    per-row independent, so encode-then-filter ≡ filter-then-encode."""
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
iq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
__iassign AS (SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
__icells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM __iassign WHERE rn = 1),
__iprobe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY {_sq_l2sq('qv', 'c.cv')}, c.cid) AS rn
                           FROM cent c, iq) WHERE rn <= {IVF_NPROBE}),
cand AS (SELECT vec_id, embedding FROM __icells WHERE ivf_cell IN (SELECT cid FROM __iprobe)),
{_sq_pq_ctes('cand').strip()}
SELECT vec_id, {_r6('s', 'score')} FROM pq_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_recall_ivfpq() -> str:
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
iq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
__iassign AS (SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
__icells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM __iassign WHERE rn = 1),
__iprobe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY {_sq_l2sq('qv', 'c.cv')}, c.cid) AS rn
                           FROM cent c, iq) WHERE rn <= {IVF_NPROBE}),
cand AS (SELECT vec_id, embedding FROM __icells WHERE ivf_cell IN (SELECT cid FROM __iprobe)),
{_sq_pq_ctes('cand').strip()},
exact AS (SELECT vec_id FROM (SELECT e.vec_id, {_sq_cosine('e.embedding', 'q.qv')} AS s FROM embeddings e, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
approx AS (SELECT vec_id FROM pq_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _sq_ivfpq_res_ctes() -> str:
    """Residual-IVFPQ CTEs (operators/pq.ivfpq_residual_topk): cells,
    probe, residual candidates, residual-domain codebooks from the
    first PQ_KSUB rows' residuals, ADC + per-cell ⟨q,c⟩ constant.
    Exposes ``res_scored(vec_id, s)``."""
    dsub = 64 // PQ_M
    res = "list_transform(i.embedding, (x, ii) -> CAST(x AS DOUBLE) - c.cv[ii])"
    sl_e = f"list_slice(e.embedding, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    sl_c = f"list_slice(c.cv, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    sl_q = f"list_slice(q.qv, s.j * {dsub} + 1, (s.j + 1) * {dsub})"
    return f"""
cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_N_CENTROIDS}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
__iassign AS (SELECT e.vec_id, e.embedding, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id ORDER BY {_sq_l2sq('e.embedding', 'c.cv')}, c.cid) AS rn
           FROM embeddings e, cent c),
__icells AS (SELECT vec_id, embedding, cid AS ivf_cell FROM __iassign WHERE rn = 1),
__iprobe AS (SELECT cid FROM (SELECT c.cid, row_number() OVER (ORDER BY {_sq_l2sq('qv', 'c.cv')}, c.cid) AS rn
                           FROM cent c, q) WHERE rn <= {IVF_NPROBE}),
cand AS (SELECT i.vec_id, {res} AS embedding, i.ivf_cell
         FROM __icells i JOIN cent c ON c.cid = i.ivf_cell
         WHERE i.ivf_cell IN (SELECT cid FROM __iprobe)),
rcb AS (SELECT i.vec_id AS cid, {res} AS cv
        FROM __icells i JOIN cent c ON c.cid = i.ivf_cell
        WHERE i.vec_id < {PQ_KSUB}),
sub AS (SELECT unnest(range(0, {PQ_M})) AS j),
__pqd AS (SELECT e.vec_id, s.j, c.cid, {_sq_l2sq(sl_e, sl_c)} AS d
          FROM cand e, sub s, rcb c),
__pqc AS (SELECT vec_id, j, cid FROM (
            SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
            FROM __pqd) WHERE rn = 1),
__pqcode AS (SELECT vec_id, list(cid ORDER BY j) AS code FROM __pqc GROUP BY vec_id),
__pqlutv AS (SELECT s.j, c.cid, {_sq_dot(sl_q, sl_c)} AS v FROM sub s, rcb c, q),
__pqlut AS (SELECT list(l ORDER BY j) AS lut FROM (
              SELECT j, list(v ORDER BY cid) AS l FROM __pqlutv GROUP BY j) ),
qd AS (SELECT cid, {_sq_dot('qv', 'cv')} AS qc FROM cent, q),
res_scored AS (SELECT cc.vec_id,
                      qd.qc + list_sum(list_transform(range(0, {PQ_M}),
                               j -> lut[j + 1][code[j + 1] + 1])) AS s
               FROM __pqcode pc JOIN cand cc ON pc.vec_id = cc.vec_id
               JOIN qd ON qd.cid = cc.ivf_cell, __pqlut)
"""


def _oracle_ivfpq_res_topk() -> str:
    return f"""
WITH {_sq_ivfpq_res_ctes()}
SELECT vec_id, {_r6('s', 'score')} FROM res_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""


def _oracle_recall_ivfpq_res() -> str:
    return f"""
WITH {_sq_ivfpq_res_ctes()},
exact AS (SELECT vec_id FROM (SELECT e.vec_id, {_sq_cosine('e.embedding', 'q.qv')} AS s FROM embeddings e, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
approx AS (SELECT vec_id FROM res_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""


def _oracle_pq_rerank_topk() -> str:
    return f"""
WITH {_sq_pq_ctes()},
shortlist AS (SELECT vec_id FROM pq_scored ORDER BY s DESC, vec_id LIMIT {PQ_RERANK}),
exact AS (SELECT e.vec_id, {_sq_cosine('e.embedding', 'q.qv')} AS s
          FROM embeddings e JOIN shortlist USING (vec_id), q)
SELECT vec_id, {_r6('s', 'score')} FROM exact ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_recall_pq() -> str:
    return f"""
WITH {_sq_pq_ctes()},
exact AS (SELECT vec_id FROM (SELECT e.vec_id, {_sq_cosine('e.embedding', 'q.qv')} AS s FROM embeddings e, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
approx AS (SELECT vec_id FROM pq_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _sq_sq_ctes() -> str:
    """Scalar-quantization CTEs mirroring operators.sq: per-dimension
    exact min/max ranges from the corpus; codes = HALF_UP-rounded
    offsets against (hi−lo)/255 steps (constant dims → 0); the score is
    the affine fold c0 + Σ a_d·code_d with a_d = q_d·step_d — the same
    double arithmetic, in the same sequential order, as the Spark side.
    Exposes ``sq_scored(vec_id, s)``."""
    return """
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
__sqdims AS (SELECT unnest(range(1, 65)) AS i),
__sqrng AS (SELECT i, CAST(min(e.embedding[i]) AS DOUBLE) AS lo,
                   CAST(max(e.embedding[i]) AS DOUBLE) AS hi
            FROM embeddings e, __sqdims GROUP BY i),
__sqrl AS (SELECT list(lo ORDER BY i) AS los,
                  list((hi - lo) / 255.0 ORDER BY i) AS steps
           FROM __sqrng),
__sqcodes AS (SELECT e.vec_id,
                list_transform(e.embedding, (x, i) ->
                  least(255, greatest(0, CAST(CASE WHEN steps[i] = 0 THEN 0.0
                    ELSE round((CAST(x AS DOUBLE) - los[i]) / steps[i]) END AS INT)))) AS code
              FROM embeddings e, __sqrl),
__sqcoef AS (SELECT list_transform(qv, (x, i) -> CAST(x AS DOUBLE) * steps[i]) AS a,
                    list_sum(list_transform(qv, (x, i) -> CAST(x AS DOUBLE) * los[i])) AS c0
             FROM q, __sqrl),
sq_scored AS (SELECT vec_id,
                     c0 + list_sum(list_transform(code, (c, i) -> CAST(c AS DOUBLE) * a[i])) AS s
              FROM __sqcodes, __sqcoef)
"""

def _oracle_sq_topk() -> str:
    return f"""
WITH {_sq_sq_ctes()}
SELECT vec_id, {_r6('s', 'score')} FROM sq_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_sq_rerank_topk() -> str:
    return f"""
WITH {_sq_sq_ctes()},
shortlist AS (SELECT vec_id FROM sq_scored ORDER BY s DESC, vec_id LIMIT {SQ_RERANK}),
exact AS (SELECT e.vec_id, {_sq_dot('e.embedding', 'q.qv')} AS s
          FROM embeddings e JOIN shortlist USING (vec_id), q)
SELECT vec_id, {_r6('s', 'score')} FROM exact ORDER BY s DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_recall_sq() -> str:
    return f"""
WITH {_sq_sq_ctes()},
exact AS (SELECT vec_id FROM (SELECT e.vec_id, {_sq_dot('e.embedding', 'q.qv')} AS s FROM embeddings e, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
approx AS (SELECT vec_id FROM sq_scored ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _sq_kmeans_ctes() -> str:
    """Shared CTEs for the k-means mirrors: deterministic seeds = the
    KMEANS_K lowest-id vectors, E-step = first-match argmin of the
    sequential-fold squared L2 (mirrors clustering.assign_clusters)."""
    return f"""cents AS (SELECT list(embedding ORDER BY vec_id) AS cs
          FROM embeddings WHERE vec_id < {KMEANS_K}),
km_ds AS (SELECT e.vec_id, e.embedding,
                 list_transform(cents.cs, c -> list_sum(list_transform(e.embedding,
                   (x, i) -> (CAST(x AS DOUBLE) - CAST(c[i] AS DOUBLE))
                           * (CAST(x AS DOUBLE) - CAST(c[i] AS DOUBLE))))) AS ds
          FROM embeddings e, cents),
km_asg AS (SELECT vec_id, embedding,
                  CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cluster,
                  list_min(ds) AS dist
           FROM km_ds)"""

def _oracle_kmeans_assign() -> str:
    return f"""
WITH {_sq_kmeans_ctes()}
SELECT vec_id, cluster, {_r6('dist', 'dist')} FROM km_asg
"""

def _oracle_kmeans_one_iter() -> str:
    return f"""
WITH {_sq_kmeans_ctes()},
ex AS (SELECT cluster, unnest(range(1, 65)) AS i, embedding FROM km_asg),
g AS (SELECT cluster, i, avg(CAST(embedding[i] AS DOUBLE)) AS v FROM ex GROUP BY 1, 2),
n AS (SELECT cluster, count(*) AS n FROM km_asg GROUP BY 1)
SELECT g.cluster, n.n, CAST(g.i - 1 AS INT) AS pos, {_r6('g.v', 'centroid')}
FROM g JOIN n USING (cluster)
"""

def _oracle_semantic_dedup() -> str:
    return f"""
WITH {_sq_kmeans_ctes()},
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
             {_sq_cosine('a.embedding', 'b.embedding')} AS c
      FROM km_asg a JOIN km_asg b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cluster, {_r6('c', 'cos')} FROM p WHERE c >= {EMB_NEAR_DUP_TAU}
"""

def _oracle_chunk_overlap() -> str:
    size, stride = CHUNK_WORDS, CHUNK_STRIDE
    return f"""
WITH t AS (SELECT doc_id, {_SQ_TOKS} AS toks, trim(text) AS tt FROM documents),
w AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= {size} THEN 1
                  ELSE CAST(ceil((len(toks) - {size}) / CAST({stride} AS DOUBLE)) AS INT) + 1
             END AS nw
      FROM t WHERE tt IS NOT NULL AND tt != ''),
ex AS (SELECT doc_id, unnest(range(0, nw)) AS i, toks FROM w)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, i * {stride} + 1, i * {stride} + {size}), ' ') AS chunk_text
FROM ex
"""

def _sq_mrl_ctes() -> str:
    """MRL mirrors: prefix-dim dot shortlist + exact rerank (mirrors
    search.mrl_topk — list_slice is 1-based inclusive like F.slice)."""
    return f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qp AS (SELECT list_slice(qv, 1, {MRL_M}) AS qpv FROM q),
pref AS (SELECT e.vec_id,
                {_sq_dot(f'list_slice(e.embedding, 1, {MRL_M})', 'qp.qpv')} AS ps
         FROM embeddings e, qp),
mrl_short AS (SELECT vec_id, ps FROM pref ORDER BY ps DESC, vec_id LIMIT {MRL_SHORTLIST}),
mrl_rr AS (SELECT e.vec_id, s.ps, {_sq_dot('e.embedding', 'q.qv')} AS sc
           FROM embeddings e JOIN mrl_short s USING (vec_id), q)"""

def _oracle_mrl_topk() -> str:
    return f"""
WITH {_sq_mrl_ctes()}
SELECT vec_id, {_r6('ps', 'prefix_score')}, {_r6('sc', 'score')} FROM mrl_rr
ORDER BY sc DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_recall_mrl() -> str:
    return f"""
WITH {_sq_mrl_ctes()},
exact AS (SELECT vec_id FROM
            (SELECT e.vec_id, {_sq_dot('e.embedding', 'q.qv')} AS s
             FROM embeddings e, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
approx AS (SELECT vec_id FROM mrl_rr ORDER BY sc DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _sq_bq_ctes() -> str:
    """Shared CTEs for the BQ mirrors: midrange thresholds (exact
    min/max copies, same training as operators.bq.train_bq_thresholds),
    per-row Hamming = count of sign mismatches vs the query — the
    packed-XOR+popcount the Spark side runs is bit-for-bit this count."""
    thr_terms = ", ".join(
        f"(min(embedding[{d + 1}]) + max(embedding[{d + 1}])) / 2.0"
        for d in range(64)
    )
    return f"""thr AS (SELECT [{thr_terms}] AS t FROM embeddings),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
ham AS (SELECT e.vec_id,
               CAST(list_sum(list_transform(range(1, 65), i ->
                 CASE WHEN (CAST(e.embedding[i] AS DOUBLE) > thr.t[i])
                        != (CAST(q.qv[i] AS DOUBLE) > thr.t[i])
                      THEN 1 ELSE 0 END)) AS INT) AS hamming
        FROM embeddings e, thr, q),
bq_short AS (SELECT vec_id, hamming FROM ham
             ORDER BY hamming ASC, vec_id LIMIT {BQ_SHORTLIST}),
bq_rr AS (SELECT e.vec_id, s.hamming, {_sq_dot('e.embedding', 'q.qv')} AS sc
          FROM embeddings e JOIN bq_short s USING (vec_id), q)"""

def _oracle_bq_topk() -> str:
    return f"""
WITH {_sq_bq_ctes()}
SELECT vec_id, hamming, {_r6('sc', 'score')} FROM bq_rr
ORDER BY sc DESC, vec_id LIMIT {TOPK_K}
"""

def _oracle_recall_bq() -> str:
    return f"""
WITH {_sq_bq_ctes()},
exact AS (SELECT vec_id FROM
            (SELECT e.vec_id, {_sq_dot('e.embedding', 'q.qv')} AS s
             FROM embeddings e, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
approx AS (SELECT vec_id FROM bq_rr ORDER BY sc DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _oracle_topk_per_label() -> str:
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (SELECT label, vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM embeddings, q),
ranked AS (SELECT label, vec_id, s,
                  CAST(row_number() OVER (PARTITION BY label ORDER BY s DESC, vec_id) AS INT) AS rank
           FROM scored)
SELECT label, vec_id, {_r6('s', 'score')}, rank FROM ranked WHERE rank <= {GROUP_TOPK_K}
"""

def _oracle_doc_mean_pool() -> str:
    d = RAG_DIM
    th = _sq_tok_hash("t")
    chunk_sql = _oracle_chunk_documents().strip()
    return f"""
WITH chunked AS ({chunk_sql}),
ct AS (SELECT doc_id, chunk_id, regexp_split_to_array(trim(chunk_text), '\\s+') AS w
       FROM chunked WHERE doc_id < {POOL_DOC_LIMIT}),
raw AS (SELECT doc_id, chunk_id,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM ct),
emb AS (SELECT doc_id, chunk_id,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM raw),
g AS (SELECT doc_id, list(e ORDER BY chunk_id) AS es, count(*) AS n FROM emb GROUP BY doc_id),
pool AS (SELECT doc_id,
  list_transform(range(0, {d}), j -> list_sum(list_transform(es, v -> v[j + 1])) / n) AS de
  FROM g)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, round(de[i], 6) + 0.0 AS val
FROM pool, (SELECT unnest(range(1, {d + 1})) AS i)
"""

def _oracle_recall_lsh_multiprobe() -> str:
    # mirror of search.lsh_probe_buckets: rank planes by |⟨q, p_j⟩|
    # ascending (ties by j), flip the weakest MULTIPROBE_BUCKETS-1 bits
    margin_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, abs({_sq_dot('qv', _sq_vec(p))}) AS m FROM q"
        for j, p in enumerate(LSH_PLANES)
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM embeddings, q)
          ORDER BY s DESC, vec_id LIMIT {TOPK_K}),
qb AS (SELECT {_sq_bucket('qv')} AS qbucket FROM q),
margins AS ({margin_rows}),
flips AS (SELECT j FROM (SELECT j, row_number() OVER (ORDER BY m ASC, j) AS rn FROM margins)
          WHERE rn <= {MULTIPROBE_BUCKETS - 1}),
probes AS (SELECT qbucket AS b FROM qb
           UNION ALL SELECT xor(qbucket, (1::BIGINT << j)) AS b FROM qb, flips),
cand AS (SELECT vec_id, embedding FROM embeddings
         WHERE {_sq_bucket('embedding')} IN (SELECT b FROM probes)),
approx AS (SELECT vec_id FROM (SELECT vec_id, {_sq_cosine('embedding', 'qv')} AS s FROM cand, q)
           ORDER BY s DESC, vec_id LIMIT {TOPK_K})
SELECT count(*) / {float(TOPK_K)} AS recall FROM approx JOIN exact USING (vec_id)
"""

def _oracle_prepare_vectors() -> str:
    return f"""
SELECT vec_id, label, CAST(vec_id % {N_SHARDS} AS INT) AS shard
FROM embeddings WHERE len(embedding) = 64
"""

def _oracle_normalized_vectors() -> str:
    return f"""
WITH n AS (SELECT vec_id, embedding, coalesce(nullif({_sq_norm('embedding')}, 0), 1e-12) AS nrm
           FROM embeddings WHERE vec_id < 50)
SELECT vec_id, CAST(i - 1 AS INT) AS pos,
       round(CAST(embedding[i] AS DOUBLE) / nrm, 6) + 0.0 AS val
FROM n, (SELECT unnest(range(1, 65)) AS i)
"""

def _oracle_chunk_documents() -> str:
    w = CHUNK_WORDS
    return f"""
WITH toks AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(range(0, greatest(CAST(ceil(len(t) / {float(w)}) AS BIGINT), 1))) AS i FROM toks),
chunks AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                  array_to_string(list_slice(t, i * {w} + 1, i * {w} + {w}), ' ') AS chunk_text
           FROM idx)
SELECT doc_id, chunk_idx,
       concat(CAST(doc_id AS VARCHAR), '::chunk', CAST(chunk_idx AS VARCHAR), '::',
              substr(md5(chunk_text), 1, 8)) AS chunk_id,
       chunk_text
FROM chunks
"""

def _oracle_rag_context() -> str:
    """DuckDB mirror of the full RAG retrieval tail. The hash embedding
    is re-derived in SQL (same md5-derived bucket/sign, same ε-guarded
    normalization); the question vector is the same Python-computed
    literal the Spark side closes over."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
        hash_embed_py,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.rag import (
        PROMPT_TEMPLATE,
    )

    d = RAG_DIM
    qv = _sq_vec(hash_embed_py(RAG_QUESTION, dim=d))
    th = _sq_tok_hash("t")
    chunk_sql = _oracle_chunk_documents().strip()
    prompt = PROMPT_TEMPLATE.replace("'", "''")
    # raw[j] = Σ_tokens ±1[bucket==j]; emb = raw / max(‖raw‖, 1e-12)
    return f"""
WITH chunked AS ({chunk_sql}),
ct AS (SELECT chunk_id, chunk_text, regexp_split_to_array(trim(chunk_text), '\\s+') AS w FROM chunked),
raw AS (SELECT chunk_id, chunk_text,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM ct),
emb AS (SELECT chunk_id, chunk_text,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM raw),
hits AS (SELECT chunk_id, chunk_text, {_sq_cosine('e', qv)} AS score
  FROM emb ORDER BY score DESC, chunk_id LIMIT {RAG_K}),
ctx AS (SELECT 0 AS qid,
  string_agg('- ' || chunk_text, chr(10) || chr(10) ORDER BY score DESC, chunk_text) AS context
  FROM hits)
SELECT qid, context,
       printf('{prompt}', context, '{RAG_QUESTION}') AS prompt
FROM ctx
"""

def _oracle_maxsim_topk() -> str:
    """MaxSim mirror: the chunk hash-embedding CTEs from the RAG
    mirror, then per-query-token max over each doc's chunks, summed in
    a fixed literal order (deterministic float arithmetic both
    engines)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
        hash_embed_py,
    )

    d = RAG_DIM
    q_vecs = [hash_embed_py(t, dim=d) for t in RAG_QUESTION.split()]
    th = _sq_tok_hash("t")
    chunk_sql = _oracle_chunk_documents().strip()
    dots = ", ".join(
        f"{_sq_dot('e', _sq_vec(qv))} AS d{i}" for i, qv in enumerate(q_vecs)
    )
    maxes = ", ".join(f"max(d{i}) AS m{i}" for i in range(len(q_vecs)))
    tot = " + ".join(f"m{i}" for i in range(len(q_vecs)))
    return f"""
WITH chunked AS ({chunk_sql}),
ct AS (SELECT doc_id, regexp_split_to_array(trim(chunk_text), '\\s+') AS w FROM chunked),
raw AS (SELECT doc_id,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM ct),
emb AS (SELECT doc_id,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM raw),
scored AS (SELECT doc_id, {dots} FROM emb),
agg AS (SELECT doc_id, {maxes} FROM scored GROUP BY doc_id)
SELECT doc_id, {_r6(f'({tot})', 'score')} FROM agg
ORDER BY ({tot}) DESC, doc_id LIMIT {MAXSIM_K}
"""

def _sq_bm25_ctes() -> str:
    """BM25 CTEs over ``documents``; exposes ``bm25(doc_id, score)``.
    Mirrors operators.lexical.bm25_topk: same left-associated double
    arithmetic, same term-ordered sequential score fold (list_sum over
    ``list(s ORDER BY term)`` ≡ sort_array + F.aggregate)."""
    terms = sorted(set(RAG_QUESTION.split()))
    term_list = ", ".join(f"'{t}'" for t in terms)
    k1, b = BM25_K1, BM25_B
    return f"""
__bl AS (SELECT doc_id, len({_SQ_TOKS}) AS dl, {_SQ_TOKS} AS t FROM documents),
__const AS (SELECT count(*) AS n, sum(dl) AS sdl FROM __bl),
__terms AS (SELECT doc_id, dl, unnest(t) AS term FROM __bl),
__tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM __terms
         WHERE term IN ({term_list}) GROUP BY 1, 2, 3),
__dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM __tf GROUP BY 1),
__sc AS (SELECT doc_id, term,
           ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / (CAST(sdl AS DOUBLE) / n))) AS s
         FROM __tf JOIN __dfreq USING (term), __const),
bm25 AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score FROM __sc GROUP BY doc_id)
"""

def _oracle_bm25_topk() -> str:
    return f"""
WITH {_sq_bm25_ctes().strip()}
SELECT doc_id, {_r6('score', 'score')} FROM bm25
ORDER BY score DESC, doc_id LIMIT {TOPK_K}
"""


def _oracle_bm25_knn_join() -> str:
    k1, b = BM25_K1, BM25_B
    return f"""
WITH __qs AS (SELECT doc_id AS qid, list_slice({_SQ_TOKS}, 1, {BM25Q_TOKENS}) AS qt
              FROM documents WHERE doc_id % {BM25Q_MOD} = 0),
__qterms AS (SELECT qid, unnest(list_distinct(qt)) AS term FROM __qs),
__bl AS (SELECT doc_id, len({_SQ_TOKS}) AS dl, {_SQ_TOKS} AS t FROM documents),
__const AS (SELECT count(*) AS n, sum(dl) AS sdl FROM __bl),
__terms AS (SELECT doc_id, dl, unnest(t) AS term FROM __bl),
__tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM __terms
         WHERE term IN (SELECT DISTINCT term FROM __qterms) GROUP BY 1, 2, 3),
__dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM __tf GROUP BY 1),
__sc AS (SELECT q.qid, t.doc_id, t.term,
           ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / (CAST(sdl AS DOUBLE) / n))) AS s
         FROM __tf t JOIN __dfreq USING (term) JOIN __qterms q USING (term), __const),
__sum AS (SELECT qid, doc_id, list_sum(list(s ORDER BY term)) AS score
          FROM __sc GROUP BY 1, 2),
ranked AS (SELECT qid, doc_id, score,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           FROM __sum)
SELECT qid, doc_id, {_r6('score', 'score')}, rank FROM ranked WHERE rank <= {KNN_K}
"""

def _sq_sparse_ctes(src: str = "documents") -> str:
    """Sparse sqrt-TF postings over ``src``; exposes
    ``__sppost(doc_id, term, w)``. Mirrors operators.sparse
    (sparse_from_text → sparse_postings): portable 60-bit term hash,
    hash-then-group (so 60-bit collisions merge identically),
    ``w = sqrt(tf)`` (IEEE-exact cross-engine, unlike ln)."""
    th = _sq_tok_hash("t")
    return f"""
__sptoks AS (SELECT doc_id, t FROM (SELECT doc_id, unnest({_SQ_TOKS}) AS t FROM {src}) WHERE t <> ''),
__sptf AS (SELECT doc_id, {th} AS term, count(*) AS tf FROM __sptoks GROUP BY 1, 2),
__sppost AS (SELECT doc_id, term, sqrt(CAST(tf AS DOUBLE)) AS w FROM __sptf)
"""

def _oracle_sparse_topk() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sparse import (
        sparse_query_py,
    )

    qi, qv = sparse_query_py(RAG_QUESTION)
    qvals = ", ".join(f"({h}, {w!r})" for h, w in zip(qi, qv))
    return f"""
WITH {_sq_sparse_ctes().strip()},
__spq(term, qw) AS (VALUES {qvals}),
__spsc AS (SELECT p.doc_id, p.term, p.w * q.qw AS s
           FROM __sppost p JOIN __spq q USING (term)),
__spsum AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __spsc GROUP BY doc_id)
SELECT doc_id, {_r6('score', 'score')} FROM __spsum
ORDER BY score DESC, doc_id LIMIT {TOPK_K}
"""

def _oracle_sparse_topk_filtered() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        SPARSE_FILTER_LANG,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sparse import (
        sparse_query_py,
    )

    qi, qv = sparse_query_py(RAG_QUESTION)
    qvals = ", ".join(f"({h}, {w!r})" for h, w in zip(qi, qv))
    src = f"(SELECT * FROM documents WHERE lang = '{SPARSE_FILTER_LANG}')"
    return f"""
WITH {_sq_sparse_ctes(src).strip()},
__spq(term, qw) AS (VALUES {qvals}),
__spsc AS (SELECT p.doc_id, p.term, p.w * q.qw AS s
           FROM __sppost p JOIN __spq q USING (term)),
__spsum AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __spsc GROUP BY doc_id)
SELECT doc_id, {_r6('score', 'score')} FROM __spsum
ORDER BY score DESC, doc_id LIMIT {TOPK_K}
"""

def _oracle_sparse_knn_join() -> str:
    th = _sq_tok_hash("t")
    return f"""
WITH {_sq_sparse_ctes().strip()},
__spqs AS (SELECT qid, t FROM (
           SELECT doc_id AS qid, unnest(list_slice({_SQ_TOKS}, 1, {BM25Q_TOKENS})) AS t
           FROM documents WHERE doc_id % {BM25Q_MOD} = 0) WHERE t <> ''),
__spqtf AS (SELECT qid, {th} AS term, count(*) AS tf FROM __spqs GROUP BY 1, 2),
__spqpost AS (SELECT qid, term, sqrt(CAST(tf AS DOUBLE)) AS qw FROM __spqtf),
__spsc AS (SELECT q.qid, p.doc_id, p.term, p.w * q.qw AS s
           FROM __sppost p JOIN __spqpost q USING (term)),
__spsum AS (SELECT qid, doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __spsc GROUP BY 1, 2),
__spranked AS (SELECT qid, doc_id, score,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
       FROM __spsum)
SELECT qid, doc_id, {_r6('score', 'score')}, rank FROM __spranked WHERE rank <= {KNN_K}
"""

def _oracle_hybrid_topk_rrf() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
        hash_embed_py,
    )

    d = RAG_DIM
    qv = _sq_vec(hash_embed_py(RAG_QUESTION, dim=d))
    th = _sq_tok_hash("t")
    return f"""
WITH {_sq_bm25_ctes().strip()},
__w AS (SELECT doc_id, {_SQ_TOKS} AS w FROM documents),
__raw AS (SELECT doc_id,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM __w),
__emb AS (SELECT doc_id,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM __raw),
__dense AS (SELECT doc_id, {_sq_cosine('e', qv)} AS score FROM __emb
            ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__dr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM __dense),
__lex AS (SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__lr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM __lex),
__fused AS (SELECT coalesce(__dr.doc_id, __lr.doc_id) AS doc_id,
              coalesce(1.0 / ({RRF_C} + __dr.r), 0.0)
              + coalesce(1.0 / ({RRF_C} + __lr.r), 0.0) AS rrf_score
            FROM __dr FULL OUTER JOIN __lr ON __dr.doc_id = __lr.doc_id)
SELECT doc_id, {_r6('rrf_score', 'rrf_score')} FROM __fused
ORDER BY rrf_score DESC, doc_id LIMIT {TOPK_K}
"""

def _sq_sparse_trunc_cte() -> str:
    """Per-doc top-SPARSE_TRUNC_M truncation of ``__sppost`` (weight
    desc, term asc — mirrors operators.sparse.sparse_truncate);
    exposes ``__sptr(doc_id, term, w)``."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        SPARSE_TRUNC_M,
    )

    return f"""
__sptr AS (SELECT doc_id, term, w FROM (
      SELECT doc_id, term, w, row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
      FROM __sppost) WHERE rn <= {SPARSE_TRUNC_M})
"""

def _oracle_sparse_topk_trunc() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sparse import (
        sparse_query_py,
    )

    qi, qv = sparse_query_py(RAG_QUESTION)
    qvals = ", ".join(f"({h}, {w!r})" for h, w in zip(qi, qv))
    return f"""
WITH {_sq_sparse_ctes().strip()},
{_sq_sparse_trunc_cte().strip()},
__spq(term, qw) AS (VALUES {qvals}),
__spsc AS (SELECT p.doc_id, p.term, p.w * q.qw AS s
           FROM __sptr p JOIN __spq q USING (term)),
__spsum AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __spsc GROUP BY doc_id)
SELECT doc_id, {_r6('score', 'score')} FROM __spsum
ORDER BY score DESC, doc_id LIMIT {TOPK_K}
"""

def _sq_sparse_sq8_cte() -> str:
    """8-bit quantize→dequantize of ``__sppost`` (mirrors
    operators.sparse.sparse_quantize/sparse_dequantize: per-doc max,
    ``floor(w/max·255 + 0.5)·max/255`` — floor, never a
    dialect-divergent round); exposes ``__spq8(doc_id, term, w)``."""
    return """
__spmax AS (SELECT doc_id, max(w) AS mw FROM __sppost GROUP BY 1),
__spq8 AS (SELECT p.doc_id, p.term,
             floor(p.w / m.mw * 255.0 + 0.5) * m.mw / 255.0 AS w
           FROM __sppost p JOIN __spmax m USING (doc_id))
"""

def _oracle_sparse_topk_sq8() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sparse import (
        sparse_query_py,
    )

    qi, qv = sparse_query_py(RAG_QUESTION)
    qvals = ", ".join(f"({h}, {w!r})" for h, w in zip(qi, qv))
    return f"""
WITH {_sq_sparse_ctes().strip()},
{_sq_sparse_sq8_cte().strip()},
__spq(term, qw) AS (VALUES {qvals}),
__spsc AS (SELECT p.doc_id, p.term, p.w * q.qw AS s
           FROM __spq8 p JOIN __spq q USING (term)),
__spsum AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __spsc GROUP BY doc_id)
SELECT doc_id, {_r6('score', 'score')} FROM __spsum
ORDER BY score DESC, doc_id LIMIT {TOPK_K}
"""

def _sq_sparse_recall_sql(extra_cte: str, approx_post: str) -> str:
    """Shared recall@KNN_K mirror for the sparse approximate tiers:
    BM25Q-set query encoding + the exact branch from ``__sppost`` +
    the approx branch from ``approx_post`` (a CTE provided via
    ``extra_cte``), inner-joined per query — one source of truth so
    the query rule can never drift between the tiers' oracles."""
    th = _sq_tok_hash("t")
    return f"""
WITH {_sq_sparse_ctes().strip()},
{extra_cte.strip()},
__spqs AS (SELECT qid, t FROM (
           SELECT doc_id AS qid, unnest(list_slice({_SQ_TOKS}, 1, {BM25Q_TOKENS})) AS t
           FROM documents WHERE doc_id % {BM25Q_MOD} = 0) WHERE t <> \'\'),
__spqtf AS (SELECT qid, {th} AS term, count(*) AS tf FROM __spqs GROUP BY 1, 2),
__spqpost AS (SELECT qid, term, sqrt(CAST(tf AS DOUBLE)) AS qw FROM __spqtf),
__exsc AS (SELECT q.qid, p.doc_id, p.term, p.w * q.qw AS s
           FROM __sppost p JOIN __spqpost q USING (term)),
__exsum AS (SELECT qid, doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __exsc GROUP BY 1, 2),
__exk AS (SELECT qid, doc_id FROM (SELECT qid, doc_id,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
          FROM __exsum) WHERE rn <= {KNN_K}),
__apsc AS (SELECT q.qid, p.doc_id, p.term, p.w * q.qw AS s
           FROM {approx_post} p JOIN __spqpost q USING (term)),
__apsum AS (SELECT qid, doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __apsc GROUP BY 1, 2),
__apk AS (SELECT qid, doc_id FROM (SELECT qid, doc_id,
            row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
          FROM __apsum) WHERE rn <= {KNN_K})
SELECT qid, count(*) / {float(KNN_K)} AS recall
FROM __apk JOIN __exk USING (qid, doc_id) GROUP BY qid
"""

def _oracle_recall_sparse_trunc() -> str:
    return _sq_sparse_recall_sql(_sq_sparse_trunc_cte(), "__sptr")

def _oracle_recall_sparse_sq8() -> str:
    return _sq_sparse_recall_sql(_sq_sparse_sq8_cte(), "__spq8")

def _oracle_hybrid_tri_rrf() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
        hash_embed_py,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sparse import (
        sparse_query_py,
    )

    d = RAG_DIM
    qv = _sq_vec(hash_embed_py(RAG_QUESTION, dim=d))
    th = _sq_tok_hash("t")
    qi, qsv = sparse_query_py(RAG_QUESTION)
    qvals = ", ".join(f"({h}, {w!r})" for h, w in zip(qi, qsv))
    return f"""
WITH {_sq_bm25_ctes().strip()},
{_sq_sparse_ctes().strip()},
__w AS (SELECT doc_id, {_SQ_TOKS} AS w FROM documents),
__raw AS (SELECT doc_id,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM __w),
__emb AS (SELECT doc_id,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM __raw),
__dense AS (SELECT doc_id, {_sq_cosine('e', qv)} AS score FROM __emb
            ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__dr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM __dense),
__lex AS (SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__lr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM __lex),
__spq(term, qw) AS (VALUES {qvals}),
__spsc AS (SELECT p.doc_id, p.term, p.w * q.qw AS s
           FROM __sppost p JOIN __spq q USING (term)),
__spsum AS (SELECT doc_id, list_sum(list(s ORDER BY term)) AS score
            FROM __spsc GROUP BY doc_id),
__sparse AS (SELECT doc_id, score FROM __spsum ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__sr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM __sparse),
__ab AS (SELECT coalesce(__dr.doc_id, __lr.doc_id) AS doc_id,
           coalesce(1.0 / ({RRF_C} + __dr.r), 0.0)
           + coalesce(1.0 / ({RRF_C} + __lr.r), 0.0) AS ab
         FROM __dr FULL OUTER JOIN __lr ON __dr.doc_id = __lr.doc_id),
__tri AS (SELECT coalesce(__ab.doc_id, __sr.doc_id) AS doc_id,
            coalesce(ab, 0.0) + coalesce(1.0 / ({RRF_C} + __sr.r), 0.0) AS rrf_score
          FROM __ab FULL OUTER JOIN __sr ON __ab.doc_id = __sr.doc_id)
SELECT doc_id, {_r6('rrf_score', 'rrf_score')} FROM __tri
ORDER BY rrf_score DESC, doc_id LIMIT {TOPK_K}
"""

def _oracle_hybrid_topk_linear() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.functions.embed import (
        hash_embed_py,
    )

    d = RAG_DIM
    qv = _sq_vec(hash_embed_py(RAG_QUESTION, dim=d))
    th = _sq_tok_hash("t")
    w = repr(float(HYBRID_W_DENSE))
    w2 = repr(1.0 - float(HYBRID_W_DENSE))
    return f"""
WITH {_sq_bm25_ctes().strip()},
__w AS (SELECT doc_id, {_SQ_TOKS} AS w FROM documents),
__raw AS (SELECT doc_id,
  list_transform(range(0, {d}), j -> CAST(coalesce(list_sum(
    list_transform(w, t -> CASE WHEN {th} % {d} = j
      THEN (CASE WHEN {th} % {2 * d} >= {d} THEN 1.0 ELSE -1.0 END)
      ELSE 0.0 END)), 0.0) AS DOUBLE)) AS rawv
  FROM __w),
__emb AS (SELECT doc_id,
  list_transform(rawv, x -> x / coalesce(nullif({_sq_norm('rawv')}, 0), 1e-12)) AS e
  FROM __raw),
__dense AS (SELECT doc_id, {_sq_cosine('e', qv)} AS score FROM __emb
            ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__lex AS (SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT {HYBRID_K_EACH}),
__dmm AS (SELECT min(score) AS lo, max(score) AS hi FROM __dense),
__lmm AS (SELECT min(score) AS lo, max(score) AS hi FROM __lex),
__dn AS (SELECT doc_id, CASE WHEN __dmm.hi - __dmm.lo = 0.0 THEN 1.0
                             ELSE (score - __dmm.lo) / (__dmm.hi - __dmm.lo) END AS n
         FROM __dense, __dmm),
__ln AS (SELECT doc_id, CASE WHEN __lmm.hi - __lmm.lo = 0.0 THEN 1.0
                             ELSE (score - __lmm.lo) / (__lmm.hi - __lmm.lo) END AS n
         FROM __lex, __lmm),
__f AS (SELECT coalesce(__dn.doc_id, __ln.doc_id) AS doc_id,
               coalesce(__dn.n, 0.0) * {w} + coalesce(__ln.n, 0.0) * {w2} AS fs
        FROM __dn FULL OUTER JOIN __ln ON __dn.doc_id = __ln.doc_id)
SELECT doc_id, {_r6('fs', 'fused_score')} FROM __f
ORDER BY fs DESC, doc_id LIMIT {TOPK_K}
"""

def _oracle_exact_dedup() -> str:
    return """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents
) WHERE rn = 1
"""

def _oracle_near_dup_pairs() -> str:
    return f"""
WITH {_SQ_TIDS_CTES.strip()},
{_SQ_NEAR_DUP_CTES.strip()}
SELECT id_a, id_b, {_r6('jaccard', 'jaccard')} FROM near_pairs
"""

def _sq_mixture_ctes() -> str:
    vals = ", ".join(f"('{s}', {float(p)!r})" for s, p in MIX_TARGET.items())
    return f"""tgt(lang, p) AS (VALUES {vals}),
mn AS (SELECT lang, count(*) AS n_avail FROM documents GROUP BY 1),
mj AS (SELECT mn.lang, mn.n_avail, tgt.p FROM mn JOIN tgt USING (lang)),
lam AS (SELECT min(n_avail / p) AS lam FROM mj),
mplan AS (SELECT mj.lang, mj.n_avail,
                 (lam.lam * mj.p) / mj.n_avail AS rate,
                 lam.lam * mj.p AS n_target
          FROM mj, lam)"""

def _oracle_mixture_plan() -> str:
    return f"""
WITH {_sq_mixture_ctes()}
SELECT lang, n_avail, {_r6('rate', 'rate')}, {_r6('n_target', 'n_target')} FROM mplan
"""

def _oracle_mixture_sample() -> str:
    mod = 1_000_000
    h = _sq_tok_hash("CAST(doc_id AS VARCHAR)")
    return f"""
WITH {_sq_mixture_ctes()}
SELECT d.doc_id, d.lang FROM documents d JOIN mplan USING (lang)
WHERE {h} % {mod} < CAST(mplan.rate * {mod} AS BIGINT)
"""

def _oracle_mixture_pipeline() -> str:
    """Curation-to-packing composite mirror (r8): RAW (unrounded)
    quality feeds the within-pred-lang percent_rank (ties impossible —
    the window orders by (quality, doc_id)), the gate keeps
    pctl ≥ floor, the mixture plan/rates rebuild over the SURVIVOR
    set, the portable-hash filter resamples, and the packer's
    per-stratum cumsum bins what remains — the same arithmetic chain,
    same operand order, as the Spark composite."""
    mod = 1_000_000
    h = _sq_tok_hash("CAST(doc_id AS VARCHAR)")
    vals = ", ".join(f"('{s}', {float(p)!r})" for s, p in MIXPIPE_TARGET.items())
    quality = (
        "(CASE WHEN n_tok BETWEEN 20 AND 10000 THEN 0.25 ELSE 0.0 END"
        " + CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END"
        " + 0.25 * alpha_ratio + 0.25 * distinct_ratio)"
    )
    return f"""
WITH __mt AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents),
__mm AS (SELECT doc_id,
             CAST(len(list_filter(toks, tk -> list_contains({_SQ_SW}, lower(tk)))) AS DOUBLE)
               / greatest(len(toks), 1) AS sw_ratio,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
             len(toks) AS n_tok
      FROM __mt),
__mq AS (SELECT doc_id, {quality} AS quality FROM __mm),
__ml AS (SELECT doc_id, pred_lang FROM ({_oracle_lang_id()})),
__ms AS (SELECT q.doc_id, q.quality, l.pred_lang
         FROM __mq q JOIN __ml l USING (doc_id)),
__mp AS (SELECT doc_id, pred_lang,
                percent_rank() OVER (PARTITION BY pred_lang
                                     ORDER BY quality ASC, doc_id ASC) AS pctl
         FROM __ms),
__mk AS (SELECT doc_id, pred_lang FROM __mp WHERE pctl >= {MIXPIPE_MIN_PCTL}),
__mtgt(pred_lang, p) AS (VALUES {vals}),
__mn AS (SELECT pred_lang, count(*) AS n_avail FROM __mk GROUP BY 1),
__mj AS (SELECT n.pred_lang, n.n_avail, t.p FROM __mn n JOIN __mtgt t USING (pred_lang)),
__mlam AS (SELECT min(n_avail / p) AS lam FROM __mj),
__mrate AS (SELECT pred_lang, (lam * p) / n_avail AS rate FROM __mj, __mlam),
__mx AS (SELECT k.doc_id, k.pred_lang FROM __mk k JOIN __mrate r USING (pred_lang)
         WHERE {h} % {mod} < CAST(r.rate * {mod} AS BIGINT)),
__pt AS (SELECT m.pred_lang, m.doc_id,
                CASE WHEN trim(d.text) = '' THEN 0 ELSE len({_SQ_TOKS}) END AS n_tokens
         FROM __mx m JOIN documents d USING (doc_id)),
__pc AS (SELECT *, sum(n_tokens) OVER (PARTITION BY pred_lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum FROM __pt)
SELECT pred_lang, doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor((cum - n_tokens) / {PACK_SEQ_LEN}) AS BIGINT) AS bin_id,
       CAST(cum - n_tokens - floor((cum - n_tokens) / {PACK_SEQ_LEN}) * {PACK_SEQ_LEN} AS BIGINT) AS bin_offset
FROM __pc
"""


def _oracle_stratified_sample() -> str:
    mod = 1_000_000
    rate = "0.0"
    for s, r in SAMPLE_RATES.items():
        rate = f"CASE WHEN lang = '{s}' THEN {float(r)} ELSE {rate} END"
    h = _sq_tok_hash("CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {h} % {mod} < CAST(({rate}) * {mod} AS BIGINT)
"""

def _oracle_pack_sequences() -> str:
    return f"""
WITH t AS (SELECT lang, doc_id,
                  CASE WHEN trim(text) = '' THEN 0 ELSE len({_SQ_TOKS}) END AS n_tokens
           FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum FROM t)
SELECT lang, doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor((cum - n_tokens) / {PACK_SEQ_LEN}) AS BIGINT) AS bin_id,
       CAST(cum - n_tokens - floor((cum - n_tokens) / {PACK_SEQ_LEN}) * {PACK_SEQ_LEN} AS BIGINT) AS bin_offset
FROM c
"""

def _oracle_embedding_near_dup_lsh() -> str:
    return f"""
WITH b AS (SELECT vec_id, embedding, {_sq_bucket('embedding')} AS bk FROM embeddings),
pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                 {_sq_cosine('x.embedding', 'y.embedding')} AS c
          FROM b x JOIN b y ON x.bk = y.bk AND x.vec_id < y.vec_id)
SELECT id_a, id_b, {_r6('c', 'cosine')} FROM pairs WHERE c >= {EMB_NEAR_DUP_TAU}
"""

def _oracle_curate_corpus() -> str:
    """Curation composite mirror: quality + lang over documents, gate,
    exact dedup, then the near-dup CTEs rebuilt over the SURVIVOR set
    (the vocabulary is rebuilt over the same rows the Spark pipeline
    hashes)."""
    langs = ", ".join(f"'{x}'" for x in CURATE_LANGS)
    quality = (
        "(CASE WHEN n_tok BETWEEN 20 AND 10000 THEN 0.25 ELSE 0.0 END"
        " + CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END"
        " + 0.25 * alpha_ratio + 0.25 * distinct_ratio)"
    )
    return f"""
WITH __qt AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents),
__qm AS (SELECT doc_id,
             CAST(len(list_filter(toks, tk -> list_contains({_SQ_SW}, lower(tk)))) AS DOUBLE)
               / greatest(len(toks), 1) AS sw_ratio,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
             len(toks) AS n_tok
      FROM __qt),
__q AS (SELECT doc_id, round({quality}, 6) AS quality FROM __qm),
__lt AS (SELECT doc_id, list_distinct(list_transform({_SQ_TOKS}, tk -> lower(tk))) AS lt FROM documents),
__lh AS (SELECT doc_id, l.lang, len(list_filter(lt, tk -> list_contains(l.words, tk))) AS h
         FROM __lt, (SELECT * FROM (VALUES {_SQ_LANG_VALUES}) AS v(lang, words)) l),
__lb AS (SELECT doc_id, lang, h,
                row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
         FROM __lh),
__l AS (SELECT doc_id, CASE WHEN h > 0 THEN lang ELSE 'und' END AS pred_lang FROM __lb WHERE rn = 1),
__gated AS (SELECT d.doc_id, d.text, q.quality, l.pred_lang
            FROM documents d JOIN __q q USING (doc_id) JOIN __l l USING (doc_id)
            WHERE q.quality >= {CURATE_MIN_QUALITY} AND l.pred_lang IN ({langs})),
curated0 AS (SELECT doc_id, text, quality, pred_lang FROM (
               SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM __gated
             ) WHERE rn = 1),
{_sq_tids_ctes_from('curated0').strip()},
{_SQ_NEAR_DUP_CTES.strip()},
__losers AS (SELECT DISTINCT id_b FROM near_pairs)
SELECT doc_id, quality + 0.0 AS quality, pred_lang
FROM curated0
WHERE NOT EXISTS (SELECT 1 FROM __losers WHERE __losers.id_b = curated0.doc_id)
"""

def _oracle_curate_corpus_full() -> str:
    """Full-hygiene composite mirror: the curate mirror plus a
    repetition-gate CTE, the PII regexp_replace chain (identity on this
    corpus — the md5 pins that), and decontamination CTEs over the
    survivor set."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    langs = ", ".join(f"'{x}'" for x in CURATE_LANGS)
    quality = (
        "(CASE WHEN n_tok BETWEEN 20 AND 10000 THEN 0.25 ELSE 0.0 END"
        " + CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END"
        " + 0.25 * alpha_ratio + 0.25 * distinct_ratio)"
    )
    redact = (
        "regexp_replace(regexp_replace(regexp_replace(text, '"
        + EMAIL_RE
        + "', '[EMAIL]', 'g'), '"
        + PHONE_RE
        + "', '[PHONE]', 'g'), '"
        + IPV4_RE
        + "', '[IP]', 'g')"
    )
    probe_text = (
        f"array_to_string(list_slice({_SQ_TOKS}, 1, {CONTAM_PROBE_TOKENS}), ' ')"
    )
    return f"""
WITH __qt AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents),
__qm AS (SELECT doc_id,
             CAST(len(list_filter(toks, tk -> list_contains({_SQ_SW}, lower(tk)))) AS DOUBLE)
               / greatest(len(toks), 1) AS sw_ratio,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
             len(toks) AS n_tok
      FROM __qt),
__q AS (SELECT doc_id, round({quality}, 6) AS quality FROM __qm),
__lt AS (SELECT doc_id, list_distinct(list_transform({_SQ_TOKS}, tk -> lower(tk))) AS lt FROM documents),
__lh AS (SELECT doc_id, l.lang, len(list_filter(lt, tk -> list_contains(l.words, tk))) AS h
         FROM __lt, (SELECT * FROM (VALUES {_SQ_LANG_VALUES}) AS v(lang, words)) l),
__lb AS (SELECT doc_id, lang, h,
                row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
         FROM __lh),
__l AS (SELECT doc_id, CASE WHEN h > 0 THEN lang ELSE 'und' END AS pred_lang FROM __lb WHERE rn = 1),
__rt AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
__rsh AS (SELECT doc_id, unnest({_sq_shingles('t', REPEAT_N)}) AS ngram FROM __rt),
__rc AS (SELECT doc_id, ngram, count(*) AS cnt FROM __rsh GROUP BY 1, 2),
__rp AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ng, count(*) AS n_d FROM __rc GROUP BY 1),
__rep AS (SELECT doc_id, round(1.0 - n_d / CAST(n_ng AS DOUBLE), 6) AS dup_ngram_ratio FROM __rp),
__gated AS (SELECT d.doc_id, {redact} AS text, q.quality, l.pred_lang, r.dup_ngram_ratio
            FROM documents d JOIN __q q USING (doc_id) JOIN __l l USING (doc_id)
                 JOIN __rep r USING (doc_id)
            WHERE q.quality >= {CURATE_MIN_QUALITY} AND l.pred_lang IN ({langs})
              AND r.dup_ngram_ratio <= {CURATE_MAX_DUP}),
curated0 AS (SELECT doc_id, text, quality, pred_lang, dup_ngram_ratio FROM (
               SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM __gated
             ) WHERE rn = 1),
{_sq_tids_ctes_from('curated0').strip()},
{_SQ_NEAR_DUP_CTES.strip()},
__losers AS (SELECT DISTINCT id_b FROM near_pairs),
__surv AS (SELECT * FROM curated0
           WHERE NOT EXISTS (SELECT 1 FROM __losers WHERE __losers.id_b = curated0.doc_id)),
__pb AS (SELECT doc_id, {probe_text} AS text FROM documents WHERE doc_id % {CONTAM_PROBE_MOD} = 0),
__pt AS (SELECT doc_id AS probe_id, {_SQ_TOKS} AS t FROM __pb),
__png AS (SELECT probe_id, unnest(list_distinct({_sq_shingles('t', CONTAM_N)})) AS ngram FROM __pt),
__pden AS (SELECT probe_id, count(*) AS n_probe FROM __png GROUP BY 1),
__tt AS (SELECT doc_id AS train_id, {_SQ_TOKS} AS t FROM __surv),
__tng AS (SELECT train_id, unnest(list_distinct({_sq_shingles('t', CONTAM_N)})) AS ngram FROM __tt),
__hits AS (SELECT train_id, probe_id, count(*) AS c FROM __tng JOIN __png USING (ngram) GROUP BY 1, 2),
__flag AS (SELECT DISTINCT train_id FROM __hits JOIN __pden USING (probe_id)
           WHERE round(c / CAST(n_probe AS DOUBLE), 6) + 0.0 >= {CONTAM_THRESHOLD})
SELECT doc_id, quality + 0.0 AS quality, pred_lang,
       dup_ngram_ratio + 0.0 AS dup_ngram_ratio, md5(text) AS redacted_md5
FROM __surv
WHERE NOT EXISTS (SELECT 1 FROM __flag WHERE __flag.train_id = __surv.doc_id)
"""

def _oracle_jaccard_pairs() -> str:
    return f"""
WITH {_SQ_TIDS_CTES.strip()},
ex AS (SELECT doc_id, len(tids) AS n, unnest(tids) AS tid FROM tids),
agg AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, count(*) AS inter
        FROM ex a JOIN ex b ON a.tid = b.tid AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, {_r6('CAST(inter AS DOUBLE) / (na + nb - inter)', 'jaccard')}
FROM agg WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {JACCARD_MIN}
"""

def _oracle_simhash() -> str:
    return f"""
WITH {_SQ_SIMHASH_CTES.strip()}
SELECT doc_id, simhash FROM sim
"""

def _oracle_simhash_near_dups() -> str:
    bb = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << bb) - 1
    return f"""
WITH {_SQ_SIMHASH_CTES.strip()},
blocks AS (SELECT doc_id, simhash, j AS blk, (simhash >> (j * {bb})) & {mask} AS key
           FROM sim, (SELECT unnest(range(0, {SIMHASH_BLOCKS})) AS j)),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sa, b.simhash AS sb
          FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {SIMHASH_MAX_HAMMING}
"""

def _oracle_embedding_near_dup() -> str:
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_r6(_sq_cosine('a.embedding', 'b.embedding'), 'cosine')}
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_sq_cosine('a.embedding', 'b.embedding')} >= {EMB_NEAR_DUP_TAU}
"""

def _oracle_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE {_SQ_TIDS_CTES.strip()},
{_SQ_NEAR_DUP_CTES.strip()},
edges AS (SELECT id_a AS s, id_b AS d FROM near_pairs
          UNION SELECT id_b, id_a FROM near_pairs),
reach (s, d) AS (SELECT s, d FROM edges
                 UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
SELECT s AS doc_id, least(min(d), s) AS canonical_id FROM reach GROUP BY s
"""

def _oracle_token_stats() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subword_tokens,
       {_r6("CAST(list_sum(list_transform(toks, tk -> length(tk))) AS DOUBLE) / greatest(len(toks), 1)", 'avg_token_len')}
FROM t
"""

_SQ_SW = "[" + ", ".join(f"'{w}'" for w in TX.EN_STOPWORDS) + "]"

#: language → wordlist VALUES rows (shared by lang_id + curation oracles);
#: must stay in sync with operators.textstats.lang_id's wordlists
_LANG_WORDLISTS = {
    "en": TX.EN_STOPWORDS,
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "un", "des", "du", "pour"],
    "es": ["el", "la", "los", "las", "es", "una", "uno", "para", "con", "por"],
}

_SQ_LANG_VALUES = ", ".join(
    "('" + lang + "', [" + ", ".join(f"'{w}'" for w in words) + "])"
    for lang, words in _LANG_WORDLISTS.items()
)

def _oracle_budget_select() -> str:
    quality = (
        "round(CASE WHEN n_tok BETWEEN 20 AND 10000 THEN 0.25 ELSE 0.0 END"
        " + CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END"
        " + 0.25 * alpha_ratio + 0.25 * distinct_ratio, 6)"
    )
    ws_tokens = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_SQ_TOKS}) END"
    return f"""
WITH t AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             CAST(len(list_filter(toks, tk -> list_contains({_SQ_SW}, lower(tk)))) AS DOUBLE)
               / greatest(len(toks), 1) AS sw_ratio,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
             len(toks) AS n_tok
      FROM t),
j AS (SELECT d.doc_id, {quality} AS quality, {ws_tokens} AS ntk
      FROM documents d JOIN m USING (doc_id)),
c AS (SELECT doc_id, quality, ntk,
             sum(ntk) OVER (ORDER BY quality DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM j)
SELECT doc_id, quality + 0.0 AS quality, CAST(ntk AS BIGINT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= {BUDGET_TOKENS}
"""

def _oracle_budget_select_tokencol() -> str:
    """budget_select with the token_count seam: the cumsum runs over
    the surrogate count column (length(text) %% 97 + 1), never the
    tokenizer — mirrors q_budget_select_tokencol exactly."""
    quality = (
        "round(CASE WHEN n_tok BETWEEN 20 AND 10000 THEN 0.25 ELSE 0.0 END"
        " + CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END"
        " + 0.25 * alpha_ratio + 0.25 * distinct_ratio, 6)"
    )
    return f"""
WITH t AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             CAST(len(list_filter(toks, tk -> list_contains({_SQ_SW}, lower(tk)))) AS DOUBLE)
               / greatest(len(toks), 1) AS sw_ratio,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
             len(toks) AS n_tok
      FROM t),
j AS (SELECT d.doc_id, {quality} AS quality,
             length(d.text) % 97 + 1 AS ntk
      FROM documents d JOIN m USING (doc_id)),
c AS (SELECT doc_id, quality, ntk,
             sum(ntk) OVER (ORDER BY quality DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM j)
SELECT doc_id, quality + 0.0 AS quality, CAST(ntk AS BIGINT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= {BUDGET_TOKENS}
"""

def _oracle_knn_classify() -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES}),
scored AS (SELECT qid, e.vec_id AS neighbor_id, {_sq_cosine('e.embedding', 'qv')} AS s
           FROM embeddings e, q),
ranked AS (SELECT qid, neighbor_id, s,
                  row_number() OVER (PARTITION BY qid ORDER BY s DESC, neighbor_id) AS rank
           FROM scored),
nn AS (SELECT qid, neighbor_id, s FROM ranked WHERE rank <= {KNN_K}),
lv AS (SELECT qid, e.label, count(*) AS votes, sum(s) AS vote_score
       FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id GROUP BY 1, 2),
best AS (SELECT *, row_number() OVER (PARTITION BY qid
                   ORDER BY votes DESC, vote_score DESC, label) AS rn FROM lv)
SELECT qid, CAST(label AS INT) AS pred_label, CAST(votes AS BIGINT) AS votes,
       {_r6('vote_score', 'vote_score')}
FROM best WHERE rn = 1
"""

def _oracle_quality_score() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_SQ_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             CAST(len(list_filter(toks, tk -> list_contains({_SQ_SW}, lower(tk)))) AS DOUBLE)
               / greatest(len(toks), 1) AS sw_ratio,
             CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS alpha_ratio,
             CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS distinct_ratio,
             len(toks) AS n_tok
      FROM t)
SELECT doc_id,
       {_r6('sw_ratio', 'stopword_ratio')},
       {_r6('alpha_ratio', 'alpha_ratio')},
       {_r6('distinct_ratio', 'distinct_token_ratio')},
       {_r6("(CASE WHEN n_tok BETWEEN 20 AND 10000 THEN 0.25 ELSE 0.0 END"
            " + CASE WHEN sw_ratio > 0.01 THEN 0.25 ELSE 0.0 END"
            " + 0.25 * alpha_ratio + 0.25 * distinct_ratio)", 'quality')}
FROM m
"""

def _oracle_lang_id() -> str:
    wordlists = {
        "en": TX.EN_STOPWORDS,
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit"],
        "fr": ["le", "la", "les", "et", "est", "une", "un", "des", "du", "pour"],
        "es": ["el", "la", "los", "las", "es", "una", "uno", "para", "con", "por"],
    }
    values = ", ".join(
        "('" + lang + "', [" + ", ".join(f"'{w}'" for w in words) + "])"
        for lang, words in wordlists.items()
    )
    return f"""
WITH t AS (SELECT doc_id, list_distinct(list_transform({_SQ_TOKS}, tk -> lower(tk))) AS lt FROM documents),
hits AS (SELECT doc_id, l.lang,
                len(list_filter(lt, tk -> list_contains(l.words, tk))) AS h
         FROM t, (SELECT * FROM (VALUES {values}) AS v(lang, words)) l),
best AS (SELECT doc_id, lang, h,
                row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
         FROM hits)
SELECT doc_id, CASE WHEN h > 0 THEN lang ELSE 'und' END AS pred_lang, CAST(h AS INT) AS stopword_hits
FROM best WHERE rn = 1
"""

def _oracle_rolling_fingerprint() -> str:
    k, base, prime = SHINGLE_N, T.FP_BASE, T.FP_PRIME
    return f"""
WITH t AS (SELECT doc_id, list_transform({_SQ_TOKS}, tok -> {_sq_tok_hash('tok')} % {1 << 30}) AS tids
           FROM documents),
w AS (SELECT doc_id, list_transform(range(1, greatest(len(tids) - {k - 1}, 1) + 1),
             i -> list_reduce(list_prepend(0::BIGINT, list_slice(tids, i, i + {k - 1})),
                              (acc, x) -> (acc * {base} + x) % {prime})) AS wh
      FROM t)
SELECT doc_id, list_min(wh) AS fingerprint, CAST(len(list_distinct(wh)) AS BIGINT) AS n_distinct_windows
FROM w
"""

def _oracle_corpus_stats() -> str:
    return f"""
WITH t AS (SELECT lang, source, text,
                  CASE WHEN trim(text) = '' THEN 0 ELSE len({_SQ_TOKS}) END AS ntok
           FROM documents)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(ntok) AS BIGINT) AS total_tokens,
       {_r6('avg(length(text))', 'avg_chars')}
FROM t GROUP BY lang, source
"""

def _oracle_repetition_stats() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_sq_shingles('t', REPEAT_N)}) AS ngram FROM t),
c AS (SELECT doc_id, ngram, count(*) AS cnt FROM sh GROUP BY 1, 2),
p AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
             count(*) AS n_distinct_ngrams, max(cnt) AS top FROM c GROUP BY 1)
SELECT doc_id, n_ngrams, n_distinct_ngrams,
       {_r6('1.0 - n_distinct_ngrams / CAST(n_ngrams AS DOUBLE)', 'dup_ngram_ratio')},
       {_r6('top / CAST(n_ngrams AS DOUBLE)', 'top_ngram_ratio')}
FROM p
"""

def _oracle_dup_span_stats() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_sq_shingles('t', DUP_SPAN_N)}) AS ngram FROM t),
occ AS (SELECT doc_id, ngram, count(*) AS cnt FROM sh GROUP BY 1, 2),
dfq AS (SELECT ngram, count(*) AS doc_freq FROM occ GROUP BY 1),
shared AS (
  SELECT o.doc_id, sum(o.cnt) AS n_shared
  FROM occ o JOIN dfq ON o.ngram = dfq.ngram AND dfq.doc_freq >= 2
  GROUP BY 1
),
tot AS (SELECT doc_id, len({_sq_shingles('t', DUP_SPAN_N)}) AS n_spans FROM t)
SELECT tot.doc_id, tot.n_spans,
       CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared_spans,
       {_r6('coalesce(s.n_shared, 0) / CAST(tot.n_spans AS DOUBLE)', 'dup_span_frac')}
FROM tot LEFT JOIN shared s ON tot.doc_id = s.doc_id
"""


def _oracle_remove_dup_spans() -> str:
    """Span-removal mirror: rank each n-gram's occurrences by
    (doc, pos) — rank 1 is the corpus-wide first occurrence — then a
    token survives iff some first-occurrence span covers it. Groups by
    the n-gram STRING (the Spark side hashes to xxhash64 longs), so
    the md5-pinned rewritten bytes also certify collision-freeness."""
    n = DUP_SPAN_N
    sh = _sq_shingles("t", n)
    return f"""
WITH t AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
sp AS (SELECT doc_id, unnest({sh}) AS g,
              unnest(range(1, len({sh}) + 1)) AS pos
       FROM t),
rk AS (SELECT doc_id, pos,
              row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
       FROM sp),
ke AS (SELECT doc_id, list_sort(list(pos)) AS ks FROM rk WHERE rn = 1 GROUP BY doc_id),
kp AS (SELECT t.doc_id, t.t AS w,
              list_sort(list_distinct(flatten(list_transform(coalesce(ke.ks, []),
                p -> range(p, least(p + {n - 1}, len(t.t)) + 1))))) AS kpos
       FROM t LEFT JOIN ke ON t.doc_id = ke.doc_id)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(kpos) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(list_transform(kpos, j -> w[j]), ' '), ''))
         AS clean_md5
FROM kp
"""


def _oracle_ranking_quality() -> str:
    import math

    idcg = sum(1.0 / math.log2(r + 1) for r in range(1, KNN_K + 1))
    pref_e = f"list_slice(e.embedding, 1, {RANK_EVAL_M})"
    pref_q = f"list_slice(qv, 1, {RANK_EVAL_M})"
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES}),
ex_s AS (SELECT qid, e.vec_id AS nid, {_sq_cosine('e.embedding', 'qv')} AS s FROM embeddings e, q),
exact AS (SELECT qid, nid FROM (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS r FROM ex_s
) WHERE r <= {KNN_K}),
ap_s AS (SELECT qid, e.vec_id AS nid, {_sq_cosine(pref_e, pref_q)} AS s FROM embeddings e, q),
approx AS (SELECT qid, nid, rank FROM (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rank FROM ap_s
) WHERE rank <= {KNN_K}),
hits AS (SELECT a.qid, a.rank FROM approx a JOIN exact USING (qid, nid)),
m AS (SELECT qid, sum(1.0 / log2(rank + 1.0)) / {idcg!r} AS ndcg,
             max(1.0 / rank) AS mrr
      FROM hits GROUP BY 1)
SELECT dq.qid, {_r6('coalesce(m.ndcg, 0.0)', 'ndcg')}, {_r6('coalesce(m.mrr, 0.0)', 'mrr')}
FROM (SELECT DISTINCT qid FROM q) dq LEFT JOIN m ON dq.qid = m.qid
"""


def _sq_dsir_ctes() -> str:
    """The DSIR weight CTE chain up to ``pd(doc_id, n_grams,
    log_weight)`` — shared by the weights and resample oracles.
    Mirrors operators.sampling.dsir_weights' featurization: each token
    hashed once (portable hash mod 2^31), unigram bucket = h mod K,
    bigram bucket = (h_i*31 + h_{i+1}) mod K — pure integer math, no
    bigram strings."""
    a, bkt = repr(float(DSIR_ALPHA)), DSIR_BUCKETS
    ab = repr(float(DSIR_ALPHA) * DSIR_BUCKETS)
    return f"""t AS (SELECT doc_id, lang, {_SQ_TOKS} AS toks FROM documents),
hb AS (SELECT doc_id, lang = 'en' AS is_t,
              list_transform(toks, x -> {_sq_tok_hash('x')} % 2147483648) AS hs
       FROM t),
feat AS (SELECT doc_id, is_t,
                list_concat(
                  list_transform(hs, h -> h % {bkt}),
                  list_transform(range(1, greatest(len(hs) - 1, 0) + 1),
                                 i -> (hs[i] * 31 + hs[i + 1]) % {bkt})
                ) AS bs
         FROM hb),
gb AS (SELECT doc_id, is_t, unnest(bs) AS b FROM feat),
raw AS (SELECT b, count(*) AS n_raw FROM gb GROUP BY 1),
tgt AS (SELECT b, count(*) AS n_tgt FROM gb WHERE is_t GROUP BY 1),
tots AS (SELECT (SELECT sum(n_raw) FROM raw) AS t_raw,
                (SELECT coalesce(sum(n_tgt), 0) FROM tgt) AS t_tgt),
lam AS (SELECT raw.b,
               ln((coalesce(tgt.n_tgt, 0) + {a}) / (tots.t_tgt + {ab}))
             - ln((raw.n_raw + {a}) / (tots.t_raw + {ab})) AS lam
        FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots),
pd AS (SELECT gb.doc_id, count(*) AS n_grams,
              sum(lam.lam) AS log_weight
       FROM gb JOIN lam USING (b) GROUP BY 1)"""


def _oracle_dsir_weights() -> str:
    return f"""
WITH {_sq_dsir_ctes()}
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       {_r6('log_weight', 'log_weight')},
       {_r6('log_weight / CAST(n_grams AS DOUBLE)', 'avg_log_weight')}
FROM pd
"""


def _oracle_normalized_dedup() -> str:
    return r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || '!!!' FROM documents WHERE doc_id % 3 = 0
),
c AS (SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS canon_md5
      FROM aug)
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies, canon_md5
FROM c GROUP BY canon_md5
"""


def _oracle_gopher_rules() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        GOPHER_MIN_WORDS,
    )
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.textstats import (
        GOPHER_STOPWORDS,
    )

    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return rf"""
WITH pg AS (
  SELECT doc_id, concat_ws('', text,
    CASE WHEN doc_id % 5 = 0 THEN chr(10) || '- bullet item one' || chr(10) || '- another bullet item' END,
    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'this line has to be continued...' END
  ) AS text FROM documents
),
b AS (
  SELECT doc_id, text, {_SQ_TOKS} AS t, string_split(text, chr(10)) AS lines
  FROM pg
),
m AS (
  SELECT doc_id, text, t, lines,
    len(t) AS n_words,
    greatest(len(t), 1) AS nw,
    greatest(len(lines), 1) AS nl,
    list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / greatest(len(t), 1) AS mean_wl,
    (len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')))
      / CAST(greatest(len(t), 1) AS DOUBLE) AS symbol_ratio,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))
      / CAST(greatest(len(lines), 1) AS DOUBLE) AS bullet_frac,
    len(list_filter(lines, l -> regexp_matches(trim(l), '\.\.\.$')))
      / CAST(greatest(len(lines), 1) AS DOUBLE) AS ellipsis_frac,
    len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
      / CAST(greatest(len(t), 1) AS DOUBLE) AS alpha_frac,
    len(list_intersect(list_distinct(list_transform(t, x -> lower(x))), [{stops}])) AS stop_hits
  FROM b
)
SELECT doc_id,
  CAST(n_words AS INT) AS n_words,
  {_r6('mean_wl', 'mean_word_len')},
  {_r6('symbol_ratio', 'symbol_word_ratio')},
  {_r6('bullet_frac', 'bullet_line_frac')},
  {_r6('ellipsis_frac', 'ellipsis_line_frac')},
  {_r6('alpha_frac', 'alpha_word_frac')},
  CAST(stop_hits AS INT) AS n_stopword_kinds,
  (n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000) AS r_word_count,
  (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_mean_word_len,
  (symbol_ratio <= 0.1) AS r_symbol_ratio,
  (bullet_frac <= 0.9) AS r_bullet_lines,
  (ellipsis_frac <= 0.3) AS r_ellipsis_lines,
  (alpha_frac >= 0.8) AS r_alpha_words,
  (stop_hits >= 2) AS r_stopwords,
  ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000)
   AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
   AND (symbol_ratio <= 0.1)
   AND (bullet_frac <= 0.9)
   AND (ellipsis_frac <= 0.3)
   AND (alpha_frac >= 0.8)
   AND (stop_hits >= 2)) AS gopher_pass
FROM m
"""


def _oracle_dsir_resample() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        DSIR_SAMPLE_N,
        DSIR_TEMP,
    )

    t = repr(float(DSIR_TEMP))
    u = (
        "(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':17'), 1, 15)) AS BIGINT)"
        " % 1000000 + 1) / 1000001.0"
    )
    return f"""
WITH {_sq_dsir_ctes()},
alw AS (SELECT doc_id, log_weight / CAST(n_grams AS DOUBLE) AS a FROM pd),
keyed AS (SELECT doc_id, a / {t} + (-ln(-ln({u}))) AS gumbel_key FROM alw)
SELECT doc_id, {_r6('gumbel_key', 'gumbel_key')}
FROM keyed ORDER BY keyed.gumbel_key DESC, doc_id ASC LIMIT {DSIR_SAMPLE_N}
"""


def _oracle_c4_clean() -> str:
    return r"""
WITH pg AS (
  SELECT doc_id, concat_ws(chr(10),
    substr(text, 1, 60) || ' and the sentence ends here.',
    'Home | About | Contact',
    CASE WHEN doc_id % 3 = 0 THEN 'Short stub'
         ELSE 'Another valid prose line number ' || CAST(doc_id % 10 AS VARCHAR) || '.' END,
    CASE WHEN doc_id % 7 = 0 THEN 'This page contains lorem ipsum filler text.'
         ELSE 'Clean closing line with punctuation.' END,
    CASE WHEN doc_id % 11 = 0 THEN 'var x = { javascript: true };' ELSE NULL END
  ) AS text FROM documents
),
k AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines,
        list_filter(string_split(text, chr(10)),
          x -> regexp_matches(trim(x), '[.!?"]$')
           AND len(regexp_split_to_array(trim(x), '\s+')) >= 5) AS kept
      FROM pg),
c AS (SELECT doc_id, text, lines, kept,
        array_to_string(list_transform(kept, x -> trim(x)), chr(10)) AS clean
      FROM k)
SELECT doc_id,
  CAST(len(lines) AS INT) AS n_lines,
  CAST(len(kept) AS INT) AS n_kept_lines,
  CAST(len(regexp_split_to_array(clean, '[.!?]+')) - 1 AS INT) AS n_sentences,
  md5(clean) AS clean_md5,
  (len(regexp_split_to_array(clean, '[.!?]+')) - 1 >= 3
   AND NOT (contains(lower(text), 'lorem ipsum')
            OR contains(text, '{')
            OR contains(lower(text), 'javascript'))
   AND len(kept) >= 1) AS keep
FROM c
"""


def _oracle_lm_doc_scores() -> str:
    a = repr(float(LM_ALPHA))
    return f"""
WITH toks AS (SELECT doc_id, list_concat(['<s>'], {_SQ_TOKS}) AS t
              FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
pairs AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
b AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
c AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
v AS (SELECT count(DISTINCT w2) AS v FROM pairs),
s AS (SELECT p.doc_id,
             ln((coalesce(b.c12, 0) + {a}) / (coalesce(c.c1, 0) + {a} * v.v)) AS logp
      FROM pairs p LEFT JOIN b USING (w1, w2) LEFT JOIN c USING (w1) CROSS JOIN v)
SELECT doc_id, count(*) AS n_bigrams,
       {_r6('avg(logp)', 'avg_logp')},
       {_r6('exp(-avg(logp))', 'ppl')}
FROM s GROUP BY doc_id
"""

def _oracle_top_ngrams() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_sq_shingles('t', TOPNG_N)}) AS ngram FROM t),
c AS (SELECT ngram, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY 1)
SELECT ngram, n_occurrences, n_docs FROM c
ORDER BY n_occurrences DESC, ngram ASC LIMIT {TOPNG_TOP}
"""

def _oracle_doc_signals() -> str:
    """Composes the four signal mirrors as subqueries (DuckDB allows a
    WITH inside a parenthesized subquery) — the one-frame signals table
    joins them on doc_id exactly like curation.doc_signals."""
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({_oracle_quality_score()})),
l AS (SELECT doc_id, pred_lang FROM ({_oracle_lang_id()})),
r AS (SELECT doc_id, dup_ngram_ratio FROM ({_oracle_repetition_stats()})),
lm AS (SELECT doc_id, n_bigrams, avg_logp, ppl FROM ({_oracle_lm_doc_scores()}))
SELECT q.doc_id, {_r6('q.quality', 'quality')}, l.pred_lang,
       {_r6('r.dup_ngram_ratio', 'dup_ngram_ratio')},
       lm.n_bigrams, {_r6('lm.avg_logp', 'avg_logp')}, {_r6('lm.ppl', 'ppl')}
FROM q JOIN l USING (doc_id)
LEFT JOIN r USING (doc_id) LEFT JOIN lm USING (doc_id)
"""

def _oracle_contamination_pairs() -> str:
    probe_text = (
        f"array_to_string(list_slice({_SQ_TOKS}, 1, {CONTAM_PROBE_TOKENS}), ' ')"
    )
    return f"""
WITH probes AS (SELECT doc_id, {probe_text} AS text
                FROM documents WHERE doc_id % {CONTAM_PROBE_MOD} = 0),
pt AS (SELECT doc_id AS probe_id, {_SQ_TOKS} AS t FROM probes),
png AS (SELECT probe_id, unnest(list_distinct({_sq_shingles('t', CONTAM_N)})) AS ngram FROM pt),
pden AS (SELECT probe_id, count(*) AS n_probe_ngrams FROM png GROUP BY 1),
tt AS (SELECT doc_id AS train_id, {_SQ_TOKS} AS t FROM documents),
tng AS (SELECT train_id, unnest(list_distinct({_sq_shingles('t', CONTAM_N)})) AS ngram FROM tt),
hits AS (SELECT train_id, probe_id, count(*) AS n_common
         FROM tng JOIN png USING (ngram) GROUP BY 1, 2),
j AS (SELECT train_id, probe_id, n_common,
             round(n_common / CAST(n_probe_ngrams AS DOUBLE), 6) + 0.0 AS containment
      FROM hits JOIN pden USING (probe_id))
SELECT train_id, probe_id, n_common, containment
FROM j WHERE containment >= {CONTAM_THRESHOLD}
"""

def _oracle_pii_scrub() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    # the patterns contain regex braces — keep them OUT of f-string bodies
    aug = (
        "SELECT doc_id, concat(text,"
        " CASE WHEN doc_id % 5 = 0 THEN concat(' Contact user', CAST(doc_id AS VARCHAR), '@example.com now.') ELSE '' END,"
        " CASE WHEN doc_id % 7 = 0 THEN ' Call 555-123-4567.' ELSE '' END,"
        " CASE WHEN doc_id % 11 = 0 THEN ' Host 10.0.0.1 up.' ELSE '' END) AS text"
        " FROM documents"
    )
    red = (
        "regexp_replace(regexp_replace(regexp_replace(text, '"
        + EMAIL_RE
        + "', '[EMAIL]', 'g'), '"
        + PHONE_RE
        + "', '[PHONE]', 'g'), '"
        + IPV4_RE
        + "', '[IP]', 'g')"
    )
    n_em = "len(regexp_extract_all(text, '" + EMAIL_RE + "'))"
    n_ph = "len(regexp_extract_all(text, '" + PHONE_RE + "'))"
    n_ip = "len(regexp_extract_all(text, '" + IPV4_RE + "'))"
    return (
        "WITH aug AS (" + aug + ")\n"
        "SELECT doc_id,\n"
        "  CAST(" + n_em + " AS INT) AS n_emails,\n"
        "  CAST(" + n_ph + " AS INT) AS n_phones,\n"
        "  CAST(" + n_ip + " AS INT) AS n_ipv4,\n"
        "  (" + n_em + " + " + n_ph + " + " + n_ip + ") > 0 AS has_pii,\n"
        "  md5(" + red + ") AS redacted_md5\n"
        "FROM aug"
    )

def _oracle_pii_cards() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    card_re = r"\b(?:[0-9]{4}[- ]){3}[0-9]{4}\b|\b[0-9]{16}\b"
    ds = "replace(replace(c, '-', ''), ' ', '')"
    dig = f"CAST(substr({ds}, i, 1) AS BIGINT)"
    luhn = (
        f"list_sum(list_transform(range(1, length({ds}) + 1), "
        f"i -> CASE WHEN (length({ds}) - i) % 2 = 1 "
        f"THEN (2 * {dig}) % 10 + (2 * {dig}) // 10 "
        f"ELSE {dig} END)) % 10 = 0"
    )
    valid = f"list_filter(regexp_extract_all(text, '{card_re}'), c -> {luhn})"
    scrub = (
        f"list_reduce(list_prepend(text, {valid}), "
        f"(acc, c) -> replace(acc, c, '[CARD]'))"
    )
    red = (
        "regexp_replace(regexp_replace(regexp_replace(" + scrub + ", '"
        + EMAIL_RE
        + "', '[EMAIL]', 'g'), '"
        + PHONE_RE
        + "', '[PHONE]', 'g'), '"
        + IPV4_RE
        + "', '[IP]', 'g')"
    )
    return (
        "WITH aug AS (SELECT doc_id, concat(text,"
        " CASE WHEN doc_id % 7 = 0 THEN ' pay 4111-1111-1111-1111 ok' ELSE '' END,"
        " CASE WHEN doc_id % 11 = 0 THEN ' ref 4111111111111112 x' ELSE '' END,"
        " CASE WHEN doc_id % 13 = 0 THEN ' card 5500005555555559 now' ELSE '' END) AS text"
        " FROM documents)\n"
        "SELECT doc_id,\n"
        "  CAST(len(" + valid + ") AS INT) AS n_cards,\n"
        "  md5(" + red + ") AS redacted_md5\n"
        "FROM aug"
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

_ORACLE_REVENUE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
"""

_ORACLE_TOP_ORDERS = """
SELECT c_mktsegment, CAST(rank AS INT) AS rank, o_orderkey, o_totalprice FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank <= 3
"""

_ORACLE_CUST_ORDER_STATS = """
WITH per_cust AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
SELECT coalesce(n_orders, 0) AS n_orders, count(*) AS n_customers
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY coalesce(n_orders, 0)
"""

_ORACLE_PARTS_ROLLUP = """
SELECT p_brand, p_type, count(*) AS n_parts, round(avg(p_retailprice), 6) AS avg_price
FROM part GROUP BY ROLLUP (p_brand, p_type)
"""


_ORACLE_CUST_NO_ORDERS = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '2001-01-01')
"""


_ORACLE_ORDER_PRIORITY_CUBE = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


_ORACLE_EVENTS_HOURLY = """
SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""

def _oracle_incremental_near_dup() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        NEW_BATCH_MOD,
        NEW_BATCH_OFFSET,
        NEW_BATCH_SUFFIX,
    )

    src = (
        f"(SELECT doc_id, text FROM documents"
        f" UNION ALL"
        f" SELECT doc_id + {NEW_BATCH_OFFSET}, text || '{NEW_BATCH_SUFFIX}'"
        f" FROM documents WHERE doc_id % {NEW_BATCH_MOD} = 0)"
    )
    return f"""
WITH {_sq_tids_ctes_from(src).strip()},
{_SQ_NEAR_DUP_CTES.strip()}
SELECT id_b AS new_id, id_a AS corpus_id, {_r6('jaccard', 'jaccard')}
FROM near_pairs
WHERE id_a < {NEW_BATCH_OFFSET} AND id_b >= {NEW_BATCH_OFFSET}
"""


def _oracle_tfidf_top_terms() -> str:
    toks = r"regexp_split_to_array(trim(lower(text)), '\s+')"
    return f"""
WITH terms AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             tf.tf * (ln((1.0 + n_docs) / (1.0 + dfq.df)) + 1.0) AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY round(tfidf, 6) DESC, tf DESC, term ASC) AS rank
      FROM s)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       {_r6('tfidf', 'tfidf')}, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3
"""


def _oracle_leakage_split() -> str:
    gid = "coalesce(c.canonical_id, d.doc_id)"
    h = f"CAST(concat('0x', substr(md5(concat('split:', CAST({gid} AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000"
    return f"""
WITH RECURSIVE {_SQ_TIDS_CTES.strip()},
{_SQ_NEAR_DUP_CTES.strip()},
edges AS (SELECT id_a AS s, id_b AS d FROM near_pairs
          UNION SELECT id_b, id_a FROM near_pairs),
reach (s, d) AS (SELECT s, d FROM edges
                 UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
comp AS (SELECT s AS doc_id, least(min(d), s) AS canonical_id FROM reach GROUP BY s)
SELECT d.doc_id, CAST({gid} AS BIGINT) AS group_id,
       CASE WHEN {h} < 200000 THEN 'val' ELSE 'train' END AS split
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


_ORACLE_VALUE_RANK = """
WITH r AS (SELECT event_id,
                  row_number() OVER (ORDER BY value ASC, event_id ASC) AS rank,
                  count(*) OVER () AS n
           FROM events)
SELECT event_id, CAST(rank AS BIGINT) AS rank,
       round(CASE WHEN n > 1 THEN (rank - 1) / CAST(n - 1 AS DOUBLE) ELSE 0.0 END, 6) + 0.0 AS pct
FROM r
"""


_ORACLE_RATE_LIMITED = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
w AS (SELECT *, ts_us - ts_us % 86400000000 AS win_start_us FROM e),
r AS (SELECT *, row_number() OVER (
        PARTITION BY user_id, win_start_us ORDER BY ts_us, event_id) AS rn
      FROM w)
SELECT event_id, user_id, ts_us, win_start_us, rn <= 3 AS admitted FROM r
"""


_ORACLE_CDC_SNAPSHOT = """
WITH snap AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
ch AS (SELECT o_custkey AS c_custkey, o_totalprice AS c_acctbal,
              'UPDATED' AS c_mktsegment,
              CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                   + day(o_orderdate) AS BIGINT) AS ts,
              o_orderkey AS seq,
              CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
       FROM orders),
latest AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY c_custkey ORDER BY ts DESC, seq DESC) AS rn FROM ch)
           WHERE rn = 1),
untouched AS (SELECT s.* FROM snap s WHERE NOT EXISTS
                (SELECT 1 FROM latest l WHERE l.c_custkey = s.c_custkey))
SELECT c_custkey, round(c_acctbal, 6) + 0.0 AS c_acctbal, c_mktsegment FROM untouched
UNION ALL
SELECT c_custkey, round(c_acctbal, 6) + 0.0, c_mktsegment FROM latest WHERE op <> 'D'
"""


_ORACLE_BIGRAM_PMI = f"""
WITH toks AS (SELECT doc_id, list_concat(['<s>'], {_SQ_TOKS}) AS t
              FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
pairs AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
b AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM b GROUP BY 1),
c2 AS (SELECT w2, sum(c12) AS c2 FROM b GROUP BY 1),
n AS (SELECT sum(c12) AS n FROM b)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       round(ln((c12 * n.n) / (c1.c1 * c2.c2)), 6) + 0.0 AS pmi
FROM b JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN n
WHERE c12 >= 5
"""


_ORACLE_SCRIPT_MIX = """
WITH aug AS (SELECT doc_id,
                    concat(text,
                           CASE WHEN doc_id % 7 = 0 THEN ' привет мир' ELSE '' END,
                           CASE WHEN doc_id % 11 = 0 THEN ' 你好世界' ELSE '' END) AS text
             FROM documents),
m AS (SELECT doc_id,
             length(regexp_replace(text, '\\s', '', 'g')) AS ns,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS lat,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dig,
             length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g')) AS cyr,
             length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk
      FROM aug)
SELECT doc_id, CAST(ns AS BIGINT) AS n_chars,
       round(lat / CAST(greatest(ns, 1) AS DOUBLE), 6) + 0.0 AS latin_ratio,
       round(dig / CAST(greatest(ns, 1) AS DOUBLE), 6) + 0.0 AS digit_ratio,
       round(cyr / CAST(greatest(ns, 1) AS DOUBLE), 6) + 0.0 AS cyrillic_ratio,
       round(cjk / CAST(greatest(ns, 1) AS DOUBLE), 6) + 0.0 AS cjk_ratio,
       round((ns - lat - dig - cyr - cjk) / CAST(greatest(ns, 1) AS DOUBLE), 6) + 0.0 AS other_ratio
FROM m
"""


_ORACLE_FUZZY_TITLES = """
WITH base AS (SELECT doc_id, substr(text, 1, 12) AS name FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     concat(substr(text, 1, 4), 'z', substr(text, 6, 7))
              FROM documents WHERE doc_id % 5 = 0),
k AS (SELECT doc_id, name, lower(substr(name, 1, 3)) AS pfx FROM base)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM k a JOIN k b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
WHERE levenshtein(a.name, b.name) <= 2
"""


_ORACLE_LEXICAL_DIVERSITY = r"""
WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
             FROM documents),
tc AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) + 0.0 AS ttr,
       round(log2(CAST(sum(c) AS DOUBLE))
             - sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 6) + 0.0 AS entropy
FROM tc GROUP BY 1
"""


_ORACLE_ZIPF_SLOPE = r"""
WITH c AS (SELECT tk, count(*) AS c FROM
             (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
              FROM documents)
           GROUP BY 1 ORDER BY c DESC, tk ASC LIMIT 1000),
r AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tk ASC) AS DOUBLE)) AS lr,
             ln(CAST(c AS DOUBLE)) AS lf FROM c)
SELECT round(regr_slope(lf, lr), 6) + 0.0 AS slope,
       round(regr_intercept(lf, lr), 6) + 0.0 AS intercept,
       CAST(count(*) AS BIGINT) AS n_terms
FROM r
"""


_ORACLE_READABILITY = r"""
WITH p AS (SELECT doc_id,
                  concat(substr(text, 1, 80), '. ', substr(text, 81, 60),
                         '! Is this text readable? Maybe.') AS text
           FROM documents),
m AS (SELECT doc_id,
             greatest(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1) AS n_words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vg
      FROM p)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sents AS BIGINT) AS n_sentences,
       CAST(greatest(vg, n_words) AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (n_words / CAST(n_sents AS DOUBLE))
             - 84.6 * (greatest(vg, n_words) / CAST(n_words AS DOUBLE)), 6) + 0.0 AS flesch
FROM m
"""


def _oracle_negative_samples() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        KNN_K,
        KNN_QUERIES,
    )

    h = ("CAST(concat('0x', substr(md5(concat(CAST(qid AS VARCHAR), ':', "
         "CAST(e.vec_id AS VARCHAR))), 1, 15)) AS BIGINT)")
    return f"""
WITH q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < {KNN_QUERIES}),
cand AS (SELECT qid, e.vec_id, {h} AS h
         FROM embeddings e, q WHERE e.vec_id <> qid),
ranked AS (SELECT qid, vec_id,
                  CAST(row_number() OVER (PARTITION BY qid ORDER BY h, vec_id) AS INT) AS rank
           FROM cand)
SELECT qid, vec_id, rank FROM ranked WHERE rank <= {KNN_K}
"""


def _oracle_epoch_upsample() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        EPOCH_MIX,
    )

    whole = " ".join(
        f"WHEN lang = '{s}' THEN {int(e)}" for s, e in EPOCH_MIX.items()
    )
    frac = " ".join(
        f"WHEN lang = '{s}' THEN {float(e) - int(e)!r}" for s, e in EPOCH_MIX.items()
    )
    u = ("CAST(concat('0x', substr(md5(concat('epoch', ':', "
         "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) / " + repr(float(1 << 60)))
    return f"""
WITH r AS (SELECT doc_id, lang,
                  (CASE {whole} ELSE 1 END)
                  + (CASE WHEN {u} < (CASE {frac} ELSE 0.0 END) THEN 1 ELSE 0 END) AS rep
           FROM documents)
SELECT doc_id, lang, CAST(u.e AS INT) AS epoch
FROM r, unnest(range(1, rep + 1)) AS u(e)
WHERE rep >= 1
"""


_ORACLE_DOMAIN_PERCENTILE = """
SELECT doc_id, lang,
       round(CAST(n_chars AS DOUBLE), 6) + 0.0 AS score,
       round(percent_rank() OVER (PARTITION BY lang
                                  ORDER BY CAST(n_chars AS DOUBLE), doc_id), 6) + 0.0 AS pctl
FROM documents
"""


_ORACLE_KFOLD_ASSIGN = f"""
WITH f AS (SELECT lang, doc_id,
                  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % {KFOLD_K} AS fold
           FROM documents)
SELECT CAST(fold AS BIGINT) AS fold, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM f GROUP BY 1, 2
"""


def _oracle_key_skew() -> str:
    return f"""
WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY 1),
t AS (SELECT sum(n_rows) AS total, count(*) AS n_keys FROM c)
SELECT l_suppkey, CAST(c.n_rows AS BIGINT) AS n_rows,
       {_r6('c.n_rows / CAST(t.total AS DOUBLE)', 'share')},
       {_r6('c.n_rows / (t.total / CAST(t.n_keys AS DOUBLE))', 'skew_ratio')}
FROM c, t ORDER BY c.n_rows DESC, l_suppkey ASC LIMIT 10
"""


def _oracle_event_funnel() -> str:
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        FUNNEL_STEPS,
    )

    s1, s2, s3 = FUNNEL_STEPS
    return f"""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
st1 AS (SELECT user_id, min(ts_us) AS stage1_us FROM e
        WHERE event_type = '{s1}' GROUP BY 1),
st2 AS (SELECT e.user_id, min(e.ts_us) AS stage2_us
        FROM e JOIN st1 ON e.user_id = st1.user_id
        WHERE e.event_type = '{s2}' AND e.ts_us > st1.stage1_us GROUP BY 1),
st3 AS (SELECT e.user_id, min(e.ts_us) AS stage3_us
        FROM e JOIN st2 ON e.user_id = st2.user_id
        WHERE e.event_type = '{s3}' AND e.ts_us > st2.stage2_us GROUP BY 1)
SELECT st1.user_id, st1.stage1_us, st2.stage2_us, st3.stage3_us,
       CAST(1 + (st2.stage2_us IS NOT NULL)::INT
              + (st3.stage3_us IS NOT NULL)::INT AS INT) AS n_stages_reached
FROM st1
LEFT JOIN st2 ON st1.user_id = st2.user_id
LEFT JOIN st3 ON st1.user_id = st3.user_id
"""


_ORACLE_SEGMENT_RETENTION = """
SELECT o_custkey FROM orders WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
"""


_ORACLE_EVENTS_MOVING_AVG = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg
FROM events
"""


_ORACLE_USER_GAPS = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
g AS (SELECT user_id, ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
      FROM e),
s AS (SELECT user_id, count(*) + 1 AS n_events,
             quantile_cont(gap, 0.5) AS med, max(gap) AS max_gap_us
      FROM g WHERE gap IS NOT NULL GROUP BY user_id)
SELECT user_id, n_events, round(med, 6) + 0.0 AS median_gap_us, max_gap_us FROM s
"""

_ORACLE_EVENTS_ASOF = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
c AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ts_us, value FROM e WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.ts_us, round(p.value, 6) + 0.0 AS value_asof
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
"""

def _oracle_view_click_attrib() -> str:
    win_us = VIEW_CLICK_WINDOW_MIN * 60 * 1_000_000
    return f"""
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
v AS (SELECT event_id AS view_id, user_id, ts_us AS vts FROM e WHERE event_type = 'view'),
c AS (SELECT event_id AS click_id, user_id, ts_us AS cts FROM e WHERE event_type = 'click')
SELECT user_id, view_id, click_id, cts - vts AS gap_us
FROM v JOIN c USING (user_id)
WHERE cts > vts AND cts <= vts + {win_us}
"""

def _oracle_orders_price_bands() -> str:
    cases = " ".join(
        f"WHEN o_totalprice >= {lo} AND o_totalprice < {hi} THEN '{b}'"
        for lo, hi, b in PRICE_BANDS
    )
    return f"""
SELECT CASE {cases} END AS band, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY 1
"""

#  sum/min/max pinned to BIGINT on both engines (Spark side casts to
#  long too): DuckDB sum(INT) is HUGEINT and min/max(INT) INT32, which
#  value-hash differently even when every value is equal.
_ORACLE_EVENTS_PROPS = """
SELECT event_type,
       count(CAST(json_extract(props, '$.k') AS INT)) AS n_with_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""

# each event at hour h is in the two 2h-wide 1h-sliding windows starting
# at h-1 and h — mirrored by unnesting both starts per event
_ORACLE_EVENTS_SLIDING = """
WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS h, event_type, value FROM events),
x AS (SELECT h - o AS win_start_hr, event_type, value
      FROM e, (SELECT unnest([0, 1]) AS o))
SELECT win_start_hr, event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM x GROUP BY 1, 2
"""

_ORACLE_EVENTS_SESSIONIZED = f"""
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_MIN * 60 * 1_000_000}
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
       round(sum(value), 6) AS session_value
FROM s GROUP BY user_id, session_id
"""

#: closed sessions only — the batch sessionization minus each user's
#: final (still-open-in-state) session; mirrors streaming.stateful
_ORACLE_EVENTS_SESSIONIZED_STREAM = (
    _ORACLE_EVENTS_SESSIONIZED.rstrip()
    + """
QUALIFY session_id <> max(session_id) OVER (PARTITION BY user_id)
"""
)


# ---------------------------------------------------------------------------
# round 8: exact all-pairs, z-order
# ---------------------------------------------------------------------------


def _oracle_prefix_jaccard_pairs() -> str:
    """BRUTE-FORCE all-pairs shingle Jaccard — deliberately not the
    prefix-filtered plan, so a hash match proves the Spark side's
    prefix pruning lossless."""
    sh = _sq_shingles('t', SHINGLE_N)
    return f"""
WITH tt AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
s AS (SELECT doc_id, list_distinct({sh}) AS sh FROM tt),
e AS (SELECT doc_id, unnest(sh) AS tok FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
i AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS o
      FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT ia AS id_a, ib AS id_b, {_r6('o / (na.n + nb.n - o)', 'jaccard')}
FROM i JOIN sz na ON na.doc_id = i.ia JOIN sz nb ON nb.doc_id = i.ib
WHERE o / (na.n + nb.n - o) >= 0.7
ORDER BY id_a, id_b
"""


def _oracle_zorder_stats() -> str:
    """Bit-identical Morton interleave of (l_partkey, l_suppkey) —
    mirrors operators/layout.zorder_value with pure integer shifts."""
    terms = " + ".join(
        f"(((x >> {i}) & 1) * {1 << (2 * i)}) + (((y >> {i}) & 1) * {1 << (2 * i + 1)})"
        for i in range(16)
    )
    return f"""
WITH n AS (SELECT (CAST(l_partkey AS BIGINT) * 33) % 65536 AS x,
                  (CAST(l_suppkey AS BIGINT) * 657) % 65536 AS y FROM lineitem),
z AS (SELECT x, y, {terms} AS z FROM n),
b AS (SELECT z >> 24 AS bucket, x, y FROM z)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max,
       CAST(max(x) - min(x) AS BIGINT) AS x_span,
       CAST(max(y) - min(y) AS BIGINT) AS y_span
FROM b GROUP BY bucket ORDER BY bucket
"""


def _oracle_sql_grouping_sets() -> str:
    """Verbatim portable text (contract.PORTABLE_SQL_GROUPING_SETS)."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        PORTABLE_SQL_GROUPING_SETS,
    )

    return PORTABLE_SQL_GROUPING_SETS


def _oracle_mmr_topk() -> str:
    """The MMR greedy unrolled into k SQL steps (selection state grows
    CTE by CTE) — same pool, same λ, same tie-breaks, same cosine fold
    as the Spark loop."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        MMR_K,
        MMR_LAM,
        MMR_POOL,
    )

    lam, om = MMR_LAM, 1.0 - MMR_LAM
    ctes = [
        f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cand AS MATERIALIZED (SELECT vec_id AS id, embedding AS v, {_sq_cosine('embedding', 'qv')} AS rel
         FROM embeddings, q ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}),
s1 AS (SELECT id, v, rel, 1 AS rank, {lam!r} * rel AS mmr
       FROM cand ORDER BY rel DESC, id LIMIT 1),
sel1 AS (SELECT id, v FROM s1)"""
    ]
    for t in range(2, MMR_K + 1):
        ctes.append(
            f"""p{t} AS (SELECT c.id, c.v, c.rel, max({_sq_cosine('c.v', 'p.v')}) AS ms
       FROM cand c, sel{t - 1} p WHERE c.id NOT IN (SELECT id FROM sel{t - 1})
       GROUP BY c.id, c.v, c.rel),
s{t} AS (SELECT id, v, rel, {t} AS rank, {lam!r} * rel - {om!r} * ms AS mmr
       FROM p{t} ORDER BY mmr DESC, id LIMIT 1),
sel{t} AS (SELECT id, v FROM sel{t - 1} UNION ALL SELECT id, v FROM s{t})"""
        )
    union = " UNION ALL ".join(
        f"SELECT id, rank, rel, mmr FROM s{t}" for t in range(1, MMR_K + 1)
    )
    return f"""
WITH {','.join(ctes)}
SELECT CAST(id AS BIGINT) AS id, CAST(rank AS INT) AS rank,
       {_r6('rel', 'rel')}, {_r6('mmr', 'mmr')}
FROM ({union}) ORDER BY rank
"""


def _oracle_mmr_knn_join() -> str:
    """Batch MMR unrolled: per-qid pools, per-qid argmax per greedy
    step — same λ, same cosine fold, same tie-breaks as the Spark
    set-level passes."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        KNN_QUERIES,
        MMR_K,
        MMR_LAM,
        MMRJ_POOL,
    )

    lam, om = MMR_LAM, 1.0 - MMR_LAM
    head = f"""qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {KNN_QUERIES}),
sc AS MATERIALIZED (SELECT q.qid, e.vec_id AS id, e.embedding AS v, {_sq_cosine('e.embedding', 'q.qv')} AS rel
       FROM embeddings e, qs q),
pool AS MATERIALIZED (SELECT qid, id, v, rel FROM (
           SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn FROM sc)
         WHERE rn <= {MMRJ_POOL}),
s1 AS (SELECT qid, id, v, rel, 1 AS rank, {lam!r} * rel AS mmr FROM (
         SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) AS rn FROM pool)
       WHERE rn = 1),
sel1 AS (SELECT qid, id, v FROM s1)"""
    steps = []
    for t in range(2, MMR_K + 1):
        steps.append(
            f"""p{t} AS (SELECT c.qid, c.id, c.v, c.rel, max({_sq_cosine('c.v', 'p.v')}) AS ms
       FROM pool c JOIN sel{t - 1} p ON c.qid = p.qid
       WHERE NOT EXISTS (SELECT 1 FROM sel{t - 1} x WHERE x.qid = c.qid AND x.id = c.id)
       GROUP BY c.qid, c.id, c.v, c.rel),
s{t} AS (SELECT qid, id, v, rel, {t} AS rank, mmr FROM (
           SELECT *, {lam!r} * rel - {om!r} * ms AS mmr,
                  row_number() OVER (PARTITION BY qid
                      ORDER BY ({lam!r} * rel - {om!r} * ms) DESC, id) AS rn
           FROM p{t}) WHERE rn = 1),
sel{t} AS (SELECT qid, id, v FROM sel{t - 1} UNION ALL SELECT qid, id, v FROM s{t})"""
        )
    union = " UNION ALL ".join(
        f"SELECT qid, id, rank, rel, mmr FROM s{t}" for t in range(1, MMR_K + 1)
    )
    return f"""
WITH {head},{','.join(steps)}
SELECT CAST(qid AS BIGINT) AS qid, CAST(id AS BIGINT) AS id,
       CAST(rank AS INT) AS rank, {_r6('rel', 'rel')}, {_r6('mmr', 'mmr')}
FROM ({union}) ORDER BY qid, rank
"""


def _oracle_kcenter_select() -> str:
    """Gonzalez greedy unrolled into k SQL steps — same seed, same
    min-L2² fold, same argmax tie-breaks."""
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.contract import (
        KCENTER_K,
    )

    ctes = [
        """src AS MATERIALIZED (SELECT vec_id AS id, embedding AS v FROM embeddings),
s1 AS (SELECT id, v, 1 AS rank, CAST(NULL AS DOUBLE) AS min_dist FROM src WHERE id = 0),
sel1 AS (SELECT id, v FROM s1)"""
    ]
    for t in range(2, KCENTER_K + 1):
        ctes.append(
            f"""p{t} AS (SELECT c.id, c.v, min({_sq_l2sq('c.v', 'p.v')}) AS d
       FROM src c, sel{t - 1} p WHERE c.id NOT IN (SELECT id FROM sel{t - 1})
       GROUP BY c.id, c.v),
s{t} AS (SELECT id, v, {t} AS rank, d AS min_dist FROM p{t} ORDER BY d DESC, id LIMIT 1),
sel{t} AS (SELECT id, v FROM sel{t - 1} UNION ALL SELECT id, v FROM s{t})"""
        )
    union = " UNION ALL ".join(
        f"SELECT id, rank, min_dist FROM s{t}" for t in range(1, KCENTER_K + 1)
    )
    return f"""
WITH {','.join(ctes)}
SELECT CAST(id AS BIGINT) AS id, CAST(rank AS INT) AS rank,
       {_r6('min_dist', 'min_dist')}
FROM ({union}) ORDER BY rank
"""


# ---------------------------------------------------------------------------
# round 9: priority sampling
# ---------------------------------------------------------------------------


_ORACLE_PRIORITY_SAMPLE = f"""
WITH w AS (SELECT doc_id,
                  CAST(CASE WHEN trim(text) = '' THEN 0
                            ELSE len({_SQ_TOKS}) END AS DOUBLE) AS weight
           FROM documents),
p AS (SELECT doc_id, weight,
             weight * 4294967296.0 /
               CAST(({_sq_tok_hash('CAST(doc_id AS VARCHAR)')} & 4294967295) + 1
                    AS DOUBLE) AS priority
      FROM w WHERE weight > 0),
r AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
      FROM p),
t AS (SELECT coalesce(max(CASE WHEN rn = 51 THEN priority END), 0) AS tau FROM r)
SELECT doc_id, {_r6('weight', 'weight')}, {_r6('priority', 'priority')},
       {_r6('greatest(weight, tau)', 'est_weight')}
FROM r, t WHERE rn <= 50
ORDER BY priority DESC, doc_id ASC
"""


def oracle_sql() -> dict[str, str]:
    # every queries() entry has a mirror: the multimodal decode stub was
    # made digest-derived precisely so the full pipeline value-checks.
    return {
        "topk_cosine": _oracle_topk("cosine"),
        "topk_l2": _oracle_topk("l2"),
        "sharded_topk": _oracle_sharded_topk(),
        "shard_pruned_topk": _oracle_shard_pruned_topk(),
        "knn_join": _oracle_knn(),
        "knn_join_expr": _oracle_knn(),
        "knn_join_grouped": _oracle_knn_grouped(),
        "lsh_topk": _oracle_lsh_topk(),
        "lsh_topk_indexed": _oracle_lsh_topk(),
        "lsh_topk_filtered_indexed": _oracle_lsh_topk_filtered(),
        "ivf_topk": _oracle_ivf_topk(),
        "ivf_topk_indexed": _oracle_ivf_topk(),
        "pq_topk": _oracle_pq_topk(),
        "pq_topk_indexed": _oracle_pq_topk(),
        "pq_rerank_topk": _oracle_pq_rerank_topk(),
        "ivfpq_topk": _oracle_ivfpq_topk(),
        "recall_ivfpq": _oracle_recall_ivfpq(),
        "recall_pq": _oracle_recall_pq(),
        "sq_topk": _oracle_sq_topk(),
        "sq_rerank_topk": _oracle_sq_rerank_topk(),
        "recall_sq": _oracle_recall_sq(),
        "recall_lsh": _oracle_recall_lsh(),
        "rp_topk": _oracle_rp_topk(),
        "grep_corpus": _oracle_grep_corpus(),
        "more_like_these": _oracle_more_like_these(),
        "grep_corpus_indexed": _oracle_grep_corpus(),
        "grep_many": _oracle_grep_many(),
        "grep_like": _oracle_grep_like(),
        "recall_rp": _oracle_recall_rp(),
        "rp_knn_join": _oracle_rp_knn_join(),
        "recall_ivf": _oracle_recall_ivf(),
        "recall_lsh_multiprobe": _oracle_recall_lsh_multiprobe(),
        "graph_beam_topk": _oracle_graph_beam_topk(),
        "recall_graph": _oracle_recall_graph(),
        "graph_beam_medoid_topk": _oracle_graph_beam_medoid_topk(),
        "graph_beam_pq_topk": _oracle_graph_beam_pq_topk(),
        "recall_graph_pq": _oracle_recall_graph_pq(),
        "graph_beam_pq_filtered_topk": _oracle_graph_beam_pq_filtered_topk(),
        # provably identical to the in-memory entry (codes/edges exact
        # through parquet) — shares its mirror, the pq_topk_indexed rule
        "graph_pq_topk_indexed": _oracle_graph_beam_pq_topk(),
        "graph_beam_filtered_topk": _oracle_graph_beam_filtered_topk(),
        "recall_graph_filtered": _oracle_recall_graph_filtered(),
        "range_search_cosine": _oracle_range_search_cosine(),
        "range_join_l2": _oracle_range_join_l2(),
        "range_count": _oracle_range_count(),
        "ivf_range_search": _oracle_ivf_range_search(),
        "range_recall_ivf": _oracle_range_recall_ivf(),
        "topk_per_label": _oracle_topk_per_label(),
        "doc_mean_pool": _oracle_doc_mean_pool(),
        "model_lang_id": _oracle_model_lang_id(),
        "ppm_image_features": _oracle_ppm_image_features(),
        "png_image_features": _oracle_png_image_features(),
        "jpeg_image_features": _oracle_jpeg_image_features(),
        "y4m_video_features": _oracle_y4m_video_features(),
        "wav_audio_features": _oracle_wav_audio_features(),
        "wav_spectral_features": _oracle_wav_spectral_features(),
        "dup_span_stats": _oracle_dup_span_stats(),
        "remove_dup_spans": _oracle_remove_dup_spans(),
        "ranking_quality": _oracle_ranking_quality(),
        "dsir_weights": _oracle_dsir_weights(),
        "c4_clean": _oracle_c4_clean(),
        "gopher_rules": _oracle_gopher_rules(),
        "normalized_dedup": _oracle_normalized_dedup(),
        "dsir_resample": _oracle_dsir_resample(),
        "event_funnel": _oracle_event_funnel(),
        "incremental_near_dup": _oracle_incremental_near_dup(),
        "key_skew": _oracle_key_skew(),
        "fuzzy_titles": _ORACLE_FUZZY_TITLES,
        "script_mix": _ORACLE_SCRIPT_MIX,
        "bigram_pmi": _ORACLE_BIGRAM_PMI,
        "cdc_snapshot": _ORACLE_CDC_SNAPSHOT,
        "rate_limited": _ORACLE_RATE_LIMITED,
        "lexical_diversity": _ORACLE_LEXICAL_DIVERSITY,
        "zipf_slope": _ORACLE_ZIPF_SLOPE,
        "readability": _ORACLE_READABILITY,
        "pii_cards": _oracle_pii_cards(),
        "negative_samples": _oracle_negative_samples(),
        "epoch_upsample": _oracle_epoch_upsample(),
        "domain_percentile": _ORACLE_DOMAIN_PERCENTILE,
        "sql_hot_keys": PORTABLE_SQL_HOT_KEYS,
        "sql_topk_cosine": PORTABLE_SQL_TOPK_COSINE,
        "sql_range_search": PORTABLE_SQL_RANGE_SEARCH,
        "sql_knn_join": PORTABLE_SQL_KNN_JOIN,
        "sql_forecast_revenue": PORTABLE_SQL_FORECAST_REVENUE,
        "sql_priority_orders": PORTABLE_SQL_PRIORITY_ORDERS,
        "kfold_assign": _ORACLE_KFOLD_ASSIGN,
        "value_rank": _ORACLE_VALUE_RANK,
        "tfidf_top_terms": _oracle_tfidf_top_terms(),
        "leakage_split": _oracle_leakage_split(),
        "topk_filtered": _oracle_topk_filtered(),
        "prepare_vectors": _oracle_prepare_vectors(),
        "normalized_vectors": _oracle_normalized_vectors(),
        "chunk_documents": _oracle_chunk_documents(),
        "rag_context": _oracle_rag_context(),
        "bm25_topk": _oracle_bm25_topk(),
        "bm25_topk_indexed": _oracle_bm25_topk(),
        "sparse_topk": _oracle_sparse_topk(),
        "sparse_topk_indexed": _oracle_sparse_topk(),
        "sparse_knn_join": _oracle_sparse_knn_join(),
        "hybrid_tri_rrf": _oracle_hybrid_tri_rrf(),
        "hnsw_topk": _oracle_hnsw_topk(),
        "recall_hnsw": _oracle_recall_hnsw(),
        "planned_filtered_topk": _oracle_topk_filtered(),
        "sparse_topk_trunc": _oracle_sparse_topk_trunc(),
        "hnsw_topk_indexed": _oracle_hnsw_topk(),
        "sparse_topk_sq8": _oracle_sparse_topk_sq8(),
        "sparse_topk_filtered": _oracle_sparse_topk_filtered(),
        "recall_sparse_sq8": _oracle_recall_sparse_sq8(),
        "recall_sparse_trunc": _oracle_recall_sparse_trunc(),
        "hybrid_topk_rrf": _oracle_hybrid_topk_rrf(),
        "exact_dedup_docs": _oracle_exact_dedup(),
        "curate_corpus": _oracle_curate_corpus(),
        "curate_corpus_full": _oracle_curate_corpus_full(),
        "stratified_sample": _oracle_stratified_sample(),
        "budget_select": _oracle_budget_select(),
        "budget_select_tokencol": _oracle_budget_select_tokencol(),
        "knn_classify": _oracle_knn_classify(),
        "pack_sequences": _oracle_pack_sequences(),
        "near_dup_pairs_minhash": _oracle_near_dup_pairs(),
        "jaccard_pairs": _oracle_jaccard_pairs(),
        "simhash_fingerprints": _oracle_simhash(),
        "simhash_near_dups": _oracle_simhash_near_dups(),
        "embedding_near_dup": _oracle_embedding_near_dup(),
        "embedding_near_dup_lsh": _oracle_embedding_near_dup_lsh(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "token_stats": _oracle_token_stats(),
        "quality_score": _oracle_quality_score(),
        "lang_id": _oracle_lang_id(),
        "repetition_stats": _oracle_repetition_stats(),
        "lm_doc_scores": _oracle_lm_doc_scores(),
        "top_ngrams": _oracle_top_ngrams(),
        "doc_signals": _oracle_doc_signals(),
        "bq_topk": _oracle_bq_topk(),
        "bq_topk_indexed": _oracle_bq_topk(),
        "recall_bq": _oracle_recall_bq(),
        "mrl_topk": _oracle_mrl_topk(),
        "recall_mrl": _oracle_recall_mrl(),
        "chunk_overlap": _oracle_chunk_overlap(),
        "ivf_knn_join": _oracle_ivf_knn_join(),
        "bm25_knn_join": _oracle_bm25_knn_join(),
        "kmeans_assign": _oracle_kmeans_assign(),
        "kmeans_one_iter": _oracle_kmeans_one_iter(),
        "semantic_dedup": _oracle_semantic_dedup(),
        "mixture_plan": _oracle_mixture_plan(),
        "mixture_sample": _oracle_mixture_sample(),
        "mixture_pipeline": _oracle_mixture_pipeline(),
        "maxsim_topk": _oracle_maxsim_topk(),
        "maxsim_topk_indexed": _oracle_maxsim_topk(),
        "hybrid_topk_linear": _oracle_hybrid_topk_linear(),
        "contamination_pairs": _oracle_contamination_pairs(),
        "pii_scrub": _oracle_pii_scrub(),
        "rolling_fingerprint": _oracle_rolling_fingerprint(),
        "corpus_stats": _oracle_corpus_stats(),
        "pricing_summary": _ORACLE_PRICING,
        "revenue_by_nation": _ORACLE_REVENUE,
        "top_orders_per_segment": _ORACLE_TOP_ORDERS,
        "customer_order_stats": _ORACLE_CUST_ORDER_STATS,
        "parts_rollup": _ORACLE_PARTS_ROLLUP,
        "customers_without_orders": _ORACLE_CUST_NO_ORDERS,
        "order_priority_cube": _ORACLE_ORDER_PRIORITY_CUBE,
        "events_hourly": _ORACLE_EVENTS_HOURLY,
        "events_sliding": _ORACLE_EVENTS_SLIDING,
        "events_props": _ORACLE_EVENTS_PROPS,
        "events_asof": _ORACLE_EVENTS_ASOF,
        "view_click_attrib": _oracle_view_click_attrib(),
        "orders_price_bands": _oracle_orders_price_bands(),
        "segment_retention": _ORACLE_SEGMENT_RETENTION,
        "events_moving_avg": _ORACLE_EVENTS_MOVING_AVG,
        "user_gap_stats": _ORACLE_USER_GAPS,
        "events_sessionized": _ORACLE_EVENTS_SESSIONIZED,
        "events_sessionized_stream": _ORACLE_EVENTS_SESSIONIZED_STREAM,
        "image_features": _oracle_image_features(),
        "video_frames": _oracle_video_frames(),
        "binary_meta": _oracle_binary_meta(),
        "bulk_random_load": _oracle_bulk_random_load(),
        "collection_stats": _oracle_collection_stats(),
        "prefix_jaccard_pairs": _oracle_prefix_jaccard_pairs(),
        "zorder_stats": _oracle_zorder_stats(),
        "sql_grouping_sets": _oracle_sql_grouping_sets(),
        "mmr_topk": _oracle_mmr_topk(),
        "mmr_knn_join": _oracle_mmr_knn_join(),
        "kcenter_select": _oracle_kcenter_select(),
        "priority_sample": _ORACLE_PRIORITY_SAMPLE,
        "ivfpq_res_topk": _oracle_ivfpq_res_topk(),
        "recall_ivfpq_res": _oracle_recall_ivfpq_res(),
        "mutual_knn": _oracle_mutual_knn(),
        "compaction_plan": _ORACLE_COMPACTION_PLAN,
        "containment_pairs": _oracle_containment_pairs(),
        "snm_pairs": _ORACLE_SNM_PAIRS,
        "sampled_groupby": _oracle_sampled_groupby(),
        "er_clusters": _ORACLE_ER_CLUSTERS,
        "dedup_recall": _oracle_dedup_recall(),
        "events_session_native": _ORACLE_EVENTS_SESSION_NATIVE,
    }


def _oracle_mutual_knn(k: int = 5) -> str:
    """Mutual kNN mirror: the same rank-per-qid (score desc, id asc)
    over all non-self pairs, top-k both directions, reciprocated edges
    once in canonical orientation."""
    return f"""
WITH scored AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                       {_sq_cosine('b.embedding', 'a.embedding')} AS s
                FROM embeddings a, embeddings b WHERE a.vec_id <> b.vec_id),
topk AS (SELECT qid, nid, s FROM (
           SELECT qid, nid, s,
                  row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS r
           FROM scored) WHERE r <= {k})
SELECT CAST(t.qid AS BIGINT) AS id_a, CAST(t.nid AS BIGINT) AS id_b, {_r6('t.s', 'score')}
FROM topk t JOIN topk u ON u.qid = t.nid AND u.nid = t.qid
WHERE t.qid < t.nid ORDER BY id_a, id_b
"""


_ORACLE_COMPACTION_PLAN = """
WITH inv AS (SELECT lang, doc_id, n_chars, n_chars < 500 AS small FROM documents),
st AS (SELECT lang, doc_id, n_chars, small,
              coalesce(sum(CASE WHEN small THEN n_chars END)
                OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
       FROM inv),
planned AS (SELECT lang, doc_id, n_chars,
                   CASE WHEN small THEN 'compact' ELSE 'keep' END AS action,
                   CASE WHEN small THEN CAST(floor(start / 2000) AS BIGINT) END AS grp,
                   small
            FROM st)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars, action, grp,
       CASE WHEN small THEN CAST(sum(n_chars) OVER (PARTITION BY lang, grp) AS BIGINT) END AS grp_bytes,
       CASE WHEN small THEN CAST(count(*) OVER (PARTITION BY lang, grp) AS BIGINT) END AS grp_files
FROM planned ORDER BY lang, doc_id
"""


def _oracle_containment_pairs() -> str:
    """BRUTE-FORCE all-pairs directed shingle containment — not the
    prefix-filtered plan, so a hash match proves the Spark side's
    asymmetric pruning lossless."""
    sh = _sq_shingles('t', SHINGLE_N)
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')
  FROM documents WHERE doc_id % 7 = 0),
tt AS (SELECT doc_id, {_SQ_TOKS} AS t FROM src),
s AS (SELECT doc_id, list_distinct({sh}) AS sh FROM tt),
e AS (SELECT doc_id, unnest(sh) AS tok FROM s),
sz AS (SELECT doc_id, len(sh) AS n FROM s),
i AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS o
      FROM e a JOIN e b ON a.tok = b.tok AND a.doc_id <> b.doc_id GROUP BY 1, 2)
SELECT CAST(ia AS BIGINT) AS id_a, CAST(ib AS BIGINT) AS id_b,
       {_r6('CAST(o AS DOUBLE) / CAST(na.n AS DOUBLE)', 'containment')}
FROM i JOIN sz na ON na.doc_id = i.ia JOIN sz nb ON nb.doc_id = i.ib
WHERE CAST(o AS DOUBLE) / CAST(na.n AS DOUBLE) >= 0.8
ORDER BY id_a, id_b
"""


_ORACLE_SNM_PAIRS = """
WITH src AS (
  SELECT doc_id, substring(text, 1, 12) AS name FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substring(text, 1, 4) || 'z' || substring(text, 6, 7)
  FROM documents WHERE doc_id % 5 = 0),
ranked AS (SELECT doc_id AS id, name AS key,
                  row_number() OVER (ORDER BY name, doc_id) AS pos FROM src),
pairs AS (SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
          FROM ranked a JOIN ranked b
            ON b.pos BETWEEN a.pos + 1 AND a.pos + 4)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, key_a, key_b,
       CAST(levenshtein(key_a, key_b) AS INT) AS dist
FROM pairs WHERE levenshtein(key_a, key_b) <= 2
ORDER BY id_a, id_b
"""


def _oracle_sampled_groupby(denom: int = 8) -> str:
    """The identical portable-hash 1/denom sample + Horvitz-Thompson
    estimators, exact truth joined in."""
    h = _sq_tok_hash("CAST(event_id AS VARCHAR)")
    p = 1.0 / denom
    factor = (1.0 - p) / (p * p)
    return f"""
WITH s AS (SELECT event_type, value FROM events WHERE {h} % {denom} = 0),
agg AS (SELECT event_type, count(*) AS n_sample, sum(value) AS sv, sum(value * value) AS svv
        FROM s GROUP BY 1),
ex AS (SELECT event_type, count(*) AS n_true, sum(value) AS st FROM events GROUP BY 1)
SELECT agg.event_type, CAST(n_sample AS BIGINT) AS n_sample,
       CAST(n_sample * {denom} AS BIGINT) AS n_est,
       {_r6(f'sv * CAST({denom} AS DOUBLE)', 'sum_est')},
       {_r6(f'sqrt({factor!r} * svv)', 'se_sum')},
       {_r6(f'sqrt({factor!r} * svv) / (CASE WHEN sv * CAST({denom} AS DOUBLE) <> 0 THEN abs(sv * CAST({denom} AS DOUBLE)) END)', 'rel_err')},
       CAST(n_true AS BIGINT) AS n_true, {_r6('st', 'sum_true')}
FROM agg JOIN ex ON ex.event_type = agg.event_type
ORDER BY 1
"""


_ORACLE_ER_CLUSTERS = """
WITH RECURSIVE base AS (
  SELECT doc_id, substr(text, 1, 12) AS name FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         concat(substr(text, 1, 4), 'z', substr(text, 6, 7))
  FROM documents WHERE doc_id % 5 = 0),
k AS (SELECT doc_id, name, lower(substr(name, 1, 3)) AS pfx FROM base),
p AS (SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM k a JOIN k b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
      WHERE levenshtein(a.name, b.name) <= 2),
edges AS (SELECT ia AS s, ib AS d FROM p UNION SELECT ib, ia FROM p),
reach (s, d) AS (SELECT s, d FROM edges
                 UNION SELECT r.s, x.d FROM reach r JOIN edges x ON r.d = x.s),
comp AS (SELECT s AS node, least(min(d), s) AS component FROM reach GROUP BY s)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.component, b.doc_id) AS BIGINT) AS cluster,
       c.component IS NOT NULL AS is_matched
FROM base b LEFT JOIN comp c ON c.node = b.doc_id
ORDER BY doc_id
"""


def _oracle_dedup_recall() -> str:
    """Exact truth via brute force, found via the minhash mirror's own
    CTEs, counts joined — recall measured the same way both engines."""
    sh = _sq_shingles('t', SHINGLE_N)
    return f"""
WITH {_SQ_TIDS_CTES.strip()},
{_SQ_NEAR_DUP_CTES.strip()},
tt AS (SELECT doc_id, {_SQ_TOKS} AS t FROM documents),
s2 AS (SELECT doc_id, list_distinct({sh}) AS sh FROM tt),
e2 AS (SELECT doc_id, unnest(sh) AS tok FROM s2),
sz AS (SELECT doc_id, len(sh) AS n FROM s2),
i2 AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS o
       FROM e2 a JOIN e2 b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2),
ex AS (SELECT ia AS id_a, ib AS id_b
       FROM i2 JOIN sz na ON na.doc_id = i2.ia JOIN sz nb ON nb.doc_id = i2.ib
       WHERE o / (na.n + nb.n - o) >= {NEAR_DUP_THRESHOLD}),
hit AS (SELECT ex.id_a FROM ex SEMI JOIN near_pairs np
        ON np.id_a = ex.id_a AND np.id_b = ex.id_b),
c AS (SELECT (SELECT count(*) FROM ex) AS n_exact,
             (SELECT count(*) FROM hit) AS n_found)
SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_found AS BIGINT) AS n_found,
       CAST(n_exact - n_found AS BIGINT) AS n_missed,
       {_r6('n_found / (CASE WHEN n_exact > 0 THEN CAST(n_exact AS DOUBLE) END)', 'recall')}
FROM c
"""


_ORACLE_EVENTS_SESSION_NATIVE = f"""
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w >= {30 * 60 * 1_000_000}
                     THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(count(*) AS BIGINT) AS n_events,
       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
       {_r6('round(sum(value), 6)', 'session_value')}
FROM s GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
"""
