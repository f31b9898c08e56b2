"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full extraction pipeline on the synthetic
Common-Crawl-style corpus at sf0.001 (byte-identity is asserted in pytest;
here the driver smoke-checks rows/schema).

``queries()`` / ``oracle_sql()`` — one pair per operator family from
SURVEY.md §2 plus the training-data-pipeline tier (dedup, similarity search,
text analysis, multimodal metadata) and relational/window/streaming-style
demonstrations. Column names/aliases match between Spark and SQL exactly;
floating-point outputs are rounded identically on both sides.

CURATION (round 4): the driver records the first 50 entries, so queries()
holds EXACTLY 50 — every one oracle-bearing (even the iterative k-means, via
an unrolled Lloyd's mirror with per-iteration centroid rounding pinned on
both sides). Five thin queries were folded into queries that hash-check the
same expressions — the full subsumption list is in SURVEY.md §8.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pbx_ds_ocr_server_spark.caching import materialize
from pbx_ds_ocr_server_spark.corpus import synthesize_corpus_df, wrapped_docs_df
from pbx_ds_ocr_server_spark.functions.text import (
    EMAIL_RE,
    IPV4_RE,
    STOPWORDS,
    hash_sample,
    lang_id,
    lang_id_table,
    pii_scrub,
    quality_score,
    simhash_table,
    stratified_sample,
    tfidf_top_terms,
    token_count,
)
from pbx_ds_ocr_server_spark.operators.dedup import (
    embedding_neardup_lsh,
    exact_dup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
)
from pbx_ds_ocr_server_spark.operators.extract import extract
from pbx_ds_ocr_server_spark.operators.similarity import (
    brute_force_topk,
    with_lsh_bucket,
)

# ---------------------------------------------------------------- helpers

# DuckDB-side whitespace normalization — the exact mirror of
# functions/text.norm_text (trim + collapse \s+ to single space).
NORM = "regexp_replace(trim(text), '\\s+', ' ', 'g')"
WORDS = f"string_split({NORM}, ' ')"
TOKENS = f"(CASE WHEN {NORM} = '' THEN 0 ELSE len({WORDS}) END)"

# hot-shingle document-frequency cap (skew guard) — the Spark queries and
# their DuckDB oracles MUST share this value (operators/dedup.jaccard_pairs).
MAX_SHINGLE_DF = 1000

# English stopword list as a SQL array literal body — the Gopher-gate
# mirror inside the corpus_curation oracle counts hits over the same set.
_EN_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS["en"])

# dup-injection used by the dedup queries (same on both sides): docs with
# doc_id < 20 duplicated under doc_id+1000000.
DOCS_U = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 20).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return d.unionByName(dup)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _doc_id_from_url(col: str = "url"):
    return F.substring_index(F.col(col), "://", -1).cast("bigint").alias("doc_id")


def _votes_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({WORDS}, w -> list_contains([{lst}], lower(w))))"


def _simhash_core(src: str = "documents") -> str:
    terms = []
    for b in range(16):
        ones = (
            f"len(list_filter(ws, w -> substr(md5(w), {b + 1}, 1) IN "
            "('8','9','a','b','c','d','e','f')))"
        )
        terms.append(
            f"(CASE WHEN nw > 0 AND 2*{ones} > nw THEN {1 << b} ELSE 0 END)"
        )
    total = " + ".join(terms)
    return (
        f"SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM "
        f"(SELECT doc_id, {WORDS} AS ws, {TOKENS} AS nw FROM {src})"
    )


def _simhash_sql() -> str:
    return _simhash_core("documents")


def _simhash_bands_core(src: str) -> str:
    """(doc_id, s0..s3) mirror of functions/text.simhash_bands_table."""
    from pbx_ds_ocr_server_spark.functions.text import (
        SIMHASH_BANDS,
        SIMHASH_HI,
    )

    band_cols = []
    for j, (off, bit) in enumerate(SIMHASH_BANDS):
        hi = ", ".join(f"'{c}'" for c in SIMHASH_HI[bit])
        terms = []
        for i in range(16):
            ones = (
                f"len(list_filter(ws, w -> substr(md5(w), {off + i + 1}, 1)"
                f" IN ({hi})))"
            )
            terms.append(
                f"(CASE WHEN nw > 0 AND 2*{ones} > nw THEN {1 << i} ELSE 0 END)"
            )
        band_cols.append(f"CAST({' + '.join(terms)} AS BIGINT) AS s{j}")
    return (
        f"SELECT doc_id, {', '.join(band_cols)} FROM "
        f"(SELECT doc_id, {WORDS} AS ws, {TOKENS} AS nw FROM {src})"
    )


def _plane_sql(p: int) -> str:
    """±1 pseudo-hyperplane component for 1-based list index i (md5 keyed
    0-based to match operators/similarity.hyperplane)."""
    return (
        f"(CASE WHEN substr(md5('{p}:' || (i-1)), 1, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END)"
    )


def _status_counts_sql() -> str:
    """Mirror of extract_status_counts WITHOUT running extraction: the
    corpus class is a pure sha256 hash of doc_id (corpus.doc_class) and
    every class maps to one terminal status, so the full (doc_class,
    status, n) distribution is predictable from first principles. A parser
    regression that flips any document's status breaks the hash match."""
    from pbx_ds_ocr_server_spark.corpus import _CLASS_TABLE

    cases = " ".join(
        f"WHEN {i} THEN '{c}'" for i, c in enumerate(_CLASS_TABLE)
    )
    return f"""
        WITH cls AS (
            SELECT CASE (CAST(concat('0x',
                       substr(sha256('class:' || CAST(doc_id AS VARCHAR)), 1, 16))
                       AS UBIGINT) % {len(_CLASS_TABLE)}) {cases} END AS doc_class
            FROM documents
        )
        SELECT doc_class,
               CASE WHEN doc_class IN ('empty', 'bad_pdf')
                        THEN 'rejected_unparseable'
                    WHEN doc_class = 'png' THEN 'succeeded_noop'
                    -- glyph-indexed, no ToUnicode: honest empty, not mojibake
                    WHEN doc_class = 'pdf_cid_noto' THEN 'succeeded_empty'
                    ELSE 'succeeded' END AS status,
               count(*) AS n
        FROM cls GROUP BY doc_class, status
    """


# exactly 10 words — one full paragraph chunk, so injecting it shifts the
# original text by a whole chunk and leaves all other chunk boundaries
# aligned (both the Spark query and the oracle depend on this)
_BOILER_PARA = "subscribe to our newsletter and follow us on social media"


def _paragraph_dedup_sql(wpp: int = 10, max_doc_freq: int = 1) -> str:
    """Mirror of operators/dedup.paragraph_dedup over the same even-doc_id
    boilerplate injection the Spark query applies."""
    norm = r"regexp_replace(trim(text), '\s+', ' ', 'g')"
    return f"""
        WITH inj AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN '{_BOILER_PARA} ' || text ELSE text END AS text
            FROM documents
        ),
        w AS (SELECT doc_id, string_split({norm}, ' ') AS ws FROM inj),
        p AS (
            SELECT doc_id, i AS pos,
                   array_to_string(
                       list_slice(ws, (i-1)*{wpp}+1, i*{wpp}), ' ') AS para
            FROM w, UNNEST(generate_series(1,
                greatest(CAST(ceil(len(ws)/{wpp}.0) AS INT), 1))) AS t(i)
        ),
        hot AS (
            SELECT md5(para) AS h FROM p
            GROUP BY 1 HAVING count(DISTINCT doc_id) > {max_doc_freq}
        ),
        keep AS (
            SELECT * FROM p WHERE md5(para) NOT IN (SELECT h FROM hot)
        ),
        reb AS (
            SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS text_dedup
            FROM keep GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(reb.text_dedup, '') AS text_dedup
        FROM documents d LEFT JOIN reb USING (doc_id)
    """


def _multimodal_meta_sql() -> str:
    """Mirror of the multimodal_meta slot: predicts EVERY column — header
    metadata AND decoded-pixel features — in closed form from doc_id.
    Media rows (doc_id %% 3 = 0) cycle variant m = (doc_id//3) %% 11
    (operators/multimodal.MEDIA_VARIANTS): m 0-5 are six ENCODINGS of the
    same gradient PNG (grey8 / RGB / palette / 16-bit / Adam7 /
    grey+alpha — width = 8 + id%9, height = 8 + id%7, base = id%64,
    pixel(x,y) = base+x+y), m=6 is a flat-block grayscale baseline JPEG
    (blocks_w = 1+(id%9)//3, blocks_h = 1+(id%6)//3, block(bx,by) =
    base+bx+by), m=8 (round 8) the SAME grayscale image as a Huffman
    PROGRESSIVE stream (DC+AC first + refinement scans — identical
    closed forms, rides every m=6 branch), m=7 (round 8) a flat-block
    4:2:0 YCbCr color JPEG whose
    luma-block grid is TWICE the m=6 grid (ew = 2*(1+(id%9)//3), eh =
    2*(1+(id%6)//3), base = 32+id%32, Cb 116 flat, Cr checkerboarding
    136/138 per MCU — see multimodal.synthetic_flat_color_jpeg: the
    BT.601 offsets make the luma bin exactly y-4 on both parities), and
    m=9/m=10 (round 8) a PCM WAV / minimal MP4 whose REAL container
    parses (kernels/av_meta RIFF chunk walk, ISO-BMFF box walk) must
    reproduce the closed-form channels / sample_rate / duration_ms /
    n_bytes — decode_ok stays NULL for them (it asserts PIXEL decode;
    sample data is opaque payload by design). All
    families have trapezoidal luminance histograms, so ONE lookup CTE
    over (w,h) covers PNG pixel space and both JPEG block spaces; a
    hash-green row therefore proves every decode path (palette lookup,
    16-bit downsample, Adam7 placement, alpha skip, gray and per-
    component color Huffman+IDCT, MCU interleave, chroma upsample,
    YCbCr→RGB rounding) reproduced every pixel. m=7's luma_mean is the
    exact integer ratio total3/(3*n_px) — ONE float division on both
    sides, so the doubles are bit-identical before the 4dp round. The
    `+ 0` in luma_entropy normalizes DuckDB's -0.0 for the single-block
    JPEG case (entropy exactly zero)."""
    return """
        WITH m AS (
            SELECT doc_id, text,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST((doc_id // 3) % 11 AS INT) END AS v,
                   CASE WHEN doc_id % 3 <> 0 THEN NULL
                        WHEN (doc_id // 3) % 11 IN (6, 8)
                        THEN CAST(1 + (doc_id % 9) // 3 AS INT)
                        WHEN (doc_id // 3) % 11 = 7
                        THEN CAST(2 * (1 + (doc_id % 9) // 3) AS INT)
                        WHEN (doc_id // 3) % 11 IN (9, 10) THEN NULL
                        ELSE CAST(8 + doc_id % 9 AS INT) END AS ew,
                   CASE WHEN doc_id % 3 <> 0 THEN NULL
                        WHEN (doc_id // 3) % 11 IN (6, 8)
                        THEN CAST(1 + (doc_id % 6) // 3 AS INT)
                        WHEN (doc_id // 3) % 11 = 7
                        THEN CAST(2 * (1 + (doc_id % 6) // 3) AS INT)
                        WHEN (doc_id // 3) % 11 IN (9, 10) THEN NULL
                        ELSE CAST(8 + doc_id % 7 AS INT) END AS eh
            FROM documents
        ),
        dims AS (
            SELECT w, h FROM UNNEST(generate_series(1, 16)) a(w),
                             UNNEST(generate_series(1, 14)) b(h)
        ),
        ent AS (
            SELECT w, h, -sum(p * log2(p)) AS e FROM (
                SELECT w, h,
                       (least(t, w - 1, h - 1, w + h - 2 - t) + 1)
                           / CAST(w * h AS DOUBLE) AS p
                FROM dims, UNNEST(generate_series(0, w + h - 2)) tt(t)
            ) GROUP BY w, h
        )
        SELECT m.doc_id AS id,
               CASE WHEN m.v = 9
                    THEN CAST(44 + (400 + m.doc_id % 512)
                              * (1 + m.doc_id % 2) * 2 AS BIGINT)
                    WHEN m.v = 10
                    THEN CAST(144 + m.doc_id % 97 AS BIGINT)
                    WHEN m.v IS NOT NULL THEN NULL
                    ELSE CAST(octet_length(encode(m.text)) AS BIGINT)
                    END AS n_bytes,
               CASE WHEN m.v IN (6, 7, 8) THEN 'jpeg'
                    WHEN m.v = 9 THEN 'wav'
                    WHEN m.v = 10 THEN 'mp4'
                    WHEN m.v IS NOT NULL THEN 'png'
                    WHEN m.text IS NULL THEN NULL
                    WHEN octet_length(encode(m.text)) = 0 THEN 'empty'
                    ELSE 'binary' END AS kind,
               CAST(CASE WHEN m.v IN (6, 7, 8) THEN 8 * m.ew ELSE m.ew END
                    AS INT) AS width,
               CAST(CASE WHEN m.v IN (6, 7, 8) THEN 8 * m.eh ELSE m.eh END
                    AS INT) AS height,
               CASE WHEN m.v IS NOT NULL THEN NULL ELSE md5(m.text)
                    END AS digest,
               CAST(CASE WHEN m.v IN (0, 3, 4, 6, 8) THEN 1
                         WHEN m.v IN (1, 2, 7) THEN 3
                         WHEN m.v = 5 THEN 2
                         WHEN m.v = 9 THEN 1 + m.doc_id % 2
                         END AS INT) AS channels,
               CAST(CASE WHEN m.v IN (6, 7, 8) THEN 64 * m.ew * m.eh
                         WHEN m.v IS NOT NULL THEN m.ew * m.eh
                         END AS BIGINT) AS n_px,
               CASE WHEN m.v = 7
                    THEN round(
                        (3 * 64 * (m.ew * m.eh * (32 + m.doc_id % 32)
                                   + m.eh * (m.ew * (m.ew - 1) // 2)
                                   + m.ew * (m.eh * (m.eh - 1) // 2))
                         - 256 * (12 * (m.ew * m.eh // 4
                                        - m.ew * m.eh // 4 // 2)
                                  + 10 * (m.ew * m.eh // 4 // 2)))
                        / CAST(3 * 64 * m.ew * m.eh AS DOUBLE), 4)
                    WHEN m.v IS NOT NULL
                    THEN round(m.doc_id % 64 + (m.ew - 1) / 2.0
                               + (m.eh - 1) / 2.0, 4)
                    END AS luma_mean,
               round(ent.e + 0, 4) AS luma_entropy,
               CASE WHEN m.v IS NOT NULL AND m.v < 9 THEN CAST(1 AS INT)
                    END AS decode_ok,
               CAST(CASE WHEN m.v = 9
                         THEN 8000 + (m.doc_id % 8) * 1000
                         END AS INT) AS sample_rate,
               CAST(CASE WHEN m.v = 9
                         THEN (400 + m.doc_id % 512) * 1000
                              // (8000 + (m.doc_id % 8) * 1000)
                         WHEN m.v = 10
                         THEN (600 + m.doc_id % 6000) * 1000 // 600
                         END AS BIGINT) AS duration_ms
        FROM m
        LEFT JOIN ent ON ent.w = m.ew AND ent.h = m.eh
    """


def _exactsubstr_chunks_sql(k: int = 8, min_docs: int = 2) -> str:
    """Mirror of operators/dedup.exact_substr_dedup (span discovery via
    k-shingle hashes shared by >= min_docs distinct docs, gaps-and-islands
    extent merge, token subtraction) composed with the chunk_documents
    expression, over the same even-doc_id boiler injection the Spark query
    applies. Window frames, the 1-based inclusive extent convention, and
    the md5-of-space-joined-window shingle hash are pinned identically on
    both sides."""
    norm = r"regexp_replace(trim(text), '\s+', ' ', 'g')"
    return f"""
        WITH inj AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0
                        THEN '{_BOILER_PARA} ' || text ELSE text END AS text
            FROM documents
        ),
        w AS (SELECT doc_id, string_split({norm}, ' ') AS ws FROM inj),
        p AS (
            SELECT doc_id, i AS s,
                   md5(array_to_string(
                       list_slice(ws, i, i + {k} - 1), ' ')) AS h
            FROM w, UNNEST(generate_series(1, len(ws) - {k} + 1)) AS t(i)
            WHERE len(ws) >= {k}
        ),
        dup AS (
            SELECT h FROM p
            GROUP BY h HAVING count(DISTINCT doc_id) >= {min_docs}
        ),
        hits AS (
            SELECT doc_id, s, s + {k} - 1 AS e FROM p
            WHERE h IN (SELECT h FROM dup)
        ),
        isl AS (
            SELECT doc_id, s, e,
                   CASE WHEN s > coalesce(max(e) OVER (
                            PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0)
                        THEN 1 ELSE 0 END AS new_isl
            FROM hits
        ),
        isl2 AS (
            SELECT doc_id, s, e,
                   sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                       ROWS UNBOUNDED PRECEDING) AS gid
            FROM isl
        ),
        spans AS (
            SELECT doc_id, min(s) AS s, max(e) AS e
            FROM isl2 GROUP BY doc_id, gid
        ),
        nrem AS (
            SELECT doc_id, sum(e - s + 1) AS n_removed
            FROM spans GROUP BY doc_id
        ),
        toks AS (
            SELECT doc_id, i, ws[i] AS tok
            FROM w, UNNEST(generate_series(1, len(ws))) AS t(i)
        ),
        kept AS (
            SELECT t.doc_id, t.i, t.tok FROM toks t
            WHERE NOT EXISTS (
                SELECT 1 FROM spans sp
                WHERE sp.doc_id = t.doc_id
                  AND t.i >= sp.s AND t.i <= sp.e)
        ),
        clean AS (
            SELECT w.doc_id,
                   coalesce(kk.text_clean, '') AS text_clean,
                   coalesce(n.n_removed, 0) AS n_removed
            FROM w
            LEFT JOIN (SELECT doc_id,
                              string_agg(tok, ' ' ORDER BY i) AS text_clean
                       FROM kept GROUP BY doc_id) kk USING (doc_id)
            LEFT JOIN nrem n USING (doc_id)
        ),
        cw AS (SELECT doc_id, n_removed,
                      string_split(text_clean, ' ') AS ws
               FROM clean)
        SELECT doc_id, CAST(kc AS BIGINT) AS chunk_id,
               CAST(len(ws) AS BIGINT) AS n_words,
               array_to_string(list_slice(ws, kc*48+1, kc*48+64), ' ')
                   AS chunk,
               CAST(n_removed AS BIGINT) AS n_removed
        FROM cw, UNNEST(generate_series(0,
            CAST(ceil(greatest(len(ws) - 64, 0) / 48.0) AS INT))) AS t(kc)
    """


def _token_counts_cjk_sql() -> str:
    """Mirror of functions/text.token_count_cjk over the same deterministic
    mixed-script injection the Spark query applies (doc_id < 50 gets CJK
    prepended/appended under doc_id+2000000)."""
    from pbx_ds_ocr_server_spark.functions.text import CJK_CLASS

    norm_rest = r"regexp_replace(trim(rest), '\s+', ' ', 'g')"
    toks = (
        f"(CASE WHEN {norm_rest} = '' THEN 0"
        f" ELSE len(string_split({norm_rest}, ' ')) END)"
    )
    return f"""
        WITH docs_cjk AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 2000000 AS doc_id,
                   '中文 开头 ' || text || ' 的是不了在我有和' AS text
            FROM documents WHERE doc_id < 50
        ),
        parts AS (
            SELECT doc_id,
                   length(text)
                   - length(regexp_replace(text, '{CJK_CLASS}', '', 'g'))
                       AS n_cjk,
                   regexp_replace(text, '{CJK_CLASS}', ' ', 'g') AS rest
            FROM docs_cjk
        )
        SELECT doc_id, CAST(n_cjk + {toks} AS BIGINT) AS n_tokens FROM parts
    """


def _lsh_bucket_sql(n_planes: int = 8, dims: int = 64) -> str:
    terms = []
    for p in range(n_planes):
        dot = (
            f"list_sum(list_transform(generate_series(1, {dims}), "
            f"i -> embedding[i]::DOUBLE * {_plane_sql(p)}))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _ann_ivf_kmeans_sql(
    k_clusters: int = 8, iters: int = 3, k: int = 5, n_probe: int = 2,
    dims: int = 64,
) -> str:
    """Unrolled Lloyd's-iteration mirror of operators/kmeans.ivf_kmeans_topk
    (centroid_round_dp=5). Long-form melt: vectors and centroids as
    (id/cluster, dim, value) relations; each iteration = one assignment
    join (argmin of per-cluster squared distance, ties → lowest cluster)
    + one per-(cluster, dim) rounded mean, empty clusters keeping their
    previous centroid via the left-join coalesce. Init = the k vectors
    with the smallest md5(vec_id), exactly like kmeans_fit."""
    melt = f"UNNEST(generate_series(1, {dims})) AS t(d)"
    parts = [
        f"""q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                 WHERE vec_id = 0),
        base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                 WHERE vec_id <> 0),
        m AS (SELECT vec_id, d - 1 AS dim, v[d] AS val FROM base, {melt}),
        init AS (
            SELECT vec_id, rn - 1 AS ci FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                FROM base)
            WHERE rn <= {k_clusters}
        ),
        c0 AS (SELECT i.ci, m.dim, m.val AS c FROM init i
               JOIN m ON m.vec_id = i.vec_id)"""
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(f"""a{it} AS (
            SELECT m.vec_id, {prev}.ci,
                   sum((m.val - {prev}.c) * (m.val - {prev}.c)) AS dist
            FROM m JOIN {prev} ON m.dim = {prev}.dim
            GROUP BY 1, 2
        ),
        asg{it} AS (
            SELECT vec_id, ci AS cluster FROM (
                SELECT vec_id, ci, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, ci) AS rn
                FROM a{it})
            WHERE rn = 1
        ),
        u{it} AS (
            SELECT g.cluster AS ci, m.dim, round(avg(m.val), 5) AS c
            FROM m JOIN asg{it} g USING (vec_id) GROUP BY 1, 2
        ),
        c{it} AS (
            SELECT p.ci, p.dim, coalesce(u{it}.c, p.c) AS c
            FROM {prev} p LEFT JOIN u{it}
              ON u{it}.ci = p.ci AND u{it}.dim = p.dim
        )""")
    cz = f"c{iters}"
    parts.append(f"""qm AS (SELECT d - 1 AS dim, e[d] AS val FROM q, {melt}),
        probes AS (
            SELECT ci FROM (
                SELECT {cz}.ci,
                       sum((qm.val - {cz}.c) * (qm.val - {cz}.c)) AS dist
                FROM qm JOIN {cz} ON qm.dim = {cz}.dim GROUP BY 1)
            ORDER BY dist, ci LIMIT {n_probe}
        ),
        af AS (
            SELECT m.vec_id, {cz}.ci,
                   sum((m.val - {cz}.c) * (m.val - {cz}.c)) AS dist
            FROM m JOIN {cz} ON m.dim = {cz}.dim
            GROUP BY 1, 2
        ),
        asgf AS (
            SELECT vec_id, ci AS cluster FROM (
                SELECT vec_id, ci, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, ci) AS rn
                FROM af)
            WHERE rn = 1
        ),
        cand AS (
            SELECT vec_id FROM asgf JOIN probes ON asgf.cluster = probes.ci
        )""")
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT vec_id AS neighbor,
               round(list_cosine_similarity(embedding::DOUBLE[], q.e), 5)
                   AS cos
        FROM embeddings, q
        WHERE vec_id IN (SELECT vec_id FROM cand)
        ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], q.e), 5)
                 DESC, vec_id ASC
        LIMIT {k}
    """


def _ann_ivf_pq_sql(
    m: int = 2, ks: int = 4, iters: int = 2, k: int = 5, dims: int = 64,
) -> str:
    """Mirror of the IVFADC pair operators/pq.pq_build + pq_search: global
    per-subspace codebooks via unrolled Lloyd's (centroid_round_dp=5, same
    init/tie/empty-cluster rules as the ann_ivf_kmeans mirror) trained on
    the DETERMINISTIC fit subsample vec_id % 7 = 1; the coarse table = per-label centroids at 6dp
    (label_centroid_vectors round_dp=6); list ranking by cosine rounded
    HALF-AWAY at 6dp, tie lowest label (pq_search's driver-side rule);
    then nearest-code assignment of the probed list against the GLOBAL
    codebooks and asymmetric-distance tables rounded to 5dp per entry
    before the ADC sum — bit-identical to the driver-side adc_tables
    half-away rounding.

    Every DISTANCE here is summed with list_sum over an ascending-index
    list_transform — the same sequential order as Spark's aggregate fold
    in _sqdist — so a near-tie between codes cannot flip between engines
    on summation-order ulps (the melt-join GROUP BY sum form would sum in
    unspecified order). Means stay GROUP BY avg on both sides: they are
    rounded to 5dp each iteration, which absorbs order ulps."""
    sub = dims // m
    parts = [
        f"""q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
                 WHERE vec_id = 0),
        centl AS (
            -- SAME frame as the Spark side (emb.filter(vec_id != 0)):
            -- including the query vector would shift its label's rounded
            -- centroid and could flip the coarse pick across engines.
            -- 6dp = pq_build's label_centroid_vectors(round_dp=6)
            SELECT label, i - 1 AS dim,
                   round(avg(embedding[i]::DOUBLE), 6) AS centroid
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding)))
                          AS i)
            WHERE vec_id <> 0
            GROUP BY 1, 2
        ),
        cent AS (
            SELECT label, list(centroid ORDER BY dim) AS cvec
            FROM centl GROUP BY label
        ),
        best AS (
            SELECT label FROM cent, q
            ORDER BY round(list_cosine_similarity(cvec, q.e), 6) DESC,
                     label ASC
            LIMIT 1
        ),
        base AS (
            -- the probed inverted list: ADC candidates
            SELECT vec_id, embedding::DOUBLE[] AS v
            FROM embeddings e JOIN best ON e.label = best.label
            WHERE vec_id <> 0
        ),
        fit AS (
            -- pq_build's fit_df: the deterministic training subsample the
            -- GLOBAL codebooks are fit on (all labels, not just the
            -- probed list — that is the build-once/search-many contract)
            SELECT vec_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id <> 0 AND vec_id % 7 = 1
        ),
        init AS (
            SELECT vec_id, rn - 1 AS ci FROM (
                SELECT vec_id, row_number() OVER (
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                FROM fit)
            WHERE rn <= {ks}
        )"""
    ]

    def sq(vec_expr: str, cv_expr: str, off: int) -> str:
        # ascending-index sequential sum == Spark's aggregate fold order
        return (
            f"list_sum(list_transform(generate_series(1, {sub}),"
            f" j -> ({vec_expr}[j + {off}] - {cv_expr}[j])"
            f" * ({vec_expr}[j + {off}] - {cv_expr}[j])))"
        )

    for s_i in range(m):
        off = s_i * sub
        parts.append(f"""ms{s_i} AS (
            SELECT vec_id, d - 1 AS dim, v[d + {off}] AS val
            FROM fit, UNNEST(generate_series(1, {sub})) AS t(d)
        ),
        s{s_i}c0 AS (
            SELECT i.ci, mm.dim, mm.val AS c
            FROM init i JOIN ms{s_i} mm ON mm.vec_id = i.vec_id
        ),
        s{s_i}cl0 AS (
            SELECT ci, list(c ORDER BY dim) AS cv
            FROM s{s_i}c0 GROUP BY ci
        )""")
        for it in range(1, iters + 1):
            prev = f"s{s_i}c{it - 1}"
            prevl = f"s{s_i}cl{it - 1}"
            parts.append(f"""s{s_i}a{it} AS (
            SELECT b.vec_id, cl.ci,
                   {sq('b.v', 'cl.cv', off)} AS dist
            FROM fit b, {prevl} cl
        ),
        s{s_i}asg{it} AS (
            SELECT vec_id, ci AS cluster FROM (
                SELECT vec_id, ci, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, ci) AS rn
                FROM s{s_i}a{it})
            WHERE rn = 1
        ),
        s{s_i}u{it} AS (
            SELECT g.cluster AS ci, mm.dim, round(avg(mm.val), 5) AS c
            FROM ms{s_i} mm JOIN s{s_i}asg{it} g USING (vec_id) GROUP BY 1, 2
        ),
        s{s_i}c{it} AS (
            SELECT p.ci, p.dim, coalesce(u.c, p.c) AS c
            FROM {prev} p LEFT JOIN s{s_i}u{it} u
              ON u.ci = p.ci AND u.dim = p.dim
        ),
        s{s_i}cl{it} AS (
            SELECT ci, list(c ORDER BY dim) AS cv
            FROM s{s_i}c{it} GROUP BY ci
        )""")
        clz = f"s{s_i}cl{iters}"
        parts.append(f"""code{s_i} AS (
            SELECT vec_id, ci AS code FROM (
                SELECT b.vec_id, cl.ci, row_number() OVER (
                    PARTITION BY b.vec_id ORDER BY
                    {sq('b.v', 'cl.cv', off)}, cl.ci) AS rn
                FROM base b, {clz} cl)
            WHERE rn = 1
        ),
        dt{s_i} AS (
            SELECT cl.ci,
                   floor({sq('q.e', 'cl.cv', off)}
                         * 100000 + 0.5) / 100000 AS d
            FROM q, {clz} cl
        )""")
    adc = " + ".join(f"dt{s_i}.d" for s_i in range(m))
    joins = " ".join(
        f"JOIN code{s_i} ON code{s_i}.vec_id = b.vec_id"
        f" JOIN dt{s_i} ON dt{s_i}.ci = code{s_i}.code"
        for s_i in range(m)
    )
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT b.vec_id AS neighbor, round({adc}, 5) AS adc
        FROM base b {joins}
        ORDER BY round({adc}, 5) ASC, b.vec_id ASC
        LIMIT {k}
    """


# --------------------------------------------------------------- entry

def _sequence_pack_sql(budget: int = 512, n_buckets: int = 16) -> str:
    """Mirror of BOTH packers over the same (bucket, n_tokens) frame:
    the contiguous cumulative-fill rule as a window sum, and the
    Best-Fit-Decreasing rule (functions/text.sequence_pack_greedy) as a
    per-bucket recursive CTE that replays the sequential loop — one
    iteration per (n_tokens desc, doc_id) rank, state = the open-pack
    fill list; pick = the candidate pack with max fill, tie lowest index
    (exactly best-fit's smallest-remaining rule). Lambda vars are named
    apart (p, i) because DuckDB resolves nested lambda scopes by name."""
    cands = (
        f"list_filter(generate_series(1, len(s.fills)),"
        f" p -> s.fills[p] + x.n_tokens <= {budget})"
    )
    pick = (
        f"CASE WHEN len({cands}) = 0 THEN NULL ELSE "
        f"CAST(list_sort(list_transform({cands},"
        f" p -> [-s.fills[p], CAST(p AS BIGINT)]))[1][2] AS BIGINT) END"
    )
    return f"""
        WITH RECURSIVE t AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                        1, 4)) AS BIGINT) % {n_buckets} AS bucket,
                   CAST({TOKENS} AS BIGINT) AS n_tokens
            FROM documents
        ),
        r AS (
            SELECT doc_id, bucket, n_tokens,
                   row_number() OVER (PARTITION BY bucket
                       ORDER BY n_tokens DESC, doc_id ASC) AS rn
            FROM t
        ),
        nb AS (SELECT bucket, count(*) AS n FROM r GROUP BY bucket),
        st(bucket, rn, fills, assigns) AS (
            SELECT bucket, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
                   CAST([] AS BIGINT[])
            FROM nb
            UNION ALL
            SELECT s.bucket, s.rn + 1,
                CASE WHEN {pick} IS NULL
                     THEN list_append(s.fills, x.n_tokens)
                     ELSE list_transform(generate_series(1, len(s.fills)),
                          i -> CASE WHEN i = {pick}
                               THEN s.fills[i] + x.n_tokens
                               ELSE s.fills[i] END)
                END,
                list_append(s.assigns, coalesce({pick}, len(s.fills) + 1))
            FROM st s JOIN r x ON x.bucket = s.bucket AND x.rn = s.rn + 1
        ),
        fin AS (
            SELECT st.bucket, st.assigns
            FROM st JOIN nb ON st.bucket = nb.bucket AND st.rn = nb.n
        ),
        bf AS (
            SELECT r.doc_id,
                   CAST(fin.assigns[CAST(r.rn AS INT)] - 1 AS BIGINT)
                       AS pack_id_bf
            FROM r JOIN fin ON r.bucket = fin.bucket
        )
        SELECT r.doc_id, r.bucket,
               CAST(floor(coalesce(sum(r.n_tokens) OVER (
                    PARTITION BY r.bucket ORDER BY r.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) / {budget}.0) AS BIGINT) AS pack_id,
               r.n_tokens, bf.pack_id_bf
        FROM r JOIN bf USING (doc_id)
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize the Common-Crawl-style corpus at sf0.001 and run
    the full extraction pipeline (SURVEY.md §3 EP1 rebuilt on Spark)."""
    corpus = synthesize_corpus_df(spark, "/root/testdata/sf0.001/documents.parquet")
    return extract(corpus).select("url", "text", "n_pages", "content_type", "status")


# --------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- extraction tier (SURVEY.md §2.3/§2.5: T6 kernel + M2 merge) ---
    def extract_plain(spark, sf_dir):
        wrapped = wrapped_docs_df(spark, f"{sf_dir}/documents.parquet", "plain")
        return extract(wrapped).select(
            _doc_id_from_url(), F.col("text").alias("text_out")
        )

    def extract_boiler(spark, sf_dir):
        wrapped = wrapped_docs_df(
            spark, f"{sf_dir}/documents.parquet", "paras_boiler"
        )
        return extract(wrapped).select(
            _doc_id_from_url(), F.col("text").alias("text_out")
        )

    def extract_span_stats(spark, sf_dir):
        wrapped = wrapped_docs_df(spark, f"{sf_dir}/documents.parquet", "paras_bare")
        return extract(wrapped).select(
            _doc_id_from_url(),
            F.size("spans").cast("bigint").alias("n_spans"),
            F.octet_length("text").cast("bigint").alias("text_bytes"),
        )

    def _pdf_text(spark, sf_dir, mode, page_ranges=None):
        # (doc_id, text_out, n_pages): the PDF kernels' text, plus the
        # document page count that gates the F2 max_pages predicate
        from pbx_ds_ocr_server_spark.config import ExtractConfig

        wrapped = wrapped_docs_df(spark, f"{sf_dir}/documents.parquet", mode)
        return extract(wrapped, ExtractConfig(page_ranges=page_ranges)).select(
            _doc_id_from_url(),
            F.col("text").alias("text_out"),
            F.col("n_pages").cast("bigint"),
        )

    def extract_pdf_cid_aes(spark, sf_dir):
        # ToUnicode CMap under AES-128: the crypt layer and the CMap reader
        return _pdf_text(spark, sf_dir, "pdf_cid_aes")

    def extract_pdf_embedded_tt(spark, sf_dir):
        # no ToUnicode: text comes back only by inverting the embedded
        # TrueType (3,1) cmap, the largest font path
        return _pdf_text(spark, sf_dir, "pdf_embedded_tt")

    def extract_pdf_page_order(spark, sf_dir):
        # F3 page selection in the ORDER asked for: page 2, then page 1
        return _pdf_text(spark, sf_dir, "pdf_simple", page_ranges="2,1")

    def extract_markdown(spark, sf_dir):
        from pbx_ds_ocr_server_spark.config import ExtractConfig

        wrapped = wrapped_docs_df(spark, f"{sf_dir}/documents.parquet", "structured")
        return extract(wrapped, ExtractConfig(mode="markdown")).select(
            _doc_id_from_url(), F.col("text").alias("text_out")
        )

    def extract_status_counts(spark, sf_dir):
        # the url carries the class (https://hostN.example/{cls}/{doc_id},
        # corpus.synthesize_row), so the corpus is synthesized once
        corpus = synthesize_corpus_df(spark, f"{sf_dir}/documents.parquet")
        res = extract(corpus).withColumn(
            "doc_class", F.regexp_extract("url", r"^https://[^/]+/([^/]+)/", 1)
        )
        return res.groupBy("doc_class", "status").agg(
            F.count("*").alias("n")
        )

    q["extract_plain"] = extract_plain
    # extract_paras is NOT registered: its oracle is identical to
    # extract_boiler's (the boiler wrapper adds the boilerplate the scorer
    # must strip) and the paras_bare wrapper is exercised by
    # extract_span_stats — the driver caps the checked-query count, so the
    # slot goes to a query with a distinct failure mode (SURVEY §8).
    q["extract_boiler"] = extract_boiler
    q["extract_span_stats"] = extract_span_stats
    q["extract_pdf_cid_aes"] = extract_pdf_cid_aes
    q["extract_pdf_embedded_tt"] = extract_pdf_embedded_tt
    q["extract_pdf_page_order"] = extract_pdf_page_order
    q["extract_markdown"] = extract_markdown
    # oracle-checked: doc_class is a pure sha256 hash of doc_id and each
    # class has a deterministic terminal status, so DuckDB can predict the
    # full distribution without running extraction
    q["extract_status_counts"] = extract_status_counts

    # --- text analysis tier ---
    # (plain token_counts is not registered: token_count_cjk reduces to it
    # exactly on CJK-free text and the union'd query covers all original
    # rows; token_count itself is additionally pinned by the sequence_pack
    # and corpus_curation oracles)

    def token_counts_cjk(spark, sf):
        # the test tables carry no CJK text, so the query injects a
        # deterministic mixed-script variant for doc_id < 50 (mirrored in
        # the oracle, like the dedup queries' dup-injection) — otherwise
        # the CJK branch would be hash-checked but never exercised
        from pbx_ds_ocr_server_spark.functions.text import token_count_cjk
        from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

        docs = _docs(spark, sf).select("doc_id", "text")
        injected = docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
            F.concat(
                F.lit("中文 开头 "), F.col("text"), F.lit(" 的是不了在我有和")
            ).alias("text"),
        )
        # fan the narrow frame out: driver parquet is single-row-group (ONE
        # scan partition) and three regex passes per row is per-row-heavy
        return ensure_min_partitions(docs.unionByName(injected)).select(
            "doc_id", token_count_cjk("text").alias("n_tokens")
        )

    q["token_counts_cjk"] = token_counts_cjk

    def nfc_norm(spark, sf):
        # decomposed-form injection (doc_id < 50 under +3000000): 'e'+U+0301
        # and 'A'+U+030A compose to precomposed chars under NFC — without
        # the injection the normalizer would be hash-checked on ASCII only
        from pbx_ds_ocr_server_spark.functions.text import nfc_normalize

        docs = _docs(spark, sf).select("doc_id", "text")
        injected = docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + F.lit(3000000)).alias("doc_id"),
            F.concat(
                F.lit("Café Ångström "), F.col("text")
            ).alias("text"),
        )
        # fan out: single-row-group scan + per-row Python (Arrow UDF) would
        # otherwise run the whole normalization on one core
        from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

        return ensure_min_partitions(docs.unionByName(injected)).select(
            "doc_id", nfc_normalize()("text").alias("text_nfc")
        )

    q["nfc_norm"] = nfc_norm
    q["lang_id"] = lambda spark, sf: lang_id_table(
        _docs(spark, sf).select("doc_id", "text")
    )
    # round-6 fold: the slot also hash-checks the hashed-bigram linear
    # quality classifier (fastText-shape; functions/text.quality_clf_score)
    # per document — weights/bucket-rule/fold-order/squash pinned on both
    # sides via the co-located qclf_sql mirror
    def quality_scores_q(spark, sf):
        from pbx_ds_ocr_server_spark.functions.text import quality_clf_score
        from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

        # fan out: single-row-group scan, and the hashed-bigram clf is
        # per-row-heavy (md5 per bigram) — one core otherwise (round 9)
        return ensure_min_partitions(
            _docs(spark, sf).select("doc_id", "text")
        ).select(
            "doc_id",
            quality_score("text").alias("quality"),
            quality_clf_score("text").alias("clf"),
        )

    q["quality_scores"] = quality_scores_q
    # (fingerprints is not registered standalone: the identical fingerprint
    # expression is dedup_exact_groups' group key, hash-checked there)
    q["simhash"] = lambda spark, sf: simhash_table(
        _docs(spark, sf).select("doc_id", "text")
    )

    # PII scrub: deterministic synthetic PII appended on BOTH sides so the
    # scrubber provably fires on every row
    def pii_scrub_q(spark, sf):
        injected = F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" now"),
        )
        from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

        # fan out: two corpus-wide regexp_replace passes on a single-split
        # scan would run on one core (round 9)
        return ensure_min_partitions(
            _docs(spark, sf).select("doc_id", "text")
        ).select("doc_id", pii_scrub(injected).alias("scrubbed"))

    q["pii_scrub"] = pii_scrub_q

    # URL canonicalization over deterministically-messy URLs (same
    # construction on both sides): case-variant scheme/host, userinfo,
    # default port, fragment
    def _messy_url():
        return F.concat(
            F.lit("HTTP://User:pw@Host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM:80/Path/"),
            F.col("doc_id").cast("string"),
            F.lit("?q=1#frag"),
        )

    def url_normalize_q(spark, sf):
        # one query covers both url functions (canonical form + host) —
        # frees a driver slot vs the former separate url_host_counts
        from pbx_ds_ocr_server_spark.functions.urls import (
            url_host,
            url_normalize,
        )

        return _docs(spark, sf).select(
            "doc_id",
            url_normalize(_messy_url()).alias("canon_url"),
            url_host(_messy_url()).alias("host"),
        )

    q["url_normalize"] = url_normalize_q

    def hash_sample_mix(spark, sf):
        # one slot covers BOTH deterministic sampling predicates: the
        # md5-prefix Bernoulli sample and the salted domain-mixture
        # resampler composed on top (round-5 fold — mix_by_group was
        # pytest-only in round 4): en up-replicated 2.5x, de halved, zh
        # dropped, everything else kept; rep keeps replicas distinct
        from pbx_ds_ocr_server_spark.functions.text import mix_by_group

        sampled = hash_sample(_docs(spark, sf), rate=0.1).select(
            "doc_id", "lang"
        )
        return mix_by_group(
            sampled, {"en": 2.5, "de": 0.5, "zh": 0.0}, default_rate=1.0
        )

    q["hash_sample_mix"] = hash_sample_mix
    q["stratified_sample"] = lambda spark, sf: stratified_sample(
        _docs(spark, sf), k=20
    ).select("doc_id", "lang")
    q["tfidf_top3"] = lambda spark, sf: tfidf_top_terms(
        _docs(spark, sf), k=3
    )

    # --- dedup tier ---
    q["dedup_exact_groups"] = lambda spark, sf: (
        exact_dup_groups(_docs_u(spark, sf))
        .filter(F.col("n_copies") >= 2)
        .select("fingerprint", "keeper", "n_copies")
    )
    q["minhash_signatures"] = lambda spark, sf: minhash_signatures(
        _docs(spark, sf)
    ).withColumnRenamed("id", "doc_id")
    q["minhash_lsh_pairs"] = lambda spark, sf: lsh_candidate_pairs(
        minhash_signatures(_docs_u(spark, sf))
    )

    def minhash_jaccard_est(spark, sf):
        # signature-agreement Jaccard estimate for candidate pairs — the
        # cheap verify tier that never re-reads the texts
        from pbx_ds_ocr_server_spark.operators.dedup import (
            minhash_jaccard_estimate,
        )

        return minhash_jaccard_estimate(_docs_u(spark, sf))

    q["minhash_jaccard_est"] = minhash_jaccard_est
    q["ngram_jaccard_pairs"] = lambda spark, sf: jaccard_pairs(
        _docs_u(spark, sf), min_jaccard=0.8, max_shingle_df=MAX_SHINGLE_DF
    )
    # LSH-bucketed near-dup (never all-pairs): buckets + Hamming-1 probes
    # are mirrored exactly in the oracle, so this is hash-checked end-to-end
    def simhash_hamming_q(spark, sf):
        from pbx_ds_ocr_server_spark.operators.dedup import (
            simhash_hamming_pairs,
        )

        return simhash_hamming_pairs(_docs_u(spark, sf), max_hamming=3)

    q["simhash_hamming_pairs"] = simhash_hamming_q

    q["embedding_neardup_pairs"] = lambda spark, sf: embedding_neardup_lsh(
        _emb(spark, sf)
        .select("vec_id", "embedding")
        .unionByName(
            _emb(spark, sf)
            .filter(F.col("vec_id") < 10)
            .select(
                (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
            )
        ),
        threshold=0.999,
        n_planes=8,
        dims=64,
    ).withColumn("cos", F.round("cos", 5))

    # --- similarity-search tier ---
    def ann_brute_top5(spark, sf):
        emb = _emb(spark, sf)
        qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return brute_force_topk(
            emb.filter(F.col("vec_id") != 0),
            [float(x) for x in qvec],
            k=5,
            round_dp=5,
        )

    def ann_lsh_histogram(spark, sf):
        # deliberately NOT fanned out (round-9 measurement): single
        # consumer, so there is no re-evaluation to save, and the 2k-row
        # bucket fold on 1-2 cores beats an extra exchange + stage
        return (
            with_lsh_bucket(_emb(spark, sf), n_planes=8, dims=64)
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
        )

    q["ann_brute_top5"] = ann_brute_top5
    q["ann_lsh_histogram"] = ann_lsh_histogram

    # --- multimodal tier: header metadata + REAL pixel decode (r6/r7) ---
    def multimodal_meta(spark, sf):
        # every 3rd doc carries deterministic media on an 11-variant
        # cycle (six encodings of the same gradient PNG — grey/RGB/
        # palette/16-bit/Adam7/grey+alpha, per-row filter cycle so all
        # five unfilter paths run — plus a flat-block grayscale JPEG
        # and, round 8: a flat-block 4:2:0 YCbCr COLOR JPEG with
        # checkerboard chroma, a PROGRESSIVE re-encoding of the grayscale
        # image exercising all four SOF2 scan kinds, a PCM WAV and a
        # minimal MP4 whose real container parses must reproduce the
        # closed-form audio/video metadata), the rest their utf-8
        # text bytes. The oracle predicts
        # every column in closed form from doc_id — decoded dims/mean/
        # entropy included — so a hash-green row proves both pure-Python
        # codecs reproduced every pixel through every layout path,
        # including per-component Huffman selection, MCU interleave,
        # chroma upsample and BT.601 conversion. Digest (md5 of raw
        # payload) is never SQL-predictable for media; byte length isn't
        # either for zlib/Huffman media (PNG/JPEG) but IS for the
        # fixed-layout av containers — hence keep_nbytes vs keep_digest
        # masking different kind sets below.
        from pbx_ds_ocr_server_spark.operators.multimodal import (
            binary_pixel_metadata,
            with_synthetic_png_payloads,
        )

        from pbx_ds_ocr_server_spark.partitioning import (
            ensure_min_partitions,
        )

        # fan the NARROW (doc_id, text) frame out BEFORE synthesis (driver
        # parquet is single-row-group -> one partition; the per-row zlib
        # encode + scanline decode would otherwise run on 1 of 32 cores)
        payloads = with_synthetic_png_payloads(
            ensure_min_partitions(
                _docs(spark, sf).select("doc_id", "text")
            ),
            every=3,
        )
        # one payload scan, no id join
        meta = binary_pixel_metadata(payloads, id_col="id")
        # n_bytes IS closed-form for the fixed-layout av containers (44 +
        # PCM bytes / 144 + mdat payload), unlike zlib/Huffman media;
        # digest (md5 of the raw payload) is never SQL-predictable for
        # any media kind
        keep_nbytes = ~F.col("kind").isin("png", "jpeg")
        keep_digest = ~F.col("kind").isin("png", "jpeg", "wav", "mp4")
        return meta.select(
            "id",
            F.when(keep_nbytes, F.col("n_bytes")).alias("n_bytes"),
            "kind",
            "width",
            "height",
            F.when(keep_digest, F.col("digest")).alias("digest"),
            "channels",
            "n_px",
            F.round("luma_mean", 4).alias("luma_mean"),
            F.round("luma_entropy", 4).alias("luma_entropy"),
            # int, not boolean: a nullable bool round-trips as None-vs-NaN
            # dtype soup in the pandas compare; 1/NULL is stable
            F.col("decode_ok").cast("int").alias("decode_ok"),
            "sample_rate",
            "duration_ms",
        )

    q["multimodal_meta"] = multimodal_meta

    # --- relational / window / streaming-style demonstrations ---
    def tpch_q1(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                F.count("*").alias("count_order"),
            )
        )

    def top_orders_per_customer(spark, sf):
        from pyspark.sql import Window

        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        ranked = o.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") <= 3
        )
        return ranked.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            ranked["o_custkey"] == c["c_custkey"],
        ).select(
            F.col("o_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )

    def events_hourly(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return (
            ev.groupBy(
                F.col("event_type"),
                F.window("ts", "1 hour").start.alias("window_start"),
            )
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )

    def supplier_region_agg(spark, sf):
        s = spark.read.parquet(f"{sf}/supplier.parquet")
        n = spark.read.parquet(f"{sf}/nation.parquet")
        r = spark.read.parquet(f"{sf}/region.parquet")
        return (
            s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
            .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy(F.col("r_name").alias("region"))
            .agg(
                F.count("*").alias("n_suppliers"),
                F.round(F.avg("s_acctbal"), 4).alias("avg_acctbal"),
            )
        )

    q["tpch_q1"] = tpch_q1
    q["top_orders_per_customer"] = top_orders_per_customer
    q["events_hourly"] = events_hourly
    q["supplier_region_agg"] = supplier_region_agg

    # --- predicates as queries (F1 analog) + quality filter (C4-style) ---
    q["size_filter"] = lambda spark, sf: (
        _docs(spark, sf)
        .filter((F.col("n_chars") >= 100) & (F.col("n_chars") <= 400))
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )
    # (quality_filter is not registered standalone: corpus_curation applies
    # the same quality gate inside the composed C4 pipeline, and
    # quality_scores hash-checks the per-document values directly)

    # --- heavy shuffle agg: corpus-wide n-gram document frequencies ---
    def ngram_topk(spark, sf):
        from pbx_ds_ocr_server_spark.operators.dedup import shingles

        from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

        from pbx_ds_ocr_server_spark.functions.text import words

        # fan out before the corpus-wide shingle explode (single-split scan
        # would run on one core), and bind the word array as an attribute
        # so the shingle transform doesn't re-split per position (round 9)
        sh = ensure_min_partitions(
            _docs(spark, sf).select("doc_id", "text")
        ).select("doc_id", words("text").alias("ws")).select(
            "doc_id", F.explode(shingles(F.col("ws"), 3)).alias("shingle")
        )
        return (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .orderBy(F.desc("df"), F.asc("shingle"))
            .limit(20)
        )

    q["ngram_topk"] = ngram_topk

    # --- IVF-style ANN: label centroids as coarse quantizer ---
    def label_centroids_q(spark, sf):
        from pbx_ds_ocr_server_spark.operators.similarity import label_centroids

        return label_centroids(_emb(spark, sf)).select(
            "label", "dim", "centroid"
        )

    def ann_ivf_pq_top5(spark, sf):
        # the IVFADC path (pq_build once → pq_search). Global per-subspace
        # codebooks are trained on a DETERMINISTIC subsample (vec_id % 7
        # == 1 — the 100 TB fit-on-a-sample recipe, hash-mirrorable unlike
        # Bernoulli sampling), the whole corpus is encoded, the coarse
        # table snapshots per-label centroids at 6dp, and search ranks
        # lists driver-side by half-away-rounded cosine (nprobe=1) before
        # ADC-ranking the probed list against the global codebooks.
        from pbx_ds_ocr_server_spark.operators.pq import pq_build, pq_search

        emb = _emb(spark, sf)
        qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        # pq_build scans the corpus 1 (coarse) + m (Lloyd's) + 1 (encode)
        # times and does not persist its input — checkpoint it once here
        corpus = materialize(emb.filter(F.col("vec_id") != 0))
        index = pq_build(
            corpus,
            dims=64,
            m=2,
            ks=4,
            iters=2,
            fit_df=corpus.filter(F.col("vec_id") % 7 == 1),
            centroid_round_dp=5,
        )
        return pq_search(
            index, [float(x) for x in qvec], k=5, nprobe=1, round_dp=5
        )

    q["label_centroids"] = label_centroids_q
    q["ann_ivf_pq_top5"] = ann_ivf_pq_top5

    # --- composed near-dedup (components oracle-checked individually) ---
    def dedup_near_keepers(spark, sf):
        from pbx_ds_ocr_server_spark.operators.dedup import dedup_near

        return dedup_near(
            _docs_u(spark, sf), max_shingle_df=MAX_SHINGLE_DF
        ).select("doc_id")

    q["dedup_near_keepers"] = dedup_near_keepers  # rows-only

    def dedup_near_transitive(spark, sf):
        from pbx_ds_ocr_server_spark.operators.dedup import dedup_near

        return dedup_near(
            _docs_u(spark, sf),
            max_shingle_df=MAX_SHINGLE_DF,
            transitive=True,
        ).select("doc_id")

    q["dedup_near_transitive"] = dedup_near_transitive

    def dedup_near_estimated(spark, sf):
        # the estimate middle tier wired into the composed op: candidate
        # pairs whose 4-component signature estimate is ≥ 0.9 are accepted
        # without the shingle self-join; < 0.3 dropped; only the middle
        # band pays for exact verification (mirrored exactly in SQL)
        from pbx_ds_ocr_server_spark.operators.dedup import dedup_near

        return dedup_near(
            _docs_u(spark, sf),
            max_shingle_df=MAX_SHINGLE_DF,
            estimate_band=(0.3, 0.9),
        ).select("doc_id")

    q["dedup_near_estimated"] = dedup_near_estimated

    def paragraph_dedup_q(spark, sf):
        # CCNet-style boilerplate pass: a 10-word "subscribe" block is
        # injected into every even doc_id (mirrored in the oracle); its
        # paragraph hash lands in ~half the corpus -> dropped everywhere,
        # while each doc's own content paragraphs (doc-freq 1) survive
        from pbx_ds_ocr_server_spark.operators.dedup import paragraph_dedup

        docs = _docs(spark, sf).select("doc_id", "text")
        injected = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(_BOILER_PARA + " "), F.col("text")),
            ).otherwise(F.col("text")).alias("text"),
        )
        return paragraph_dedup(injected)

    q["paragraph_dedup"] = paragraph_dedup_q

    def exactsubstr_chunks_q(spark, sf):
        # ExactSubstr duplicate-span removal (Lee et al. "Deduplicating
        # Training Data" / the RefinedWeb pass) feeding the chunker.
        # Round-6 fold: subsumes the r1-r5 chunk_documents slot — the
        # chunk expression is byte-identical, its input is now the
        # span-subtracted text, and n_removed rides along so the span
        # arithmetic itself is hash-checked. The even-doc boiler
        # injection guarantees cross-doc duplicated ≥8-token runs; any
        # natural shared 8-grams in the corpus are removed identically on
        # both sides.
        from pbx_ds_ocr_server_spark.functions.text import chunk_documents
        from pbx_ds_ocr_server_spark.operators.dedup import exact_substr_dedup

        docs = _docs(spark, sf).select("doc_id", "text")
        injected = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(_BOILER_PARA + " "), F.col("text")),
            ).otherwise(F.col("text")).alias("text"),
        )
        # the chunker branch and the n_removed join both read this frame;
        # without persistence the whole span-discovery pipeline (shingle
        # groupBy + dup join + window merge) is planned TWICE (differing
        # column pruning defeats ReusedExchange — measured 18 exchanges
        # uncached vs 9)
        cleaned = materialize(exact_substr_dedup(injected, k=8))
        chunks = chunk_documents(
            cleaned.select("doc_id", F.col("text_clean").alias("text")),
            window=64,
            stride=48,
        )
        return chunks.join(cleaned.select("doc_id", "n_removed"), "doc_id")

    q["exactsubstr_chunks"] = exactsubstr_chunks_q

    def sequence_pack_q(spark, sf):
        # 16 buckets at sf0.01 keeps several docs per (bucket, pack) so the
        # cumulative-fill rule is actually exercised. Round-5 fold: the
        # same slot also hash-checks the Best-Fit-Decreasing packer
        # (applyInPandas tier) — its oracle is an unrolled per-bucket BFD
        # recursive CTE, so the sequential best-fit rule (tightest open
        # pack that fits, tie -> lowest pack id) is pinned cross-engine
        from pbx_ds_ocr_server_spark.functions.text import (
            sequence_pack,
            sequence_pack_greedy,
        )

        d = _docs(spark, sf).select("doc_id", "text")
        # share ONE tokenization between the two packers (round 9): the
        # (id, bucket, n_tokens) frame is tiny, and without the shared
        # checkpointed base each packer re-ran the regex token counting
        from pbx_ds_ocr_server_spark.functions.text import (
            _bucketed_token_frame,
        )

        base = materialize(
            _bucketed_token_frame(d, "doc_id", "text", 16)
        )
        cont = sequence_pack(d, budget=512, n_buckets=16, _base=base)
        bf = sequence_pack_greedy(
            d, budget=512, n_buckets=16, _base=base
        ).select("doc_id", F.col("pack_id").alias("pack_id_bf"))
        return cont.join(bf, "doc_id")

    q["sequence_pack"] = sequence_pack_q

    # --- grouping-set / set-operation coverage ---
    def events_rollup(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return ev.rollup(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        ).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )

    def set_ops_users(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")

        def users(t, min_value):
            return (
                ev.filter((F.col("event_type") == t) & (F.col("value") > min_value))
                .select("user_id")
                .distinct()
            )

        return (
            users("click", 50)
            .intersect(users("purchase", 50))
            .subtract(users("error", 90))
        )

    q["events_rollup"] = events_rollup
    q["set_ops_users"] = set_ops_users

    # crawl-revisit resolution semantics (operators/extract.
    # keep_latest_snapshot) demonstrated on the events table: newest row
    # per key, deterministic tie-break
    def latest_event_per_user(spark, sf):
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            ev.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "event_id", "event_type")
        )

    q["latest_event_per_user"] = latest_event_per_user

    # exact distributed percentiles (Spark `percentile` interpolates the
    # same as ANSI quantile_cont — verified to 4dp against DuckDB)
    def event_value_percentiles(spark, sf):
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return ev.groupBy("event_type").agg(
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        )

    q["event_value_percentiles"] = event_value_percentiles

    # --- winnowing fingerprints + repetition metrics ---
    def winnowing(spark, sf):
        from pbx_ds_ocr_server_spark.operators.dedup import (
            winnowing_fingerprints,
        )

        return winnowing_fingerprints(_docs(spark, sf).select("doc_id", "text"))

    def repetition(spark, sf):
        from pbx_ds_ocr_server_spark.functions.text import repetition_metrics

        return repetition_metrics(_docs(spark, sf).select("doc_id", "text"))

    q["winnowing_fingerprints"] = winnowing
    q["repetition_metrics"] = repetition

    # --- iterative algorithm (k-means IVF): Lloyd's loop hash-checked via
    # an unrolled 3-iteration SQL mirror; per-iteration centroid rounding
    # (5dp, both sides) pins cross-engine float reproducibility ---
    def ann_ivf_kmeans(spark, sf):
        from pbx_ds_ocr_server_spark.operators.kmeans import ivf_kmeans_topk

        emb = _emb(spark, sf)
        qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return ivf_kmeans_topk(
            emb.filter(F.col("vec_id") != 0),
            [float(x) for x in qvec],
            k_clusters=8,
            iters=3,
            k=5,
            n_probe=2,
            centroid_round_dp=5,
        )

    q["ann_ivf_kmeans_top5"] = ann_ivf_kmeans

    # --- flagship composition: the C4-style curation pipeline in one query
    # (length gate → quality gate → language gate → Gopher rule gate →
    # benchmark decontamination → exact dedup keep-first). Round-5 fold:
    # the Gopher gate and decontaminate were pytest-only in round 4; this
    # slot now hash-checks both inside the composed pipeline.
    def corpus_curation(spark, sf):
        from pbx_ds_ocr_server_spark.functions.text import gopher_filter
        from pbx_ds_ocr_server_spark.operators.dedup import (
            decontaminate,
            dedup_exact,
        )

        from pbx_ds_ocr_server_spark.partitioning import (
            ensure_min_partitions,
        )

        # fan the narrow frame out BEFORE scoring: the driver parquet is
        # single-row-group, so without this the token/quality/lang scoring
        # that materializes the gate frame runs on 1-2 of 32 cores
        d = ensure_min_partitions(_docs_u(spark, sf).select("doc_id", "text"))
        # checkpoint the gate frame: the Gopher gate reads it twice (rule
        # flags + keep-set semi join), so without persistence the
        # token/quality/lang scoring runs twice
        filtered = materialize(
            d.withColumn("n_tokens", token_count("text"))
            .withColumn("quality", quality_score("text"))
            .withColumn("lang_pred", lang_id("text"))
            .filter(
                (F.col("n_tokens") >= 20)
                & (F.col("n_tokens") <= 500)
                & (F.col("quality") >= 0.5)
                & (F.col("lang_pred") == "en")
            )
        )
        # thresholds sized to the synthetic corpus (10-99 words/doc, no
        # symbols, all-alpha): words/stopword/dup/bigram rules each cut a
        # real slice; the per-rule violator coverage lives in pytest
        # checkpoint the survivor frontiers (round-9 profile): decontaminate
        # scans its input twice (shingle side + anti-join left side) and
        # dedup_exact twice more (fingerprint groupBy + semi join), so the
        # lazily-composed chain re-derived the whole gopher pipeline ~4×
        # (measured: dedup_exact's wall was 2× decon's, which was 2×
        # gopher's). The frontiers are gate survivors — tiny relative to
        # the corpus — and the checkpointed blocks are freed by the
        # ContextCleaner when the returned plan is GC'd (caching doc).
        gophered = materialize(gopher_filter(
            filtered,
            min_words=25,
            min_stopword_hits=2,
            max_dup_word_frac=0.6,
            max_top_bigram_frac=0.18,
        ))
        # deterministic stand-in eval set: every 37th source doc — its
        # survivors (and their injected dups) share all their 8-gram
        # shingles with the eval side, so decontamination provably fires
        eval_df = _docs(spark, sf).filter(F.col("doc_id") % 37 == 0).select(
            "text"
        )
        decon = materialize(decontaminate(gophered, eval_df, ngram=8))
        return dedup_exact(decon, "doc_id", "text").select("doc_id")

    q["corpus_curation"] = corpus_curation
    return q


# ---------------------------------------------------------------- oracles

def oracle_sql() -> dict[str, str]:
    votes = {lang: _votes_sql(lang) for lang in ("en", "de", "es", "fr", "zh")}
    alpha = (
        f"(CASE WHEN length({NORM}) = 0 THEN 0.0 ELSE "
        f"length(regexp_replace({NORM}, '[^a-zA-Z]', '', 'g')) * 1.0 "
        f"/ length({NORM}) END)"
    )
    stop_ratio = f"(CASE WHEN {TOKENS} = 0 THEN 0.0 ELSE {votes['en']} * 1.0 / {TOKENS} END)"
    quality = (
        f"round(least({TOKENS} / 50.0, 1.0) * 0.4 "
        f"+ least(5.0 * {stop_ratio}, 1.0) * 0.3 + {alpha} * 0.3, 6)"
    )
    from pbx_ds_ocr_server_spark.functions.text import qclf_sql

    _qclf = qclf_sql("text")

    paras_sql = f"""
        WITH w AS (SELECT doc_id, {WORDS} AS ws FROM documents),
        chunks AS (
            SELECT doc_id, (i - 1) // 10 AS c,
                   string_agg(ws[i], ' ' ORDER BY i) AS chunk
            FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
            GROUP BY doc_id, (i - 1) // 10
        )
        SELECT doc_id,
               string_agg(chunk, chr(10) || chr(10) ORDER BY c) AS text_out
        FROM chunks GROUP BY doc_id
    """

    # markdown-mode mirror: same 10-word chunks as paras_sql, chunk 0
    # rendered '## ', every 5th chunk '- ' (kernels/html_extract
    # _render_markdown over corpus.wrap_html_structured)
    markdown_sql = f"""
        WITH w AS (SELECT doc_id, {WORDS} AS ws FROM documents),
        chunks AS (
            SELECT doc_id, (i - 1) // 10 AS c,
                   string_agg(ws[i], ' ' ORDER BY i) AS chunk
            FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
            GROUP BY doc_id, (i - 1) // 10
        ),
        md AS (
            -- empty chunk (whitespace-only doc) gets NO prefix: the kernel
            -- skips blank blocks, so text_out must stay ''
            SELECT doc_id, c,
                   CASE WHEN chunk = '' THEN ''
                        WHEN c = 0 THEN '## ' || chunk
                        WHEN c % 5 = 4 THEN '- ' || chunk
                        ELSE chunk END AS mchunk
            FROM chunks
        )
        SELECT doc_id,
               string_agg(mchunk, chr(10) || chr(10) ORDER BY c) AS text_out
        FROM md GROUP BY doc_id
    """

    span_stats_sql = f"""
        SELECT doc_id,
               CAST(ceil({TOKENS} / 10.0) AS BIGINT) AS n_spans,
               CAST(octet_length(encode({NORM}))
                    + (ceil({TOKENS} / 10.0) - 1) AS BIGINT) AS text_bytes
        FROM documents
    """

    # distinct 3-word shingles, mirroring operators/dedup.shingles (docs with
    # <3 words collapse to one whole-text shingle)
    shingle_cte = f"""
        n AS (SELECT doc_id, {WORDS} AS ws FROM {{src}}),
        sh AS (
            SELECT DISTINCT doc_id,
                   CASE WHEN len(ws) >= 3
                        THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                        ELSE array_to_string(ws, ' ') END AS w
            FROM n, LATERAL (
                SELECT unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i
            )
        )
    """
    minhash_core = f"""
        WITH {shingle_cte}
        SELECT doc_id,
               min(md5(w || '#0')) AS s0, min(md5(w || '#1')) AS s1,
               min(md5(w || '#2')) AS s2, min(md5(w || '#3')) AS s3
        FROM sh GROUP BY doc_id
    """

    lsh_pairs_sql = f"""
        WITH docs_u AS ({DOCS_U}),
        sigs AS ({minhash_core.format(src='docs_u')})
        SELECT DISTINCT a, b FROM (
            SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x JOIN sigs y
              ON x.s0 = y.s0 AND x.s1 = y.s1 AND x.doc_id < y.doc_id
            UNION ALL
            SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x JOIN sigs y
              ON x.s2 = y.s2 AND x.s3 = y.s3 AND x.doc_id < y.doc_id
        )
    """

    # mirror of jaccard_pairs' max_shingle_df guard: shingles with document
    # frequency above the cap are dropped BEFORE sizes and intersections
    jaccard_sql = f"""
        WITH docs_u AS ({DOCS_U}),
        {shingle_cte.format(src='docs_u')},
        shf AS (
            SELECT doc_id, w FROM sh WHERE w NOT IN (
                SELECT w FROM sh GROUP BY w HAVING count(*) > {MAX_SHINGLE_DF})
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM shf x JOIN shf y USING (w) WHERE x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b, round(i / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = a
        JOIN sz sb ON sb.doc_id = b
        WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8
    """

    # exact mirror of operators/dedup.embedding_neardup_lsh: same md5
    # hyperplane buckets, same Hamming-≤1 probe set, cosine only on
    # candidate pairs
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(8)]
    )
    neardup_sql = f"""
        WITH e AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 100000 AS vec_id, embedding
            FROM embeddings WHERE vec_id < 10
        ),
        bk AS (
            SELECT vec_id, embedding,
                   CAST({_lsh_bucket_sql(8, 64)} AS BIGINT) AS bucket
            FROM e
        ),
        probes AS (
            SELECT vec_id, unnest([{probe_list}]) AS probe FROM bk
        ),
        cand AS (
            SELECT DISTINCT p.vec_id AS a, q.vec_id AS b
            FROM probes p JOIN bk q ON p.probe = q.bucket
            WHERE p.vec_id < q.vec_id
        )
        SELECT c.a, c.b,
               round(list_cosine_similarity(x.embedding::DOUBLE[],
                                            y.embedding::DOUBLE[]), 5) AS cos
        FROM cand c
        JOIN e x ON x.vec_id = c.a
        JOIN e y ON y.vec_id = c.b
        WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
                                           y.embedding::DOUBLE[]), 6) >= 0.999
    """

    ann_sql = """
        WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)
        SELECT vec_id AS neighbor,
               round(list_cosine_similarity(embedding::DOUBLE[], q.e), 5) AS cos
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], q.e), 5) DESC,
                 vec_id ASC
        LIMIT 5
    """

    lsh_hist_sql = f"""
        WITH b AS (SELECT vec_id, CAST({_lsh_bucket_sql(8, 64)} AS BIGINT)
                   AS bucket FROM embeddings)
        SELECT bucket, count(*) AS n FROM b GROUP BY bucket
    """

    centroids_sql = """
        SELECT label, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 5) AS centroid
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
        GROUP BY 1, 2
    """

    # PDF slots: wrapped_docs_df lays NORM out as 8-word lines over
    # n = 2 + doc_id % 3 pages of ceil(len(lines) / n) lines each
    # (corpus.pdf_pages_for); the kernel joins lines, and pages, with a
    # blank line
    pdf_lines_cte = f"""
        WITH w AS (
            SELECT doc_id, 2 + doc_id % 3 AS n,
                   string_split({NORM}, ' ') AS ws
            FROM documents
        ),
        l AS (
            SELECT doc_id, n,
                   list_transform(
                       range(0, CAST(ceil(len(ws) / 8) AS BIGINT)),
                       i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ')
                   ) AS lines
            FROM w
        )"""
    pdf_text_sql = pdf_lines_cte + """
        SELECT doc_id, array_to_string(lines, chr(10) || chr(10)) AS text_out,
               CAST(n AS BIGINT) AS n_pages
        FROM l
    """
    pdf_page_order_sql = pdf_lines_cte + """,
        p AS (SELECT *, CAST(ceil(len(lines) / n) AS BIGINT) AS pp FROM l)
        SELECT doc_id,
               array_to_string(
                   list_concat(lines[pp + 1 : 2 * pp], lines[1 : pp]),
                   chr(10) || chr(10)) AS text_out,
               CAST(n AS BIGINT) AS n_pages
        FROM p
    """

    dedup_near_body = f"""docs_u AS ({DOCS_U}),
        {shingle_cte.format(src='docs_u')},
        sigs AS (
            SELECT doc_id,
                   min(md5(w || '#0')) AS s0, min(md5(w || '#1')) AS s1,
                   min(md5(w || '#2')) AS s2, min(md5(w || '#3')) AS s3
            FROM sh GROUP BY doc_id
        ),
        cand AS (
            SELECT DISTINCT a, b FROM (
                SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x JOIN sigs y
                  ON x.s0 = y.s0 AND x.s1 = y.s1 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x JOIN sigs y
                  ON x.s2 = y.s2 AND x.s3 = y.s3 AND x.doc_id < y.doc_id
            )
        ),
        cids AS (
            -- no top-level UNION: under WITH RECURSIVE (the transitive
            -- variant) DuckDB treats anchor UNION branch as a recursive
            -- split and loses the dedup (118 rows instead of 80)
            SELECT DISTINCT doc_id FROM (
                SELECT a AS doc_id FROM cand
                UNION ALL SELECT b AS doc_id FROM cand
            )
        ),
        shc AS (SELECT sh.doc_id, sh.w FROM sh JOIN cids USING (doc_id)),
        shf AS (
            SELECT doc_id, w FROM shc WHERE w NOT IN (
                SELECT w FROM shc GROUP BY w HAVING count(*) > {MAX_SHINGLE_DF})
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM shf x JOIN shf y USING (w) WHERE x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        verified AS (
            SELECT a, b FROM inter
            JOIN sz sa ON sa.doc_id = a
            JOIN sz sb ON sb.doc_id = b
            JOIN cand USING (a, b)
            WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8
        )"""

    dedup_near_sql = f"""
        WITH {dedup_near_body}
        SELECT doc_id FROM docs_u
        WHERE doc_id NOT IN (SELECT b FROM verified)
    """

    # estimate-tier variant (dedup_near estimate_band=(0.3, 0.9)): pairs
    # whose 4-component signature estimate ≥ 0.9 are accepted WITHOUT the
    # shingle join; < 0.3 dropped; the exact tier (cap included) runs over
    # the undecided band's ids only
    dedup_near_estimated_sql = f"""
        WITH docs_u AS ({DOCS_U}),
        {shingle_cte.format(src='docs_u')},
        sigs AS (
            SELECT doc_id,
                   min(md5(w || '#0')) AS s0, min(md5(w || '#1')) AS s1,
                   min(md5(w || '#2')) AS s2, min(md5(w || '#3')) AS s3
            FROM sh GROUP BY doc_id
        ),
        cand AS (
            SELECT DISTINCT a, b FROM (
                SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x JOIN sigs y
                  ON x.s0 = y.s0 AND x.s1 = y.s1 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x JOIN sigs y
                  ON x.s2 = y.s2 AND x.s3 = y.s3 AND x.doc_id < y.doc_id
            )
        ),
        est AS (
            SELECT c.a, c.b,
                   round(((x.s0 = y.s0)::INT + (x.s1 = y.s1)::INT
                        + (x.s2 = y.s2)::INT + (x.s3 = y.s3)::INT) / 4.0, 6)
                       AS ej
            FROM cand c
            JOIN sigs x ON x.doc_id = c.a
            JOIN sigs y ON y.doc_id = c.b
        ),
        accepted AS (SELECT a, b FROM est WHERE ej >= 0.9),
        und AS (SELECT a, b FROM est WHERE ej >= 0.3 AND ej < 0.9),
        cids AS (
            SELECT DISTINCT doc_id FROM (
                SELECT a AS doc_id FROM und
                UNION ALL SELECT b AS doc_id FROM und
            )
        ),
        shc AS (SELECT sh.doc_id, sh.w FROM sh JOIN cids USING (doc_id)),
        shf AS (
            SELECT doc_id, w FROM shc WHERE w NOT IN (
                SELECT w FROM shc GROUP BY w HAVING count(*) > {MAX_SHINGLE_DF})
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
            FROM shf x JOIN shf y USING (w) WHERE x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        verified AS (
            SELECT a, b FROM inter
            JOIN sz sa ON sa.doc_id = a
            JOIN sz sb ON sb.doc_id = b
            JOIN und USING (a, b)
            WHERE round(i / (sa.n + sb.n - i), 6) >= 0.8
        ),
        losers AS (
            SELECT b FROM accepted UNION ALL SELECT b FROM verified
        )
        SELECT doc_id FROM docs_u
        WHERE doc_id NOT IN (SELECT b FROM losers)
    """

    # transitive variant: connected components over the verified pairs via a
    # recursive reachability CTE; keeper = component min id (mirror of
    # operators/dedup.connected_min_label)
    dedup_near_transitive_sql = f"""
        WITH RECURSIVE {dedup_near_body},
        edges AS (
            SELECT a AS s, b AS t FROM verified
            UNION ALL SELECT b AS s, a AS t FROM verified
        ),
        reach(v, u) AS (
            SELECT s, t FROM edges
            UNION
            SELECT r.v, e.t FROM reach r JOIN edges e ON r.u = e.s
        ),
        losers AS (
            SELECT v FROM reach GROUP BY v HAVING min(u) < v
        )
        SELECT doc_id FROM docs_u
        WHERE doc_id NOT IN (SELECT v FROM losers)
    """

    return {
        "extract_plain": f"SELECT doc_id, {NORM} AS text_out FROM documents",
        "extract_boiler": paras_sql,
        "extract_span_stats": span_stats_sql,
        "extract_pdf_cid_aes": pdf_text_sql,
        "extract_pdf_embedded_tt": pdf_text_sql,
        "extract_pdf_page_order": pdf_page_order_sql,
        "extract_markdown": markdown_sql,
        "extract_status_counts": _status_counts_sql(),
        "token_counts_cjk": _token_counts_cjk_sql(),
        "paragraph_dedup": _paragraph_dedup_sql(),
        "exactsubstr_chunks": _exactsubstr_chunks_sql(),
        "sequence_pack": _sequence_pack_sql(),
        "nfc_norm": """
            WITH docs_nfc AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 3000000 AS doc_id,
                       'Cafe' || chr(769) || ' A' || chr(778) || 'ngstro'
                       || chr(776) || 'm ' || text AS text
                FROM documents WHERE doc_id < 50
            )
            SELECT doc_id, nfc_normalize(text) AS text_nfc FROM docs_nfc
        """,
        "lang_id": f"""
            SELECT doc_id, CASE
              WHEN {votes['en']} > 0 AND {votes['en']} >= greatest({votes['de']}, {votes['es']}, {votes['fr']}, {votes['zh']}) THEN 'en'
              WHEN {votes['de']} > 0 AND {votes['de']} >= greatest({votes['es']}, {votes['fr']}, {votes['zh']}) THEN 'de'
              WHEN {votes['es']} > 0 AND {votes['es']} >= greatest({votes['fr']}, {votes['zh']}) THEN 'es'
              WHEN {votes['fr']} > 0 AND {votes['fr']} >= {votes['zh']} THEN 'fr'
              WHEN {votes['zh']} > 0 THEN 'zh'
              ELSE 'und' END AS lang_pred
            FROM documents
        """,
        "quality_scores": (
            f"SELECT doc_id, {quality} AS quality, {_qclf} AS clf"
            " FROM documents"
        ),
        "simhash": _simhash_sql(),
        "pii_scrub": f"""
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com at 10.0.0.'
                            || CAST(doc_id % 256 AS VARCHAR) || ' now',
                       '{EMAIL_RE}', '<EMAIL>', 'g'),
                     '{IPV4_RE}', '<IP>', 'g') AS scrubbed
            FROM documents
        """,
        "url_normalize": """
            WITH u AS (
                SELECT doc_id,
                       'HTTP://User:pw@Host' || (doc_id % 7)
                       || '.Example.COM:80/Path/' || doc_id || '?q=1#frag' AS url
                FROM documents
            ),
            p AS (
                SELECT doc_id,
                       lower(regexp_extract(url,
                           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                       regexp_replace(
                           lower(regexp_extract(url,
                               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                           '^[^@]*@', '') AS auth,
                       regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
                FROM u
            )
            SELECT doc_id,
                   scheme || '://'
                   || (CASE WHEN scheme = 'http'
                            THEN regexp_replace(auth, ':80$', '')
                            WHEN scheme = 'https'
                            THEN regexp_replace(auth, ':443$', '')
                            ELSE auth END)
                   || (CASE WHEN rest = '' THEN '/'
                            WHEN substr(rest, 1, 1) = '?' THEN '/' || rest
                            ELSE rest END) AS canon_url,
                   regexp_replace(auth, ':[0-9]*$', '') AS host
            FROM p
        """,
        "hash_sample_mix": """
            WITH s AS (
                SELECT doc_id, lang FROM documents
                WHERE CAST(concat('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0 < 0.1
            ),
            r AS (
                SELECT doc_id, lang,
                       CASE WHEN lang = 'de' THEN 0.5
                            WHEN lang = 'en' THEN 2.5
                            WHEN lang = 'zh' THEN 0.0
                            ELSE 1.0 END AS rate,
                       CAST(concat('0x',
                           substr(md5(CAST(doc_id AS VARCHAR) || ':mix'),
                                  1, 8)) AS BIGINT) / 4294967296.0 AS frac
                FROM s
            ),
            n AS (
                SELECT doc_id, lang,
                       CAST(floor(rate) AS BIGINT)
                       + CASE WHEN frac < rate - floor(rate)
                              THEN 1 ELSE 0 END AS n_copies
                FROM r
            )
            SELECT doc_id, lang, CAST(k AS BIGINT) AS rep
            FROM n, UNNEST(generate_series(0, CAST(n_copies AS INT) - 1))
                 AS t(k)
        """,
        "stratified_sample": """
            WITH r AS (
                SELECT doc_id, lang,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents
            )
            SELECT doc_id, lang FROM r WHERE rn <= 20
        """,
        "tfidf_top3": f"""
            WITH w AS (SELECT doc_id, {WORDS} AS ws FROM documents),
            t AS (
                SELECT doc_id, lower(ws[i]) AS term
                FROM w, LATERAL (
                    SELECT unnest(generate_series(1, len(ws))) AS i)
                WHERE ws[i] <> ''
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
            nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
            s AS (
                SELECT doc_id, term,
                       round(tf * (SELECT n * 1.0 FROM nd) / df, 6) AS score
                FROM tf JOIN dfq USING (term)
            ),
            r AS (
                SELECT doc_id, term, score,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, term ASC) AS rnk
                FROM s
            )
            SELECT doc_id, term, score, CAST(rnk AS BIGINT) AS rnk
            FROM r WHERE rnk <= 3
        """,
        "dedup_exact_groups": f"""
            WITH docs_u AS ({DOCS_U})
            SELECT md5(lower({NORM})) AS fingerprint,
                   min(doc_id) AS keeper, count(*) AS n_copies
            FROM docs_u GROUP BY 1 HAVING count(*) >= 2
        """,
        "minhash_signatures": minhash_core.format(src="documents"),
        "minhash_lsh_pairs": lsh_pairs_sql,
        "minhash_jaccard_est": f"""
            WITH docs_u AS ({DOCS_U}),
            sigs AS ({minhash_core.format(src='docs_u')}),
            cand AS (
                SELECT DISTINCT a, b FROM (
                    SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x
                      JOIN sigs y
                      ON x.s0 = y.s0 AND x.s1 = y.s1 AND x.doc_id < y.doc_id
                    UNION ALL
                    SELECT x.doc_id AS a, y.doc_id AS b FROM sigs x
                      JOIN sigs y
                      ON x.s2 = y.s2 AND x.s3 = y.s3 AND x.doc_id < y.doc_id
                )
            )
            SELECT c.a, c.b,
                   round(((x.s0 = y.s0)::INT + (x.s1 = y.s1)::INT
                        + (x.s2 = y.s2)::INT + (x.s3 = y.s3)::INT) / 4.0, 6)
                       AS est_jaccard
            FROM cand c
            JOIN sigs x ON x.doc_id = c.a
            JOIN sigs y ON y.doc_id = c.b
        """,
        "ngram_jaccard_pairs": jaccard_sql,
        "embedding_neardup_pairs": neardup_sql,
        "simhash_hamming_pairs": f"""
            WITH docs_u AS ({DOCS_U}),
            t AS ({_simhash_bands_core('docs_u')}),
            b AS (
                SELECT doc_id, s0, s1, s2, s3, 0 AS band_id, s0 AS key FROM t
                UNION ALL SELECT doc_id, s0, s1, s2, s3, 1, s1 FROM t
                UNION ALL SELECT doc_id, s0, s1, s2, s3, 2, s2 FROM t
                UNION ALL SELECT doc_id, s0, s1, s2, s3, 3, s3 FROM t
            ),
            cand AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                       x.s0 AS xa0, x.s1 AS xa1, x.s2 AS xa2, x.s3 AS xa3,
                       y.s0 AS yb0, y.s1 AS yb1, y.s2 AS yb2, y.s3 AS yb3
                FROM b x JOIN b y
                  ON x.band_id = y.band_id AND x.key = y.key
                 AND x.doc_id < y.doc_id
            )
            SELECT a, b,
                   CAST(bit_count(xor(xa0, yb0)) + bit_count(xor(xa1, yb1))
                      + bit_count(xor(xa2, yb2)) + bit_count(xor(xa3, yb3))
                        AS BIGINT) AS hamming
            FROM cand
            WHERE bit_count(xor(xa0, yb0)) + bit_count(xor(xa1, yb1))
                + bit_count(xor(xa2, yb2)) + bit_count(xor(xa3, yb3)) <= 3
        """,
        "ann_brute_top5": ann_sql,
        "ann_lsh_histogram": lsh_hist_sql,
        "multimodal_meta": _multimodal_meta_sql(),
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
                FROM orders
            )
            SELECT r.o_custkey AS custkey, c.c_mktsegment AS mktsegment,
                   r.o_orderkey AS orderkey, CAST(r.rnk AS BIGINT) AS rnk
            FROM ranked r JOIN customer c ON r.o_custkey = c.c_custkey
            WHERE r.rnk <= 3
        """,
        "events_hourly": """
            SELECT event_type, date_trunc('hour', ts) AS window_start,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "supplier_region_agg": """
            SELECT r.r_name AS region, count(*) AS n_suppliers,
                   round(avg(s.s_acctbal), 4) AS avg_acctbal
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
        "size_filter": """
            SELECT source, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents WHERE n_chars BETWEEN 100 AND 400
            GROUP BY source
        """,
        "ngram_topk": f"""
            WITH {shingle_cte.format(src='documents')}
            SELECT w AS shingle, count(*) AS df FROM sh
            GROUP BY w ORDER BY df DESC, shingle ASC LIMIT 20
        """,
        "events_rollup": """
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY ROLLUP(event_type, strftime(ts, '%Y-%m-%d'))
        """,
        "event_value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 4) AS p25,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95
            FROM events GROUP BY event_type
        """,
        "latest_event_per_user": """
            WITH r AS (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            )
            SELECT user_id, event_id, event_type FROM r WHERE rn = 1
        """,
        "set_ops_users": """
            SELECT DISTINCT user_id FROM events
              WHERE event_type = 'click' AND value > 50
            INTERSECT
            SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase' AND value > 50
            EXCEPT
            SELECT DISTINCT user_id FROM events
              WHERE event_type = 'error' AND value > 90
        """,
        "label_centroids": centroids_sql,
        "winnowing_fingerprints": f"""
            WITH t AS (SELECT doc_id, {WORDS} AS ws FROM documents),
            sh AS (
                SELECT doc_id, i - 1 AS i,
                       md5(CASE WHEN len(ws) >= 3
                                THEN ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                ELSE array_to_string(ws, ' ') END) AS h,
                       CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 1 END AS n_sh
                FROM t, LATERAL (
                    SELECT unnest(generate_series(1,
                        CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 1 END)) AS i)
            ),
            fps AS (
                SELECT doc_id, i,
                       min(h) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                       n_sh
                FROM sh
            )
            SELECT doc_id, count(DISTINCT fp) AS n_fps,
                   md5(string_agg(DISTINCT fp, '' ORDER BY fp)) AS digest
            FROM fps WHERE i <= greatest(n_sh - 4, 0)
            GROUP BY doc_id
        """,
        "repetition_metrics": f"""
            WITH t AS (SELECT doc_id, {WORDS} AS ws FROM documents),
            stats AS (
                SELECT doc_id, len(ws) AS n_words,
                       len(list_distinct(ws)) AS n_distinct
                FROM t
            ),
            bg AS (
                SELECT doc_id,
                       CASE WHEN len(ws) >= 2 THEN ws[i] || ' ' || ws[i+1]
                            ELSE ws[i] END AS bg
                FROM t, LATERAL (SELECT unnest(generate_series(1,
                       greatest(len(ws) - 1, 1))) AS i)
            ),
            top AS (
                SELECT doc_id, max(c) AS top_bg FROM (
                    SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
                GROUP BY doc_id
            )
            SELECT s.doc_id,
                   round(1 - s.n_distinct * 1.0 / s.n_words, 6) AS dup_word_frac,
                   round(2.0 * top.top_bg / s.n_words, 6) AS top_bigram_frac
            FROM stats s JOIN top ON s.doc_id = top.doc_id
        """,
        "ann_ivf_pq_top5": _ann_ivf_pq_sql(),
        "ann_ivf_kmeans_top5": _ann_ivf_kmeans_sql(),
        "dedup_near_keepers": dedup_near_sql,
        "dedup_near_transitive": dedup_near_transitive_sql,
        "dedup_near_estimated": dedup_near_estimated_sql,
        "corpus_curation": f"""
            WITH docs_u AS ({DOCS_U}),
            scored AS (
                SELECT doc_id, text, CAST({TOKENS} AS BIGINT) AS n_tokens,
                       {quality} AS q,
                       CASE
                         WHEN {votes['en']} > 0 AND {votes['en']} >= greatest({votes['de']}, {votes['es']}, {votes['fr']}, {votes['zh']}) THEN 'en'
                         WHEN {votes['de']} > 0 AND {votes['de']} >= greatest({votes['es']}, {votes['fr']}, {votes['zh']}) THEN 'de'
                         WHEN {votes['es']} > 0 AND {votes['es']} >= greatest({votes['fr']}, {votes['zh']}) THEN 'es'
                         WHEN {votes['fr']} > 0 AND {votes['fr']} >= {votes['zh']} THEN 'fr'
                         WHEN {votes['zh']} > 0 THEN 'zh'
                         ELSE 'und' END AS lp
                FROM docs_u
            ),
            filtered AS (
                SELECT doc_id, text FROM scored
                WHERE n_tokens BETWEEN 20 AND 500 AND q >= 0.5 AND lp = 'en'
            ),
            -- Gopher rule gate (functions/text.gopher_flags, thresholds
            -- min_words=25, min_stopword_hits=2, max_dup_word_frac=0.6,
            -- max_top_bigram_frac=0.18, defaults elsewhere)
            gw AS (
                SELECT doc_id, text, {NORM} AS nt,
                       list_filter({WORDS}, w -> w <> '') AS ws
                FROM filtered
            ),
            gm AS (
                SELECT doc_id, text, len(ws) AS n_real,
                       CASE WHEN len(ws) > 0 THEN
                            list_sum(list_transform(ws, w -> length(w)))
                            * 1.0 / len(ws)
                            ELSE 0.0 END AS mean_len,
                       len(regexp_extract_all(nt, '#|…|\\.\\.\\.')) AS n_sym,
                       len(list_filter(ws,
                           w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
                       len(list_filter(ws,
                           w -> list_contains([{_EN_STOP_SQL}], lower(w))))
                           AS stop_hits,
                       CASE WHEN len(ws) > 0 THEN
                            1 - len(list_distinct(ws)) * 1.0 / len(ws)
                            ELSE 0.0 END AS dup_frac
                FROM gw
            ),
            rw AS (SELECT doc_id, {WORDS} AS ws FROM filtered),
            bgx AS (
                SELECT doc_id,
                       CASE WHEN len(ws) >= 2 THEN ws[i] || ' ' || ws[i+1]
                            ELSE ws[i] END AS bg
                FROM rw, LATERAL (SELECT unnest(generate_series(1,
                     greatest(len(ws) - 1, 1))) AS i)
            ),
            topbg AS (
                SELECT doc_id, max(c) AS top_bg FROM (
                    SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY 1, 2)
                GROUP BY doc_id
            ),
            tbf AS (
                SELECT rw.doc_id,
                       round(2.0 * topbg.top_bg / len(rw.ws), 6)
                           AS top_bigram_frac
                FROM rw JOIN topbg USING (doc_id)
            ),
            gok AS (
                SELECT gm.doc_id, gm.text
                FROM gm LEFT JOIN tbf USING (doc_id)
                WHERE gm.n_real BETWEEN 25 AND 100000
                  AND gm.mean_len >= 3.0 AND gm.mean_len <= 10.0
                  AND gm.n_real > 0
                  AND gm.n_sym * 1.0 / gm.n_real <= 0.1
                  AND gm.alpha_words * 1.0 / gm.n_real >= 0.8
                  AND gm.stop_hits >= 2
                  AND gm.dup_frac <= 0.6
                  AND coalesce(tbf.top_bigram_frac, 0.0) <= 0.18
            ),
            -- benchmark decontamination (operators/dedup.decontaminate,
            -- ngram=8, max_shared=0; eval set = every 37th source doc)
            evw AS (SELECT {WORDS} AS ws FROM documents
                    WHERE doc_id % 37 = 0),
            esh AS (
                SELECT DISTINCT CASE WHEN len(ws) >= 8
                       THEN array_to_string(list_slice(ws, i, i + 7), ' ')
                       ELSE array_to_string(ws, ' ') END AS sh
                FROM evw, LATERAL (SELECT unnest(generate_series(1,
                     CASE WHEN len(ws) >= 8 THEN len(ws) - 7 ELSE 1 END))
                     AS i)
            ),
            tw AS (SELECT doc_id, {WORDS} AS ws FROM gok),
            tsh AS (
                SELECT DISTINCT doc_id, CASE WHEN len(ws) >= 8
                       THEN array_to_string(list_slice(ws, i, i + 7), ' ')
                       ELSE array_to_string(ws, ' ') END AS sh
                FROM tw, LATERAL (SELECT unnest(generate_series(1,
                     CASE WHEN len(ws) >= 8 THEN len(ws) - 7 ELSE 1 END))
                     AS i)
            ),
            contaminated AS (
                SELECT DISTINCT t.doc_id
                FROM tsh t JOIN esh e USING (sh)
                WHERE t.sh <> ''
            ),
            decon AS (
                SELECT doc_id, text FROM gok
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            )
            SELECT doc_id FROM decon
            WHERE doc_id IN (
                SELECT min(doc_id) FROM decon
                GROUP BY md5(lower({NORM}))
            )
        """,
    }
