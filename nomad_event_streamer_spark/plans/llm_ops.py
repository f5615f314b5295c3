"""Declared LLM-data-pipeline queries (SURVEY.md 2.12 + build contract):
dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search, text analysis, multimodal plumbing.

The md5-based oracles replay the *exact* hash computations in DuckDB, so
these ship with full value-hash checks, not just rows-only — except the
float-heavy cosine ops, which are rows-only by the SURVEY float policy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup, multimodal, similarity, text
from ..operators.sketch import int_bit_length
from ..tables import (
    ORACLE_ROUND2,
    ORACLE_ROUND4,
    load,
    quantize_units,
    rebalance_for_cpu,
    round2,
    round4,
)
from .registry import query

# Shared oracle CTE: distinct 3-token shingles per document (list slicing
# is 1-based inclusive in DuckDB; range(1, len-1) yields starts 1..len-2).
_SHINGLE_CTE = """
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
"""


@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest: one shuffle on the hash, keep the
    smallest id per group.  At 100 TB the digest (32 bytes) shuffles, not
    the documents."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _minhash_oracle(num_hashes: int = 16) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    return (
        _SHINGLE_CTE
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """
    )


@query("q_dedup_minhash", oracle=_minhash_oracle(16))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: shingle -> 16 min-wise hashes ->
    8 bands x 2 rows -> bucket group-and-expand.  Candidate generation
    cost is bucket-sized, never all-pairs, and the signature lineage is
    computed exactly once (no self-join).

    Base-hash cost, MEASURED (round 7): the md5+conv base hash is NOT
    the bottleneck at bench scale — replacing it with a no-hash floor
    (min-agg over ``length(shingle)``) times IDENTICAL (0.62s vs 0.59s
    over 260k shingle rows, local[32] sf0.1), so a cheaper 64-bit hash
    or a distinct-shingle pre-agg (27k distinct / 260k occurrences)
    would buy nothing here and the pre-agg would ADD two shuffles.
    The real lever was task-count: rebalance_for_cpu factor 2 -> 1
    (see tables.py) cut this query -20% in an interleaved A/B.  At
    100 TB the md5 CPU is embarrassingly parallel; shuffle width
    (doc_id + 16 longs after map-side partial min) stays the binding
    cost, and adding shuffles to dedup hash inputs remains the wrong
    trade."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    return dedup.lsh_candidate_pairs(bands)


def _dedup_incremental_oracle(num_hashes: int = 16) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    p = dedup.MINHASH_P
    return (
        _SHINGLE_CTE
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    idx_dig AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    exact_hit AS (
        SELECT DISTINCT d.doc_id
        FROM documents d JOIN idx_dig ON md5(d.text) = idx_dig.h
        WHERE d.doc_id % 2 = 1
    ),
    near_hit AS (
        SELECT DISTINCT n.doc_id
        FROM bands n
        JOIN bands i ON n.band = i.band AND n.bucket = i.bucket
                     AND i.doc_id % 2 = 0
        WHERE n.doc_id % 2 = 1
    )
    SELECT d.doc_id,
           e.doc_id IS NOT NULL AS dropped_exact,
           nh.doc_id IS NOT NULL AS dropped_near,
           (e.doc_id IS NULL AND nh.doc_id IS NULL) AS kept
    FROM documents d
    LEFT JOIN exact_hit e ON e.doc_id = d.doc_id
    LEFT JOIN near_hit nh ON nh.doc_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    """
    )


@query("q_dedup_incremental", oracle=_dedup_incremental_oracle(16))
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production pattern every ongoing crawl
    runs: a NEW batch (odd doc_ids) deduped against the EXISTING indexed
    corpus (even doc_ids), never against itself.  Two stages, both
    lookups into index-side structures: (1) exact — digest semi-join
    against the index's distinct md5 set; (2) near-dup — the new batch's
    LSH band buckets equi-joined against the index's bucket table (the
    materialized asset an incremental pipeline maintains; at 100 TB the
    bucket table IS the dedup index, and each increment shuffles only
    the new batch's bands against it).  Per new doc: dropped_exact /
    dropped_near / kept flags — one row each, full hash oracle.
    Signatures are computed ONCE over the union corpus and split by
    parity, so the scan is single-pass."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    new = docs.where(F.col("doc_id") % 2 == 1)
    idx = docs.where(F.col("doc_id") % 2 == 0)
    # stage 1: exact digest lookup
    idx_dig = idx.select(F.md5("text").alias("h")).distinct()
    exact_hit = (
        new.select("doc_id", F.md5("text").alias("h"))
        .join(idx_dig, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("de", F.lit(True))
    )
    # stage 2: LSH bucket lookup (one signature pass over the union)
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    near_hit = (
        bands.where(F.col("doc_id") % 2 == 1)
        .join(
            bands.where(F.col("doc_id") % 2 == 0).select("band", "bucket"),
            ["band", "bucket"],
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("dn", F.lit(True))
    )
    return (
        new.select("doc_id")
        .join(exact_hit, "doc_id", "left")
        .join(near_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("de"), F.lit(False)).alias("dropped_exact"),
            F.coalesce(F.col("dn"), F.lit(False)).alias("dropped_near"),
            (F.col("de").isNull() & F.col("dn").isNull()).alias("kept"),
        )
    )


@query(
    "q_ngram_jaccard",
    oracle=_SHINGLE_CTE
    + """
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard
    FROM (
        SELECT doc_a, doc_b,
               (floor((CAST(ni AS DOUBLE) / (sa.n_sh + sb.n_sh - ni)) * 10000.0 + 0.5) / 10000.0) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        ORDER BY CAST(ni AS DOUBLE) / (sa.n_sh + sb.n_sh - ni) DESC, doc_a, doc_b
        LIMIT 50
    )
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard: top-50 most-similar pairs (deterministic
    tiebreak doc_a, doc_b).  Pairs come from a shared-shingle equi-join,
    so only pairs with overlap are ever scored."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    pairs = dedup.jaccard_pairs(docs, n=3)
    return (
        pairs.orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(50)
        .select("doc_a", "doc_b", round4(F.col("jaccard")).alias("jaccard"))
    )


@query(
    "q_simhash",
    oracle="""
    WITH hv AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS v
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    votes AS (
        SELECT doc_id, k, sum(2 * ((v >> k) & 1) - 1) AS s
        FROM hv CROSS JOIN (SELECT unnest(range(0, 32)) AS k)
        GROUP BY doc_id, k
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, k) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (token-majority-vote over md5-prefix
    bits); near-dup docs land on close fingerprints (hamming)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return dedup.simhash(docs, num_bits=32)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           (floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0) AS avg_chars,
           (floor((CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0) AS avg_toks
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics by language (EXT, SURVEY.md 2.12)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("sum_chars"),
        round2(F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "avg_chars"
        ),
        round2(
            F.sum(F.size(F.split("text", " ")).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_toks"),
    )


def _marker_sql(markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_filter(string_split(text, ' '), t -> t IN ({in_list})))"
    )


@query(
    "q_lang_id",
    oracle=f"""
    SELECT doc_id, lang, predicted_lang,
           CAST(predicted_lang = lang AS INT) AS is_match
    FROM (
        SELECT doc_id, lang,
               CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS predicted_lang
        FROM (
            SELECT doc_id, lang,
                   {_marker_sql(text.LANG_MARKERS["de"])} AS s_de,
                   {_marker_sql(text.LANG_MARKERS["en"])} AS s_en,
                   {_marker_sql(text.LANG_MARKERS["es"])} AS s_es,
                   {_marker_sql(text.LANG_MARKERS["fr"])} AS s_fr,
                   {_marker_sql(text.LANG_MARKERS["zh"])} AS s_zh
            FROM documents
        )
    )
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language ID: per-language marker-token evidence ->
    argmax with alphabetic tie-break.  Pure array filter counts — no
    explode, no shuffle (EXT)."""
    docs = load(spark, sf_dir, "documents")
    scored = text.lang_scores(docs)
    return scored.select(
        "doc_id",
        "lang",
        text.predict_lang().alias("predicted_lang"),
        (text.predict_lang() == F.col("lang")).cast("int").alias("is_match"),
    )


@query(
    "q_quality_score",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tok,
           (floor((CAST(len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))
                      AS DOUBLE) / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0) AS stop_ratio,
           (floor((least(1.0, len(string_split(text, ' ')) / 100.0)
                 * (1.0 - CAST(len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))
                               AS DOUBLE) / len(string_split(text, ' ')))) * 10000.0 + 0.5) / 10000.0) AS quality
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features: token count, stopword ratio, composite
    score (EXT)."""
    docs = load(spark, sf_dir, "documents")
    return text.quality_features(docs).select(
        "doc_id", "n_tok", "stop_ratio", "quality"
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           len(regexp_extract_all(text, '[a-z]+')) AS n_words_re,
           length(text) AS n_chars_len
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split, distinct tokens, regex word
    count, char count (EXT)."""
    docs = load(spark, sf_dir, "documents")
    return text.token_counts(docs).select(
        "doc_id", "n_ws", "n_uniq", "n_words_re", "n_chars_len"
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp,
           substring(md5(text), 1, 8) AS fp_short,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp_sorted
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: raw digest + order-insensitive
    bag-of-words digest (EXT)."""
    docs = load(spark, sf_dir, "documents")
    return text.fingerprints(docs).select("doc_id", "fp", "fp_short", "fp_sorted")


# ---------------------------------------------------------------------------
# Similarity search (float-heavy -> rows-only per SURVEY float policy)
# ---------------------------------------------------------------------------


@query("q_sim_topk")  # rows-only: cosine ranking is float-order sensitive
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the first 20 vectors as queries;
    query side broadcast, candidate side never shuffles."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return similarity.cosine_topk(vecs, queries, k=5)


@query(
    "q_sim_topk_int",
    oracle="""
    WITH qz AS (
        SELECT vec_id AS query_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id < 20
    ),
    cz AS (
        SELECT vec_id AS neighbor_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CASE WHEN sqrt(list_dot_product(qv, qv))
                         * sqrt(list_dot_product(cv, cv)) > 0
                    THEN list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv)))
                    ELSE 0.0 END AS qcos
        FROM cz CROSS JOIN qz
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, qcos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id,
           floor(qcos * 1000000.0 + 0.5) / 1000000.0 AS qcos
    FROM ranked WHERE rn <= 5
    """,
)
def q_sim_topk_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-exact cosine top-5: integer-grid vectors make the dot
    products order-independent and the whole ranking bit-reproducible
    across engines — the similarity-family member under the FULL
    value-hash gate (VERDICT r01 item 8; the float variants stay
    rows-only by declared policy).  Integer dot products are also the
    int8-serving layout at 100 TB: codes shuffle, floats don't."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return similarity.cosine_topk_quantized(vecs, queries, k=5)


@query("q_sim_ann")  # rows-only: LSH bucketing + float scoring
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN variant: hyperplane-LSH buckets, then score only same-bucket
    candidates — the 100 TB path (bucket equi-join, not cross join)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return similarity.ann_topk_bucketed(vecs, queries, k=5, num_planes=6)


@query(
    "q_embed_norm",
    oracle="""
    SELECT label, count(*) AS n, min(len(embedding)) AS min_dim,
           max(len(embedding)) AS max_dim
    FROM embeddings
    GROUP BY label
    """,
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table integrity profile: per-label counts + dimension
    bounds — the multimodal array<float> column scanned and aggregated
    without ever leaving the JVM."""
    vecs = load(spark, sf_dir, "embeddings")
    return vecs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("embedding")).alias("min_dim"),
        F.max(F.size("embedding")).alias("max_dim"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_decode",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               doc_id % 2 = 0 AS is_bmp,
               9 + doc_id % 8 AS w,
               6 + doc_id % 5 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, is_bmp, w, h,
               (doc_id*73 + (t.p * CASE WHEN is_bmp THEN 3 ELSE 1 END)*151
                + 11) % 256 AS c0,
               CASE WHEN is_bmp
                    THEN (doc_id*73 + (t.p*3 + 1)*151 + 11) % 256 END AS c1,
               CASE WHEN is_bmp
                    THEN (doc_id*73 + (t.p*3 + 2)*151 + 11) % 256 END AS c2
        FROM d CROSS JOIN range(0, 160) t(p)
        WHERE t.p < w * h
    ),
    l AS (
        SELECT *,
               CASE WHEN is_bmp THEN (c0 + 2*c1 + c2) // 4 ELSE c0 END AS lum
        FROM px
    )
    SELECT doc_id,
           CASE WHEN is_bmp THEN 'bmp' ELSE 'pgm' END AS fmt,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(CASE WHEN is_bmp THEN 3 ELSE 1 END AS BIGINT) AS n_channels,
           CAST(sum(c0) AS BIGINT) AS sum_c0,
           CAST(sum(c1) AS BIGINT) AS sum_c1,
           CAST(sum(c2) AS BIGINT) AS sum_c2,
           CAST(sum(CASE WHEN lum // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS hist0,
           CAST(sum(CASE WHEN lum // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hist1,
           CAST(sum(CASE WHEN lum // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS hist2,
           CAST(sum(CASE WHEN lum // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS hist3
    FROM l
    GROUP BY doc_id, is_bmp
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary decode path (VERDICT r02 item 2, stub retired): each
    document carries a *valid media file* — even doc_id an uncompressed
    24-bit BMP, odd a binary P5 PGM, pixels from a closed-form integer
    function — and the Arrow-batched decoder parses the actual container
    bytes (magic, header fields, row padding, bottom-up flip) with the
    pure-numpy public-format codecs in operators/multimodal.py, emitting
    integer pixel stats.  The oracle recomputes the same stats from the
    closed form, so any decoding bug (offset, padding, row order, header
    parse) breaks the hash.  100 TB shape: encode stands in for the
    object-storage scan; decode cost is per-byte linear, no driver
    involvement, no shuffle until the (tiny) stats output."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    payloads = multimodal.synthetic_media(docs)
    return multimodal.decode_media_stats(payloads)


def _clusters_oracle(num_hashes: int = 16) -> str:
    """Recursive-CTE replay of minhash-LSH edges + min-label components."""
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    return f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    edges AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    ),
    und AS (SELECT doc_a AS s, doc_b AS d FROM edges
            UNION SELECT doc_b, doc_a FROM edges),
    reach(node, mn) AS (
        SELECT s AS node, s AS mn FROM und
        UNION
        SELECT u.s, r.mn FROM und u JOIN reach r ON u.d = r.node
    )
    SELECT node AS doc_id, min(mn) AS cluster_id FROM reach GROUP BY node
    """


@query("q_dedup_clusters", oracle=_clusters_oracle(16))
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: minhash-LSH candidate pairs -> connected
    components -> (doc_id, cluster_id) with the min id as canonical
    representative — the step that turns pairwise similarity into a
    keep/drop decision.  Iterative min-label propagation (one join + one
    agg per round, lineage checkpointed); the oracle replays it with a
    recursive CTE."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    edges = dedup.lsh_candidate_pairs(bands)
    return dedup.connected_components(edges)


CHUNK_SIZE = 32
CHUNK_STRIDE = 24  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 8 tokens


@query(
    "q_chunk_docs",
    oracle=f"""
    SELECT doc_id,
           (start - 1) // {CHUNK_STRIDE} AS chunk_id,
           array_to_string(toks[start:start + {CHUNK_SIZE - 1}], ' ') AS chunk,
           len(toks[start:start + {CHUNK_SIZE - 1}]) AS n_tok
    FROM (
        SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {CHUNK_STRIDE}))
                   AS start
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking with overlap (window size {32} tokens, stride
    {24}) — the training-data step that turns documents into
    fixed-budget model inputs.  Pure per-row array ops: sequence of
    starts -> explode -> slice; no shuffle at all."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_SIZE)
    return base.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk"),
        F.size(chunk).alias("n_tok"),
    )


@query(
    "q_hash_split",
    oracle=f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS bucket
        FROM documents
    )
    """,
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free id hash
    (80/10/10) — the reproducible alternative to rand()-based sampling:
    stable across runs, engines, and partitionings, and joinable (every
    derived table splits identically)."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 10
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "q_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '\\b(the|a|and)\\b', '<W>', 'g') AS redacted,
           len(regexp_extract_all(text, '\\b(the|a|and)\\b')) AS n_hits
    FROM documents
    """,
)
def q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction (PII-scrub shape): global word-boundary regex
    replace + hit count — per-row, shuffle-free; the same plan handles
    email/phone/SSN patterns at scale."""
    docs = load(spark, sf_dir, "documents")
    pat = r"\b(the|a|and)\b"
    return docs.select(
        "doc_id",
        F.regexp_replace("text", pat, "<W>").alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias(
            "n_hits"
        ),
    )


@query(
    "q_multimodal_frames",
    oracle="""
    SELECT doc_id, k AS frame_id,
           md5(substring(text, k * 128 + 1, 64)) AS frame_fp,
           length(substring(text, k * 128 + 1, 64)) AS frame_len,
           md5(substring(text, 1, 256)) AS thumb_fp
    FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest((length(text) + 127) // 128, 1))) AS k
        FROM documents
    )
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + resize over the opaque BINARY payload: fixed-size
    slices every 128 bytes, fingerprinted, plus a truncate-to-256 thumb
    fingerprint.  The payload is ASCII text bytes here, so the DuckDB
    oracle replays the byte slicing with string substring — verifying the
    binary plumbing end-to-end (a real codec swaps the md5 for a decode
    inside mapInPandas; see operators/multimodal.py)."""
    docs = load(spark, sf_dir, "documents")
    binary_df = multimodal.with_binary_payload(docs)
    frames = multimodal.frame_sample(binary_df, frame_size=64, stride=128)
    thumbs = multimodal.resize_payload(binary_df, size=256).select(
        "doc_id", "thumb_fp"
    )
    return frames.join(thumbs, "doc_id")


@query("q_sim_ivf")  # rows-only: float cell-routing + cosine ranking
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-variant ANN: vectors partition into cells around deterministic
    (hash-selected) centroids; each query probes its 3 nearest cells and
    scores only those members — the inverted-file layout where the cell
    id is the shuffle/storage key at scale.  Measured recall@5 vs exact
    cosine: 0.38/0.47/0.58 at probe 2/3/4 of 16 cells (recall tracks the
    corpus fraction probed; SCALE.md has the curve)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return similarity.ivf_topk(vecs, queries, k=5, num_cells=16, num_probe=3)


@query("q_sim_pq")  # rows-only: compressed-domain float scoring
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus compressed to 16 one-byte codes
    per vector (16× smaller than float32), queries score the compressed
    codes via broadcast lookup tables with per-partition partial top-k —
    the tier that makes 100 TB of embeddings scannable (operators/pq.py
    docstring has the full scale argument)."""
    from ..operators import pq

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return pq.pq_topk(vecs, queries, k=5, m=16, ncodes=32)


@query("q_sim_ivfpq")  # rows-only: float cell-routing + ADC scoring
def q_sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN (FAISS IVFx,PQy layout, non-residual): coarse
    cells cut the corpus fraction scanned (probe/cells), PQ codes cut
    bytes per row (~16×) — the two levers compound, so each query ADC-
    scans a few compressed partitions instead of 100 TB of floats
    (operators/pq.py ``ivfpq_topk`` docstring has the layout argument)."""
    from ..operators import pq

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return pq.ivfpq_topk(
        vecs, queries, k=5, num_cells=16, num_probe=3, m=16, ncodes=32
    )


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    WHERE rn <= ceil(0.2 * n)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 20% sample with EXACT per-stratum fractions: rank each
    stratum by a content-free id hash and keep the top ceil(0.2*n) —
    deterministic across runs/engines/partitionings (rand()-based
    sampling is neither exact nor reproducible cross-engine)."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wn = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .where(F.col("rn") <= F.ceil(0.2 * F.col("n")))
        .select("doc_id", "lang")
    )


@query(
    "q_mix_budget",
    oracle="""
    WITH d AS (
        SELECT source, doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               len(string_split(text, ' ')) AS n_tok,
               200 + 150 * (CAST(substring(source, 4) AS BIGINT) % 5)
                   AS budget
        FROM documents
    ),
    c AS (
        SELECT source, doc_id, n_tok, budget,
               CAST(sum(n_tok) OVER (PARTITION BY source
                                     ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tok
        FROM d
    )
    SELECT source, doc_id, n_tok, cum_tok
    FROM c WHERE cum_tok <= budget
    """,
)
def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling under per-source token budgets — the
    data-mixing step of a training pipeline: each source (domain) gets a
    token budget from its mixture weight, documents are taken in
    content-free id-hash order until the budget fills.  Deterministic
    and resumable (selection is a pure function of ids + weights), and
    exactly reproducible cross-engine — unlike rand()-weighted sampling.
    Budgets here derive from the source name (weight class = source
    index mod 5) to exercise heterogeneous weights.

    Scale: one per-source window (partition-parallel, the mixture key
    is the natural partitioner) + a pushable projection; no global
    ordering anywhere.  Skewed domains can reuse the bucketed prefix
    sum of operators/ranking if one source dwarfs the rest."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    base = docs.select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        (
            F.lit(200)
            + F.lit(150)
            * F.pmod(F.substring("source", 4, 10).cast("long"), F.lit(5))
        ).alias("budget"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tok", F.sum("n_tok").over(w))
        .where(F.col("cum_tok") <= F.col("budget"))
        .select("source", "doc_id", "n_tok", "cum_tok")
    )


@query(
    "q_vocab_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT count(*) AS n_total FROM toks),
    cnt AS (SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
            FROM toks GROUP BY tok)
    SELECT tok, n, df,
           (floor((CAST(n AS DOUBLE) / n_total) * 10000.0 + 0.5) / 10000.0)
               AS frac
    FROM cnt, tot
    ORDER BY n DESC, tok
    LIMIT 100
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: top-100 tokens by corpus frequency with
    document frequency and corpus-coverage fraction — the tokenizer-prep
    aggregation.  Two hash aggregations + a broadcast single-row total;
    the LIMIT ranks on exact integers with a token tiebreak."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    cnt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("df"),
    )
    tot = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .orderBy(F.col("n").desc(), "tok")
        .limit(100)
        .select(
            "tok",
            "n",
            "df",
            round4(F.col("n").cast("double") / F.col("n_total")).alias("frac"),
        )
    )


# GPT2-style pre-tokenizer shape, lookahead-free so Java regex and RE2
# agree: letter runs / digit runs / non-alphanumeric runs, each with an
# optional leading space.
BPE_PIECE = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


@query(
    "q_bpe_pretokenize",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{BPE_PIECE}')) AS n_pieces,
           len(regexp_extract_all(text, ' ?[a-z]+')) AS n_alpha,
           len(regexp_extract_all(text, ' ?[0-9]+')) AS n_digit,
           md5(array_to_string(regexp_extract_all(text, '{BPE_PIECE}'), '|'))
               AS pieces_fp
    FROM documents
    """,
)
def q_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape, minus
    lookaheads so both engines' regex dialects agree): space-prefixed
    letter/digit/other runs.  Emits piece counts and an md5 fingerprint
    of the full piece sequence — the fingerprint proves the SEGMENTATION
    itself matches across engines, not just the counts."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    pieces = F.regexp_extract_all("text", F.lit(BPE_PIECE), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.regexp_extract_all("text", F.lit(" ?[a-z]+"), F.lit(0))).alias(
            "n_alpha"
        ),
        F.size(F.regexp_extract_all("text", F.lit(" ?[0-9]+"), F.lit(0))).alias(
            "n_digit"
        ),
        F.md5(F.array_join(pieces, "|")).alias("pieces_fp"),
    )


@query(
    "q_ngram_freq",
    oracle=_SHINGLE_CTE
    + """
    SELECT shingle, count(*) AS df
    FROM sh
    GROUP BY shingle
    ORDER BY df DESC, shingle
    LIMIT 50
    """,
)
def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 trigram document frequencies — the n-gram LM / contamination-
    check aggregation; one hash count over the shingle explode with an
    exact-integer LIMIT ranking."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "shingle")
        .limit(50)
    )


@query(
    "q_cooccurrence_pmi",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    cnt AS (SELECT tok, count(*) AS c FROM dt GROUP BY tok),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_ab
        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, c_ab,
           {ORACLE_ROUND4.format(
               x="ln((CAST(c_ab AS DOUBLE) * n_docs) / (ca.c * cb.c))"
           )} AS pmi
    FROM pairs
    JOIN cnt ca ON ca.tok = tok_a
    JOIN cnt cb ON cb.tok = tok_b
    CROSS JOIN nd
    ORDER BY c_ab DESC, tok_a, tok_b
    LIMIT 100
    """,
)
def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence with pointwise mutual
    information — the embedding-training / collocation statistic.  The
    top-100 SELECTION ranks on exact integers (c_ab, tokens); ln appears
    only in the emitted PMI.  Plan: distinct (doc, token) explode ->
    same-doc pair join -> count; unigram counts broadcast back."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    nd = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    cnt = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = dt.select("doc_id", F.col("tok").alias("tok_a")).hint("shuffle_hash")
    b = dt.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ca = cnt.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(nd))
        .orderBy(F.col("c_ab").desc(), "tok_a", "tok_b")
        .limit(100)
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            round4(
                F.log(
                    (F.col("c_ab").cast("double") * F.col("n_docs"))
                    / (F.col("ca") * F.col("cb"))
                )
            ).alias("pmi"),
        )
    )


def _dedup_decision_oracle() -> str:
    # reuse the recursive-CTE cluster oracle, then left-join every doc:
    # docs outside any cluster are their own canonical representative.
    inner = _clusters_oracle(16).strip()
    return f"""
    WITH clusters AS ({inner})
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS canonical_id,
           CAST(coalesce(c.cluster_id, d.doc_id) = d.doc_id AS INT) AS keep
    FROM documents d
    LEFT JOIN clusters c ON c.doc_id = d.doc_id
    """


@query("q_dedup_decision", oracle=_dedup_decision_oracle())
def q_dedup_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup VERDICT — what a production pipeline actually
    writes: every document mapped to its canonical representative (the
    min id of its near-dup cluster; singletons map to themselves) with a
    keep/drop flag.  Composition: minhash-LSH -> connected components ->
    left join back to the corpus."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    edges = dedup.lsh_candidate_pairs(bands)
    clusters = dedup.connected_components(edges)
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("canonical_id"),
            (F.coalesce("cluster_id", "doc_id") == F.col("doc_id"))
            .cast("int")
            .alias("keep"),
        )
    )


@query(
    "q_quality_funnel",
    oracle="""
    SELECT reason, count(*) AS n_docs
    FROM (
        SELECT CASE
            WHEN len(string_split(text, ' ')) < 20 THEN 'too_short'
            WHEN CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ('a', 'the'))) AS DOUBLE)
                 / len(string_split(text, ' ')) > 0.2 THEN 'stopword_heavy'
            WHEN n_chars > 600 THEN 'too_long'
            ELSE 'pass' END AS reason
        FROM documents
    )
    GROUP BY reason
    """,
)
def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: every document classified by its FIRST
    failing rule (short / stopword-heavy / long / pass) with per-reason
    counts — the rejection-statistics view every corpus-cleaning run
    reports.  Rule order is the CASE order, identical in both engines;
    the stopword ratio compares exact integer-derived doubles."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin("a", "the"))).cast("double")
        / F.size(toks)
    )
    reason = (
        F.when(F.size(toks) < 20, "too_short")
        .when(stop_ratio > 0.2, "stopword_heavy")
        .when(F.col("n_chars") > 600, "too_long")
        .otherwise("pass")
    )
    return docs.select(reason.alias("reason")).groupBy("reason").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q_dataset_shuffle",
    oracle="""
    SELECT doc_id, shuffle_pos
    FROM (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS shuffle_pos
        FROM documents
    )
    WHERE shuffle_pos <= 100
    """,
)
def q_dataset_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset shuffling for training-order assignment:
    global position = rank in id-hash order — reproducible across runs,
    engines, and partitionings (rand()-based shuffles are none of
    those), and resumable (position is a pure function of the id).

    Scale: the global rank is a bucketed prefix sum (operators/ranking),
    NOT a partitionless window — the md5 first nibble is a monotone
    16-way range bucket of the hash order, each bucket ranks ~1/16 of
    the corpus in parallel, and the cross-bucket coupling is a 16-row
    broadcast offset table."""
    from ..operators import ranking

    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    base = docs.select("doc_id", h.alias("__h"))
    # '0'..'9' < 'a'..'f' in both ASCII and the conv() value — monotone.
    bucket = F.conv(F.substring("__h", 1, 1), 16, 10).cast("int")
    ranked = ranking.global_row_number(
        base,
        [F.col("__h").asc(), F.col("doc_id").asc()],
        bucket,
        "shuffle_pos",
    )
    return ranked.where(F.col("shuffle_pos") <= 100).select(
        "doc_id", "shuffle_pos"
    )


@query(
    "q_repetition_signals",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    uni AS (
        SELECT doc_id, tok, count(*) AS c
        FROM toks GROUP BY doc_id, tok
    ),
    uni_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               {ORACLE_ROUND4.format(
                   x="CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)"
               )} AS distinct_ratio,
               {ORACLE_ROUND4.format(
                   x="CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)"
               )} AS top_token_frac
        FROM uni GROUP BY doc_id
    ),
    bi AS (
        SELECT doc_id, bigram, count(*) AS c
        FROM (
            SELECT doc_id,
                   unnest([l[i] || ' ' || l[i+1]
                           FOR i IN range(1, greatest(len(l), 1))]) AS bigram
            FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        ) GROUP BY doc_id, bigram
    ),
    bi_doc AS (
        SELECT doc_id,
               {ORACLE_ROUND4.format(
                   x="CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)"
               )} AS top_bigram_frac
        FROM bi GROUP BY doc_id
    )
    SELECT u.doc_id, u.n_tokens, u.distinct_ratio, u.top_token_frac,
           coalesce(b.top_bigram_frac, 0.0) AS top_bigram_frac
    FROM uni_doc u LEFT JOIN bi_doc b ON u.doc_id = b.doc_id
    """,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021, public): token count, distinct-token ratio, top-unigram
    fraction, top-bigram fraction.  High top-n-gram fractions flag the
    degenerate repeated-text documents an LLM-data pipeline drops.

    Scale shape: both n-gram explosions aggregate on (doc_id, gram) with
    map-side partial aggregation, then reduce to one row per doc — the
    heavy (doc_id, gram) shuffle is the unavoidable one, and the doc-level
    join is co-partitioned on doc_id.  No driver-side loops, no UDFs.
    (Reference has no text analytics; EXT row, SURVEY.md §2.12.)"""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            round4(
                F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")
            ).alias("distinct_ratio"),
            round4(
                F.max("c").cast("double") / F.sum("c").cast("double")
            ).alias("top_token_frac"),
        )
    )
    arr = docs.select("doc_id", F.split(F.col("text"), " ").alias("l"))
    bigrams = arr.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(l, 1, greatest(size(l) - 1, 0)),"
                " (x, i) -> concat(x, ' ', l[i + 1]))"
            )
        ).alias("bigram"),
    )
    bi = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            round4(
                F.max("c").cast("double") / F.sum("c").cast("double")
            ).alias("top_bigram_frac")
        )
    )
    return uni.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        "top_token_frac",
        F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias(
            "top_bigram_frac"
        ),
    )


def _bpe_train_oracle(num_merges: int = 20, min_pair_count: int = 2) -> str:
    """Unrolled per-merge CTE chain (the q_pagerank technique, VERDICT
    r04 item #5): each round counts adjacent symbol pairs, takes the
    (count DESC, l, r) argmax with ``c >= min_pair_count``, and rewrites
    every word with a ``list_reduce`` string-fold.

    The fold IS the left-to-right greedy fuse: keep the word as symbols
    joined by chr(30); for each next symbol x, if the accumulator's LAST
    symbol is exactly ``l`` (acc = l, or acc ends with chr(30)||l) and
    x = r, append ``r`` WITHOUT a separator (fusing l+r), else append
    with one.  A just-fused symbol is l||r ≠ l (r nonempty), so the fold
    can never re-fuse through it — exactly the scan-and-skip semantics
    of ``bpe._fuse``, which the Spark rewrite applies.  Early stop: an
    empty argmax empties the cross join, so later rounds yield no
    merges, matching the driver-side ``break``.

    Every chained CTE is MATERIALIZED: without it DuckDB inlines, and
    since round i+1 references s_i twice (directly and via m_i) the
    expansion is 2^num_merges corpus scans — the first attempt died on
    file-handle exhaustion before it could be slow.

    Delimiter assumption: the oracle packs each word's symbols into one
    chr(30)-joined string; a corpus token CONTAINING chr(30) (the unit
    separator, absent from any text corpus that survived a quality
    filter) would misparse on the oracle side only.  The Spark side has
    no such assumption — a divergence would therefore surface as a loud
    hash FAIL, never a silent agreement."""
    parts = ["""
    WITH wf AS (
        SELECT array_to_string(string_split(w, ''), chr(30))
                   || chr(30) || '</w>' AS s,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w
    ),
    s_0 AS MATERIALIZED (SELECT s, cnt FROM wf)"""]
    for i in range(num_merges):
        parts.append(f""",
    p_{i} AS MATERIALIZED (
        SELECT toks[j] AS l, toks[j + 1] AS r, sum(cnt) AS c
        FROM (SELECT string_split(s, chr(30)) AS toks, cnt FROM s_{i}),
             LATERAL (SELECT unnest(range(1, len(toks))) AS j) t
        GROUP BY 1, 2
    ),
    m_{i} AS MATERIALIZED (
        SELECT l, r FROM p_{i} WHERE c >= {min_pair_count}
        ORDER BY c DESC, l, r LIMIT 1
    ),
    s_{i + 1} AS MATERIALIZED (
        SELECT list_reduce(string_split(s, chr(30)),
            (acc, x) -> CASE WHEN x = m.r AND (acc = m.l
                                  OR ends_with(acc, chr(30) || m.l))
                             THEN acc || x
                             ELSE acc || chr(30) || x END) AS s,
               cnt
        FROM s_{i} CROSS JOIN m_{i} m
    )""")
    selects = " UNION ALL ".join(
        f'SELECT CAST({i} AS INTEGER) AS merge_rank,'
        f' l AS "left", r AS "right" FROM m_{i}'
        for i in range(num_merges)
    )
    parts.append(f"\n    {selects}")
    return "".join(parts)


def _bpe_token_count_oracle(
    num_merges: int = 20, min_pair_count: int = 2, greedy_rounds: int = 8
) -> str:
    """Greedy-encode twin of the Spark ``bpe_token_counts`` path
    (VERDICT r05 item #4): reuse the unrolled training chain to learn the
    merge table, then unroll the GREEDY lowest-rank-present encoder over
    the distinct-word vocabulary and roll counts up per document.

    The r04 promotion note documented why an oracle built from the
    TRAINING chain (rank-order replay) would be latently wrong: greedy
    encode re-fires low-rank merges on adjacencies that later merges
    create.  This oracle therefore implements greedy itself: per round,
    each word's best pair is ``min(rank)`` over its adjacent pairs joined
    against the merge table, and the rewrite is the same ``list_reduce``
    scan-and-skip fold the training chain proved engine-equivalent.
    Words whose best-pair join is empty pass through unchanged, so the
    unroll is idempotent past each word's fixpoint.  ``greedy_rounds=8``
    covers the measured bound (max 3 iterations/word at sf0.01, vocab 31;
    an unconverged word would change counts and surface as a loud hash
    FAIL, never silent agreement).

    Duplicate-merge corner: the trainer can in principle re-learn a pair
    at a later rank; Python's ``ranks`` dict keeps the LAST index, so the
    merge table here dedupes with ``max(rank)`` to match bit-for-bit.

    Per-document rollup: token count of a document is the sum of its
    words' encoded lengths (the Spark encoder's per-batch word memo is
    exactly this factoring); wordless documents get 0 via the LEFT JOIN,
    matching the UDF's empty-array size."""
    parts = [_bpe_train_oracle(num_merges, min_pair_count).split(
        "\n    SELECT CAST(0 AS INTEGER)"
    )[0]]
    ranked = " UNION ALL ".join(
        f"SELECT {i} AS rank, l, r FROM m_{i}" for i in range(num_merges)
    )
    parts.append(f""",
    mt AS MATERIALIZED (
        SELECT l, r, max(rank) AS rank FROM ({ranked}) GROUP BY l, r
    ),
    dw AS MATERIALIZED (
        SELECT DISTINCT w
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> ''
    ),
    e_0 AS MATERIALIZED (
        SELECT w, array_to_string(string_split(w, ''), chr(30))
                   || chr(30) || '</w>' AS s
        FROM dw
    )""")
    for g in range(greedy_rounds):
        parts.append(f""",
    b_{g} AS MATERIALIZED (
        SELECT x.w, m.l, m.r FROM (
            SELECT p.w, min(mt.rank) AS rk
            FROM (SELECT w, toks[j] AS l, toks[j + 1] AS r
                  FROM (SELECT w, string_split(s, chr(30)) AS toks
                        FROM e_{g}),
                       LATERAL (SELECT unnest(range(1, len(toks))) AS j) t
                 ) p
            JOIN mt ON mt.l = p.l AND mt.r = p.r
            GROUP BY p.w
        ) x JOIN mt m ON m.rank = x.rk
    ),
    e_{g + 1} AS MATERIALIZED (
        SELECT e.w,
               CASE WHEN b.l IS NULL THEN e.s
                    ELSE list_reduce(string_split(e.s, chr(30)),
                        (acc, x) -> CASE WHEN x = b.r AND (acc = b.l
                                         OR ends_with(acc, chr(30) || b.l))
                                    THEN acc || x
                                    ELSE acc || chr(30) || x END)
               END AS s
        FROM e_{g} e LEFT JOIN b_{g} b ON e.w = b.w
    )""")
    parts.append(f""",
    wn AS MATERIALIZED (
        SELECT w, len(string_split(s, chr(30))) AS n FROM e_{greedy_rounds}
    )
    SELECT d.doc_id,
           CAST(COALESCE(t.n_tok, 0) AS INTEGER) AS n_bpe_tokens
    FROM documents d LEFT JOIN (
        SELECT doc_id, sum(wn.n) AS n_tok
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents) wpd
        JOIN wn ON wpd.w = wn.w
        WHERE wpd.w <> ''
        GROUP BY doc_id
    ) t ON d.doc_id = t.doc_id""")
    return "".join(parts)


@query("q_bpe_train", oracle=_bpe_train_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (Sennrich ACL 2016) over the corpus:
    returns the learned merge table (rank, left, right).  The algorithm
    is an iterative argmax refinement (driver holds the KB-sized merge
    list, executors hold the word-frequency table), but the merge TABLE
    is deterministic under the lexicographic tie-break — so it sits
    under the FULL hash gate against an unrolled 20-round CTE-chain
    oracle (``_bpe_train_oracle``), upgrading this from rows-only
    (VERDICT r04 item #5)."""
    from ..operators import bpe

    docs = load(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=20, min_pair_count=2)
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "merge_rank int, left string, right string",
    )


@query("q_bpe_token_count", oracle=_bpe_token_count_oracle())
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 20 BPE merges, then greedy-encode every document and report
    its token count — the budget number a training-data pipeline emits.
    Encoding is one Arrow-batched UDF with a per-batch word memo; the
    merge table rides the closure (broadcast-dim pattern).

    Promoted from rows-only to the FULL hash gate (VERDICT r05 item #4):
    the r04 objection was that a rank-order-replay oracle diverges from
    the GREEDY lowest-rank-present encoder (GPT-2 release semantics) in
    a documented corner — so ``_bpe_token_count_oracle`` implements the
    greedy algorithm itself (per-word min-rank pair selection + the
    proven ``list_reduce`` fold, unrolled past the measured per-word
    iteration bound), closing the corner instead of papering over it."""
    from ..operators import bpe

    docs = load(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=20, min_pair_count=2)
    return bpe.bpe_token_counts(docs, merges).select("doc_id", "n_bpe_tokens")


@query("q_dedup_clusters_star", oracle=_clusters_oracle(16))
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup clustering as q_dedup_clusters, but the component
    step runs the large-star/small-star algorithm (Kiveris et al. SoCC
    2014): O(log² n) rounds regardless of graph diameter — the scale
    path when candidate graphs chain deeply instead of clustering
    shallowly.  Identical output contract, so it shares the recursive-CTE
    oracle with the label-propagation variant."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    edges = dedup.lsh_candidate_pairs(bands)
    return dedup.connected_components_star(edges)


@query(
    "q_embed_dim_stats",
    oracle=f"""
    SELECT z.dim AS dim,
           {ORACLE_ROUND4.format(
               x="CAST(sum(CAST(CAST(z.x AS DOUBLE) AS DECIMAL(20,10))) "
                 "AS DOUBLE) / count(*)"
           )} AS mean_x,
           min(CAST(z.x AS DOUBLE)) AS min_x,
           max(CAST(z.x AS DOUBLE)) AS max_x,
           count(*) AS n
    FROM (
        SELECT unnest([{{'dim': i, 'x': embedding[i]}}
                       FOR i IN range(1, len(embedding) + 1)]) AS z
        FROM embeddings
    )
    GROUP BY z.dim
    """,
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (mean/min/max per vector slot) —
    the feature-store sanity check that catches dead or exploding
    dimensions before training.  posexplode fans each vector into
    (dim, x) rows; the aggregate is map-side combinable on the 64 dim
    keys.  Mean uses the exact-decimal-sum pattern (order-insensitive,
    DuckDB-identical); min/max are raw float→double widenings (exact in
    both engines)."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("pos", "xf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("xf").cast("double").alias("x")
    )
    return x.groupBy("dim").agg(
        round4(
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_x"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.count(F.lit(1)).alias("n"),
    )


@query("q_pca_gram")
def q_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud via the
    Gram-matrix sketch (one mapInPandas matmul per Arrow batch →
    (i,j,v) partial-sum shuffle → dim² doubles on the driver) + power
    iteration.  Rows-only: eigenvector loadings are float-order
    sensitive on near-isotropic synthetic data (the emitted
    top_eigenvalue is the stable summary; see operator docstring)."""
    from ..operators.similarity import pca_top_component

    return pca_top_component(load(spark, sf_dir, "embeddings"))


@query(
    "q_fuzzy_join",
    oracle="""
    WITH t AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.c_name AS s_a, b.c_name AS s_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM t a JOIN t b
      ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance ≤ 1) string self-join over customer names
    via deletion-neighborhood hashing (operators/dedup
    .edit_distance_pairs): candidates come from an equi-join on
    one-char-deletion variants — O(Σ len) rows — instead of the
    quadratic all-pairs scan the DuckDB oracle runs.  The classic
    approximate-string-join for near-identical records (entity
    resolution / near-dup titles in corpus curation); integer distance,
    full hash oracle."""
    cust = rebalance_for_cpu(load(spark, sf_dir, "customer"))
    return dedup.edit_distance_pairs(cust, "c_name", max_dist=1)


@query(
    "q_gram_int",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM q CROSS JOIN range(0, 64) t(i)
    )
    SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS g
    FROM u a JOIN u b USING (vec_id)
    GROUP BY 1, 2
    """,
)
def q_gram_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Gram matrix (quantized Σxᵀx): the hash-verifiable
    member of the covariance/PCA family — float Gram sums are
    partition-order sensitive (q_pca_gram is rows-only for that
    reason); integer grids make the whole reduction associative-exact.
    Same 100 TB shape as the float version: per-batch numpy matmul
    partials, map-side-combinable (i,j,v) sum, dim² scalars out."""
    from ..operators.similarity import gram_matrix_int

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    return gram_matrix_int(vecs, dim=64, scale=1000)


_PCA_ITERS = 8
_PCA_VSCALE = 1_000_000


def _pca_power_int_oracle(iters: int = _PCA_ITERS, dim: int = 64) -> str:
    """Unrolled fixed-point power iteration (the q_pagerank device
    applied to PCA): integer Gram matvec per round, renormalized by
    truncating division ``(gv * 1e6) // max|gv|``.  DuckDB's ``//``
    TRUNCATES toward zero (unlike Python's floor ``//``) — the Spark
    side mirrors with an explicit trunc-div on exact Python ints.
    Intermediate products exceed int64 (gv·1e6 ~ 3e22); DuckDB's
    BIGINT sums promote to HUGEINT, the Spark side uses unbounded
    Python ints — both exact.  MATERIALIZED per round (each v_k feeds
    the next matvec)."""
    parts = [f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM q CROSS JOIN range(0, {dim}) t(i)
    ),
    g AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS g
        FROM u a JOIN u b USING (vec_id)
        GROUP BY 1, 2
    ),
    v_0 AS MATERIALIZED (
        SELECT CAST(t.i AS BIGINT) AS i,
               CAST({_PCA_VSCALE} AS HUGEINT) AS v
        FROM range(0, {dim}) t(i)
    )"""]
    for k in range(iters):
        parts.append(f""",
    gv_{k} AS MATERIALIZED (
        SELECT g.i, sum(g.g * v.v) AS gv
        FROM g JOIN v_{k} v ON g.j = v.i
        GROUP BY g.i
    ),
    v_{k + 1} AS MATERIALIZED (
        SELECT gv_{k}.i, (gv * {_PCA_VSCALE}) // m.m AS v
        FROM gv_{k}, (SELECT max(abs(gv)) AS m FROM gv_{k}) m
    )""")
    parts.append(f""",
    sgn AS (
        SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
        FROM v_{iters} ORDER BY abs(v) DESC, i LIMIT 1
    )
    SELECT v.i AS dim_i, CAST(v.v * sgn.s AS BIGINT) AS load_micro
    FROM v_{iters} v, sgn
    """)
    return "".join(parts)


@query("q_pca_power_int", oracle=_pca_power_int_oracle())
def q_pca_power_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact top principal direction — the hash-verifiable twin
    of q_pca_gram (which stays rows-only: float eigenvectors wobble
    with summation order): 8 fixed-point power-iteration rounds on the
    INTEGER Gram matrix, each round an exact integer matvec followed by
    truncating-division renormalization to the 1e6 grid, sign
    canonicalized by the max-|loading| entry.  Not a float PCA
    approximation harness — a deterministic integer dynamical system
    both engines step identically; its fixed point is the dominant
    eigendirection on the 1e-6 grid, approached at the spectral-gap
    rate (λ₁/λ₂)ᵏ.  Honesty note: the synthetic test embeddings are
    near-isotropic (measured λ₁/λ₂ = 1.017 at sf0.01), so 8 rounds
    reach only cosine 0.59 to the true top direction — the HASH-GATED
    property is the exact integer stepping, not convergence; real
    embedding distributions are strongly anisotropic and converge in a
    handful of rounds (q_pca_gram's docstring carries the same
    perturbation-theory caveat for the float path).

    Scale: the data-sized work is ONE distributed pass
    (gram_matrix_int: per-batch numpy matmul partials, combinable
    (i,j,v) sums); iterations run on the dim×dim = 64×64 integer matrix
    — driver microseconds at any corpus size, exact Python ints (the
    oracle's HUGEINT mirror)."""
    from ..operators.similarity import gram_matrix_int

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    rows = gram_matrix_int(vecs, dim=64, scale=1000).collect()
    dim = 64
    G = [[0] * dim for _ in range(dim)]
    for r in rows:
        G[r["i"]][r["j"]] = int(r["g"])

    def tdiv(a: int, b: int) -> int:
        # truncate toward zero, matching DuckDB's `//` (b > 0 here)
        q = abs(a) // b
        return q if a >= 0 else -q

    v = [_PCA_VSCALE] * dim
    for _ in range(_PCA_ITERS):
        gv = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in gv)
        v = [tdiv(x * _PCA_VSCALE, m) for x in gv]
    # canonical sign: the max-|v| entry (smallest index on ties) positive
    pivot = min(range(dim), key=lambda i: (-abs(v[i]), i))
    s = -1 if v[pivot] < 0 else 1
    return spark.createDataFrame(
        [(i, int(x * s)) for i, x in enumerate(v)],
        "dim_i bigint, load_micro bigint",
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                      len(string_split(text, ' ')) AS n_tok
               FROM documents),
         g AS (SELECT *, CAST(concat('0x', substring(h, 1, 1)) AS BIGINT)
                         AS grp FROM d),
         c AS (SELECT *, sum(n_tok) OVER (PARTITION BY grp ORDER BY h, doc_id
                                          ROWS UNBOUNDED PRECEDING) AS cum_in
               FROM g),
         t AS (SELECT grp, sum(n_tok) AS tot FROM g GROUP BY 1),
         o AS (SELECT grp, coalesce(sum(tot) OVER (ORDER BY grp
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS off FROM t)
    SELECT CAST((off + cum_in - n_tok) // 256 AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM c JOIN o USING (grp)
    GROUP BY 1
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: documents in deterministic
    hash-shuffled order are laid head-to-tail and cut into fixed
    256-token bins (a doc's bin = its start offset ÷ budget).  The
    global running offset is a DISTRIBUTED prefix sum — per-group
    (first hash nibble, 16 groups) window cumsums plus a 16-row group
    offset table broadcast back — so no single-partition global window
    ever materializes; at 100 TB each group's window sorts ~1/16 of the
    corpus and the cross-group coupling is 16 numbers.  Integer token
    counts end-to-end → exact cross-engine."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    base = docs.select(
        "doc_id",
        h.alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.conv(F.substring(h, 1, 1), 16, 10).cast("long").alias("grp"),
    )
    from pyspark.sql import Window

    w_in = (
        Window.partitionBy("grp")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum_in", F.sum("n_tok").over(w_in))
    totals = base.groupBy("grp").agg(F.sum("n_tok").alias("tot"))
    w_off = (
        Window.orderBy("grp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "grp", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
    )
    return (
        cum.join(F.broadcast(offsets), "grp")
        .select(
            F.expr("(off + cum_in - n_tok) div 256").alias("bin"), "n_tok"
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
    )


@query(
    "q_contamination",
    oracle=_SHINGLE_CTE
    + """
    , split AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS bucket
        FROM documents
    ),
    train_sh AS (
        SELECT DISTINCT shingle
        FROM sh JOIN split USING (doc_id) WHERE bucket < 8
    ),
    eval_sh AS (
        SELECT doc_id, shingle
        FROM sh JOIN split USING (doc_id) WHERE bucket >= 8
    )
    SELECT doc_id, count(*) AS n_shared
    FROM eval_sh JOIN train_sh USING (shingle)
    GROUP BY doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: for every held-out document (the
    80/10/10 hash split of q_hash_split), how many of its distinct
    3-token shingles also occur anywhere in the train split.  One
    shingle-keyed hash join — the train side collapses to DISTINCT
    shingles first (map-side combinable), so the join carries the
    shingle vocabulary, not the corpus; eval is 20% of docs.  The
    standard pre-training hygiene gate (eval-set leakage detection)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 10
    )
    tagged = docs.select("doc_id", "text", bucket.alias("bucket"))
    sh = dedup.shingles(tagged, n=3)
    split = tagged.select("doc_id", "bucket")
    train_sh = (
        sh.join(split.where(F.col("bucket") < 8), "doc_id")
        .select("shingle")
        .distinct()
    )
    eval_sh = sh.join(split.where(F.col("bucket") >= 8), "doc_id").select(
        "doc_id", "shingle"
    )
    return (
        eval_sh.join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@query(
    "q_udtf_bigrams",
    oracle="""
    SELECT doc_id, i AS pos, toks[i] || ' ' || toks[i+1] AS bigram
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
         LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
    """,
)
def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) coverage: a lateral-joined
    arrow-optimized UDTF emitting positional bigrams per document — the
    one-row-to-many-rows shape where a table function beats
    explode-of-precomputed-array (no intermediate array materialized per
    row; rows stream out of the generator through Arrow batches).  Scale:
    row-local, shuffle-free, embarrassingly parallel."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, bigram: string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield i + 1, toks[i] + " " + toks[i + 1]

    spark.udtf.register("nes_bigrams", Bigrams)
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("nes_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.bigram
        FROM nes_udtf_docs d, LATERAL nes_bigrams(d.text) t
        """
    )



@query(
    "q_unigram_surprisal",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    t AS (SELECT count(*) AS n FROM toks),
    sc AS (
        SELECT doc_id,
               length(bin(n)) - length(bin(c)) AS s
        FROM toks JOIN c USING (tok) CROSS JOIN t
    )
    SELECT doc_id, count(*) AS n_toks,
           CAST(sum(s) AS BIGINT) AS surprisal_bits
    FROM sc GROUP BY doc_id
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity filtering, integer form: per-token surprisal
    ≈ log2(N/count) computed as bit_length(N) - bit_length(count) —
    within 1 bit of the real log2 but pure integer comparisons, so the
    scores (the CCNet-style quality signal: high total surprisal = rare
    vocabulary = off-distribution text) are engine-exact and fully
    hash-oracled, where a float log LM score would drift per libm.

    Scale: the LM "model" is the token-count table (vocabulary-sized —
    broadcast-able after pruning, else a shuffle join keyed by token);
    bit_length is length(conv/bin) — native string rendering, no UDF,
    no float log (counts ≥ 1, so no zero case)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    nbits = int_bit_length
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (nbits(F.col("n")) - nbits(F.col("c"))).alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("s").cast("long").alias("surprisal_bits"),
    )


@query(
    "q_inverted_index",
    oracle="""
    WITH d AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    SELECT tok, doc_id // 64 AS block,
           count(*) AS df_block,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM d
    GROUP BY tok, doc_id // 64
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-sharded inverted index: postings for each token are split
    into fixed doc-id blocks (64 ids per block) BEFORE aggregation, so a
    stopword's posting list becomes many bounded rows instead of one
    giant array — the skew guard that keeps collect_list viable at
    corpus scale (single-row posting lists for 1e9-doc stopwords OOM any
    engine; block-partitioned lists are the standard segment layout).
    Postings are sorted within block then ','-joined to a string —
    deterministic AND scalar-typed, so the driver's pandas
    canonicalizer (sort_values over every column; throws on ndarray
    cells) can hash the full result."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    return (
        d.groupBy("tok", F.expr("doc_id div 64").alias("block"))
        .agg(
            F.count(F.lit(1)).alias("df_block"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings"),
        )
        .select("tok", "block", "df_block", "postings")
    )


def _curation_oracle(num_hashes: int = 8) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    p = dedup.MINHASH_P
    return f"""
    WITH flt AS (
        SELECT doc_id, lang, text FROM documents
        WHERE n_chars BETWEEN 50 AND 600
    ),
    ex AS (SELECT min(doc_id) AS doc_id FROM flt GROUP BY md5(text)),
    s1 AS (SELECT f.doc_id, f.lang, f.text FROM flt f JOIN ex USING (doc_id)),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM s1)
    ),
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    mins AS (SELECT band, bucket, min(doc_id) AS mn
             FROM bands GROUP BY 1, 2),
    dropped AS (
        SELECT DISTINCT b.doc_id
        FROM bands b JOIN mins m USING (band, bucket)
        WHERE b.doc_id > m.mn
    )
    SELECT s1.doc_id, s1.lang,
           CAST(len(string_split(s1.text, ' ')) AS BIGINT) AS n_tok
    FROM s1
    WHERE s1.doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@query("q_curation_pipeline", oracle=_curation_oracle())
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation pipeline END-TO-END as one declarative plan:
    length filter → exact dedup (content digest, keep min id) → near-dup
    drop (8-hash MinHash, 2-row LSH bands, drop any doc whose band
    bucket contains a smaller id — the deterministic keep-first rule) →
    token counting.  One DAG: Catalyst fuses the filter into the scan,
    the digest dedup shuffles 16-byte hashes, the near-dup stage reuses
    the single-groupBy signature plan of q_dedup_minhash, and the final
    anti-join is bucket-candidate-sized.  Demonstrates that the
    engine's curation stages COMPOSE — each is also oracled standalone
    — and the whole chain still carries a full value-hash oracle."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    flt = docs.where(
        (F.col("n_chars") >= 50) & (F.col("n_chars") <= 600)
    ).select("doc_id", "lang", "text")
    keep_exact = flt.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    s1 = flt.join(keep_exact.select("doc_id"), "doc_id", "left_semi")
    sh = dedup.shingles(s1, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=8)
    # NOTE (optimization round 13): an eager cut on the narrow band
    # table (doc_id, band, bucket) was tried for the two concurrent
    # consumers below and REVERTED on interleaved A/B parity (0.98 vs
    # controls 1.10/0.98) — runtime exchange reuse already dedups the
    # shared shingle->signature chain here, so the cut only added its
    # own materialization job.
    bands = dedup.lsh_bands(sig, num_hashes=8, rows_per_band=2)
    mins = bands.groupBy("band", "bucket").agg(
        F.min("doc_id").alias("mn")
    )
    dropped = (
        bands.join(mins, ["band", "bucket"])
        .where(F.col("doc_id") > F.col("mn"))
        .select("doc_id")
        .distinct()
    )
    kept = s1.join(dropped, "doc_id", "left_anti")
    return kept.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )


def _ann_int_oracle(num_planes: int = 6, dim: int = 64) -> str:
    pl_rows = ", ".join(
        f"({p}, {d}, {int(s)})"
        for p, row in enumerate(
            similarity._deterministic_planes(num_planes, dim)
        )
        for d, s in enumerate(row)
    )
    return f"""
    WITH z AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    comp AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM z CROSS JOIN range(0, {dim}) t(i)
    ),
    pl(p, i, s) AS (SELECT * FROM (VALUES {pl_rows})),
    dots AS (
        SELECT vec_id, p, sum(s * x) AS d
        FROM comp JOIN pl USING (i) GROUP BY 1, 2
    ),
    buck AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM dots GROUP BY 1
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buck q JOIN buck c USING (bucket)
        WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               CASE WHEN sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v)) > 0
                    THEN list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v)))
                    ELSE 0.0 END AS qcos
        FROM cand
        JOIN z a ON a.vec_id = cand.query_id
        JOIN z b ON b.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, qcos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id,
           floor(qcos * 1000000.0 + 0.5) / 1000000.0 AS qcos
    FROM ranked WHERE rn <= 5
    """


def _sim_recall_oracle(num_planes: int = 6, dim: int = 64, k: int = 5) -> str:
    pl_rows = ", ".join(
        f"({p}, {d}, {int(s)})"
        for p, row in enumerate(
            similarity._deterministic_planes(num_planes, dim)
        )
        for d, s in enumerate(row)
    )
    return f"""
    WITH z AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    qs AS (SELECT vec_id, v FROM z WHERE vec_id < 20),
    ex_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.v, q.v))
                         * sqrt(list_dot_product(c.v, c.v)) > 0
                    THEN list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v)))
                    ELSE 0.0 END AS qcos
        FROM z c CROSS JOIN qs q
        WHERE q.vec_id <> c.vec_id
    ),
    ex_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, neighbor_id) AS rn
            FROM ex_scored
        ) WHERE rn <= {k}
    ),
    comp AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM z CROSS JOIN range(0, {dim}) t(i)
    ),
    pl(p, i, s) AS (SELECT * FROM (VALUES {pl_rows})),
    dots AS (
        SELECT vec_id, p, sum(s * x) AS d
        FROM comp JOIN pl USING (i) GROUP BY 1, 2
    ),
    buck AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM dots GROUP BY 1
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM buck q JOIN buck c USING (bucket)
        WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id
    ),
    ann_scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               CASE WHEN sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v)) > 0
                    THEN list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v)))
                    ELSE 0.0 END AS qcos
        FROM cand
        JOIN z a ON a.vec_id = cand.query_id
        JOIN z b ON b.vec_id = cand.neighbor_id
    ),
    ann_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, neighbor_id) AS rn
            FROM ann_scored
        ) WHERE rn <= {k}
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(floor(
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) * 1000.0 + 0.5
           ) AS BIGINT) AS recall_milli
    FROM ex_top e
    LEFT JOIN ann_top a USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """


@query("q_sim_recall", oracle=_sim_recall_oracle())
def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5 measurement — the evaluation every production ANN
    deployment runs before trusting its index: per query, what fraction
    of the EXACT quantized-cosine top-5 does the bucketed LSH path
    (q_sim_ann_int's plan) return?  Both sides are the integer-exact
    twins, so membership is deterministic and the whole recall table
    sits under the full hash gate — a recall metric you can regression-
    test bit-for-bit.  Plan: the exact side broadcasts 20 queries
    against the corpus (never corpus×corpus); the ANN side is the bucket
    equi-join; hits are one (query, neighbor) left-semi-style join and a
    per-query aggregate.  At 100 TB the exact side runs on a SAMPLE of
    queries (as here: 20) — recall estimation never needs the full
    query load."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk_quantized(vecs, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = (
        similarity.ann_topk_int(vecs, queries, k=5, num_planes=6)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    joined = exact.join(ann, ["query_id", "neighbor_id"], "left")
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        n_hits.alias("n_hits"),
        F.floor(
            n_hits.cast("double") / F.count(F.lit(1)) * F.lit(1000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("recall_milli"),
    )


_QZ_CTE = """
    qz AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    )"""


def _sim_recall_ivf_oracle(
    num_cells: int = 16, num_probe: int = 3, k: int = 5
) -> str:
    d = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    return f"""
    WITH {_QZ_CTE},
    qs AS (SELECT vec_id, qv FROM qz WHERE vec_id < 20),
    ex_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(c.qv, c.qv)) > 0
                    THEN list_dot_product(q.qv, c.qv)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(c.qv, c.qv)))
                    ELSE 0.0 END AS qcos
        FROM qz c CROSS JOIN qs q
        WHERE q.vec_id <> c.vec_id
    ),
    ex_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, neighbor_id) AS rn
            FROM ex_scored
        ) WHERE rn <= {k}
    ),
    seeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS cell, qv AS cv
        FROM qz
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {num_cells}
    ),
    assign AS (
        SELECT v.vec_id, s.cell, {d.format(a="v.qv", b="s.cv")} AS d
        FROM qz v CROSS JOIN seeds s
    ),
    cellof AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id < 20
        ) WHERE rn <= {num_probe}
    ),
    ivf_scored AS (
        SELECT p.query_id, c.neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(n.qv, n.qv)) > 0
                    THEN list_dot_product(q.qv, n.qv)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(n.qv, n.qv)))
                    ELSE 0.0 END AS qcos
        FROM probes p
        JOIN cellof c USING (cell)
        JOIN qz q ON q.vec_id = p.query_id
        JOIN qz n ON n.vec_id = c.neighbor_id
        WHERE p.query_id <> c.neighbor_id
    ),
    ivf_top AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, neighbor_id) AS rn
            FROM ivf_scored
        ) WHERE rn <= {k}
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(floor(
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) * 1000.0 + 0.5
           ) AS BIGINT) AS recall_milli
    FROM ex_top e
    LEFT JOIN ivf_top a USING (query_id, neighbor_id)
    GROUP BY e.query_id
    """


@query("q_sim_recall_ivf", oracle=_sim_recall_ivf_oracle())
def q_sim_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the integer IVF path vs the exact quantized top-5 —
    q_sim_recall's measurement applied to the round-5 coarse-quantizer
    twin, so BOTH bucketed ANN families now carry a bit-reproducible,
    hash-gated recall table (LSH: q_sim_recall; IVF: this).  Probing
    3 of 16 cells bounds the corpus fraction scanned; the recall number
    quantifies what that buys back — regression-testable because every
    input to it is integer-exact.

    Plan: exact side broadcasts the 20-query sample against the corpus;
    the IVF side is the cell equi-join; hits are one left join + a
    per-query aggregate — the q_sim_recall posture unchanged."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk_quantized(vecs, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = (
        similarity.ivf_topk_int(
            vecs, queries, k=5, num_cells=16, num_probe=3
        )
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    joined = exact.join(ann, ["query_id", "neighbor_id"], "left")
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        n_hits.alias("n_hits"),
        F.floor(
            n_hits.cast("double") / F.count(F.lit(1)) * F.lit(1000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("recall_milli"),
    )


@query("q_sim_ann_int", oracle=_ann_int_oracle())
def q_sim_ann_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN, end-to-end integer: ±1 planes turn the sign
    test into integer sums of quantized components, buckets are the
    6-bit sign pattern, candidates come from the bucket equi-join (the
    scale path — never all-pairs), and scoring is the quantized exact
    cosine.  The whole bucketed ANN pipeline — membership AND scores —
    under the full cross-engine value-hash gate (the float twin
    q_sim_ann stays rows-only by policy)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return similarity.ann_topk_int(vecs, queries, k=5, num_planes=6)


def _ivf_int_oracle(num_cells: int = 16, num_probe: int = 3, k: int = 5) -> str:
    # integer squared-L2 between BIGINT lists via the aa - 2ab + bb
    # identity; list_dot_product computes in double but every value is an
    # integer < 2^53, so the result is exact and the BIGINT cast lossless.
    d = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    dvc = d.format(a="v.qv", b="s.cv")
    return f"""
    WITH {_QZ_CTE},
    seeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS cell, qv AS cv
        FROM qz
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {num_cells}
    ),
    assign AS (
        SELECT v.vec_id, s.cell, {dvc} AS d
        FROM qz v CROSS JOIN seeds s
    ),
    cellof AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id < 20
        ) WHERE rn <= {num_probe}
    ),
    scored AS (
        SELECT p.query_id, c.neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(n.qv, n.qv)) > 0
                    THEN list_dot_product(q.qv, n.qv)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(n.qv, n.qv)))
                    ELSE 0.0 END AS qcos
        FROM probes p
        JOIN cellof c USING (cell)
        JOIN qz q ON q.vec_id = p.query_id
        JOIN qz n ON n.vec_id = c.neighbor_id
        WHERE p.query_id <> c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, qcos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id,
           floor(qcos * 1000000.0 + 0.5) / 1000000.0 AS qcos
    FROM ranked WHERE rn <= {k}
    """


@query("q_sim_ivf_int", oracle=_ivf_int_oracle())
def q_sim_ivf_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, end-to-end integer (VERDICT r04 item #4): md5-seeded
    quantized centroids (no Lloyd — both engines derive the identical
    codebook from the data), integer squared-L2 cell assignment with
    smallest-cell tie-break, 3-of-16 cell probing by the same integer
    distance, quantized-exact cosine scoring of cell-mates only.  The
    inverted-file scale path — cell equi-join, never all-pairs — with
    membership AND scores under the full cross-engine value-hash gate
    (the float twin q_sim_ivf stays rows-only by policy)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return similarity.ivf_topk_int(
        vecs, queries, k=5, num_cells=16, num_probe=3
    )


def _pq_int_oracle(m: int = 8, ncodes: int = 32, k: int = 5, dim: int = 64) -> str:
    dsub = dim // m
    a = f"v.qv[t.s*{dsub}+1 : t.s*{dsub}+{dsub}]"
    b = f"s.cv[t.s*{dsub}+1 : t.s*{dsub}+{dsub}]"
    d = (
        f"CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}) AS BIGINT)"
    )
    return f"""
    WITH {_QZ_CTE},
    seeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS code, qv AS cv
        FROM qz
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {ncodes}
    ),
    subs AS (SELECT unnest(range(0, {m})) AS s),
    enc_d AS (
        SELECT v.vec_id, t.s, s.code, {d} AS d
        FROM qz v CROSS JOIN subs t CROSS JOIN seeds s
    ),
    enc AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, code) AS rn
            FROM enc_d
        ) WHERE rn = 1
    ),
    qtab AS (
        SELECT v.vec_id AS query_id, t.s, s.code, {d} AS d
        FROM qz v CROSS JOIN subs t CROSS JOIN seeds s
        WHERE v.vec_id < 20
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               CAST(sum(q.d) AS BIGINT) AS adc_dist
        FROM enc e JOIN qtab q ON e.s = q.s AND e.code = q.code
        WHERE q.query_id <> e.vec_id
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= {k}
    """


def _ivfpq_int_oracle(
    num_cells: int = 16,
    num_probe: int = 3,
    m: int = 8,
    ncodes: int = 32,
    k: int = 5,
    dim: int = 64,
) -> str:
    dsub = dim // m
    dfull = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    a = f"v.qv[t.s*{dsub}+1 : t.s*{dsub}+{dsub}]"
    b = f"s.cv[t.s*{dsub}+1 : t.s*{dsub}+{dsub}]"
    dsubexpr = dfull.format(a=a, b=b)
    return f"""
    WITH {_QZ_CTE},
    cseeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS cell, qv AS cv
        FROM qz
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {num_cells}
    ),
    pseeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS code, qv AS cv
        FROM qz
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {ncodes}
    ),
    assign AS (
        SELECT v.vec_id, s.cell, {dfull.format(a="v.qv", b="s.cv")} AS d
        FROM qz v CROSS JOIN cseeds s
    ),
    cellof AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id < 20
        ) WHERE rn <= {num_probe}
    ),
    subs AS (SELECT unnest(range(0, {m})) AS s),
    enc AS (
        SELECT vec_id, s, code FROM (
            SELECT v.vec_id, t.s, s.code, {dsubexpr} AS d,
                   row_number() OVER (PARTITION BY v.vec_id, t.s
                                      ORDER BY {dsubexpr}, s.code) AS rn
            FROM qz v CROSS JOIN subs t CROSS JOIN pseeds s
        ) WHERE rn = 1
    ),
    qtab AS (
        SELECT v.vec_id AS query_id, t.s, s.code, {dsubexpr} AS d
        FROM qz v CROSS JOIN subs t CROSS JOIN pseeds s
        WHERE v.vec_id < 20
    ),
    cand AS (
        SELECT p.query_id, c.neighbor_id
        FROM probes p JOIN cellof c USING (cell)
        WHERE p.query_id <> c.neighbor_id
    ),
    scored AS (
        SELECT ca.query_id, ca.neighbor_id,
               CAST(sum(q.d) AS BIGINT) AS adc_dist
        FROM cand ca
        JOIN enc e ON e.vec_id = ca.neighbor_id
        JOIN qtab q ON q.query_id = ca.query_id
                   AND q.s = e.s AND q.code = e.code
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= {k}
    """


@query("q_sim_ivfpq_int", oracle=_ivfpq_int_oracle())
def q_sim_ivfpq_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN, end-to-end integer — completes the integer
    twin family (q_sim_topk_int / q_sim_ann_int / q_sim_ivf_int /
    q_sim_pq_int): the coarse quantizer routes by integer squared-L2 to
    md5-seeded quantized centroids, PQ compresses to m=8 integer-argmin
    codes, and each query ADC-scans only its 3-of-16 probed cells with
    INTEGER distance tables — the full FAISS IVFx,PQy serving layout
    with membership, codes, and distances all bit-reproducible under
    the hash gate (the float q_sim_ivfpq stays rows-only by policy).
    One UDF pass assigns+encodes (no shuffle); probe sets and tables
    ride the mapInPandas closure; partitions emit local top-k only."""
    from ..operators import pq

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return pq.ivfpq_topk_int(
        vecs, queries, k=5, num_cells=16, num_probe=3, m=8, ncodes=32
    )


@query("q_sim_pq_int", oracle=_pq_int_oracle())
def q_sim_pq_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, end-to-end integer (VERDICT r04 item
    #4): codebook centroid c of subspace s = the c-th md5-ordered corpus
    row's quantized subvector (no Lloyd), encoding = integer squared-L2
    argmin per subspace (smallest-code ties), scoring = asymmetric
    distance computation with INTEGER lookup tables — a corpus row's
    score is the exact int64 sum of m table entries, ranked (dist ASC,
    id ASC).  Membership, codes, and distances are all bit-reproducible,
    so the compressed-domain tier sits under the full value-hash gate
    (the float twin q_sim_pq stays rows-only by policy).  Same 100 TB
    posture as pq_topk: encode is one shuffle-free UDF pass, tables ride
    the mapInPandas closure, partitions emit local top-k only."""
    from ..operators import pq

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    return pq.pq_topk_int(vecs, queries, k=5, m=8, ncodes=32)


@query(
    "q_k_anonymity",
    oracle="""
    SELECT lang, source, count(*) AS n,
           count(*) < 5 AS below_k
    FROM documents
    GROUP BY lang, source
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier combinations: group sizes
    per (lang, source) with a below-threshold flag — the privacy check a
    release pipeline gates on (any TRUE row means those attribute
    combinations re-identify fewer than k=5 documents).  One partial-agg
    shuffle; quasi-identifier cardinality bounds the output."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) < 5).alias("below_k"),
    )


@query(
    "q_bm25_lite",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl
              FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN ('spark', 'query', 'join') GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               CAST(floor(
                   (length(bin(n_docs)) - length(bin(df)))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                               * CAST(n_docs AS DOUBLE)
                               / CAST(sum_dl AS DOUBLE))))
                   * 1000000.0 + 0.5) AS BIGINT) AS s_micro
        FROM tf JOIN dl USING (doc_id) JOIN df USING (tok)
        CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(sum(s_micro) AS DOUBLE) / 1000000.0 AS bm25_score
    FROM scored GROUP BY doc_id
    """,
)
def q_bm25_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document scoring for a fixed query ('spark query join'),
    integerized for cross-engine exactness: the idf term uses the
    bit-length approximation (bitlen(N) − bitlen(df) ≈ log2(N/df),
    within 1 bit — same device as q_unigram_surprisal) instead of ln,
    and the tf saturation term (k1=1.2, b=0.75) is a fixed IEEE
    expression over exact integers.  Pairs with q_inverted_index: at
    scale the tf table comes from the index, the df/stats tables are
    broadcast-sized.

    Each per-term score quantizes to integer micros BEFORE the per-doc
    sum, so the final reduction is associative-exact integer addition —
    the float-policy device that makes multi-term accumulation safe
    under the hash gate (a raw double sum would be summation-order
    sensitive)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        toks.where(F.col("tok").isin("spark", "query", "join"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nbits = int_bit_length
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    s = (
        (nbits(F.col("n_docs")) - nbits(F.col("df")))
        * (tfd * F.lit(2.2))
        / (
            tfd
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75)
                * (
                    dld
                    * F.col("n_docs").cast("double")
                    / F.col("sum_dl").cast("double")
                )
            )
        )
    )
    s_micro = quantize_units(s, 1e6)
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_micro.alias("s_micro"))
    )
    return scored.groupBy("doc_id").agg(
        (F.sum("s_micro").cast("double") / F.lit(1e6)).alias("bm25_score")
    )


@query(
    "q_dedup_survivorship",
    oracle="""
    SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS h,
           min(doc_id) AS keep_id,
           count(*) AS n_dups,
           max(n_chars) AS best_n_chars,
           min(lang) AS lang,
           array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship (golden-record merge) for duplicate groups: beyond
    picking a keeper id (q_dedup_exact), each group sharing an
    opening-phrase fingerprint (first 5 tokens — the match key of a
    record-linkage blocking pass)
    merges per-column best values — max completeness, deterministic
    attribute pick, the full provenance list — the entity-resolution
    step that follows any dedup.  All merge rules are
    order-independent aggregates (min/max/sorted set), so one hash
    aggregation keyed by digest and a full value-hash oracle.  The
    provenance set is emitted as a ','-joined string (not array<string>)
    so the driver's pandas canonicalizer — which sort_values every
    output column and throws on ndarray cells — can hash it."""
    docs = load(spark, sf_dir, "documents")
    opening = F.md5(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))
    )
    return (
        docs.groupBy(opening.alias("h"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.max("n_chars").alias("best_n_chars"),
            F.min("lang").alias("lang"),
            F.array_join(
                F.sort_array(F.collect_set("source")), ","
            ).alias("sources"),
        )
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# Round-3 additions: containment, simhash pair index, content-defined
# chunking, split drift
# ---------------------------------------------------------------------------


@query(
    "q_containment",
    oracle=_SHINGLE_CTE
    + """
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    cold AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100
    ),
    shc AS (SELECT sh.* FROM sh JOIN cold USING (shingle)),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, ni AS shared,
           CAST(floor(CAST(ni AS DOUBLE) / sa.n_sh * 1000.0 + 0.5)
                AS BIGINT) AS cont_a_milli,
           CAST(floor(CAST(ni AS DOUBLE) / sb.n_sh * 1000.0 + 0.5)
                AS BIGINT) AS cont_b_milli
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ni >= 5
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram CONTAINMENT pairs (|A∩B|/|A|, both directions): the
    asymmetric companion to q_ngram_jaccard — a short document quoted
    inside a long one has near-zero Jaccard but containment ≈ 1, which
    is why curation pipelines run both (Broder's resemblance vs
    containment).  Shared-shingle equi-join, min-shared floor bounds the
    output; milli-unit half-up ratios keep the full hash oracle.  The
    ``max_bucket=100`` hot-shingle cap (the same skew guard as
    q_ngram_jaccard; see containment_pairs' docstring for the exact
    drop/underestimate semantics) is replicated INSIDE the oracle CTE
    (``cold``/``shc``: shingles in <= 100 docs survive; set sizes stay
    full) so the hash gate holds under the cap."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return dedup.containment_pairs(docs, n=3, min_shared=5, max_bucket=100)


def _containment_minhash_oracle(num_hashes: int = 16) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    p = dedup.MINHASH_P
    k = num_hashes
    # The floor(...) expressions replicate containment_minhash_pairs'
    # IEEE op sequence LITERALLY (left-assoc: ((j*(na+nb))/(1+j))/n*1000
    # + 0.5) — do not refactor one side without the other.
    return (
        _SHINGLE_CTE
        + f"""
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    ),
    m AS (
        SELECT p.doc_a, p.doc_b,
               CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_match
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b AND sb.seed = sa.seed
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT m.doc_a, m.doc_b, m.n_match,
           sa.n_sh AS na, sb.n_sh AS nb,
           CAST(floor(
               CAST(m.n_match AS DOUBLE) / {k} * (sa.n_sh + sb.n_sh)
               / (1.0 + CAST(m.n_match AS DOUBLE) / {k})
               / sa.n_sh * 1000.0 + 0.5
           ) AS BIGINT) AS cont_a_est_milli,
           CAST(floor(
               CAST(m.n_match AS DOUBLE) / {k} * (sa.n_sh + sb.n_sh)
               / (1.0 + CAST(m.n_match AS DOUBLE) / {k})
               / sb.n_sh * 1000.0 + 0.5
           ) AS BIGINT) AS cont_b_est_milli
    FROM m
    JOIN sizes sa ON sa.doc_id = m.doc_a
    JOIN sizes sb ON sb.doc_id = m.doc_b
    """
    )


@query("q_containment_minhash", oracle=_containment_minhash_oracle(16))
def q_containment_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment estimated from the EXISTING MinHash sketches (the
    sketch-join companion to exact q_containment): for each LSH candidate
    pair, cont(A in B) = i/|A| with i = ĵ(|A|+|B|)/(1+ĵ) derived from
    the signature-match Jaccard estimate ĵ = n_match/16 — Broder's
    resemblance→containment identity over sketches already paid for by
    near-dup LSH.  No shingle-level pair join exists in this plan: the
    wide signature and the exact set size ride ONE groupBy(doc), banding
    is a projection, candidates expand in-place per bucket.  At 100 TB
    this is the screening pass; exact containment_pairs verifies the
    survivors (tests cross-check the two on the same corpus).  All
    post-integer arithmetic is a fixed IEEE sequence replicated in the
    oracle — full hash gate."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return dedup.containment_minhash_pairs(
        docs, n=3, num_hashes=16, rows_per_band=2
    )


_SIMHASH_SIG_CTE = """
    WITH hv AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT) AS v
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    votes AS (
        SELECT doc_id, k, sum(2 * ((v >> k) & 1) - 1) AS s
        FROM hv CROSS JOIN (SELECT unnest(range(0, 32)) AS k)
        GROUP BY doc_id, k
    ),
    sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, k) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    )
"""


@query(
    "q_simhash_pairs",
    oracle=_SIMHASH_SIG_CTE
    + """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS within Hamming distance 3 via
    pigeonhole block LSH (Manku et al.'s web-dedup index): 4 blocks of
    the 32-bit fingerprint — d <= 3 forces at least one identical block —
    so candidates are a (block, value) equi-join + exact popcount
    confirm, never the quadratic scan the oracle replays.  Completes the
    simhash family: q_simhash emits the fingerprints, this finds the
    collisions."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(docs, num_bits=32, max_hamming=3)


@query(
    "q_chunk_cdc",
    oracle="""
    WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
    pos AS (
        -- per-row unnest(range(...)) derives the candidate-cut upper
        -- bound from each document's own length, so there is no silent
        -- divergence from the Spark side's unbounded sequence() when a
        -- document exceeds a fixed cap (ADVICE r03 item 1; the old form
        -- enumerated a global range(2, 2001)).
        SELECT doc_id, L, text,
               unnest(range(2, greatest(L - 8 + 2, 2))) AS p
        FROM d
    ),
    cuts AS (
        SELECT doc_id, p FROM pos
        WHERE CAST(concat('0x', substring(md5(substring(text, p, 8)), 1, 4))
                   AS BIGINT) % 64 = 0
    ),
    bounds AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, 1 AS p FROM d
            UNION ALL SELECT doc_id, p FROM cuts
            UNION ALL SELECT doc_id, L + 1 AS p FROM d
        )
    ),
    lens AS (
        SELECT doc_id,
               lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p AS clen
        FROM bounds
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           min(clen) AS min_chunk,
           max(clen) AS max_chunk,
           CAST(sum(clen) AS BIGINT) AS n_bytes
    FROM lens WHERE clen IS NOT NULL
    GROUP BY doc_id
    """,
)
def q_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking per document (operators/text.cdc_chunks):
    boundaries where the 8-byte sliding-window hash ≡ 0 (mod 64), so cut
    points move with content and an edit only perturbs its own chunks —
    the dedup-store / incremental-training-shard boundary primitive that
    fixed-size q_chunk_docs cannot provide.  O(bytes) boundary tests in
    codegen, per-doc first-difference window, integer chunk stats, full
    hash oracle."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return text.cdc_chunks(docs, window=8, modulus=64)


def _gear_oracle(window: int = 16, modulus: int = 61) -> str:
    gt = "[" + ", ".join(str(v) for v in text.GEAR_TABLE) + "]"
    return f"""
    WITH g AS (SELECT {gt} AS gt),
    d AS (SELECT doc_id, text, length(text) AS L FROM documents),
    pos AS (
        SELECT doc_id, L, text,
               unnest(range({window} + 1, greatest(L + 1, {window} + 1))) AS p
        FROM d
    ),
    cuts AS (
        SELECT doc_id, p FROM pos, g
        WHERE list_sum(
            [gt[(ord(substring(text, p - 1 - j, 1)) % 256) + 1] * (1 << j)
             FOR j IN range(0, {window})]
        ) % {modulus} = 0
    ),
    bounds AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, 1 AS p FROM d
            UNION ALL SELECT doc_id, p FROM cuts
            UNION ALL SELECT doc_id, L + 1 AS p FROM d
        )
    ),
    lens AS (
        SELECT doc_id,
               lead(p) OVER (PARTITION BY doc_id ORDER BY p) - p AS clen
        FROM bounds
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           min(clen) AS min_chunk,
           max(clen) AS max_chunk,
           CAST(sum(clen) AS BIGINT) AS n_bytes
    FROM lens WHERE clen IS NOT NULL
    GROUP BY doc_id
    """


@query("q_chunk_gear", oracle=_gear_oracle(16, 61))
def q_chunk_gear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gear-hash CDC chunking (VERDICT r03 item #8's rolling-hash
    variant; FastCDC's gear function): cuts where the 16-byte gear hash
    — a 256-entry random table summed with per-age bit shifts — hits
    ``≡ 0 (mod 61)``.  Unlike q_chunk_cdc's per-window md5, the gear
    table is a driver-side literal array and the whole cut predicate is
    table-lookup + shift arithmetic in whole-stage codegen (zero runtime
    hashing, zero UDFs); the SAME 256 constants are embedded in the
    DuckDB oracle, so the boundary set is bit-identical cross-engine.
    Chunk-stat algebra shared with q_chunk_cdc."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return text.gear_chunks(docs, window=16, modulus=61)


@query(
    "q_drift_chi2",
    oracle="""
    WITH d AS (
        SELECT doc_id % 2 AS split, n_chars // 50 AS bucket
        FROM documents
    ),
    c AS (SELECT bucket, split, count(*) AS obs FROM d GROUP BY 1, 2),
    r AS (SELECT bucket, CAST(sum(obs) AS BIGINT) AS row_n FROM c GROUP BY 1),
    t AS (SELECT split, CAST(sum(obs) AS BIGINT) AS col_n FROM c GROUP BY 1),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM c),
    grid AS (
        SELECT r.bucket, t.split, r.row_n, t.col_n, n.total,
               coalesce(c.obs, 0) AS obs
        FROM r CROSS JOIN t CROSS JOIN n
        LEFT JOIN c ON c.bucket = r.bucket AND c.split = t.split
    )
    SELECT bucket, split, CAST(obs AS BIGINT) AS obs,
           CAST(floor(
               CAST((obs * total - row_n * col_n)
                    * (obs * total - row_n * col_n) * 1000 AS DOUBLE)
               / CAST(total * row_n * col_n AS DOUBLE) + 0.5
           ) AS BIGINT) AS chi2_milli
    FROM grid
    """,
)
def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two dataset splits (train/eval, or
    yesterday/today) as a chi-square homogeneity table over length
    buckets: obs vs expected = row_total*col_total/N per (bucket, split)
    cell, contribution (obs-exp)^2/exp emitted in half-up milli-units —
    the drift monitor every production data pipeline runs before a
    training batch ships.  Exactness (ADVICE r03 item 2 — the real
    invariant): the numerator (obs*N - row*col)^2 * 1000 is computed in
    int64 on BOTH engines (headroom to ~9.2e18; worst-case deviation
    N^2/4 at sf0.1 is ~3.9e16, which EXCEEDS 2^53), then both perform
    the identical int64→double conversion before the single IEEE
    division + floor — same rounding both sides, so the hash holds even
    where the product is not double-exact.  If the corpus grew to
    N ≳ 3e4 the int64 product itself could overflow; scale the milli
    factor after the division at that point.  The zero-cell rows a naive
    count-join would drop are restored by the bucket x split grid
    (chi-square needs them).  One count aggregation + three tiny
    rollups; the grid join is broadcast-sized at any corpus scale."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        (F.col("doc_id") % 2).alias("split"),
        F.expr("n_chars div 50").alias("bucket"),
    )
    c = d.groupBy("bucket", "split").agg(F.count(F.lit(1)).alias("obs"))
    r = c.groupBy("bucket").agg(F.sum("obs").cast("long").alias("row_n"))
    t = c.groupBy("split").agg(F.sum("obs").cast("long").alias("col_n"))
    n = c.agg(F.sum("obs").cast("long").alias("total"))
    grid = (
        r.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(n))
        .join(c, ["bucket", "split"], "left")
        .select(
            "bucket",
            "split",
            "row_n",
            "col_n",
            "total",
            F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs"),
        )
    )
    dev = F.col("obs") * F.col("total") - F.col("row_n") * F.col("col_n")
    return grid.select(
        "bucket",
        "split",
        "obs",
        F.floor(
            (dev * dev * F.lit(1000)).cast("double")
            / (F.col("total") * F.col("row_n") * F.col("col_n")).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("chi2_milli"),
    )


@query(
    "q_packing_efficiency",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    w AS (
        SELECT doc_id, n_tok,
               n_tok // 32 AS len_bin,
               ((n_tok + 127) // 128) * 128 - n_tok AS waste
        FROM d
    )
    SELECT len_bin,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(sum(waste) AS BIGINT) AS sum_pad,
           CAST(floor(CAST(sum(n_tok) * 1000 AS DOUBLE)
                      / CAST(sum(n_tok) + sum(waste) AS DOUBLE) + 0.5)
                AS BIGINT) AS fill_milli
    FROM w
    GROUP BY len_bin
    """,
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report for a 128-token training sequence
    length: per document-length bin, token mass vs the padding a
    one-doc-per-sequence loader would burn (waste = ceil(n/128)*128-n),
    with the fill ratio in half-up milli-units — the measurement that
    motivates sequence packing (q_pack_sequences is the remedy; this is
    the diagnosis, always reported next to it in pipeline dashboards).
    One narrow scan + one partial-agg shuffle; integers end-to-end."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    w = d.select(
        "n_tok",
        F.expr("n_tok div 32").alias("len_bin"),
        (
            -(F.col("n_tok"))
            + F.expr("((n_tok + 127) div 128) * 128")
        ).alias("waste"),
    )
    return w.groupBy("len_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
        F.sum("waste").cast("long").alias("sum_pad"),
        F.floor(
            (F.sum("n_tok") * F.lit(1000)).cast("double")
            / (F.sum("n_tok") + F.sum("waste")).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("fill_milli"),
    )


@query(
    "q_pack_assign",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                 AS n_tok
        FROM documents
    ),
    e AS (
        SELECT doc_id, least(n_tok, 128) AS eff
        FROM d WHERE n_tok > 0
    ),
    c AS (
        SELECT doc_id, eff,
               CASE WHEN eff = 1 THEN 1
                    ELSE (CAST(1 AS BIGINT) << length(bin(eff - 1)))
               END AS cls
        FROM e
    ),
    r AS (
        SELECT doc_id, eff, cls,
               row_number() OVER (PARTITION BY cls ORDER BY doc_id) - 1
                 AS idx
        FROM c
    ),
    a AS (
        SELECT cls, eff, idx // (128 // cls) AS window_id FROM r
    )
    SELECT CAST(cls AS BIGINT) AS cls,
           CAST(window_id AS BIGINT) AS window_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(eff) AS BIGINT) AS sum_tok,
           CAST(count(*) * cls - sum(eff) AS BIGINT) AS slot_pad,
           CAST(128 - count(*) * cls AS BIGINT) AS tail_pad
    FROM a
    GROUP BY cls, window_id
    """,
)
def q_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle sequence-packing ASSIGNMENT for a 128-token context:
    round each document's (truncated) length up to a power of two — its
    slot class — and pack 128/cls docs of class cls per training
    window, slots allocated by within-class arrival rank (doc_id).
    Unlike q_pack_sequences (GPT-style concat-and-split, documents may
    straddle windows), this is the BERT/T5-style packing that never
    crosses a document boundary, so attention masks stay per-document;
    the power-of-two class discretization is what makes it assignable
    with NO global sequential pass — the classic first-fit queue
    collapses to per-class integer division.  Emits the per-window
    audit: docs, token mass, intra-slot padding (cls − eff per doc) and
    empty-slot tail padding — the two waste terms a packing dashboard
    tracks separately (slot_pad is bounded by the class geometry,
    tail_pad only ever hits each class's LAST window).

    Scale: one narrow scan computes (eff, cls); the within-class rank
    uses the bucketed distributed sort-rank (operators/ranking.py) with
    the fixed monotone bucket cls·64 + bit_length(doc_id+1) — ~8
    classes × ~60 log-buckets of parallel row_number, never a
    single-task window, no sampling pass; window ids are pure
    projection and the rollup is a combinable (cls, window) aggregate.
    The only driver-scale state is the ≤8-row class-offset broadcast."""
    from ..operators import ranking

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    nbits = int_bit_length
    tks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    e = (
        docs.select("doc_id", F.size(tks).cast("long").alias("n_tok"))
        .where(F.col("n_tok") > 0)
        .select(
            "doc_id", F.least(F.col("n_tok"), F.lit(128)).alias("eff")
        )
    )
    c = e.select(
        "doc_id",
        "eff",
        F.when(F.col("eff") == 1, F.lit(1))
        .otherwise(F.expr("shiftleft(1L, length(conv(eff - 1, 10, 2)))"))
        .cast("long")
        .alias("cls"),
    )
    ranked = ranking.global_row_number(
        c,
        [F.col("cls").asc(), F.col("doc_id").asc()],
        bucket=F.col("cls") * 64 + nbits(F.col("doc_id") + 1),
        out_col="rn",
    )
    cls_off = ranked.groupBy("cls").agg(F.min("rn").alias("rn0"))
    a = ranked.join(F.broadcast(cls_off), "cls").select(
        "cls",
        "eff",
        F.expr("(rn - rn0) div (128 div cls)").alias("window_id"),
    )
    return a.groupBy("cls", "window_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("eff").cast("long").alias("sum_tok"),
        (F.count(F.lit(1)) * F.col("cls") - F.sum("eff"))
        .cast("long")
        .alias("slot_pad"),
        (F.lit(128) - F.count(F.lit(1)) * F.col("cls"))
        .cast("long")
        .alias("tail_pad"),
    )


@query(
    "q_dup_spans",
    oracle="""
    WITH sp AS (
        SELECT doc_id, unnest(list_distinct(
            [md5(array_to_string(toks[i:i+6], ' '))
             FOR i IN range(1, greatest(len(toks) - 5, 2))]
        )) AS h
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    df AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM sp GROUP BY h),
    flags AS (
        SELECT sp.doc_id, CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END AS dup
        FROM sp JOIN df USING (h)
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(dup) AS BIGINT) AS n_dup_spans,
           CAST(floor(CAST(sum(dup) * 1000 AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT)
               AS dup_milli
    FROM flags
    GROUP BY doc_id
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span statistics (ExactSubstr-dedup signal, Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"):
    per document, how many of its distinct 7-token spans also occur in
    some OTHER document — the cross-document boilerplate mass that
    span-level dedup would remove, and the standard diagnostic before
    paying for suffix-array dedup.  Plan: distinct span digests per doc
    (one scan), span→doc-frequency aggregation (the same bounded
    (span, count) shuffle as document frequency / q_ngram_freq), one
    hash join back, per-doc aggregate.  No pair join anywhere — this
    scales where the all-pairs formulations cannot.  Integer counts +
    half-up milli ratio: full hash oracle."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    spans = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(split(text, ' ')) - 6, 1)),"
                    " i -> md5(array_join(slice(split(text, ' '), i, 7), ' ')))"
                )
            )
        ).alias("h"),
    )
    span_df = spans.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flags = spans.join(span_df, "h").select(
        "doc_id", (F.col("n_docs") > 1).cast("long").alias("dup")
    )
    return flags.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("dup").cast("long").alias("n_dup_spans"),
        F.floor(
            (F.sum("dup") * F.lit(1000)).cast("double")
            / F.count(F.lit(1)).cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dup_milli"),
    )


# Shared oracle prefix for the ExactSubstr family (q_dup_span_lengths
# here, q_exactsubstr_cut in corpus_queries): duplicated 7-token span
# positions -> gaps-and-islands run groups.  ONE definition; interpolated
# into each oracle string at module-build time, so the driver still sees
# self-contained SQL.  Spark-side twin: operators.dedup.span_flag_positions.
_SPAN_RUNS_CTE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 5, 2))) AS i
        FROM t
    ),
    sp AS (
        SELECT doc_id, i,
               md5(array_to_string(toks[i:i+6], ' ')) AS h
        FROM pos
    ),
    df AS (SELECT h, count(DISTINCT doc_id) AS n_docs FROM sp GROUP BY h),
    flags AS (
        SELECT sp.doc_id, sp.i FROM sp JOIN df USING (h) WHERE df.n_docs > 1
    ),
    runs AS (
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM flags
    )
"""


@query(
    "q_dup_span_lengths",
    oracle=_SPAN_RUNS_CTE
    + """
    , per_run AS (
        SELECT doc_id, grp, count(*) AS r FROM runs GROUP BY 1, 2
    )
    SELECT doc_id,
           count(*) AS n_runs,
           CAST(max(r) + 6 AS BIGINT) AS max_span_tokens,
           CAST(sum(r) AS BIGINT) AS dup_ngram_positions
    FROM per_run
    GROUP BY doc_id
    """,
)
def q_dup_span_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated-span LENGTHS (the ExactSubstr extension VERDICT
    r03 item #8 names, Lee et al. 2022 §4): where q_dup_spans counts
    which 7-token spans recur across documents, this measures how LONG
    the repeated regions are — a run of r consecutive duplicated span
    positions implies a repeated region of r+6 tokens, which is exactly
    the quantity suffix-array ExactSubstr dedup cuts (its 50-token
    threshold is a run of 44 positions here).  Per document: number of
    maximal runs, the longest repeated region in tokens, and total
    duplicated-position mass.

    Plan: position-keyed span digests (one scan; positions kept, unlike
    q_dup_spans' distinct), the same bounded (span, doc-frequency)
    aggregation + hash join back, then gaps-and-islands — ``grp = i -
    row_number()`` over a PER-DOCUMENT window (partitions bounded by
    document length, never corpus-sized) — and two integer aggregates.
    No pair join, no suffix array, no driver state: this is the
    distributed approximation that tells you WHETHER to pay for exact
    suffix-array dedup and on WHICH documents.  All-integer output,
    full hash oracle."""
    from pyspark.sql import Window

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    flags = dedup.span_flag_positions(docs, n=7)
    w = Window.partitionBy("doc_id").orderBy("i")
    runs = flags.withColumn("grp", F.col("i") - F.row_number().over(w))
    per_run = runs.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("r"))
    return per_run.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        (F.max("r") + F.lit(6)).cast("long").alias("max_span_tokens"),
        F.sum("r").cast("long").alias("dup_ngram_positions"),
    )


@query(
    "q_l_diversity",
    oracle="""
    WITH g AS (
        SELECT lang, source,
               count(*) AS n,
               count(DISTINCT n_chars // 100) AS l_sensitive
        FROM documents
        GROUP BY lang, source
    )
    SELECT lang, source, n, CAST(l_sensitive AS BIGINT) AS l_sensitive,
           l_sensitive < 3 AS below_l
    FROM g
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the companion k-anonymity (q_k_anonymity) is
    not sufficient for: a quasi-identifier group can be large (k-safe)
    while every member shares the same sensitive value, so the group
    still leaks it.  Per (lang, source) group: distinct sensitive-value
    count (length-bucket as the stand-in sensitive attribute) with a
    below-l flag at l=3 — the Machanavajjhala et al. check release
    pipelines run after k-anonymity.  One partial-agg shuffle with a
    count-distinct; quasi-identifier cardinality bounds the output."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.expr("n_chars div 100")).cast("long").alias(
            "l_sensitive"
        ),
        (F.countDistinct(F.expr("n_chars div 100")) < 3).alias("below_l"),
    )


@query(
    "q_search_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl
              FROM dl),
    qt AS (SELECT * FROM (VALUES (1, 'spark'), (1, 'join'),
                                 (2, 'scan'), (2, 'window'),
                                 (3, 'sort'), (3, 'merge'))
                  v(query_id, tok)),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT qt.query_id, tf.doc_id,
               CAST(floor(
                   (length(bin(n_docs)) - length(bin(df)))
                   * (CAST(tf AS DOUBLE) * 2.2)
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                               * CAST(n_docs AS DOUBLE)
                               / CAST(sum_dl AS DOUBLE))))
                   * 1000000.0 + 0.5) AS BIGINT) AS s_micro
        FROM tf JOIN qt USING (tok) JOIN dl USING (doc_id)
                JOIN df USING (tok) CROSS JOIN stats
    ),
    per_doc AS (
        SELECT query_id, doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro
        FROM scored GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, doc_id) AS rank
        FROM per_doc
    )
    SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score_micro
    FROM ranked WHERE rank <= 5
    """,
)
def q_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search SERVING on top of the index machinery the other queries
    only build: three multi-term queries run against the corpus — term
    match (the postings access q_inverted_index's layout serves), BM25
    scoring per matched term (q_bm25_lite's integerized formula: micro-
    quantized per-term scores so the per-doc accumulation is
    associative-exact), and top-5 ranking per query with a deterministic
    (score desc, doc_id) tiebreak.  The full retrieval result — hits,
    ranks, scores — is under the hash gate.

    Scale: the query-term table broadcasts (queries are tiny); term
    postings are the only corpus-derived rows in flight (matched rows,
    not the corpus); per-query ranking partitions by query_id.  This is
    the serving-path complement of index construction: build once
    (q_inverted_index), serve per-query with work proportional to
    posting sizes."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    qt = spark.createDataFrame(
        [(1, "spark"), (1, "join"), (2, "scan"), (2, "window"),
         (3, "sort"), (3, "merge")],
        ["query_id", "tok"],
    )
    tf = (
        toks.join(F.broadcast(qt.select("tok").distinct()), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nbits = int_bit_length
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    s = (
        (nbits(F.col("n_docs")) - nbits(F.col("df")))
        * (tfd * F.lit(2.2))
        / (
            tfd
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75)
                * (
                    dld
                    * F.col("n_docs").cast("double")
                    / F.col("sum_dl").cast("double")
                )
            )
        )
    )
    per_doc = (
        tf.join(F.broadcast(qt), "tok")
        .join(dl, "doc_id")
        .join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "doc_id", quantize_units(s, 1e6).alias("s_micro")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s_micro").cast("long").alias("score_micro"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "query_id", "doc_id", F.col("rank").cast("long").alias("rank"),
            "score_micro",
        )
    )


def _dedup_eval_oracle(num_hashes: int = 16) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    p = dedup.MINHASH_P
    return (
        _SHINGLE_CTE
        + f"""
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ni * 2 >= (sa.n_sh + sb.n_sh - ni)
    ),
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    lsh AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                                  AND a.doc_id < b.doc_id
    ),
    hits AS (SELECT * FROM exact JOIN lsh USING (doc_a, doc_b)),
    c AS (SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
                 CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
                 CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits)
    SELECT n_exact, n_lsh, n_hits,
           CASE WHEN n_lsh > 0 THEN CAST((n_hits * 1000) // n_lsh AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS precision_milli,
           CASE WHEN n_exact > 0
                THEN CAST((n_hits * 1000) // n_exact AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_milli
    FROM c
    """
    )


@query("q_dedup_eval", oracle=_dedup_eval_oracle())
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality scorecard — the text-side companion to
    q_sim_recall / q_sim_recall_ivf: ground truth = exact-Jaccard pairs
    at >= 1/2 (the integer-rational test ``2·|∩| >= |∪|``, no float
    anywhere), candidates = the 16-hash/2-row minhash-LSH bucket pairs
    the production dedup path uses; emit candidate precision and
    ground-truth recall as exact milli integers.  Measured at sf0.01:
    25 true pairs, 32 candidates, recall 1000 milli (the S-curve at
    t=0.5 for 8 bands of 2 rows is ~0.99+), precision 781 milli —
    numbers a pipeline regression-tests bit-for-bit before trusting its
    dedup tier.

    Scale: an EVAL op — run on a sample, like every ANN recall
    measurement here.  The exact side's shared-shingle join is the
    q_ngram_jaccard shape (hot-shingle ``max_bucket`` cap available);
    the LSH side is the group-and-expand candidate generation (never a
    signature self-join)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    exact = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb")),
            "doc_b",
        )
        .where(F.col("ni") * 2 >= F.col("sa") + F.col("sb") - F.col("ni"))
        .select("doc_a", "doc_b")
    )
    bands = dedup.lsh_bands(
        dedup.minhash_signatures(sh, num_hashes=16), num_hashes=16,
        rows_per_band=2,
    )
    lsh = dedup.lsh_candidate_pairs(bands)
    hits = exact.join(lsh, ["doc_a", "doc_b"])
    c = (
        exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .crossJoin(
            F.broadcast(
                lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
            )
        )
        .crossJoin(
            F.broadcast(
                hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
            )
        )
    )
    return c.select(
        "n_exact",
        "n_lsh",
        "n_hits",
        F.when(F.col("n_lsh") > 0, F.expr("(n_hits * 1000) div n_lsh"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_milli"),
        F.when(F.col("n_exact") > 0, F.expr("(n_hits * 1000) div n_exact"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_milli"),
    )


_LEAK_JACC_MILLI = 500


def _split_leakage_oracle(num_hashes: int = 16) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    return (
        _SHINGLE_CTE
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    sp AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                                           1, 15)) AS BIGINT) % 10 AS bucket
        FROM documents
    ),
    crossing AS (
        SELECT CASE WHEN pa.bucket < 8 THEN c.doc_a ELSE c.doc_b END
                   AS train_doc,
               CASE WHEN pa.bucket < 8 THEN c.doc_b ELSE c.doc_a END
                   AS test_doc
        FROM cand c
        JOIN sp pa ON pa.doc_id = c.doc_a
        JOIN sp pb ON pb.doc_id = c.doc_b
        WHERE (pa.bucket < 8 AND pb.bucket = 9)
           OR (pa.bucket = 9 AND pb.bucket < 8)
    ),
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT x.train_doc, x.test_doc, count(*) AS i
        FROM crossing x
        JOIN sh sa ON sa.doc_id = x.train_doc
        JOIN sh sb ON sb.doc_id = x.test_doc AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT x.train_doc, x.test_doc,
               CAST((coalesce(i.i, 0) * 1000)
                    // (ca.n + cb.n - coalesce(i.i, 0)) AS BIGINT)
                   AS jacc_milli
        FROM crossing x
        JOIN cnt ca ON ca.doc_id = x.train_doc
        JOIN cnt cb ON cb.doc_id = x.test_doc
        LEFT JOIN inter i
          ON i.train_doc = x.train_doc AND i.test_doc = x.test_doc
    )
    SELECT test_doc, CAST(count(*) AS BIGINT) AS n_train_dups,
           CAST(min(train_doc) AS BIGINT) AS min_train_doc,
           CAST(max(jacc_milli) AS BIGINT) AS max_jacc_milli
    FROM ver WHERE jacc_milli >= {_LEAK_JACC_MILLI}
    GROUP BY test_doc
    """
    )


@query("q_split_leakage", oracle=_split_leakage_oracle(16))
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split near-duplicate leakage (the Lee et al. 2022 finding
    that eval splits contain near-copies of training docs): assign the
    deterministic 80/10/10 hash split (q_hash_split's exact rule), take
    the minhash-LSH candidate pairs (q_dedup_minhash's exact banding),
    keep only TRAIN x TEST crossings, verify each with the exact
    integer-rational n-gram Jaccard, and report per test doc how many
    verified train near-dups leak into it.  The full leakage report —
    counts, witness doc, max similarity — is hash-gated: a pipeline can
    fail CI the moment a crawl refresh contaminates its eval split.

    Scale: candidate generation is the bucketed LSH path (never
    all-pairs); the verification join touches only candidate docs'
    shingles (semi-join pruned), and split assignment is a free
    content-free hash — the whole check adds one band shuffle and one
    candidate-restricted shingle join on top of the dedup pass a
    pipeline already runs."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)

    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 10
    )
    sp = docs.select("doc_id", bucket.alias("bucket"))
    pa = sp.select(
        F.col("doc_id").alias("doc_a"), F.col("bucket").alias("ba")
    )
    pb = sp.select(
        F.col("doc_id").alias("doc_b"), F.col("bucket").alias("bb")
    )
    crossing = (
        cand.join(F.broadcast(pa), "doc_a")
        .join(F.broadcast(pb), "doc_b")
        .where(
            ((F.col("ba") < 8) & (F.col("bb") == 9))
            | ((F.col("ba") == 9) & (F.col("bb") < 8))
        )
        .select(
            F.when(F.col("ba") < 8, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("train_doc"),
            F.when(F.col("ba") < 8, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("test_doc"),
        )
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("train_doc"), "shingle")
    sb = sh.select(F.col("doc_id").alias("test_doc"), "shingle")
    inter = (
        crossing.join(sa, "train_doc")
        .join(sb, ["test_doc", "shingle"])
        .groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ver = (
        crossing.join(
            cnt.select(F.col("doc_id").alias("train_doc"),
                       F.col("n").alias("na")),
            "train_doc",
        )
        .join(
            cnt.select(F.col("doc_id").alias("test_doc"),
                       F.col("n").alias("nb")),
            "test_doc",
        )
        .join(inter, ["train_doc", "test_doc"], "left")
        .withColumn("i", F.coalesce(F.col("i"), F.lit(0)))
        .select(
            "train_doc",
            "test_doc",
            F.expr("(i * 1000) div (na + nb - i)").alias("jacc_milli"),
        )
    )
    return (
        ver.where(F.col("jacc_milli") >= _LEAK_JACC_MILLI)
        .groupBy("test_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_dups"),
            F.min("train_doc").cast("long").alias("min_train_doc"),
            F.max("jacc_milli").cast("long").alias("max_jacc_milli"),
        )
    )


@query(
    "q_dedup_stats",
    oracle=f"""
    WITH comp AS (SELECT * FROM ({_clusters_oracle(16)})),
    full_ AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    sz AS (SELECT cid, count(*) AS sz FROM full_ GROUP BY 1)
    SELECT CAST(length(bin(sz)) AS BIGINT) AS size_bitlen,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz) - count(*) AS BIGINT) AS n_dup_docs
    FROM sz GROUP BY 1
    """,
)
def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield report — the dashboard a curation run actually reads:
    near-dup clusters (q_dedup_clusters' exact component labeling,
    singletons folded in as their own cluster) bucketed by
    power-of-two size band (``bitlen(size)``: 1, 2-3, 4-7, ...), each
    band reporting cluster count, document count, and how many docs
    dedup would DROP (size - 1 per cluster).  Sum of n_dup_docs over
    bands = the corpus-wide duplicate overhead; all integer, fully
    hash-gated, so the yield number a data lead signs off on is
    bit-reproducible.

    Scale: component labeling is the existing bucketed LSH +
    label-propagation path; the report adds one LEFT JOIN keyed by
    doc_id and two aggregations (cluster-size, then band) — both
    map-side combinable, output is ~log(max cluster size) rows."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    comp = dedup.connected_components(dedup.lsh_candidate_pairs(bands))
    full = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cid"),
    )
    sz = full.groupBy("cid").agg(F.count(F.lit(1)).alias("sz"))
    nbits = int_bit_length
    return sz.groupBy(
        nbits(F.col("sz")).cast("long").alias("size_bitlen")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        (F.sum("sz") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
    )


_BLOOM_M = 4096


@query(
    "q_dedup_bloom",
    oracle=f"""
    WITH idx AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    bits AS (
        SELECT DISTINCT bit FROM (
            SELECT CAST(concat('0x', substring(h, 1, 15)) AS BIGINT)
                       % {_BLOOM_M} AS bit FROM idx
            UNION ALL
            SELECT CAST(concat('0x', substring(h, 17, 15)) AS BIGINT)
                       % {_BLOOM_M} AS bit FROM idx
        )
    ),
    probe AS (
        SELECT doc_id, md5(text) AS h,
               CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT)
                   % {_BLOOM_M} AS b1,
               CAST(concat('0x', substring(md5(text), 17, 15)) AS BIGINT)
                   % {_BLOOM_M} AS b2
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT p.doc_id,
           (t1.bit IS NOT NULL AND t2.bit IS NOT NULL) AS bloom_hit,
           (i.h IS NOT NULL) AS exact_dup,
           (t1.bit IS NOT NULL AND t2.bit IS NOT NULL
            AND i.h IS NULL) AS false_positive,
           (i.h IS NOT NULL
            AND NOT (t1.bit IS NOT NULL AND t2.bit IS NOT NULL))
               AS missed
    FROM probe p
    LEFT JOIN bits t1 ON t1.bit = p.b1
    LEFT JOIN bits t2 ON t2.bit = p.b2
    LEFT JOIN idx i ON i.h = p.h
    """,
)
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter variant of the incremental-dedup digest probe
    (VERDICT r05 item #7b; Bloom 1970): the index side (even doc_ids)
    is summarized into an m=4096-bit, two-hash Bloom filter — here
    materialized as its distinct set-bit table, the declarative stand-in
    for the bitmap — and each NEW document (odd doc_ids) tests
    membership with two broadcast-side bit lookups.  The exact digest
    verdict rides along, so the filter's two contracts are verifiable
    columns: ``false_positive`` rows are the expected Bloom cost
    (rate ≈ (1-e^(-2n/m))² at these parameters) and ``missed`` must be
    all-false — Bloom filters admit NO false negatives; the oracle
    hash-pins both.

    Bit positions are two disjoint 60-bit slices of the md5 digest mod
    m — exact integer arithmetic, same literals both engines
    (the q_kmv_distinct hash-replay device).

    At 100 TB this is the point: the full digest index is corpus-sized
    and lives in storage, but its Bloom summary is m bits REGARDLESS of
    corpus size — shipped to every executor once, it answers
    'definitely new' map-side with zero shuffle, and only the Bloom-hit
    minority pays the exact digest join (Spark's own runtime bloom
    pushdown — q_bloom_prune_join — applies the same idea to join
    pruning; this operator makes the filter an explicit, maintained
    asset of the dedup pipeline)."""
    docs = load(spark, sf_dir, "documents")
    idx = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )

    def _bit(col, start):
        return (
            F.conv(F.substring(col, start, 15), 16, 10).cast("long")
            % _BLOOM_M
        )

    bits = (
        idx.select(
            F.explode(
                F.array(_bit(F.col("h"), 1), _bit(F.col("h"), 17))
            ).alias("bit")
        )
        .distinct()
    )
    probe = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.md5("text").alias("h"),
        _bit(F.md5("text"), 1).alias("b1"),
        _bit(F.md5("text"), 17).alias("b2"),
    )
    t1 = F.broadcast(bits.select(F.col("bit").alias("b1")).withColumn("hit1", F.lit(True)))
    t2 = F.broadcast(bits.select(F.col("bit").alias("b2")).withColumn("hit2", F.lit(True)))
    dig = F.broadcast(idx.withColumn("in_idx", F.lit(True)))
    out = (
        probe.join(t1, "b1", "left")
        .join(t2, "b2", "left")
        .join(dig, "h", "left")
    )
    bloom_hit = F.coalesce("hit1", F.lit(False)) & F.coalesce(
        "hit2", F.lit(False)
    )
    exact = F.coalesce("in_idx", F.lit(False))
    return out.select(
        "doc_id",
        bloom_hit.alias("bloom_hit"),
        exact.alias("exact_dup"),
        (bloom_hit & ~exact).alias("false_positive"),
        (exact & ~bloom_hit).alias("missed"),
    )


@query(
    "q_image_resize",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               doc_id % 2 = 0 AS is_bmp,
               9 + doc_id % 8 AS w,
               6 + doc_id % 5 AS h,
               (9 + doc_id % 8 + 1) // 2 AS wr,
               (6 + doc_id % 5 + 1) // 2 AS hr
        FROM documents
    ),
    px AS (
        SELECT doc_id, is_bmp, wr, hr,
               (t.q // wr) * 2 * w + (t.q % wr) * 2 AS p_src
        FROM d CROSS JOIN range(0, 80) t(q)
        WHERE t.q < wr * hr
    ),
    c AS (
        SELECT doc_id, is_bmp, wr, hr,
               (doc_id*73 + (p_src * CASE WHEN is_bmp THEN 3 ELSE 1 END)
                * 151 + 11) % 256 AS c0,
               CASE WHEN is_bmp
                    THEN (doc_id*73 + (p_src*3 + 1)*151 + 11) % 256 END AS c1,
               CASE WHEN is_bmp
                    THEN (doc_id*73 + (p_src*3 + 2)*151 + 11) % 256 END AS c2
        FROM px
    )
    SELECT doc_id,
           CASE WHEN is_bmp THEN 'bmp' ELSE 'pgm' END AS fmt,
           CAST(max(wr) AS BIGINT) AS width,
           CAST(max(hr) AS BIGINT) AS height,
           CAST(CASE WHEN is_bmp
                THEN 54 + max(hr) * (max(wr)*3 + (4 - (max(wr)*3) % 4) % 4)
                ELSE 2 + 1 + length(CAST(max(wr) AS VARCHAR)) + 1
                     + length(CAST(max(hr) AS VARCHAR)) + 1 + 3 + 1
                     + max(wr) * max(hr)
                END AS BIGINT) AS out_bytes,
           CAST(sum(c0) AS BIGINT) AS sum_c0,
           CAST(sum(c1) AS BIGINT) AS sum_c1,
           CAST(sum(c2) AS BIGINT) AS sum_c2
    FROM c GROUP BY doc_id, is_bmp
    """,
)
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image RESIZE over the multimodal column (the decode →
    transform → re-encode → write thumbnailing shape): each document's
    valid BMP/PGM container is parsed with the numpy codecs, nearest-
    neighbor downsampled ×2, and re-encoded with the real encoder —
    decode(encode(x)) == x asserted per record, so the codec pair is
    self-verifying on the write path too.

    The oracle recomputes resized dims, per-channel sums of the SAMPLED
    pixel positions (source pixel (2y, 2x) via the closed-form stream),
    and — the sharp part — the re-encoded FILE SIZE: 54 + h*(3w+pad)
    with the exact 4-byte row-padding rule for BMP, and the P5 header
    grammar length for PGM.  A padding or header bug on either codec
    side breaks the hash.  100 TB shape: per-byte-linear mapInPandas,
    no shuffle, no driver involvement."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    payloads = multimodal.synthetic_media(docs)
    return multimodal.resize_media_nn(payloads, factor=2)


@query(
    "q_image_dhash_pairs",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id // 8 AS base,
             9 + (doc_id // 8) % 8 AS w,
             6 + (doc_id // 8) % 5 AS h,
             (doc_id // 8) % 2 = 0 AS is_bmp,
             ((doc_id % 8) * 151)
               % ((9 + (doc_id // 8) % 8) * (6 + (doc_id // 8) % 5)) AS j0,
             ((doc_id % 8) * 29) % 256 AS delta
      FROM documents
    ),
    g AS (
      SELECT doc_id, base, is_bmp, j0, delta,
             t.q // 9 AS r, t.q % 9 AS c,
             ((t.q // 9) * h // 8) * w + ((t.q % 9) * w // 9) AS p
      FROM d CROSS JOIN range(0, 72) t(q)
    ),
    gray AS (
      SELECT doc_id, r, c,
        CASE WHEN is_bmp THEN
          ( ((base*73 + (p*3)*151 + 11) % 256
             + CASE WHEN p = j0 THEN delta ELSE 0 END) % 256
          + (base*73 + (p*3+1)*151 + 11) % 256
          + (base*73 + (p*3+2)*151 + 11) % 256 ) // 3
        ELSE ((base*73 + p*151 + 11) % 256
              + CASE WHEN p = j0 THEN delta ELSE 0 END) % 256
        END AS gv
      FROM g
    ),
    bits AS (
      SELECT a.doc_id, a.r * 8 + a.c AS i,
             CASE WHEN a.gv < b.gv THEN 1 ELSE 0 END AS bit
      FROM gray a JOIN gray b ON a.doc_id = b.doc_id AND a.r = b.r
                             AND b.c = a.c + 1
      WHERE a.c < 8
    ),
    sig AS (
      SELECT doc_id,
        CAST(sum(CASE WHEN i < 32
                 THEN bit * (CAST(1 AS BIGINT) << i) ELSE 0 END)
             AS BIGINT) AS lo,
        CAST(sum(CASE WHEN i >= 32
                 THEN bit * (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END)
             AS BIGINT) AS hi
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    """,
)
def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE perceptual-hash near-duplicate PAIRS (VERDICT r09 item #4 —
    the multimodal dedup leg): dHash-64 over the REAL BMP/PGM decode
    path (operators/multimodal.dhash64: decode → integer grayscale → NN
    9×8 downsample → 64 horizontal-gradient sign bits as two 32-bit
    halves), then all pairs within Hamming distance 3 via the SAME
    pigeonhole block device as q_simhash_pairs (Manku et al.): 4 blocks
    of 16 bits — d ≤ 3 forces ≥ 1 identical block — so candidates are a
    (block, value) equi-join + exact popcount confirm, never the
    quadratic scan the oracle replays.

    The corpus is synthetic_media_variants: every 8 consecutive doc_ids
    share one base image and each variant perturbs one closed-form
    pixel, so real near-dup structure exists (hamming 0-3 in-group) and
    the oracle rebuilds every grid sample, gradient bit, and pair from
    the closed form — a decode, NN-rule, grayscale-rounding, or packing
    bug anywhere breaks the hash.

    100 TB: dHash is per-row Arrow-batched work; the pair stage
    shuffles (block, 16-bit value) keyed rows exactly like the simhash
    index — block-bucket skew is boilerplate-image frequency, same
    remedies (salt hot buckets / cap bucket width) as LSH bands."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sig = multimodal.dhash64(multimodal.synthetic_media_variants(docs))
    blocks = sig.select(
        "doc_id",
        "dhash_lo",
        "dhash_hi",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("b"),
    ).select(
        "doc_id",
        "dhash_lo",
        "dhash_hi",
        "b",
        F.expr(
            "CASE WHEN b < 2 THEN shiftright(dhash_lo, b * 16) & 65535"
            " ELSE shiftright(dhash_hi, (b - 2) * 16) & 65535 END"
        ).alias("bval"),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dhash_lo").alias("lo_a"),
        F.col("dhash_hi").alias("hi_a"),
        "b",
        "bval",
    )
    b_side = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dhash_lo").alias("lo_b"),
        F.col("dhash_hi").alias("hi_b"),
        "b",
        "bval",
    )
    cand = (
        a.join(b_side, ["b", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


_HASHTEXT_BUCKETS = 65536


@query(
    "q_hashtext_classify",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tks
        FROM documents
    ),
    feats AS (
        SELECT doc_id, unnest(list_concat(
            ['u:' || x FOR x IN tks],
            ['b:' || tks[i] || ' ' || tks[i + 1]
             FOR i IN range(1, greatest(len(tks), 1))]
        )) AS feat
        FROM t
    ),
    b AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(feat), 1, 15)) AS BIGINT)
                   % {_HASHTEXT_BUCKETS} AS bucket
        FROM feats
    ),
    w AS (
        SELECT doc_id,
               (CAST(concat('0x', substring(md5('w0:' ||
                    CAST(bucket AS VARCHAR)), 1, 15)) AS BIGINT) % 17) - 8
                   AS w0,
               (CAST(concat('0x', substring(md5('w1:' ||
                    CAST(bucket AS VARCHAR)), 1, 15)) AS BIGINT) % 17) - 8
                   AS w1
        FROM b
    ),
    s AS (
        SELECT doc_id, CAST(sum(w0) AS BIGINT) AS score_0,
               CAST(sum(w1) AS BIGINT) AS score_1,
               CAST(count(*) AS BIGINT) AS n_features
        FROM w GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.score_0, 0) AS BIGINT) AS score_0,
           CAST(coalesce(s.score_1, 0) AS BIGINT) AS score_1,
           CAST(coalesce(s.n_features, 0) AS BIGINT) AS n_features,
           CAST(CASE WHEN coalesce(s.score_1, 0) > coalesce(s.score_0, 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS pred_class,
           CAST(coalesce(s.score_0, 0) - coalesce(s.score_1, 0) AS BIGINT)
               AS margin
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
)
def q_hashtext_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch LINEAR-CLASSIFIER INFERENCE over hashed text features — the
    fastText-style quality-filter stage (Joulin et al. 2016) every LLM
    data pipeline runs between crawling and training: unigram + bigram
    features hash into 2^16 buckets, each bucket carries an integer
    weight per class, and a document's class scores are the bag-of-
    features weight sums.  Weights here are md5-derived integers in
    [-8, 8] — the deterministic stand-in for a trained weight vector
    (in production the same plan broadcast-joins a weights dim; the
    md5 expression keeps both engines bit-identical with no fixture).

    Plan: ONE corpus scan (features as array HOFs, no UDF), one
    map-side-combinable per-doc sum — zero joins on the feature path,
    whole-stage-codegen throughout; docs with no tokens classify from
    the empty bag via the documents LEFT JOIN.  Inference cost is
    linear in tokens, the 100 TB posture of every learned-filter
    scoring pass."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    tks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = docs.select("doc_id", tks.alias("tks"))
    feats = t.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(F.col("tks"), lambda x: F.concat(F.lit("u:"), x)),
                F.expr(
                    "transform(slice(tks, 1, greatest(size(tks) - 1, 0)),"
                    " (x, i) -> concat('b:', x, ' ', tks[i + 1]))"
                ),
            )
        ).alias("feat"),
    )
    bucket = (
        F.conv(F.substring(F.md5("feat"), 1, 15), 16, 10).cast("long")
        % _HASHTEXT_BUCKETS
    )

    def weight(cls: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"w{cls}:"), F.col("bucket").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 17
            - 8
        )

    s = (
        feats.select("doc_id", bucket.alias("bucket"))
        .select("doc_id", weight("0").alias("w0"), weight("1").alias("w1"))
        .groupBy("doc_id")
        .agg(
            F.sum("w0").cast("long").alias("score_0"),
            F.sum("w1").cast("long").alias("score_1"),
            F.count(F.lit(1)).cast("long").alias("n_features"),
        )
    )
    s0 = F.coalesce(F.col("score_0"), F.lit(0))
    s1 = F.coalesce(F.col("score_1"), F.lit(0))
    return (
        docs.select("doc_id")
        .join(s, "doc_id", "left")
        .select(
            "doc_id",
            s0.cast("long").alias("score_0"),
            s1.cast("long").alias("score_1"),
            F.coalesce(F.col("n_features"), F.lit(0))
            .cast("long")
            .alias("n_features"),
            F.when(s1 > s0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("pred_class"),
            (s0 - s1).cast("long").alias("margin"),
        )
    )


def _ivf_append_oracle(num_cells: int = 16) -> str:
    d = (
        "CAST(list_dot_product(v.qv, v.qv)"
        " - 2 * list_dot_product(v.qv, s.cv)"
        " + list_dot_product(s.cv, s.cv) AS BIGINT)"
    )
    return f"""
    WITH {_QZ_CTE},
    seeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS cell, qv AS cv
        FROM qz WHERE vec_id % 2 = 0
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {num_cells}
    ),
    assign AS (
        SELECT v.vec_id, s.cell, {d} AS d
        FROM qz v CROSS JOIN seeds s
    ),
    best AS (
        SELECT vec_id, cell, d FROM (
            SELECT vec_id, cell, d,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign
        ) WHERE rn = 1
    )
    SELECT cell,
           CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_index,
           CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN vec_id % 2 = 1 THEN d ELSE 0 END)
                AS BIGINT) AS sum_d_new
    FROM best GROUP BY cell
    """


@query("q_ivf_append", oracle=_ivf_append_oracle())
def q_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN INDEX MAINTENANCE: a new vector batch (odd
    vec_ids) is appended into the EXISTING integer-IVF layout built on
    the indexed corpus (even vec_ids — centroids are the 16 md5-smallest
    INDEX ids, so the coarse quantizer is a property of the maintained
    index, not of the arriving data).  Each row routes to its argmin
    cell by exact integer squared-L2 (smallest-cell tie-break — the
    q_sim_ivf_int device); the output is the per-cell occupancy ledger
    (index members, appended members, total) plus the integer sum of
    the new batch's assignment distances — the drift signal an index
    maintainer watches to decide when re-training the coarse quantizer
    is due (rising append distance = centroids going stale).

    At 100 TB this is the always-on ingest posture for the vector side:
    appends never re-shuffle the existing index (cell is a pure
    expression over broadcast centroid literals), and the ledger is one
    map-side-combinable aggregation to num_cells rows."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    qz = vecs.select(
        "vec_id",
        similarity.quantize_vec(F.col("embedding"), 1_000_000).alias("qv"),
    )
    seeds = (
        qz.where(F.col("vec_id") % 2 == 0)
        .select("vec_id", "qv", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(16)
        .collect()
    )
    cents = [[int(x) for x in r["qv"]] for r in seeds]

    def _d2(vcol_sql, cent):
        # one expr string per centroid (the ivf_topk_int plan-build
        # lesson: per-element F.lit + lambda wrappers are py4j calls)
        cl = "array(" + ",".join(f"{v}L" for v in cent) + ")"
        return F.expr(
            f"aggregate(zip_with({vcol_sql}, {cl},"
            " (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    dists = F.array(*[_d2("qv", cent) for cent in cents])
    assigned = (
        qz.withColumn("dists", dists)
        .withColumn("d", F.array_min(F.col("dists")))
        .withColumn(
            "cell",
            (
                F.array_position(F.col("dists"), F.array_min(F.col("dists")))
                - 1
            ).cast("long"),
        )
        .drop("dists")
    )
    is_new = F.col("vec_id") % 2 == 1
    return assigned.groupBy("cell").agg(
        F.sum(F.when(~is_new, 1).otherwise(0)).cast("long").alias("n_index"),
        F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("n_new"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(is_new, F.col("d")).otherwise(F.lit(0)))
        .cast("long")
        .alias("sum_d_new"),
    )


# Shared oracle scaffold: stupid-backoff per-position scores + the
# per-doc rollup, reused by q_stupid_backoff and q_perplexity_buckets.
_STUPID_BACKOFF_CTE = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tks
        FROM documents
    ),
    uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cu
        FROM (SELECT unnest(tks) AS tok FROM t) GROUP BY tok
    ),
    n AS (SELECT CAST(sum(cu) AS BIGINT) AS total FROM uni),
    bi AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS cuv
        FROM (
            SELECT tks[i] AS u, tks[i + 1] AS v
            FROM t, LATERAL (SELECT unnest(range(1, greatest(len(tks), 1)))
                             AS i) r
        ) GROUP BY u, v
    ),
    pos AS (
        SELECT doc_id, tks[i] AS u, tks[i + 1] AS v
        FROM t, LATERAL (SELECT unnest(range(1, greatest(len(tks), 1)))
                         AS i) r
    ),
    scored AS (
        SELECT p.doc_id,
               CASE WHEN b.cuv IS NOT NULL
                    THEN (b.cuv * 1000000) // cu_u.cu
                    ELSE (4 * cu_v.cu * 1000000) // (10 * n.total)
               END AS s_micro
        FROM pos p
        LEFT JOIN bi b ON b.u = p.u AND b.v = p.v
        JOIN uni cu_u ON cu_u.tok = p.u
        JOIN uni cu_v ON cu_v.tok = p.v
        CROSS JOIN n
    ),
    doc_scores AS (
        SELECT d.doc_id,
               CAST(coalesce(count(s.s_micro), 0) AS BIGINT) AS n_bigrams,
               CAST(coalesce(sum(s.s_micro), 0) AS BIGINT) AS score_micro
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        GROUP BY d.doc_id
    )
"""


@query(
    "q_stupid_backoff",
    oracle=_STUPID_BACKOFF_CTE
    + """
    SELECT doc_id, n_bigrams, score_micro FROM doc_scores
    """,
)
def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM scoring (Brants et al., "Large Language
    Models in Machine Translation", EMNLP 2007 — the smoothing rule web-
    scale LM filters actually use because it needs NO discount fitting):
    S(v|u) = c(uv)/c(u) when the bigram was seen, else 0.4 * c(v)/N.
    Per-document score = the micro-quantized integer sum over positions
    — the LM-quality signal a perplexity filter thresholds on, with the
    backoff path making unseen-bigram docs comparable instead of -inf.

    Everything is integer: counts are exact, each position's score is
    one integer floor-division (`div` / `//`), the 0.4 constant is the
    exact rational 4/10 folded into the numerator.  Plan: one corpus
    scan builds positions; unigram/bigram counts are map-side-combined
    aggregations; scoring is two token-keyed joins (the shuffle keys a
    1000-executor cluster wants) + one per-doc sum.  In production the
    count tables are the maintained LM asset; scoring a new corpus
    reuses them unchanged."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return _stupid_backoff_scored(docs)


def _stupid_backoff_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, score_micro) — the stupid-backoff scoring
    pipeline, shared by q_stupid_backoff and q_perplexity_buckets so the
    LM-quality signal both report is ONE computation."""
    tks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = docs.select("doc_id", tks.alias("tks"))
    toks = t.select("doc_id", F.explode("tks").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    total = toks.agg(F.count(F.lit(1)).cast("long").alias("total"))
    pos = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(tks, 1, greatest(size(tks) - 1, 0)),"
                " (x, i) -> struct(x AS u, tks[i + 1] AS v))"
            )
        ).alias("p"),
    ).select("doc_id", "p.u", "p.v")
    bi = pos.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cuv")
    )
    scored = (
        pos.join(bi, ["u", "v"], "left")
        .join(uni.select(F.col("tok").alias("u"), F.col("cu").alias("cu_u")), "u")
        .join(uni.select(F.col("tok").alias("v"), F.col("cu").alias("cu_v")), "v")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.when(
                F.col("cuv").isNotNull(),
                F.expr("(cuv * 1000000) div cu_u"),
            )
            .otherwise(F.expr("(4 * cu_v * 1000000) div (10 * total)"))
            .alias("s_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("s_micro").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("s_micro"), F.lit(0))
            .cast("long")
            .alias("score_micro"),
        )
    )


@query(
    "q_perplexity_buckets",
    oracle=_STUPID_BACKOFF_CTE
    + """
    , enriched AS (
        SELECT s.doc_id, d.lang,
               CASE WHEN s.n_bigrams > 0
                    THEN s.score_micro // s.n_bigrams ELSE 0 END AS avg_micro,
               CAST(len(list_filter(string_split(d.text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_toks
        FROM doc_scores s JOIN documents d ON d.doc_id = s.doc_id
    ),
    bucketed AS (
        SELECT lang, avg_micro, n_toks,
               ntile(4) OVER (PARTITION BY lang
                              ORDER BY avg_micro DESC, doc_id) AS bucket
        FROM enriched
    )
    SELECT lang, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           min(avg_micro) AS min_avg_micro,
           max(avg_micro) AS max_avg_micro
    FROM bucketed
    GROUP BY lang, bucket
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    LREC 2020 — public): per language, rank documents by their
    normalized stupid-backoff LM score (score_micro / n_bigrams —
    integer floor division, the per-position quality signal) and split
    into QUARTILE buckets — bucket 1 is CCNet's "head" (most fluent),
    bucket 4 the "tail" a curation pipeline drops or down-samples.
    Per (lang, bucket): doc count, token sum, and the min/max normalized
    score — the table a data lead uses to set the per-language quality
    cut.  Everything integer (counts, floor divisions, rank-based
    ntile with a doc_id tiebreak), fully hash-gated.

    Plan: the scoring pipeline is the shared q_stupid_backoff scaffold
    (token-keyed count joins + per-doc sum); bucketing is ONE
    lang-partitioned rank window (same posture as q_quantile_normalize
    — the shuffle key is the language, no global ordering); the rollup
    is (lang, bucket)-cardinality rows.  At 100 TB the per-language
    sort is the binding cost — production replaces exact ntile with
    broadcast t-digest cutoffs (q_tdigest_int's device) at the price of
    approximate quartile boundaries; the exact form here is the
    oracle-able twin."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    scores = _stupid_backoff_scored(docs)
    tks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    enriched = scores.join(
        docs.select("doc_id", "lang", F.size(tks).cast("long").alias("n_toks")),
        "doc_id",
    ).select(
        "doc_id",
        "lang",
        "n_toks",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("score_micro div n_bigrams"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("avg_micro"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_micro").desc(), F.col("doc_id").asc()
    )
    return (
        enriched.withColumn("bucket", F.ntile(4).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.min("avg_micro").alias("min_avg_micro"),
            F.max("avg_micro").alias("max_avg_micro"),
        )
    )


@query(
    "q_chunk_sliding",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tks
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               s.chunk_id,
               tks[s.chunk_id * 32 + 1 : s.chunk_id * 32 + 64] AS chunk
        FROM t, LATERAL (
            SELECT unnest(range(0, CAST(ceil(len(tks) / 32.0) AS BIGINT)))
                AS chunk_id
        ) s
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash,
           CAST(greatest(64 - len(chunk), CASE WHEN chunk_id > 0
                THEN 32 ELSE 0 END) * 1000 // 64 AS BIGINT)
               AS overlap_milli
    FROM c
    """,
)
def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (window 64 tokens, stride 32 — the
    standard RAG / retrieval-corpus preparation with 50% overlap, as
    opposed to the disjoint q_chunk_docs and the content-defined
    q_chunk_cdc/q_chunk_gear): one chunk per stride offset, the last
    window truncated at the document end.  Output per chunk: token
    count, an md5 content fingerprint (join-key for chunk-level dedup
    downstream), and the milli overlap share with the PRECEDING chunk
    (32/64 for interior chunks; a short tail window overlaps its
    predecessor on every token it has, floor(min(64-len .. ) rule) —
    the padding/redundancy accounting a chunk-store budget needs.

    Plan shape: pure array HOFs (sequence + slice) — zero UDFs, zero
    joins, one explode; output volume is ceil(tokens/32) rows per doc,
    ~2 rows per 64 input tokens.  Embarrassingly parallel at any
    corpus size."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    tks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    # tokenless docs yield ZERO chunks (DuckDB's range(0, 0) is empty;
    # Spark's sequence(0, -1) would DESCEND — guard the degenerate case
    # out before the explode)
    t = docs.select("doc_id", tks.alias("tks")).where(F.size("tks") > 0)
    c = t.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("tks") / F.lit(32.0)).cast("long") - 1,
            )
        ).alias("chunk_id"),
        F.col("tks"),
    )
    chunk = F.expr("slice(tks, chunk_id * 32 + 1, 64)")
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
        F.expr(
            "greatest(64 - size(slice(tks, chunk_id * 32 + 1, 64)),"
            " CASE WHEN chunk_id > 0 THEN 32 ELSE 0 END) * 1000 div 64"
        )
        .cast("long")
        .alias("overlap_milli"),
    )


def _lsh_tuning_oracle(num_hashes: int = 16) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    p = dedup.MINHASH_P
    band_ctes = []
    cand_selects = []
    for r in (2, 4, 8):
        band_ctes.append(f"""
    bands{r} AS (
        SELECT doc_id, seed // {r} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id, seed // {r}
    )""")
        cand_selects.append(
            f"SELECT {r} AS rpb, doc_a, doc_b FROM ("
            f"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
            f"FROM bands{r} a JOIN bands{r} b "
            f"ON a.band = b.band AND a.bucket = b.bucket "
            f"AND a.doc_id < b.doc_id)"
        )
    return (
        _SHINGLE_CTE
        + f"""
    , sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ni * 2 >= (sa.n_sh + sb.n_sh - ni)
    ),
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {p} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {p}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),{",".join(band_ctes)},
    cands AS ({" UNION ALL ".join(cand_selects)}),
    counts AS (
        SELECT c.rpb, CAST(count(*) AS BIGINT) AS n_cand,
               CAST(sum(CASE WHEN e.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits
        FROM cands c
        LEFT JOIN exact e ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
        GROUP BY c.rpb
    ),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact)
    SELECT cfg.rpb AS rows_per_band,
           CAST({num_hashes} // cfg.rpb AS BIGINT) AS n_bands,
           ex.n_exact,
           CAST(coalesce(k.n_cand, 0) AS BIGINT) AS n_cand,
           CAST(coalesce(k.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(CASE WHEN coalesce(k.n_cand, 0) > 0
                THEN (coalesce(k.n_hits, 0) * 1000) // k.n_cand
                ELSE 0 END AS BIGINT) AS precision_milli,
           CAST(CASE WHEN ex.n_exact > 0
                THEN (coalesce(k.n_hits, 0) * 1000) // ex.n_exact
                ELSE 0 END AS BIGINT) AS recall_milli
    FROM (VALUES (2), (4), (8)) cfg(rpb)
    LEFT JOIN counts k ON k.rpb = cfg.rpb
    CROSS JOIN ex
    """
    )


@query("q_lsh_tuning", oracle=_lsh_tuning_oracle())
def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash-LSH band/row TUNING SWEEP — the S-curve analysis a dedup
    pipeline runs to pick its (bands, rows) operating point (Broder;
    the standard 1-(1-s^r)^b trade): over the SAME 16-hash signature,
    generate candidates at rows_per_band = 2 (8 bands, high recall),
    4, and 8 (2 bands, high precision), and score each configuration
    against the exact-Jaccard >= 1/2 ground truth with integer milli
    precision/recall — q_dedup_eval generalized from the production
    point to the whole tuning grid, so choosing a different operating
    point is a hash-verified decision, not a vibe.

    Scale: signatures compute ONCE (banding is pure projection); each
    config's candidates use the group-and-expand device (never a
    signature self-join); the exact side is the shared-shingle
    equi-join.  An eval op — run on a sample in production."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    exact = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb")),
            "doc_b",
        )
        .where(F.col("ni") * 2 >= F.col("sa") + F.col("sb") - F.col("ni"))
        .select("doc_a", "doc_b")
        .withColumn("is_true", F.lit(True))
    )
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    cands = None
    for r in (2, 4, 8):
        c = dedup.lsh_candidate_pairs(
            dedup.lsh_bands(sig, num_hashes=16, rows_per_band=r)
        ).withColumn("rpb", F.lit(r))
        cands = c if cands is None else cands.unionByName(c)
    counts = (
        cands.join(exact, ["doc_a", "doc_b"], "left")
        .groupBy("rpb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cand"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(False)).cast("long"))
            .cast("long")
            .alias("n_hits"),
        )
    )
    ex = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    cfg = spark.createDataFrame([(2,), (4,), (8,)], "rpb int")
    ncand = F.coalesce(F.col("n_cand"), F.lit(0))
    nhits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        cfg.join(F.broadcast(counts), "rpb", "left")
        .crossJoin(F.broadcast(ex))
        .select(
            F.col("rpb").cast("long").alias("rows_per_band"),
            (F.lit(16) / F.col("rpb")).cast("long").alias("n_bands"),
            "n_exact",
            ncand.cast("long").alias("n_cand"),
            nhits.cast("long").alias("n_hits"),
            F.when(
                ncand > 0,
                F.expr("(coalesce(n_hits, 0) * 1000) div coalesce(n_cand, 1)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("precision_milli"),
            F.when(
                F.col("n_exact") > 0,
                F.expr("(coalesce(n_hits, 0) * 1000) div n_exact"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("recall_milli"),
        )
    )


@query(
    "q_ks_test",
    oracle="""
    WITH e AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v,
               event_type
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    g AS (
        SELECT v,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM e GROUP BY v
    ),
    cum AS (
        SELECT v,
               sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
               sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
        FROM g
    ),
    n AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
        FROM g
    )
    SELECT n.n1, n.n2,
           CAST(max(abs(n.n2 * c.cum1 - n.n1 * c.cum2)) AS BIGINT) AS d_num,
           CAST(n.n1 * n.n2 AS BIGINT) AS d_den,
           CAST((max(abs(n.n2 * c.cum1 - n.n1 * c.cum2)) * 1000)
                // (n.n1 * n.n2) AS BIGINT) AS d_milli
    FROM cum c CROSS JOIN n
    GROUP BY n.n1, n.n2
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (purchase vs click value
    distributions) as EXACT integers — the distribution-drift gate that
    complements q_drift_chi2 (categorical) with a continuous test: D =
    max_t |F1(t) - F2(t)| computed as max |n2·cum1(t) - n1·cum2(t)|
    over the half-up cent grid, reported with its exact integer
    numerator/denominator and the milli floor — no float CDF anywhere,
    so the sharp max sits under the hash gate.

    The cumulative counts use the repo's bucketed-prefix-sum device
    (value-range buckets via a pure monotone expression, in-bucket
    rows-frame windows, driver-scale bucket offsets) — NO partitionless
    window over the value grid, the shape that survives an arbitrary
    distinct-value count.  Production note: n1·cum2 needs int64
    headroom (n1·n2 < 2^63) — at trillion-row scale run the test on
    the per-key sampled stream like every eval op here."""
    from ..tables import events as load_events

    ev = load_events(spark, sf_dir).where(
        F.col("event_type").isin("purchase", "click")
    )
    g = (
        ev.select(
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("v"),
            "event_type",
        )
        .groupBy("v")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
        .withColumn("bkt", F.expr("v div 5000"))
    )
    from pyspark.sql import Window as W

    w_in = (
        W.partitionBy("bkt")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    incum = g.select(
        "v",
        "bkt",
        F.sum("c1").over(w_in).alias("in1"),
        F.sum("c2").over(w_in).alias("in2"),
    )
    # bucket offsets: <= num_buckets rows, driver-scale window
    bo = g.groupBy("bkt").agg(
        F.sum("c1").alias("b1"), F.sum("c2").alias("b2")
    )
    w_off = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = bo.select(
        "bkt",
        F.coalesce(F.sum("b1").over(w_off), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("b2").over(w_off), F.lit(0)).alias("off2"),
    )
    cum = incum.join(F.broadcast(offsets), "bkt").select(
        "v",
        (F.col("off1") + F.col("in1")).alias("cum1"),
        (F.col("off2") + F.col("in2")).alias("cum2"),
    )
    n = g.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    return (
        cum.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("n2") * F.col("cum1") - F.col("n1") * F.col("cum2"))
            )
            .cast("long")
            .alias("d_num"),
        )
        .select(
            "n1",
            "n2",
            "d_num",
            (F.col("n1") * F.col("n2")).cast("long").alias("d_den"),
            F.expr("(d_num * 1000) div (n1 * n2)")
            .cast("long")
            .alias("d_milli"),
        )
    )


@query(
    "q_quantile_normalize",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               CAST(length(text) AS BIGINT) AS raw_len,
               row_number() OVER (PARTITION BY source
                                  ORDER BY length(text), doc_id) AS rk,
               count(*) OVER (PARTITION BY source) AS n_s
        FROM documents
    )
    SELECT doc_id, source, raw_len,
           CAST(rk AS BIGINT) AS rk,
           CAST((rk * 1000) // (n_s + 1) AS BIGINT) AS norm_milli
    FROM r
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QUANTILE NORMALIZATION of a raw document signal (text
    length here; any score column in production): rank within source
    with a deterministic doc_id tiebreak, then the rank/(n+1) quantile
    transform as an exact milli integer — the cross-domain score
    calibration step mixing pipelines apply before comparing quality
    signals across sources with different scales (a length-850 doc can
    be p90 in one source and p30 in another; thresholds belong on the
    normalized scale).

    Plan: one source-partitioned rank window + a source-partitioned
    count — key-partitioned only, no global ordering anywhere; output
    is corpus-sized but the shuffle key is the source (the mixing
    pipeline's natural partitioning)."""
    from pyspark.sql import Window as W

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    w_rank = W.partitionBy("source").orderBy(
        F.length("text").asc(), F.col("doc_id").asc()
    )
    w_all = W.partitionBy("source")
    return docs.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("raw_len"),
        F.row_number().over(w_rank).cast("long").alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_s"),
    ).select(
        "doc_id",
        "source",
        "raw_len",
        "rk",
        F.expr("(rk * 1000) div (n_s + 1)").cast("long").alias("norm_milli"),
    )


def _bpe_fertility_oracle(num_merges: int = 20) -> str:
    """Per-source tokenizer fertility from the greedy-encode chain: the
    q_bpe_token_count oracle's word->token-count table (wn) rolled up by
    source over word OCCURRENCES."""
    base = _bpe_token_count_oracle(num_merges).split("\n    SELECT d.doc_id,")[0]
    return (
        base
        + """,
    wsrc AS (
        SELECT source, w FROM (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
        WHERE w <> ''
    )
    SELECT s.source,
           CAST(sum(wn.n) AS BIGINT) AS n_bpe,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST((sum(wn.n) * 1000) // count(*) AS BIGINT) AS fertility_milli
    FROM wsrc s JOIN wn ON wn.w = s.w
    GROUP BY s.source"""
    )


@query("q_bpe_fertility", oracle=_bpe_fertility_oracle())
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per source — BPE tokens emitted per
    whitespace word (the tokenizer-efficiency metric a multilingual /
    multi-domain pipeline tracks per corpus slice: fertility creeping up
    on a domain means the learned merges fit it poorly and its token
    budget silently inflates).  Trains the 20-merge table on the corpus
    (the oracled q_bpe_train path), greedy-encodes every document, and
    rolls token and word counts up by source as exact integers with a
    milli ratio.

    Scale: encode is the one Arrow-batched UDF pass with the per-batch
    word memo; the rollup is one map-side-combinable agg to
    source-cardinality rows."""
    from ..operators import bpe

    docs = load(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, num_merges=20, min_pair_count=2)
    enc = bpe.bpe_token_counts(docs, merges)
    per_doc = enc.select(
        "source",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("long")
        .alias("n_words"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_bpe").cast("long").alias("n_bpe"),
            F.sum("n_words").cast("long").alias("n_words"),
        )
        .where(F.col("n_words") > 0)
        .select(
            "source",
            "n_bpe",
            "n_words",
            F.expr("(n_bpe * 1000) div n_words")
            .cast("long")
            .alias("fertility_milli"),
        )
    )


@query(
    "q_embed_drift",
    oracle="""
    WITH q AS (
        SELECT vec_id, vec_id % 2 = 0 AS is_a,
               unnest(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT))) AS qx,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ),
    s AS (
        SELECT dim,
               CAST(sum(CASE WHEN is_a THEN qx ELSE 0 END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN NOT is_a THEN qx ELSE 0 END)
                    AS BIGINT) AS sb,
               CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM q GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(sa // na AS BIGINT) AS mean_a_micro,
           CAST(sb // nb AS BIGINT) AS mean_b_micro,
           CAST(abs(sa // na - sb // nb) AS BIGINT) AS abs_delta_micro
    FROM s
    """,
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution DRIFT between two corpus snapshots (even
    vs odd vec_ids standing in for old/new embedding-model runs): per
    dimension, the floor mean of the micro-quantized components in each
    snapshot and their absolute delta — the monitoring table an
    embedding pipeline alerts on (a re-trained or silently-updated
    encoder shifts per-dimension means long before retrieval quality
    visibly degrades; a drift gate catches the swap at ingest).

    All integer: quantization is the shared half-up micro grid, means
    are integer floor-divisions of exact sums.  Plan: one posexplode +
    one (dim)-keyed partial agg — 64 output rows at any corpus size,
    and snapshot membership is a pure expression, so both snapshots
    aggregate in the SAME pass (no self-join of the corpus)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    q = vecs.select(
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode(
            similarity.quantize_vec(F.col("embedding"), 1_000_000)
        ).alias("dim0", "qx"),
    )
    s = q.groupBy("dim0").agg(
        F.sum(F.when(F.col("is_a"), F.col("qx")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(~F.col("is_a"), F.col("qx")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("long").alias("nb"),
    )
    return s.select(
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.expr("sa div na").cast("long").alias("mean_a_micro"),
        F.expr("sb div nb").cast("long").alias("mean_b_micro"),
        F.abs(F.expr("sa div na") - F.expr("sb div nb"))
        .cast("long")
        .alias("abs_delta_micro"),
    )


@query(
    "q_dataset_card",
    oracle="""
    WITH base AS (
        SELECT doc_id, source, text,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_toks
        FROM documents
    ),
    dup AS (
        SELECT source, CAST(sum(cnt - 1) AS BIGINT) AS n_dup_docs
        FROM (SELECT source, md5(text) AS h, count(*) AS cnt
              FROM base GROUP BY source, md5(text))
        GROUP BY source
    ),
    vocab AS (
        SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab
        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM base)
        WHERE tok <> ''
        GROUP BY source
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(b.n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(b.n_chars) AS BIGINT) AS n_chars,
           CAST((sum(b.n_toks) * 1000) // count(*) AS BIGINT)
               AS toks_per_doc_milli,
           max(v.n_vocab) AS n_vocab,
           CAST((max(v.n_vocab) * 1000) // sum(b.n_toks) AS BIGINT)
               AS ttr_milli,
           max(d.n_dup_docs) AS n_dup_docs,
           CAST((max(d.n_dup_docs) * 1000) // count(*) AS BIGINT)
               AS dup_milli
    FROM base b
    JOIN dup d ON d.source = b.source
    JOIN vocab v ON v.source = b.source
    GROUP BY b.source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD rollup — the per-slice summary table that fronts a
    published training corpus (docs, tokens, chars, tokens/doc,
    vocabulary size, type-token ratio, exact-duplicate count and rate —
    each per source) assembled in ONE query so the card is a
    reproducible artifact of the corpus, not a hand-maintained README
    table; every figure is an exact integer or milli ratio under the
    hash gate.

    Plan: one corpus scan feeds three source-keyed aggregations (doc
    stats, md5 duplicate groups, distinct vocabulary), joined on the
    source key — all shuffles are source-keyed partial aggs; output is
    source-cardinality rows."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        "source",
        "text",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("long")
        .alias("n_toks"),
    )
    dup = (
        base.groupBy("source", F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(F.sum(F.col("cnt") - 1).cast("long").alias("n_dup_docs"))
    )
    vocab = (
        base.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("n_vocab"))
    )
    stats = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    return (
        stats.join(F.broadcast(dup), "source")
        .join(F.broadcast(vocab), "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.expr("(n_tokens * 1000) div n_docs")
            .cast("long")
            .alias("toks_per_doc_milli"),
            "n_vocab",
            F.expr("(n_vocab * 1000) div n_tokens")
            .cast("long")
            .alias("ttr_milli"),
            "n_dup_docs",
            F.expr("(n_dup_docs * 1000) div n_docs")
            .cast("long")
            .alias("dup_milli"),
        )
    )


@query(
    "q_card_dedup_yield",
    oracle=f"""
    WITH comp AS (SELECT * FROM ({_clusters_oracle(16)})),
    base AS (
        SELECT d.doc_id, d.source, d.text,
               CAST(len(list_filter(string_split(d.text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_toks,
               coalesce(c.cluster_id, d.doc_id) AS cid
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    surv AS (SELECT cid, min(doc_id) AS keep_id FROM base GROUP BY 1),
    dec AS (
        SELECT b.source, b.n_toks,
               CASE WHEN b.doc_id = s.keep_id THEN 0 ELSE 1 END AS dropped
        FROM base b JOIN surv s USING (cid)
    ),
    exact AS (
        SELECT source, CAST(sum(cnt - 1) AS BIGINT) AS n_exact_dup
        FROM (SELECT source, md5(text) AS h, count(*) AS cnt
              FROM base GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_toks) AS BIGINT) AS n_tokens,
           max(e.n_exact_dup) AS n_exact_dup,
           CAST(sum(d.dropped) AS BIGINT) AS n_dropped,
           CAST(count(*) - sum(d.dropped) AS BIGINT) AS n_kept,
           CAST(((count(*) - sum(d.dropped)) * 1000) // count(*) AS BIGINT)
               AS kept_milli,
           CAST((sum(CASE WHEN d.dropped = 0 THEN d.n_toks ELSE 0 END)
                 * 1000) // sum(d.n_toks) AS BIGINT) AS kept_tokens_milli
    FROM dec d JOIN exact e USING (source)
    GROUP BY 1
    """,
)
def q_card_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card x dedup-yield drill-down (VERDICT r06 item #7): the
    per-source row a data lead reads before signing a corpus release —
    how many docs and tokens each source contributes, how many are
    exact duplicates, how many the near-dup pass would DROP (minhash-LSH
    components, min-id survivor — exact dups fold into the same
    components since identical text has identical signatures), and the
    kept yield in docs AND tokens as integer milli rates.  Joins
    q_dataset_card's per-source card to q_dedup_stats' cluster yield on
    the source key; everything integer, fully hash-gated.

    Plan: ONE corpus scan feeds the component labeling (the existing
    bucketed LSH + label-propagation path) and the per-source card
    aggregation; the survivor rule is a cluster-keyed min + join, the
    exact-dup count a source+digest agg — all shuffles are key-partial,
    output is source-cardinality rows.  At 100 TB the LSH component
    labeling dominates exactly as in q_dedup_clusters; the card layer
    adds two narrow aggregations."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    comp = dedup.connected_components(dedup.lsh_candidate_pairs(bands))
    # Optimization round 12: `text` is projected away before the
    # component join — no consumer below reads it, and carrying the
    # document bytes through the join/shuffle was pure width (guide:
    # shuffle fewer bytes).
    base = (
        docs.select(
            "doc_id",
            "source",
            F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
            .cast("long")
            .alias("n_toks"),
        )
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cid"),
        )
    )
    surv = base.groupBy("cid").agg(F.min("doc_id").alias("keep_id"))
    dec = base.join(surv, "cid").select(
        "source",
        "n_toks",
        F.when(F.col("doc_id") == F.col("keep_id"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("dropped"),
    )
    exact = (
        docs.groupBy("source", F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(F.sum(F.col("cnt") - 1).cast("long").alias("n_exact_dup"))
    )
    return (
        dec.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum(
                F.when(F.col("dropped") == 0, F.col("n_toks")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .join(F.broadcast(exact), "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_exact_dup",
            "n_dropped",
            (F.col("n_docs") - F.col("n_dropped"))
            .cast("long")
            .alias("n_kept"),
            F.expr("((n_docs - n_dropped) * 1000) div n_docs")
            .cast("long")
            .alias("kept_milli"),
            F.expr("(kept_tokens * 1000) div n_tokens")
            .cast("long")
            .alias("kept_tokens_milli"),
        )
    )


def _kcore_oracle(num_hashes: int = 16, k: int = 2, rounds: int = 8) -> str:
    """Minhash-LSH candidate edges (the q_dedup_clusters edge chain)
    feeding the unrolled k-core peel (operators/graph.kcore_oracle_sql)."""
    from ..operators.graph import kcore_oracle_sql

    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    return (
        _SHINGLE_CTE
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    edges AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    ),
    """
        + kcore_oracle_sql(k=k, rounds=rounds)
    )


@query("q_kcore", oracle=_kcore_oracle(16, k=2, rounds=8))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the minhash-LSH candidate graph (Seidman 1983,
    iterative peeling): nodes surviving repeated deletion of degree-<2
    nodes, with their in-core degrees — the dedup-graph PRUNING step
    that separates mutually-supported duplicate clusters from
    incidental single-edge LSH collisions before cluster membership is
    trusted (a single shared bucket is weak evidence; membership in a
    2-core means every doc is corroborated by >= 2 co-bucket
    neighbors).  Complements q_dedup_clusters (components label
    EVERYTHING reachable; the core keeps only the densely-supported
    part).

    Plan: each peel round is one map-side-combinable degree agg + two
    left-semi joins on the node key, lineage-checkpointed; converges in
    O(peel depth) rounds (near-dup graphs: 2-4).  The oracle unrolls 8
    materialized peel rounds (the label-prop unrolling device — peeling
    deletes rows, which recursive CTEs cannot), no-ops past the
    fixpoint."""
    from ..operators.graph import kcore

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    edges = dedup.lsh_candidate_pairs(bands)
    return kcore(edges, k=2)


@query(
    "q_drift_tri",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    a AS (SELECT source, tok, count(*) AS a FROM toks GROUP BY 1, 2),
    g AS (SELECT tok, count(*) AS g FROM toks GROUP BY 1),
    s AS (SELECT source, count(*) AS a_tot FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n FROM toks),
    grid AS (
        SELECT s.source, g.tok,
               coalesce(a.a, 0) AS a, s.a_tot AS at,
               g.g - coalesce(a.a, 0) AS b, n.n - s.a_tot AS bt
        FROM s CROSS JOIN g CROSS JOIN n
        LEFT JOIN a ON a.source = s.source AND a.tok = g.tok
    ),
    terms AS (
        SELECT source,
               CASE WHEN CAST(a AS HUGEINT)*bt + CAST(b AS HUGEINT)*at > 0
                    THEN CAST(((CAST(a AS HUGEINT)*bt
                                - CAST(b AS HUGEINT)*at)
                               * (CAST(a AS HUGEINT)*bt
                                  - CAST(b AS HUGEINT)*at)
                               * 1000000)
                         // (CAST(at AS HUGEINT) * bt
                             * (CAST(a AS HUGEINT)*bt
                                + CAST(b AS HUGEINT)*at))
                         AS BIGINT)
                    ELSE 0 END AS term_ppm,
               CASE WHEN a > 0 THEN 1 ELSE 0 END AS present
        FROM grid
    )
    SELECT source, CAST(sum(term_ppm) AS BIGINT) AS div_ppm,
           CAST(sum(present) AS BIGINT) AS n_present
    FROM terms GROUP BY source
    """,
)
def q_drift_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary drift as TRIANGULAR DISCRIMINATION
    (Topsøe 2000, public): Δ(P,Q) = Σ (p−q)²/(p+q) between each
    source's unigram distribution P and the rest-of-corpus Q — the
    bounded (≤2) symmetric f-divergence that, unlike JS divergence, is
    a RATIONAL function of the counts: every term is
    (a·B − b·A)²·10⁶ div (A·B·(a·B + b·A)) in DECIMAL(38,0) — exact
    integer flooring both engines, no transcendental ln whose last-ulp
    differences between libm implementations would break the hash.
    Completes the drift family (chi2 buckets, KS, embedding drift,
    quantile normalization) with the distribution-vs-rest monitor.

    Scale shape: one (source, tok) count shuffle + two tiny rollups;
    the sources × vocabulary grid restores zero cells (divergence
    needs them) and is |S|·|V| rows distributed — and for tokens
    ABSENT from a source the term collapses to b/B, so at extreme
    vocabulary the zero side can be folded into one closed-form
    per-source correction instead of the grid (documented scale
    valve; at declared scales the grid is exact and cheap).  The
    int128-ish headroom: DECIMAL(38,0) carries (a·B)²·10⁶ ≲ 10²⁶ at
    sf1 — 12 digits of slack."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    a = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("a"))
    g = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("g"))
    s = toks.groupBy("source").agg(F.count(F.lit(1)).alias("a_tot"))
    n = toks.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        s.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(n))
        .join(a, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.coalesce(F.col("a"), F.lit(0)).alias("a"),
            F.col("a_tot").alias("at"),
            (F.col("g") - F.coalesce(F.col("a"), F.lit(0))).alias("b"),
            (F.col("n") - F.col("a_tot")).alias("bt"),
        )
    )
    d = "CAST({} AS DECIMAL(38,0))"
    ab = f"({d.format('a')} * bt)"
    ba = f"({d.format('b')} * at)"
    term = (
        f"CASE WHEN {ab} + {ba} > 0 THEN "
        f"CAST((({ab} - {ba}) * ({ab} - {ba}) * 1000000) "
        f"div ({d.format('at')} * bt * ({ab} + {ba})) AS BIGINT) "
        "ELSE 0 END"
    )
    terms = grid.select(
        "source",
        F.expr(term).alias("term_ppm"),
        (F.col("a") > 0).cast("long").alias("present"),
    )
    return terms.groupBy("source").agg(
        F.sum("term_ppm").cast("long").alias("div_ppm"),
        F.sum("present").cast("long").alias("n_present"),
    )


# RBO rank weights, power-of-two geometric decay (p = 1/2) truncated at
# depth 10, pre-scaled by 2^9 * 2520 (= lcm(1..10)) so every term is an
# exact integer: w_d = 2^(10-d) * (2520 / d); W(m) = sum_{d>=m} w_d is
# the per-common-item weight at first-co-occurrence depth m; PERFECT =
# sum_d W(d) is the identical-rankings total.
_RBO_K = 10
_RBO_W = [2 ** (_RBO_K - d) * 2520 // d for d in range(1, _RBO_K + 1)]
_RBO_SUFFIX = [
    sum(_RBO_W[m - 1 :]) for m in range(1, _RBO_K + 1)
]
_RBO_PERFECT = sum(_RBO_SUFFIX)


def _rbo_oracle(num_cells: int = 16, num_probe: int = 3) -> str:
    k = _RBO_K
    d = (
        "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}) AS BIGINT)"
    )
    wlist = ", ".join(str(x) for x in _RBO_SUFFIX)
    return f"""
    WITH {_QZ_CTE},
    qs AS (SELECT vec_id, qv FROM qz WHERE vec_id < 20),
    ex_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(c.qv, c.qv)) > 0
                    THEN list_dot_product(q.qv, c.qv)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(c.qv, c.qv)))
                    ELSE 0.0 END AS qcos
        FROM qz c CROSS JOIN qs q
        WHERE q.vec_id <> c.vec_id
    ),
    ex_top AS (
        SELECT query_id, neighbor_id, rn FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, neighbor_id) AS rn
            FROM ex_scored
        ) WHERE rn <= {k}
    ),
    seeds AS (
        SELECT CAST(row_number() OVER w - 1 AS BIGINT) AS cell, qv AS cv
        FROM qz
        WINDOW w AS (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        QUALIFY row_number() OVER w <= {num_cells}
    ),
    assign AS (
        SELECT v.vec_id, s.cell, {d.format(a="v.qv", b="s.cv")} AS d
        FROM qz v CROSS JOIN seeds s
    ),
    cellof AS (
        SELECT vec_id AS neighbor_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d, cell) AS rn
            FROM assign WHERE vec_id < 20
        ) WHERE rn <= {num_probe}
    ),
    ivf_scored AS (
        SELECT p.query_id, c.neighbor_id,
               CASE WHEN sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(n.qv, n.qv)) > 0
                    THEN list_dot_product(q.qv, n.qv)
                         / (sqrt(list_dot_product(q.qv, q.qv))
                            * sqrt(list_dot_product(n.qv, n.qv)))
                    ELSE 0.0 END AS qcos
        FROM probes p
        JOIN cellof c USING (cell)
        JOIN qz q ON q.vec_id = p.query_id
        JOIN qz n ON n.vec_id = c.neighbor_id
        WHERE p.query_id <> c.neighbor_id
    ),
    ivf_top AS (
        SELECT query_id, neighbor_id, rn FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY qcos DESC, neighbor_id) AS rn
            FROM ivf_scored
        ) WHERE rn <= {k}
    ),
    common AS (
        SELECT e.query_id,
               [{wlist}][greatest(e.rn, i.rn)] AS w
        FROM ex_top e JOIN ivf_top i
          ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    ),
    qids AS (SELECT DISTINCT query_id FROM ex_top)
    SELECT q.query_id,
           CAST(coalesce(count(c.w), 0) AS BIGINT) AS n_common,
           CAST(coalesce(sum(c.w), 0) AS BIGINT) AS rbo_scaled,
           CAST((coalesce(sum(c.w), 0) * 1000) // {_RBO_PERFECT}
                AS BIGINT) AS agreement_milli
    FROM qids q LEFT JOIN common c ON c.query_id = q.query_id
    GROUP BY q.query_id
    """


@query("q_rbo_overlap", oracle=_rbo_oracle())
def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the EXACT
    quantized-cosine ranking and the IVF ANN ranking, depth 10 — the
    rank-weighted ranker-agreement measure that recall@k flattens:
    recall counts shared members, RBO pays more for agreement at the
    TOP.  Geometric weights at p = 1/2 pre-scaled by 2^9·lcm(1..10)
    make every weight an exact integer (no float powers), so the whole
    agreement table is under the full hash gate: a common item first
    co-appearing at depth m contributes W(m) = Σ_{{d≥m}} 2^(10−d)·2520/d,
    and identical rankings sum to the PERFECT literal — agreement_milli
    is the integer-division ratio.

    Plan: both rankers run their existing posture (broadcast queries ×
    streamed corpus; IVF cell equi-join), keep_rank exposes each
    window's position, and the agreement is ONE (query, neighbor)
    equi-join + a per-query aggregate over ≤ k·|Q| rows.  The qids
    left join restores all-disagreement queries as zero rows (RBO = 0
    is a finding, not an absence); qids comes from the QUERY SET, not
    from ex (the corpus always holds ≥ k candidates per query, and
    deriving it from ex would execute the exact-ranker DAG a second
    time — measured 2× the query's whole cost)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    ex = similarity.cosine_topk_quantized(
        vecs, queries, k=_RBO_K, keep_rank=True
    ).select("query_id", "neighbor_id", F.col("rn").alias("rn_ex"))
    iv = similarity.ivf_topk_int(
        vecs, queries, k=_RBO_K, num_cells=16, num_probe=3, keep_rank=True
    ).select("query_id", "neighbor_id", F.col("rn").alias("rn_iv"))
    warr = F.array(*[F.lit(x).cast("long") for x in _RBO_SUFFIX])
    common = ex.join(iv, ["query_id", "neighbor_id"]).select(
        "query_id",
        F.element_at(warr, F.greatest("rn_ex", "rn_iv").cast("int")).alias(
            "w"
        ),
    )
    qids = queries.select(F.col("vec_id").alias("query_id"))
    agg = common.groupBy("query_id").agg(
        F.count("w").cast("long").alias("n_common"),
        F.sum("w").cast("long").alias("rbo_scaled"),
    )
    return qids.join(agg, "query_id", "left").select(
        "query_id",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        F.coalesce("rbo_scaled", F.lit(0)).cast("long").alias("rbo_scaled"),
        F.expr(
            f"coalesce(rbo_scaled, 0L) * 1000 div {_RBO_PERFECT}"
        ).cast("long").alias("agreement_milli"),
    )


def _editdist_oracle(prefix: int = 160, threshold: int = 40) -> str:
    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(16))
    )
    return (
        _SHINGLE_CTE
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a
        JOIN sig b ON a.seed = b.seed AND a.mh = b.mh
                   AND a.doc_id < b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(substring(da.text, 1, {prefix}),
                            substring(db.text, 1, {prefix})) AS BIGINT)
               AS dist,
           CAST(CASE WHEN levenshtein(substring(da.text, 1, {prefix}),
                                      substring(db.text, 1, {prefix}))
                          <= {threshold}
                     THEN 1 ELSE 0 END AS BIGINT) AS verified
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    """
    )


@query("q_dedup_verify_editdist", oracle=_editdist_oracle())
def q_dedup_verify_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-verify dedup: HIGH-RECALL LSH candidates (16 bands x 1
    row — OR-amplification, any shared min-hash pairs the docs) pruned
    by the EXACT edit distance on a 160-char prefix — the classic
    two-stage near-dup pipeline (cheap sketch recall, exact-verify
    precision).  Both engines evaluate their NATIVE Levenshtein
    (unit-cost insert/delete/substitute — Spark `levenshtein`, DuckDB
    `levenshtein`), so the verify stage itself is cross-engine checked,
    not just the candidate set.  On this corpus the distance is
    bimodal (true near-dups <= 4, false candidates >= 63), so the
    threshold-40 verdict is robustly inside the gap.

    Scale shape: candidates come from the bucket group-and-expand
    (never a self-join; `max_bucket` skew guard available), and the
    verify joins ship only (pair ids + 160-char prefixes) — the O(L^2)
    Levenshtein is bounded by the PREFIX length, embarrassingly
    parallel, and paid once per candidate, not per doc pair.  The
    explicit pair-key repartition before scoring matters: AQE
    coalesces the byte-small join output to ONE partition, which
    serializes the verify CPU (measured 36 s single-task vs ~3 s
    spread at sf0.1) — expensive-expression stages must be
    partitioned by CPU, not by shuffle bytes."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=1)
    pairs = dedup.lsh_candidate_pairs(bands)
    pref = docs.select("doc_id", F.substring("text", 1, 160).alias("t"))
    dist = F.levenshtein(F.col("ta"), F.col("tb"))
    return (
        pairs.join(
            pref.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")),
            "doc_a",
        )
        .join(
            pref.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")),
            "doc_b",
        )
        .repartition(int(spark.sparkContext.defaultParallelism), "doc_a", "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("dist"),
            (dist <= F.lit(40)).cast("long").alias("verified"),
        )
    )


@query(
    "q_mann_whitney",
    oracle="""
    WITH wc AS (
        SELECT len(string_split(text, ' ')) AS v,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
        FROM documents
    ),
    vals AS (SELECT v, count(*) AS c, sum(in_a) AS a_c FROM wc GROUP BY v),
    ranked AS (
        SELECT v, c, a_c, 2 * sum(c) OVER (ORDER BY v) - c + 1 AS dr
        FROM vals
    ),
    tot AS (SELECT sum(in_a) AS n1, count(*) - sum(in_a) AS n2 FROM wc)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(2*n1*n2 + n1*(n1+1) - sum(a_c * dr) AS BIGINT) AS u2,
           CAST((2*n1*n2 + n1*(n1+1) - sum(a_c * dr)) * 1000
                // (2*n1*n2) AS BIGINT) AS cles_milli
    FROM ranked CROSS JOIN tot
    GROUP BY n1, n2
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the even- and odd-id
    halves of the corpus on document word count — the NON-PARAMETRIC
    two-sample drift test (no normality assumption, unlike a t-test;
    no binning choice, unlike q_drift_chi2; rank-based where q_ks_test
    is sup-of-CDF).  Tie-corrected via midranks kept INTEGER by the
    double-rank device: dr = min_rank + max_rank (= 2x the midrank),
    so 2U = 2*n1*n2 + n1(n1+1) - sum(a_c * dr) is exact in both
    engines, and cles_milli = U/(n1*n2) in milli is the common-language
    effect size (= P(sample_A > sample_B), the AUC identity).

    Scale shape: ONE value-domain aggregate (word counts are a bounded
    integer domain, <=100 distinct at any corpus size by construction)
    then the rank cumsum runs on that TINY table — the same
    domain-table-window posture as the bucketed-prefix-sum offset
    tables; the fact-scale work is one map-side-combined groupBy."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    wc = docs.select(
        F.size(F.split("text", " ")).alias("v"),
        (F.col("doc_id") % 2 == 0).cast("long").alias("in_a"),
    )
    vals = wc.groupBy("v").agg(
        F.count(F.lit(1)).alias("c"), F.sum("in_a").alias("a_c")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = vals.withColumn(
        "dr", 2 * F.sum("c").over(w) - F.col("c") + F.lit(1)
    )
    tot = wc.agg(
        F.sum("in_a").alias("n1"),
        (F.count(F.lit(1)) - F.sum("in_a")).alias("n2"),
    )
    return (
        ranked.agg(F.sum(F.col("a_c") * F.col("dr")).alias("rsum"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            (
                2 * F.col("n1") * F.col("n2")
                + F.col("n1") * (F.col("n1") + 1)
                - F.col("rsum")
            )
            .cast("long")
            .alias("u2"),
            F.expr(
                "(2*n1*n2 + n1*(n1+1) - rsum) * 1000 div (2*n1*n2)"
            )
            .cast("long")
            .alias("cles_milli"),
        )
    )


@query(
    "q_phrase_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    bg AS (
        SELECT a.tok AS w1, b.tok AS w2, count(*) AS c
        FROM toks a
        JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2
    ),
    phrases AS (
        SELECT w1, w2,
               row_number() OVER (ORDER BY c DESC, w1, w2) AS phrase_rank
        FROM bg QUALIFY phrase_rank <= 3
    )
    SELECT CAST(p.phrase_rank AS BIGINT) AS phrase_rank, p.w1, p.w2,
           a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM phrases p
    JOIN toks a ON a.tok = p.w1
    JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                AND b.tok = p.w2
    GROUP BY 1, 2, 3, 4
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase query — the inverted-index feature
    q_inverted_index/q_search_topk (bag-of-words postings) cannot
    answer: per-document occurrence counts of exact ADJACENT bigram
    phrases (the corpus's own top-3 bigrams as deterministic query
    phrases).  Adjacency comes from token POSITIONS, the thing a
    positional index stores beyond doc ids.

    Spark-first shape: the bigram stream is materialized ONCE by a
    doc-partitioned `lead` window (one linear shuffle — the oracle's
    pos+1 self-join replayed without the join), then serves BOTH
    consumers: the top-3 phrase selection (partial top-k via
    TakeOrderedAndProject on the bigram aggregate) and the hit count
    (3-row broadcast equi-join back onto the stream).  At 100 TB the
    posting stream shuffles once on doc_id and the phrase table is
    always query-sized."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.select(
            "doc_id", "pos", F.col("tok").alias("w1"),
            F.lead("tok").over(wd).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    top3 = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(3)
    )
    w3 = Window.orderBy(F.col("c").desc(), "w1", "w2")
    phrases = top3.select(
        F.row_number().over(w3).cast("long").alias("phrase_rank"),
        "w1",
        "w2",
    )
    return (
        bigrams.join(F.broadcast(phrases), ["w1", "w2"])
        .groupBy("phrase_rank", "w1", "w2", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )


@query(
    "q_embed_quantize_int8",
    oracle="""
    WITH cells AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000.0 + 0.5)
                    AS BIGINT) AS q
        FROM embeddings
    ),
    scales AS (SELECT dim, max(abs(q)) AS s FROM cells GROUP BY dim),
    quant AS (
        SELECT c.dim, c.q, s.s,
               CASE WHEN s.s = 0 THEN 0
                    ELSE CASE WHEN c.q >= 0 THEN 1 ELSE -1 END
                         * ((2 * abs(c.q) * 127 + s.s) // (2 * s.s))
               END AS v
        FROM cells c JOIN scales s USING (dim)
    )
    SELECT dim, CAST(max(s) AS BIGINT) AS scale_milli,
           CAST(sum(abs(127 * q - v * s)) AS BIGINT) AS sum_err_127,
           CAST(max(abs(127 * q - v * s)) AS BIGINT) AS max_err_127,
           CAST(max(abs(v)) AS BIGINT) AS max_code
    FROM quant GROUP BY dim
    """,
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 absmax quantization audit — the embedding-
    compression pass every vector store runs before serving, with its
    reconstruction error made EXACT: symmetric absmax scale s_d =
    max|q| per dimension, code v = sign(q)·⌊(2·|q|·127 + s)/(2·s)⌋
    (half-up rounding built from nonneg div only — on non-negative
    operands truncation and flooring coincide, so the sign split makes
    ANY engine pair agree bit-for-bit; Spark's `div` and DuckDB's `//`
    in fact both truncate toward zero, DuckDB 1.0: -7//2 = -3, so the
    split is defense in depth, not a requirement), and the error
    ledger |127·q − v·s| stays in the exact 127×milli integer grid (no
    dequant division at all).  max_code ≤ 127 certifies no clipping.

    Scale shape: one posexplode → (dim, q) stream with TWO map-side-
    combined 64-group aggregates (scales, then the error rollup) and a
    64-row broadcast join between them — the fact-scale work is the
    cell scan, twice."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    cells = vecs.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1000.0) + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    scales = cells.groupBy("dim").agg(F.max(F.abs("q")).alias("s"))
    quant = cells.join(F.broadcast(scales), "dim").select(
        "dim",
        "q",
        "s",
        F.expr(
            "CASE WHEN s = 0 THEN 0 ELSE "
            "CASE WHEN q >= 0 THEN 1 ELSE -1 END "
            "* ((2 * abs(q) * 127 + s) div (2 * s)) END"
        ).alias("v"),
    )
    return quant.groupBy("dim").agg(
        F.max("s").cast("long").alias("scale_milli"),
        F.sum(F.abs(127 * F.col("q") - F.col("v") * F.col("s")))
        .cast("long")
        .alias("sum_err_127"),
        F.max(F.abs(127 * F.col("q") - F.col("v") * F.col("s")))
        .cast("long")
        .alias("max_err_127"),
        F.max(F.abs("v")).cast("long").alias("max_code"),
    )


@query(
    "q_langid_confusion",
    oracle=None,  # assigned below: composes q_lang_id's registered oracle
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality audit: the confusion matrix of q_lang_id's
    rule-based prediction against the corpus's TRUE ``lang`` column —
    per (true, predicted) cell count plus per-true-class support and
    integer recall (the diagonal cell's share, milli).  This is the
    audit that decides whether the cheap marker-token classifier is
    good enough to gate a crawl, and it composes q_lang_id's oracle
    verbatim (the q_rrf_fusion device), so the two can never drift.

    Scale shape: one scan through the classifier's array-expression
    scoring (no explode, no shuffle) into a (true, pred) cell aggregate
    — cells are |langs|², the support re-attach is a broadcast of the
    |langs|-row marginal."""
    pred = q_lang_id(spark, sf_dir).select(
        F.col("lang").alias("true_lang"), "predicted_lang"
    )
    cells = pred.groupBy("true_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    support = cells.groupBy("true_lang").agg(
        F.sum("n").cast("long").alias("support")
    )
    return cells.join(F.broadcast(support), "true_lang").select(
        "true_lang",
        "predicted_lang",
        "n",
        "support",
        F.expr(
            "CASE WHEN true_lang = predicted_lang "
            "THEN n * 1000 div support ELSE 0 END"
        )
        .cast("long")
        .alias("recall_milli"),
    )


# Compose the registered q_lang_id oracle so the confusion matrix and
# the classifier can never drift (the ORACLES dict is populated by the
# decorator above, so this assignment must follow both registrations).
from .registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["q_langid_confusion"] = f"""
    WITH pred AS (
        SELECT lang AS true_lang, predicted_lang
        FROM ({_ORACLES["q_lang_id"]})
    ),
    cells AS (
        SELECT true_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    sup AS (
        SELECT true_lang, CAST(sum(n) AS BIGINT) AS support
        FROM cells GROUP BY 1
    )
    SELECT c.true_lang, c.predicted_lang, c.n, s.support,
           CAST(CASE WHEN c.true_lang = c.predicted_lang
                THEN c.n * 1000 // s.support ELSE 0 END AS BIGINT)
               AS recall_milli
    FROM cells c JOIN sup s USING (true_lang)
    """


# ---------------------------------------------------------------------------
# Louvain level-0 communities over the dedup candidate graph (round 9)
# ---------------------------------------------------------------------------


def _louvain_oracle(num_hashes: int = 16, rounds: int = 3) -> str:
    """Minhash-LSH candidate edges (the q_kcore edge chain) feeding the
    unrolled synchronous Louvain rounds (operators/graph.louvain_oracle_sql)
    and the per-community rollup."""
    from ..operators.graph import louvain_oracle_sql

    seeds_values = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(dedup.minhash_params(num_hashes))
    )
    r = rounds
    return (
        _SHINGLE_CTE
        + f"""
    , based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {dedup.MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {dedup.MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    edges AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
    ),
    """
        + louvain_oracle_sql(rounds=rounds)
        + f""",
    mem AS (
        SELECT comm, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(k) AS BIGINT) AS total_degree
        FROM c_{r} JOIN deg ON deg.s = c_{r}.node GROUP BY comm
    ),
    ie AS (
        SELECT ca.comm, CAST(count(*) AS BIGINT) AS n
        FROM edges e
        JOIN c_{r} ca ON ca.node = e.doc_a
        JOIN c_{r} cb ON cb.node = e.doc_b
        WHERE ca.comm = cb.comm GROUP BY ca.comm
    )
    SELECT m.comm, m.n_members, m.total_degree,
           CAST(coalesce(ie.n, 0) AS BIGINT) AS internal_edges
    FROM mem m LEFT JOIN ie USING (comm)
    """
    )


@query("q_louvain_l0", oracle=_louvain_oracle(16, rounds=3))
def q_louvain_l0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOUVAIN LEVEL-0 communities (Blondel et al. 2008; synchronous
    deterministic variant, operators/graph.louvain_level0) over the
    minhash-LSH candidate graph — the cluster-GRANULARITY audit beside
    q_dedup_clusters_star (VERDICT r08 item #5): connected components
    label everything reachable (chain merges distinct near-dup groups
    bridged by one spurious LSH edge); modularity communities split
    such chains at their sparse cuts, so comparing the two partitions'
    size profiles flags over-merged dedup clusters before survivorship
    is applied.  Per community: member count, total degree, internal
    edge count (rollup columns a granularity dashboard reads off).

    Integer-exact synchronous gain argmax (2m·k_uC − k_u·tot'(C),
    smallest-community tie-break) unrolled 3 rounds in the oracle —
    the q_label_prop device extended with per-round community-mass
    CTEs.

    Scale: per round one edge-keyed join + (node, comm) vote agg +
    comm-keyed mass agg + per-node argmax window — node/comm-keyed
    shuffles only, never pair-quadratic; the candidate graph itself is
    the bucket-bounded LSH output, never all-pairs."""
    from ..operators.graph import louvain_level0

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    # EAGER lineage cut: louvain's first action (the m2 count) consumes
    # edges through und's two union branches — concurrent stages that
    # race a lazy cut and rebuild the LSH candidate join twice (r12 A/B)
    edges = dedup.lsh_candidate_pairs(bands).localCheckpoint(eager=True)
    comm = louvain_level0(edges, rounds=3)
    und = edges.select(F.col("doc_a").alias("s")).unionAll(
        edges.select(F.col("doc_b").alias("s"))
    )
    deg = und.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("k"))
    mem = (
        comm.join(deg, comm["node"] == deg["s"])
        .groupBy("comm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("k").cast("long").alias("total_degree"),
        )
    )
    ca = comm.select(F.col("node").alias("doc_a"), F.col("comm").alias("comm_a"))
    cb = comm.select(F.col("node").alias("doc_b"), F.col("comm").alias("comm_b"))
    ie = (
        edges.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("comm"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return mem.join(ie, "comm", "left").select(
        "comm",
        "n_members",
        "total_degree",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("internal_edges"),
    )


# ---------------------------------------------------------------------------
# Farthest-first k-center seeding (round 9)
# ---------------------------------------------------------------------------

_KC_K = 4  # centers


def _kcenter_oracle(k: int = _KC_K) -> str:
    """Unrolled Gonzalez rounds: argmax-of-min-distance as ORDER
    BY/LIMIT-1 scalar CTEs, distances via the q_gram_int explode-join
    device, all integer milli-units."""
    parts = [
        """WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM q CROSS JOIN range(0, 64) t(i)
    ),
    c0 AS (SELECT i, x AS y FROM u WHERE vec_id = 0),
    m0 AS (
        SELECT u.vec_id, CAST(sum((x - y) * (x - y)) AS BIGINT) AS d
        FROM u JOIN c0 USING (i) GROUP BY 1
    )"""
    ]
    for t in range(1, k):
        p = t - 1
        parts.append(
            f"""p{t} AS (
        SELECT vec_id FROM m{p} ORDER BY d DESC, vec_id ASC LIMIT 1
    ),
    c{t} AS (SELECT i, x AS y FROM u
             WHERE vec_id = (SELECT vec_id FROM p{t})),
    d{t} AS (
        SELECT u.vec_id, CAST(sum((x - y) * (x - y)) AS BIGINT) AS dn
        FROM u JOIN c{t} USING (i) GROUP BY 1
    ),
    m{t} AS (
        SELECT m{p}.vec_id, least(m{p}.d, d{t}.dn) AS d
        FROM m{p} JOIN d{t} USING (vec_id)
    )"""
        )
    center_rows = ["SELECT 0::BIGINT AS cid, i, y FROM c0"] + [
        f"SELECT (SELECT vec_id FROM p{t})::BIGINT AS cid, i, y FROM c{t}"
        for t in range(1, k)
    ]
    parts.append(
        f"""cv AS ({' UNION ALL '.join(center_rows)}),
    dist AS (
        SELECT u.vec_id, cv.cid,
               CAST(sum((u.x - cv.y) * (u.x - cv.y)) AS BIGINT) AS d
        FROM u JOIN cv USING (i) GROUP BY 1, 2
    ),
    best AS (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM dist
    )
    SELECT cid AS center_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d) AS BIGINT) AS cost,
           CAST(max(d) AS BIGINT) AS radius
    FROM best WHERE rn = 1 GROUP BY cid"""
    )
    return ",\n    ".join(parts)


@query("q_kcenter_seed", oracle=_kcenter_oracle())
def q_kcenter_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FARTHEST-FIRST k-center seeding (Gonzalez 1985, "Clustering to
    minimize the maximum intercluster distance" — the deterministic
    relative of k-means++ initialization, and the 2-approximation for
    the k-center objective): start from vec 0, repeatedly add the
    vector FARTHEST from the chosen set (argmax of min squared L2,
    smallest-id tie-break), k=4 rounds, then assign every vector to its
    nearest center — the cluster-seeding pass a SemDeDup-style
    embedding-dedup or data-mixture pipeline runs before k-means
    proper.  Per center: member count, summed and maximum assignment
    distance (the k-center cost/radius audit).

    Integer milli-unit distances make every argmax and the final
    assignment bit-deterministic (the q_gram_int quantization device),
    so the whole iterative seeding passes the full hash gate against
    unrolled ORDER-BY/LIMIT-1 CTE rounds.

    Scale shape: each round is ONE map-side aggregate-HOF distance
    column against a LITERAL center vector (the driver holds k·64
    integers — KB — never the corpus) + a 1-ROW argmax collect; the
    assignment is a 4-way least/struct-min, no join anywhere.  At
    100 TB: k scans, zero shuffles."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    q = vecs.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
            "* 1000.0 + 0.5) AS BIGINT))"
        ).alias("v"),
    ).localCheckpoint(eager=False)  # lazy: the c0 collect materializes it

    def dist_expr(center: list[int]) -> str:
        arr = ", ".join(f"{c}L" for c in center)
        return (
            f"aggregate(zip_with(v, array({arr}), "
            "(x, y) -> (x - y) * (x - y)), 0L, (acc, e) -> acc + e)"
        )

    c0 = q.where(F.col("vec_id") == 0).collect()[0]["v"]
    centers = [(0, list(c0))]
    cur = q.select("vec_id", "v", F.expr(dist_expr(centers[0][1])).alias("d"))
    for _ in range(1, _KC_K):
        far = (
            cur.orderBy(F.col("d").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        centers.append((far["vec_id"], list(far["v"])))
        cur = cur.select(
            "vec_id",
            "v",
            F.least(F.col("d"), F.expr(dist_expr(centers[-1][1]))).alias("d"),
            # lazy: the next round's argmax collect materializes it
            # (one job per round, not two — optimization round 12)
        ).localCheckpoint(eager=False)
    cands = F.array(
        *[
            F.struct(
                F.expr(dist_expr(v)).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, v in centers
        ]
    )
    best = q.select(
        "vec_id", F.array_min(cands).alias("b")
    ).select("vec_id", F.col("b.cid").alias("center_id"), F.col("b.d").alias("d"))
    return best.groupBy("center_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("d").cast("long").alias("cost"),
        F.max("d").cast("long").alias("radius"),
    )


# ---------------------------------------------------------------------------
# Lloyd k-means iterations, integer-exact (round 10)
# ---------------------------------------------------------------------------

_KM_K = 4  # clusters (seeded from vec_id 0..3)
_KM_R = 2  # Lloyd iterations


def _kmeans_oracle(k: int = _KM_K, rounds: int = _KM_R) -> str:
    """Unrolled Lloyd rounds: assignment via (vec, cid) distance agg +
    per-vec argmin window, centroid update as per-(cid, dim) floor-div
    mean — all integer milli-units (the q_kcenter_seed device, but
    fully relational: no ORDER BY/LIMIT scalar rounds)."""
    ids = ", ".join(str(i) for i in range(k))
    parts = [
        f"""WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM q CROSS JOIN range(0, 64) t(i)
    ),
    c0 AS (
        SELECT vec_id AS cid, i, x AS y FROM u WHERE vec_id IN ({ids})
    )"""
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS (
        SELECT u.vec_id, c.cid,
               CAST(sum((u.x - c.y) * (u.x - c.y)) AS BIGINT) AS d
        FROM u JOIN {prev} c USING (i) GROUP BY 1, 2
    ),
    a{r} AS (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM d{r}
    ),
    c{r} AS (
        SELECT a.cid, u.i, CAST(sum(u.x) // count(*) AS BIGINT) AS y
        FROM a{r} a JOIN u USING (vec_id)
        WHERE a.rn = 1
        GROUP BY 1, 2
    )"""
        )
        prev = f"c{r}"
    parts.append(
        f"""df AS (
        SELECT u.vec_id, c.cid,
               CAST(sum((u.x - c.y) * (u.x - c.y)) AS BIGINT) AS d
        FROM u JOIN c{rounds} c USING (i) GROUP BY 1, 2
    ),
    af AS (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cid ASC) AS rn
        FROM df
    ),
    shift AS (
        SELECT a.cid,
               CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT)
                   AS centroid_shift
        FROM c{rounds} a JOIN c{rounds - 1} b
          ON a.cid = b.cid AND a.i = b.i
        GROUP BY 1
    )
    SELECT af.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(af.d) AS BIGINT) AS inertia,
           CAST(max(af.d) AS BIGINT) AS radius,
           CAST(max(s.centroid_shift) AS BIGINT) AS centroid_shift
    FROM af JOIN shift s ON af.cid = s.cid
    WHERE af.rn = 1
    GROUP BY af.cid"""
    )
    return ",\n    ".join(parts)


@query("q_kmeans_lloyd", oracle=_kmeans_oracle())
def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLOYD k-MEANS, k=4, two full iterations, integer-exact (Lloyd
    1957/1982 — the clustering pass a data-mixture or SemDeDup-bucket
    pipeline runs after q_kcenter_seed picks seeds): centroids start at
    vec 0..3, each round assigns every vector to its nearest centroid
    (squared L2 in milli-units, smallest-cid tie-break) and recomputes
    centroids as per-dimension floor-div means — floor-div keeps the
    whole fixpoint path in exact BIGINTs, so two data-dependent
    iterations pass the full hash gate against the unrolled relational
    oracle.  Output per cluster: size, inertia (sum of final assignment
    distances), radius, and the last-round centroid shift (the
    convergence observable).

    UNLIKE q_kcenter_seed (k driver-side argmax collects), this is
    collect-free: centroids live in a 256-row (cid, dim) DataFrame that
    BROADCASTS onto the exploded (vec, dim) table — per round one
    broadcast join + two map-side-combinable aggs ((vec,cid) distance,
    (cid,dim) mean).  An emptied cluster drops out of the centroid
    table and later rounds reassign among survivors — identical inner-
    join semantics in both engines (documented; the k=4/vec-seed
    fixture keeps all clusters populated).

    100 TB: rows×dims explode is linear; the centroid side is k·dims
    rows (KB) forever — broadcast stays trivially small at any corpus
    size; no shuffle ever carries more than (vec_id, cid, partial sum)."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    u = (
        vecs.select(
            "vec_id",
            F.posexplode(
                F.expr(
                    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                    " * 1000.0 + 0.5) AS BIGINT))"
                )
            ).alias("i", "x"),
        )
        # lazy: first consuming action materializes it (round 12)
        .localCheckpoint(eager=False)
    )
    cent = u.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), "i", F.col("x").alias("y")
    )

    def assign(c: DataFrame) -> DataFrame:
        d = (
            u.join(F.broadcast(c), "i")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum((F.col("x") - F.col("y")) * (F.col("x") - F.col("y")))
                .cast("long")
                .alias("d")
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("d").asc(), F.col("cid").asc()
        )
        return (
            d.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "cid", "d")
        )

    prev = cent
    for _ in range(_KM_R):
        a = assign(prev)
        prev_old = prev
        prev = (
            a.join(u, "vec_id")
            .groupBy("cid", "i")
            .agg(
                F.expr("CAST(sum(x) div count(1) AS BIGINT)").alias("y")
            )
            # lazy: no driver decisions in the loop — the final shift
            # action materializes every round (optimization round 12)
            .localCheckpoint(eager=False)
        )
        last_old = prev_old
    shift = (
        prev.alias("a")
        .join(
            last_old.select(
                "cid", "i", F.col("y").alias("y0")
            ).alias("b"),
            ["cid", "i"],
        )
        .groupBy("cid")
        .agg(
            F.sum(
                (F.col("y") - F.col("y0")) * (F.col("y") - F.col("y0"))
            )
            .cast("long")
            .alias("centroid_shift")
        )
    )
    final = assign(prev)
    return (
        final.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("d").cast("long").alias("inertia"),
            F.max("d").cast("long").alias("radius"),
        )
        .join(
            shift.select(F.col("cid").alias("cluster_id"), "centroid_shift"),
            "cluster_id",
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection (round 9)
# ---------------------------------------------------------------------------

_JL_IN, _JL_OUT = 64, 16
_JL_QUERIES = 20


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 sign matrix from the shared md5 device: sign[j][i]
    for output dim j, input dim i — computed ONCE in python and inlined
    as literals into BOTH engines (one source of truth; Achlioptas 2003
    shows ±1 entries satisfy the JL guarantee)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[:15], 16)
            % 2
            == 0
            else -1
            for i in range(_JL_IN)
        ]
        for j in range(_JL_OUT)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    sign_rows = ", ".join(
        f"({i}, {j}, {signs[j][i]})"
        for j in range(_JL_OUT)
        for i in range(_JL_IN)
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    u AS (
        SELECT vec_id, i, v[i + 1] AS x
        FROM q CROSS JOIN range(0, {_JL_IN}) t(i)
    ),
    s(i, j, sg) AS (VALUES {sign_rows}),
    p AS (
        SELECT u.vec_id, s.j, CAST(sum(u.x * s.sg) AS BIGINT) AS y
        FROM u JOIN s USING (i) GROUP BY 1, 2
    ),
    d2o AS (
        SELECT a.vec_id AS query_id, b.vec_id,
               CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2_orig
        FROM u a JOIN u b USING (i)
        WHERE a.vec_id < {_JL_QUERIES} AND b.vec_id > a.vec_id
        GROUP BY 1, 2
    ),
    d2p AS (
        SELECT a.vec_id AS query_id, b.vec_id,
               CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d2_proj
        FROM p a JOIN p b USING (j)
        WHERE a.vec_id < {_JL_QUERIES} AND b.vec_id > a.vec_id
        GROUP BY 1, 2
    )
    SELECT d2o.query_id, d2o.vec_id, d2o.d2_orig, d2p.d2_proj,
           CAST(d2p.d2_proj * 1000 // ({_JL_OUT} * d2o.d2_orig) AS BIGINT)
               AS ratio_milli
    FROM d2o JOIN d2p USING (query_id, vec_id)
    WHERE d2o.d2_orig > 0
    """


@query("q_jl_project", oracle=_jl_oracle())
def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS sign projection (Achlioptas 2003,
    "Database-friendly random projections" — ±1 entries, no Gaussians
    needed) from 64 to 16 dims over milli-quantized embeddings, with
    the distance-preservation audit JL promises: for every (query,
    vector) pair the original and projected squared L2 and their
    normalized ratio (E[d2_proj] = k·d2_orig for sign matrices, so
    ratio_milli concentrates around 1000) — the dimensionality-
    reduction pass an ANN pipeline runs before indexing when 64 dims of
    float are still too wide.

    The sign matrix is generated ONCE in python from the md5 device and
    inlined as literals into BOTH engines — one source of truth, no
    cross-engine RNG.  Projection is a pure map (16 aggregate-HOF dot
    products against literal sign arrays, no shuffle); the audit pairs
    are query-broadcast joins like q_sim_topk_int.  All integer.

    Scale: projecting is scan-speed map work; at 100 TB you project
    once and index the 4x-smaller vectors — the audit quantifies the
    distortion you accepted."""
    signs = _jl_signs()
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    q = vecs.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) "
            "* 1000.0 + 0.5) AS BIGINT))"
        ).alias("v"),
    )

    def dot_expr(sign_row: list[int]) -> str:
        arr = ", ".join(f"{s}L" for s in sign_row)
        return (
            f"aggregate(zip_with(v, array({arr}), (x, s) -> x * s), "
            "0L, (acc, e) -> acc + e)"
        )

    p = q.select(
        "vec_id",
        "v",
        F.array(
            *[F.expr(dot_expr(signs[j])) for j in range(_JL_OUT)]
        ).alias("y"),
    ).localCheckpoint(eager=False)  # lazy: one action consumes both branches
    qs = p.where(F.col("vec_id") < _JL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("y").alias("qy"),
    )
    pairs = p.join(F.broadcast(qs), F.col("vec_id") > F.col("query_id"))
    d2o = "aggregate(zip_with(v, qv, (a, b) -> (a - b) * (a - b)), 0L, (acc, e) -> acc + e)"
    d2p = "aggregate(zip_with(y, qy, (a, b) -> (a - b) * (a - b)), 0L, (acc, e) -> acc + e)"
    return (
        pairs.select(
            "query_id",
            "vec_id",
            F.expr(d2o).cast("long").alias("d2_orig"),
            F.expr(d2p).cast("long").alias("d2_proj"),
        )
        .where(F.col("d2_orig") > 0)
        .withColumn(
            "ratio_milli",
            F.expr(f"d2_proj * 1000 div ({_JL_OUT} * d2_orig)").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal best match across sources (round 9)
# ---------------------------------------------------------------------------


def _mutual_oracle() -> str:
    from .advanced import _embed_int_body

    return f"""
    WITH {_embed_int_body(num_tables=3, num_planes=6)},
    xcand AS (
        SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS a_id,
               CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS b_id,
               cos_milli
        FROM scored
        WHERE id_a % 2 <> id_b % 2
    ),
    best_ab AS (
        SELECT a_id, b_id, cos_milli FROM (
            SELECT a_id, b_id, cos_milli,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY cos_milli DESC, b_id ASC)
                       AS rn
            FROM xcand
        ) WHERE rn = 1
    ),
    best_ba AS (
        SELECT a_id, b_id FROM (
            SELECT a_id, b_id,
                   row_number() OVER (PARTITION BY b_id
                                      ORDER BY cos_milli DESC, a_id ASC)
                       AS rn
            FROM xcand
        ) WHERE rn = 1
    )
    SELECT ab.a_id, ab.b_id, CAST(ab.cos_milli AS BIGINT) AS cos_milli
    FROM best_ab ab JOIN best_ba ba
      ON ba.a_id = ab.a_id AND ba.b_id = ab.b_id
    """


@query("q_mutual_best_match", oracle=_mutual_oracle())
def q_mutual_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL BEST MATCH across two sources (the mutual-nearest-
    neighbor criterion of record linkage and bitext mining, e.g.
    Artetxe & Schwenk 2019's margin-based mining baseline): embeddings
    split into side A (even ids) and side B (odd ids); candidate pairs
    come from the bucketed integer-LSH front (near_dup_pairs_int — the
    q_dedup_embed_int machinery with the score threshold disabled so
    the mutual filter does the selecting), and a pair survives only if
    each endpoint is the other's best candidate by quantized cosine —
    the symmetric filter that kills hub matches a one-directional
    top-1 keeps.

    Integer-exact milli cosines with smallest-id tie-breaks in both
    argmax directions make the surviving pair set bit-deterministic,
    and candidate generation + scores share the q_dedup_embed_int
    oracle body, so nothing can drift between the dedup and linkage
    views of the same index.

    Scale: candidates are LSH-bucket-bounded (never A x B — the
    all-pairs draft of this operator measured 14x wall at x10 rows and
    was rejected; this form measures sub-linear), and the mutual
    filter is two argmax windows + one (a, b) equi-join —
    key-partitioned throughout."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    cand = (
        similarity.near_dup_pairs_int(vecs, num_planes=6, threshold_milli=0)
        .where((F.col("id_a") % 2) != (F.col("id_b") % 2))
        .select(
            F.when(F.col("id_a") % 2 == 0, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("a_id"),
            F.when(F.col("id_a") % 2 == 0, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("b_id"),
            "cos_milli",
        )
        # eager: the two window branches are concurrent sort stages of
        # one job — lazy would let them recompute the candidate build
        .localCheckpoint(eager=True)
    )
    wa = Window.partitionBy("a_id").orderBy(
        F.col("cos_milli").desc(), F.col("b_id").asc()
    )
    wb = Window.partitionBy("b_id").orderBy(
        F.col("cos_milli").desc(), F.col("a_id").asc()
    )
    best_ab = (
        cand.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .select("a_id", "b_id", "cos_milli")
    )
    best_ba = (
        cand.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(F.col("a_id").alias("a2"), F.col("b_id").alias("b2"))
    )
    return best_ab.join(
        best_ba,
        (F.col("a_id") == F.col("a2")) & (F.col("b_id") == F.col("b2")),
    ).select("a_id", "b_id", "cos_milli")


# ---------------------------------------------------------------------------
# Video shot-boundary detection (round 9b)
# ---------------------------------------------------------------------------

_SHOT_T = 32  # frames per clip
_SHOT_SCENE = 8  # nominal scene length
_SHOT_THR = 32  # |luma delta| cut threshold (> max intra-scene noise 15)


@query(
    "q_video_shot_detect",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, CAST(t AS BIGINT) AS t,
               CAST(concat('0x', substring(md5(concat(
                        CAST(doc_id AS VARCHAR), ':',
                        CAST(t // {_SHOT_SCENE} AS VARCHAR))), 1, 6))
                    AS BIGINT) % 200
             + CAST(concat('0x', substring(md5(concat(
                        CAST(doc_id AS VARCHAR), '#',
                        CAST(t AS VARCHAR))), 1, 6))
                    AS BIGINT) % 16 AS luma
        FROM documents, (SELECT unnest(range(0, {_SHOT_T})) AS t)
    ),
    d AS (
        SELECT doc_id, t, luma,
               CASE WHEN t > 0
                     AND abs(luma - lag(luma) OVER w) > {_SHOT_THR}
                    THEN 1 ELSE 0 END AS cut
        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY t)
    ),
    sh AS (
        SELECT doc_id, t, luma, cut,
               sum(cut) OVER (PARTITION BY doc_id ORDER BY t) AS shot_id
        FROM d
    ),
    seg AS (
        SELECT doc_id, shot_id, count(*) AS slen FROM sh GROUP BY 1, 2
    ),
    agg1 AS (
        SELECT doc_id,
               CAST(sum(cut) + 1 AS BIGINT) AS n_shots,
               CAST(coalesce(min(CASE WHEN cut = 1 THEN t END), -1)
                    AS BIGINT) AS first_cut,
               CAST(sum(luma) AS BIGINT) AS luma_mass
        FROM d GROUP BY 1
    ),
    agg2 AS (
        SELECT doc_id, CAST(max(slen) AS BIGINT) AS longest_shot
        FROM seg GROUP BY 1
    )
    SELECT a.doc_id, a.n_shots, a.first_cut, g.longest_shot, a.luma_mass
    FROM agg1 a JOIN agg2 g USING (doc_id)
    """,
)
def q_video_shot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO SHOT-BOUNDARY DETECTION over synthetic per-document clips —
    the frame-diff segmentation a multimodal curation pipeline runs to
    split videos into shots before per-shot sampling/captioning (the
    temporal sibling of q_multimodal_frames' spatial slicing).  Each
    doc gets a 32-frame luma track from the md5 device: a
    piecewise-constant scene base (%200, scenes of 8 frames) plus
    bounded noise (%16), so cuts fire at scene seams iff the bases
    differ by > 32 (noise alone, <=15, can never trigger) — detector
    hits AND misses are both deterministic and hash-gated.  Per clip:
    shot count, first cut, longest shot, luma mass.

    Scale contrast (documented on purpose): the Spark side is pure
    array-HOF codegen — transform/filter over the frame sequence, the
    gaps-and-islands segmentation done with one array of cut positions
    — ZERO shuffles and zero Python; a real decoder swaps the md5 luma
    for a mapInPandas frame decode (operators/multimodal.py) and the
    segmentation stays identical.  The oracle replays it relationally
    (explode + window + running-sum islands), pinning the HOF
    formulation against the classical one."""
    docs = load(spark, sf_dir, "documents")
    luma = (
        f"CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', "
        f"CAST(t div {_SHOT_SCENE} AS STRING))), 1, 6), 16, 10) AS BIGINT)"
        f" % 200"
        f" + CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '#', "
        f"CAST(t AS STRING))), 1, 6), 16, 10) AS BIGINT) % 16"
    )
    d = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, {_SHOT_T - 1}), t -> {luma})"
        ).alias("lumas"),
    )
    d = d.withColumn(
        "cuts",
        F.expr(
            f"filter(transform(sequence(1, {_SHOT_T - 1}), "
            f"t -> IF(abs(element_at(lumas, t + 1) - element_at(lumas, t))"
            f" > {_SHOT_THR}, CAST(t AS BIGINT), CAST(NULL AS BIGINT))), "
            "x -> x IS NOT NULL)"
        ),
    ).withColumn(
        "bounds",
        F.expr(
            f"concat(array(CAST(0 AS BIGINT)), cuts, "
            f"array(CAST({_SHOT_T} AS BIGINT)))"
        ),
    )
    return d.select(
        "doc_id",
        (F.size("cuts") + 1).cast("long").alias("n_shots"),
        F.expr(
            "IF(size(cuts) = 0, CAST(-1 AS BIGINT), element_at(cuts, 1))"
        ).alias("first_cut"),
        F.expr(
            "array_max(transform(sequence(1, size(bounds) - 1), "
            "i -> element_at(bounds, i + 1) - element_at(bounds, i)))"
        )
        .cast("long")
        .alias("longest_shot"),
        F.expr(
            "aggregate(lumas, CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("luma_mass"),
    )


# ---------------------------------------------------------------------------
# Grid DBSCAN over embedding space (round 9b)
# ---------------------------------------------------------------------------

_DB_G = 40  # cell width, milli units
_DB_MINPTS = 6  # core-cell density floor
_DB_ROUNDS = 16  # label-prop unroll cap (test-pinned >= measured depth)


def _dbscan_oracle(
    g: int = _DB_G, mp: int = _DB_MINPTS, rounds: int = _DB_ROUNDS
) -> str:
    """Parameterized (cell width g, density floor mp) so
    scripts/fuzz_dbscan.py can sweep the knob space against the REAL
    dataflow (the fuzz_ttl pattern).  ``rounds`` sets the unroll depth:
    the registered query keeps 16 (committed hash evidence); the fuzz
    sweep passes 40 because fine-grid / low-floor knobs build deeper
    components than round 9 anticipated (g=15, mp=1 measured 19 —
    see operators/graph.grid_components' honest-complexity note)."""
    lin = "(cx + 32768) * 65536 + (cy + 32768)"
    parts = [
        f"""WITH pts AS (
        SELECT vec_id,
               CAST(floor(embedding[1] * 1000.0 + 0.5) AS BIGINT) AS x,
               CAST(floor(embedding[2] * 1000.0 + 0.5) AS BIGINT) AS y
        FROM embeddings
    ),
    pc AS (
        SELECT vec_id,
               (x - ((x % {g}) + {g}) % {g}) // {g} AS cx,
               (y - ((y % {g}) + {g}) % {g}) // {g} AS cy
        FROM pts
    ),
    cells AS (
        SELECT cx, cy, CAST(count(*) AS BIGINT) AS n
        FROM pc GROUP BY 1, 2
    ),
    core AS (SELECT cx, cy FROM cells WHERE n >= {mp}),
    l_0 AS (SELECT cx, cy, {lin} AS lab FROM core)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""l_{k} AS MATERIALIZED (
        SELECT c.cx, c.cy, least(min(p.lab), min(p2.lab)) AS lab
        FROM core c
        JOIN l_{k - 1} p ON p.cx BETWEEN c.cx - 1 AND c.cx + 1
                        AND p.cy BETWEEN c.cy - 1 AND c.cy + 1
        JOIN l_{k - 1} p1 ON p1.cx = c.cx AND p1.cy = c.cy
        JOIN l_{k - 1} p2 ON p2.cx = p1.lab // 65536 - 32768
                         AND p2.cy = p1.lab % 65536 - 32768
        GROUP BY 1, 2
    )"""
        )
    parts.append(
        f"""SELECT pc.vec_id,
           CAST(coalesce(
               (SELECT min(l.lab) FROM l_{rounds} l
                WHERE l.cx BETWEEN pc.cx - 1 AND pc.cx + 1
                  AND l.cy BETWEEN pc.cy - 1 AND pc.cy + 1),
               -1) AS BIGINT) AS cluster,
           CAST(co.cx IS NOT NULL AS BIGINT) AS is_core
    FROM pc
    LEFT JOIN core co ON co.cx = pc.cx AND co.cy = pc.cy"""
    )
    return ",\n    ".join(parts[:-1]) + "\n    " + parts[-1]


@query("q_dbscan_grid", oracle=_dbscan_oracle())
def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID DBSCAN over embedding space (Ester et al. 1996 by way of
    the cell-grid approximation GriDBSCAN/NG-DBSCAN use at scale):
    points land in 40-milli cells on the first two embedding dims, a
    cell with >= 6 points is CORE, clusters are 8-neighborhood
    connected components of core cells (min-cell-id labels), border
    points in non-core cells adopt the smallest adjacent core label,
    everything else is noise (-1) — the density-based cluster audit a
    SemDeDup-style pipeline runs where k-means (q_kcenter_seed) would
    force spherical clusters and a global k.

    Engine-exactness: milli quantization then an explicit floored
    division ((x - pmod(x,G)) / G spelled identically in both engines.
    Round-10 correction to this note: BOTH Spark's `div` and DuckDB's
    `//` truncate toward zero on negatives (measured: -7//2 = -3 in
    DuckDB) — the engines agree, but FLOOR semantics on negative
    coordinates still require the explicit pmod spelling used here,
    and q_kmeans_lloyd's centroid mean deliberately uses the agreeing
    raw truncating division); labels are linearized cell ids; the
    component search is synchronous min-label propagation WITH
    SHORTCUTTING (operators/graph.py grid_components: min over
    neighborhood labels AND the label of the current label's cell) —
    plain neighbor-prop measured NON-convergent at 16 rounds on the
    ×10 replica grid.  Round 10's honest-complexity correction: depth
    is between log(d) and d, NOT "O(log d) past 2^16" as round 9
    claimed (the widened knob fuzz measured 19 rounds at g=15/mp=1;
    grid_components' docstring has the analysis).  This query's g=40
    grid is embedding-domain-bounded (≤66×66 cells), its measured
    depth is pinned ≤ 16 by tests, and the cap fails LOUDLY — the
    right valve; the fuzz sweep runs both engines at 40 rounds for
    the deep fine-grid knobs.  The oracle unrolls all 16 (idempotent
    after convergence, the q_label_prop device).

    Scale: the fact-scale work is ONE (cell) count aggregate; all
    component iterations run on the CELL table (bounded by occupied
    grid cells, corpus-sublinear), and the final assignment is a
    9-offset broadcast join of points to cell labels."""
    return _dbscan_replay(spark, sf_dir)


def _dbscan_replay(
    spark: SparkSession,
    sf_dir: str,
    g: int = _DB_G,
    mp: int = _DB_MINPTS,
    max_rounds: int = _DB_ROUNDS,
) -> DataFrame:
    """The q_dbscan_grid dataflow with the knobs exposed — the
    registered query pins the declared literals; scripts/fuzz_dbscan.py
    replays the REAL pipeline across (g, mp) space."""
    vecs = load(spark, sf_dir, "embeddings")
    pts = vecs.select(
        "vec_id",
        F.expr(
            "CAST(floor(element_at(embedding, 1) * 1000.0 + 0.5) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(element_at(embedding, 2) * 1000.0 + 0.5) AS BIGINT)"
        ).alias("y"),
    )
    pc = pts.select(
        "vec_id",
        F.expr(f"(x - ((x % {g}) + {g}) % {g}) div {g}").alias("cx"),
        F.expr(f"(y - ((y % {g}) + {g}) % {g}) div {g}").alias("cy"),
    )
    cells = pc.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    core = cells.where(F.col("n") >= mp).select("cx", "cy")
    from ..operators.graph import grid_components

    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long",
    )
    lab, _rounds = grid_components(core, max_rounds=max_rounds)
    assign = (
        pc.crossJoin(F.broadcast(offsets))
        .select(
            "vec_id",
            "cx",
            "cy",
            (F.col("cx") + F.col("dx")).alias("nx"),
            (F.col("cy") + F.col("dy")).alias("ny"),
        )
        .join(
            lab.select(
                F.col("cx").alias("nx"),
                F.col("cy").alias("ny"),
                "lab",
            ),
            ["nx", "ny"],
            "left",
        )
        .groupBy("vec_id", "cx", "cy")
        .agg(F.min("lab").alias("cluster0"))
    )
    return (
        assign.join(
            core.withColumn("is_core_flag", F.lit(1)), ["cx", "cy"], "left"
        )
        .select(
            "vec_id",
            F.coalesce(F.col("cluster0"), F.lit(-1))
            .cast("long")
            .alias("cluster"),
            F.coalesce(F.col("is_core_flag"), F.lit(0))
            .cast("long")
            .alias("is_core"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-bucketed spatial nearest-neighbor join (round 9b)
# ---------------------------------------------------------------------------

_SNN_R = 100  # search radius, milli units; also the grid cell width


@query(
    "q_spatial_nn_join",
    oracle=f"""
    WITH p AS (
        SELECT vec_id,
               CAST(floor(embedding[1] * 1000.0 + 0.5) AS BIGINT) AS x,
               CAST(floor(embedding[2] * 1000.0 + 0.5) AS BIGINT) AS y
        FROM embeddings
    ),
    pc AS (
        SELECT vec_id, x, y,
               (x - ((x % {_SNN_R}) + {_SNN_R}) % {_SNN_R})
                   // {_SNN_R} AS cx,
               (y - ((y % {_SNN_R}) + {_SNN_R}) % {_SNN_R})
                   // {_SNN_R} AS cy
        FROM p
    ),
    cand AS (
        SELECT a.vec_id AS pid, b.vec_id AS qid,
               (a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y) AS d2
        FROM pc a
        JOIN pc b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
                 AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
                 AND a.vec_id <> b.vec_id
        WHERE (a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) <= {_SNN_R * _SNN_R}
    ),
    best AS (
        SELECT pid, qid, d2,
               row_number() OVER (PARTITION BY pid ORDER BY d2, qid) AS rn
        FROM cand
    )
    SELECT pc.vec_id,
           CAST(coalesce(b.qid, -1) AS BIGINT) AS nn_id,
           CAST(coalesce(b.d2, -1) AS BIGINT) AS nn_dist2
    FROM pc LEFT JOIN best b ON b.pid = pc.vec_id AND b.rn = 1
    """,
)
def q_spatial_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRID-BUCKETED SPATIAL NEAREST-NEIGHBOR JOIN — each point's
    nearest other point within radius r on the 2-D milli-quantized
    embedding plane, or (-1, -1) if none: the radius-bounded NN join
    every spatial engine (GeoSpark/Sedona's JoinQuery, PostGIS
    `<->` + `ST_DWithin`) builds from the same two ideas used here:
    cell width = r, so ALL neighbors within r live in the 3×3 cell
    neighborhood (exactness by construction, no ring expansion), and
    candidates come from a cell equi-join — never point×point.
    Squared-distance in exact integer milli²; smallest-id tie-break.

    Scale: the candidate volume is Σ(cell size × its 3×3 mass) — the
    LSH-bucket shape, so DENSITY is the adversary, not row count: the
    ×10 probe stacks 10× points into the same plane and measures ~30×
    (10× rows × 10× neighbors each — inherent to radius search in
    densified data; at constant density, the real 100 TB regime of
    more area not more crowding, the op is row-linear).  Two valves
    (probe A/B in SCALE.md): the RADIUS is the density knob — r=30 at
    ×10 density runs 6.5 s vs 49.5 s at r=100, with 34/20k unmatched
    (denser data has closer neighbors, so a tighter radius answers the
    same product question) — and ``max_cell`` on ``_snn_replay`` is
    the emergency skew valve (lsh max_bucket pattern: degenerate cells
    leave the candidate build whole, their points report unmatched;
    2.0 s, but at uniformly extreme density it defers most of the
    corpus — a cap is for HOT SPOTS, not a wrong radius).  Both OFF
    here so the oracle is exact.  Per-point
    argmin is a pid-partitioned rank; unmatched restored by one LEFT
    join; the q_dbscan_grid floored-division device keeps negative
    coordinates engine-exact."""
    return _snn_replay(spark, sf_dir)


def _snn_replay(
    spark: SparkSession,
    sf_dir: str,
    r: int = _SNN_R,
    max_cell: int | None = None,
) -> DataFrame:
    """The q_spatial_nn_join dataflow with the knobs exposed (radius /
    cell width r, density guard max_cell) — the registered query pins
    (r=100, uncapped); the scale probe exercises the capped arm."""
    vecs = load(spark, sf_dir, "embeddings")
    p = vecs.select(
        "vec_id",
        F.expr(
            "CAST(floor(element_at(embedding, 1) * 1000.0 + 0.5) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(element_at(embedding, 2) * 1000.0 + 0.5) AS BIGINT)"
        ).alias("y"),
    )
    pc = p.select(
        "vec_id",
        "x",
        "y",
        F.expr(f"(x - ((x % {r}) + {r}) % {r}) div {r}").alias("cx"),
        F.expr(f"(y - ((y % {r}) + {r}) % {r}) div {r}").alias("cy"),
    )
    pc_all = pc
    if max_cell is not None:
        # degenerate-density cells drop out of the CANDIDATE build only;
        # their points stay in the output (reported unmatched, deferring
        # to a finer-grid pass) via the uncapped pc_all LEFT join below.
        sizes = pc.groupBy("cx", "cy").agg(
            F.count(F.lit(1)).alias("_cell_n")
        )
        pc = (
            pc.join(sizes, ["cx", "cy"])
            .where(F.col("_cell_n") <= max_cell)
            .drop("_cell_n")
        )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long",
    )
    probe = pc.crossJoin(F.broadcast(offsets)).select(
        F.col("vec_id").alias("pid"),
        F.col("x").alias("px"),
        F.col("y").alias("py"),
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
    )
    build = pc.select(
        F.col("vec_id").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        "cx",
        "cy",
    )
    d2 = (F.col("px") - F.col("qx")) * (F.col("px") - F.col("qx")) + (
        F.col("py") - F.col("qy")
    ) * (F.col("py") - F.col("qy"))
    cand = (
        probe.join(build, ["cx", "cy"])
        .where(F.col("pid") != F.col("qid"))
        .select("pid", "qid", d2.alias("d2"))
        .where(F.col("d2") <= r * r)
    )
    w = Window.partitionBy("pid").orderBy("d2", "qid")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("pid", "qid", "d2")
    )
    return pc_all.join(
        best, pc_all["vec_id"] == best["pid"], "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("qid"), F.lit(-1)).cast("long").alias("nn_id"),
        F.coalesce(F.col("d2"), F.lit(-1)).cast("long").alias("nn_dist2"),
    )


# ---------------------------------------------------------------------------
# Histogram equalization over the real PGM codec (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_image_histeq",
    oracle="""
    WITH d AS (
        SELECT doc_id, 9 + doc_id % 8 AS w, 6 + doc_id % 5 AS h
        FROM documents WHERE doc_id % 2 = 1
    ),
    pxl AS (
        SELECT doc_id, w, h,
               (doc_id * 73 + t.q * 151 + 11) % 256 AS v
        FROM d CROSS JOIN range(0, 160) t(q)
        WHERE t.q < w * h
    ),
    hist AS (
        SELECT doc_id, w, h, v, CAST(count(*) AS BIGINT) AS c
        FROM pxl GROUP BY 1, 2, 3, 4
    ),
    cdf AS (
        SELECT doc_id, w, h, v, c,
               sum(c) OVER (PARTITION BY doc_id ORDER BY v) AS cf,
               first_value(c) OVER (PARTITION BY doc_id ORDER BY v)
                   AS cmin
        FROM hist
    ),
    m AS (
        SELECT doc_id, w, h, v, c,
               CASE WHEN w * h = cmin THEN 0
                    ELSE ((cf - cmin) * 255) // (w * h - cmin) END AS v2
        FROM cdf
    )
    SELECT doc_id,
           CAST(max(w) AS BIGINT) AS width,
           CAST(max(h) AS BIGINT) AS height,
           CAST(2 + 1 + length(CAST(max(w) AS VARCHAR)) + 1
                + length(CAST(max(h) AS VARCHAR)) + 1 + 3 + 1
                + max(w) * max(h) AS BIGINT) AS out_bytes,
           CAST(sum(v * c) AS BIGINT) AS sum_before,
           CAST(sum(v2 * c) AS BIGINT) AS sum_after,
           CAST(count(*) AS BIGINT) AS ndv_before,
           CAST(count(DISTINCT v2) AS BIGINT) AS ndv_after
    FROM m GROUP BY doc_id
    """,
)
def q_image_histeq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM EQUALIZATION over the real PGM codec path (decode →
    transform → re-encode — the contrast-normalization pass an image
    curation pipeline runs before perceptual hashing, and the first
    actual IMAGE TRANSFORM beside q_image_resize's resampling): the
    classic integer mapping v' = (cdf(v) − cdf_min)·255 div
    (npix − cdf_min), computed per image in numpy inside mapInPandas
    on REAL P5 bytes (decode_pgm → equalize → encode_pgm, roundtrip-
    asserted), with the oracle replaying the closed-form pixel stream
    relationally (histogram → windowed cumsum → floor mapping).  The
    audit pins dims, the re-encoded FILE SIZE (header grammar + pixel
    count), pre/post pixel mass, and pre/post distinct-value counts —
    equalization must keep ndv (the mapping is monotone injective on
    occupied bins) while stretching the range.

    Scale: Arrow-batched per-row work, zero shuffles (plan-pinned
    posture of the codec family); the oracle side is the only place a
    histogram materializes."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import (
        decode_pgm,
        encode_pgm,
        synthetic_media,
    )

    docs = load(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 1
    )
    media = synthetic_media(docs)

    def histeq(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_pgm(bytes(payload))
                h, w = px.shape
                flat = px.astype(np.int64).ravel()
                vals, counts = np.unique(flat, return_counts=True)
                cf = np.cumsum(counts)
                cmin = int(cf[0])
                npix = int(w * h)
                if npix == cmin:
                    mapped = {int(v): 0 for v in vals}
                else:
                    mapped = {
                        int(v): int((int(c) - cmin) * 255 // (npix - cmin))
                        for v, c in zip(vals, cf)
                    }
                eq = np.vectorize(mapped.get)(flat).astype(np.uint8)
                out = encode_pgm(eq.reshape(h, w))
                back = decode_pgm(out)
                assert (back == eq.reshape(h, w)).all()
                rows.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        len(out),
                        int(flat.sum()),
                        int(eq.astype(np.int64).sum()),
                        len(vals),
                        len(set(mapped.values())),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "width",
                    "height",
                    "out_bytes",
                    "sum_before",
                    "sum_after",
                    "ndv_before",
                    "ndv_after",
                ],
            )

    return media.mapInPandas(
        histeq,
        "doc_id long, width long, height long, out_bytes long,"
        " sum_before long, sum_after long, ndv_before long,"
        " ndv_after long",
    )


@query(
    "q_image_quadtree",
    oracle="""
    WITH d AS (
        SELECT doc_id, 9 + doc_id % 8 AS w, 6 + doc_id % 5 AS h
        FROM documents WHERE doc_id % 2 = 1
    ),
    pxl AS (
        SELECT doc_id, w, h, t.q // w AS r, t.q % w AS c,
               (doc_id * 73 + t.q * 151 + 11) % 256 AS v
        FROM d CROSS JOIN range(0, 160) t(q)
        WHERE t.q < w * h
    ),
    sub AS (
        SELECT doc_id, w, h,
               (4 * r) // h AS r2, (4 * c) // w AS c2,
               CAST(max(v) - min(v) AS BIGINT) AS spread2
        FROM pxl GROUP BY 1, 2, 3, 4, 5
    ),
    q1 AS (
        SELECT doc_id, w, h,
               (2 * r) // h AS br, (2 * c) // w AS bc,
               CAST(max(v) - min(v) AS BIGINT) AS spread1
        FROM pxl GROUP BY 1, 2, 3, 4, 5
    ),
    l2 AS (
        SELECT s.doc_id,
               CAST(sum(CASE WHEN q1.spread1 > 64 AND s.spread2 <= 64
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_leaf2_flat,
               CAST(sum(CASE WHEN q1.spread1 > 64 AND s.spread2 > 64
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_leaf2_dense
        FROM sub s JOIN q1 ON q1.doc_id = s.doc_id
                          AND q1.br = s.r2 // 2 AND q1.bc = s.c2 // 2
        GROUP BY 1
    ),
    l1 AS (
        SELECT doc_id, CAST(max(w) AS BIGINT) AS width,
               CAST(max(h) AS BIGINT) AS height,
               CAST(sum(CASE WHEN spread1 > 64 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_split1,
               CAST(sum(CASE WHEN spread1 <= 64 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leaf1,
               CAST(sum(spread1) AS BIGINT) AS sum_spread1
        FROM q1 GROUP BY 1
    )
    SELECT l1.doc_id, l1.width, l1.height, l1.n_split1, l1.n_leaf1,
           l2.n_leaf2_flat, l2.n_leaf2_dense, l1.sum_spread1,
           CAST(l1.n_leaf1 + l2.n_leaf2_flat + l2.n_leaf2_dense
                AS BIGINT) AS total_leaves
    FROM l1 JOIN l2 USING (doc_id)
    """,
)
def q_image_quadtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPTH-2 QUADTREE DECOMPOSITION (Finkel & Bentley 1974; the
    spatial-variance analysis behind adaptive image coding) over the
    real PGM codec path: split each image into 2×2 quadrants, split any
    quadrant whose pixel spread (max−min) exceeds 64 into its 2×2
    sub-quadrants, and report the leaf census — the flat/dense block
    profile a perceptual codec or tile-pruning scan reads.  Exact
    nesting on ODD dimensions uses the floor identity
    (4r div h) div 2 = (2r div h), so the level-2 grid tiles the
    level-1 quadrants EXACTLY in both engines — all integer, full hash
    gate.

    Spark side decodes REAL P5 bytes (decode_pgm inside mapInPandas —
    the q_image_histeq posture: Arrow-batched per-row work, zero
    shuffles); the oracle replays the closed-form pixel stream
    relationally (two grid GROUP BYs + one parent equi-join).

    Scale: per-row codec work, embarrassingly parallel; block census
    is O(pixels) per image with numpy reductions."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import decode_pgm, synthetic_media

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 1)
    media = synthetic_media(docs)

    def quadtree(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_pgm(bytes(payload)).astype(np.int64)
                h, w = px.shape
                r = np.arange(h)[:, None]
                c = np.arange(w)[None, :]
                br, bc = (2 * r) // h, (2 * c) // w
                r2, c2 = (4 * r) // h, (4 * c) // w
                n_split1 = n_leaf1 = 0
                sum_spread1 = 0
                n_l2f = n_l2d = 0
                for qr in range(2):
                    for qc in range(2):
                        m1 = np.broadcast_to(
                            (br == qr) & (bc == qc), px.shape
                        )
                        s1 = int(px[m1].max() - px[m1].min())
                        sum_spread1 += s1
                        if s1 > 64:
                            n_split1 += 1
                            for sr in (2 * qr, 2 * qr + 1):
                                for scc in (2 * qc, 2 * qc + 1):
                                    m2 = (r2 == sr) & (c2 == scc)
                                    blk = px[np.broadcast_to(m2, px.shape)]
                                    s2 = int(blk.max() - blk.min())
                                    if s2 <= 64:
                                        n_l2f += 1
                                    else:
                                        n_l2d += 1
                        else:
                            n_leaf1 += 1
                rows.append(
                    (
                        int(doc_id), w, h, n_split1, n_leaf1,
                        n_l2f, n_l2d, sum_spread1,
                        n_leaf1 + n_l2f + n_l2d,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_split1", "n_leaf1",
                    "n_leaf2_flat", "n_leaf2_dense", "sum_spread1",
                    "total_leaves",
                ],
            )

    return media.mapInPandas(
        quadtree,
        "doc_id long, width long, height long, n_split1 long,"
        " n_leaf1 long, n_leaf2_flat long, n_leaf2_dense long,"
        " sum_spread1 long, total_leaves long",
    )


_PERC_ORACLE = """
    WITH
    f AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               1 AS x0,
               least(len(string_split(text, ' ')) // 10, 20) AS x1,
               least(n_chars // greatest(len(string_split(text, ' ')), 1),
                     20) AS x2,
               least((length(text) - length(replace(text, ' the ', '')))
                     // 5, 10) AS x3,
               least(n_chars // 200, 20) AS x4
        FROM documents
    ),
    w0 AS (SELECT 0 AS r, CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3, CAST(0 AS BIGINT) AS w4),
    w1 AS (
        SELECT 1 AS r,
               CAST(sum(CASE WHEN mis THEN y * x0 ELSE 0 END) + max(pw0)
                    AS BIGINT) AS w0,
               CAST(sum(CASE WHEN mis THEN y * x1 ELSE 0 END) + max(pw1)
                    AS BIGINT) AS w1,
               CAST(sum(CASE WHEN mis THEN y * x2 ELSE 0 END) + max(pw2)
                    AS BIGINT) AS w2,
               CAST(sum(CASE WHEN mis THEN y * x3 ELSE 0 END) + max(pw3)
                    AS BIGINT) AS w3,
               CAST(sum(CASE WHEN mis THEN y * x4 ELSE 0 END) + max(pw4)
                    AS BIGINT) AS w4,
               CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
                   AS mistakes
        FROM (
            SELECT f.*, p.w0 AS pw0, p.w1 AS pw1, p.w2 AS pw2,
                   p.w3 AS pw3, p.w4 AS pw4,
                   y * (p.w0*x0 + p.w1*x1 + p.w2*x2 + p.w3*x3 + p.w4*x4)
                       <= 0 AS mis
            FROM f CROSS JOIN w0 p
        )
    ),
    w2 AS (
        SELECT 2 AS r,
               CAST(sum(CASE WHEN mis THEN y * x0 ELSE 0 END) + max(pw0)
                    AS BIGINT) AS w0,
               CAST(sum(CASE WHEN mis THEN y * x1 ELSE 0 END) + max(pw1)
                    AS BIGINT) AS w1,
               CAST(sum(CASE WHEN mis THEN y * x2 ELSE 0 END) + max(pw2)
                    AS BIGINT) AS w2,
               CAST(sum(CASE WHEN mis THEN y * x3 ELSE 0 END) + max(pw3)
                    AS BIGINT) AS w3,
               CAST(sum(CASE WHEN mis THEN y * x4 ELSE 0 END) + max(pw4)
                    AS BIGINT) AS w4,
               CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
                   AS mistakes
        FROM (
            SELECT f.*, p.w0 AS pw0, p.w1 AS pw1, p.w2 AS pw2,
                   p.w3 AS pw3, p.w4 AS pw4,
                   y * (p.w0*x0 + p.w1*x1 + p.w2*x2 + p.w3*x3 + p.w4*x4)
                       <= 0 AS mis
            FROM f CROSS JOIN w1 p
        )
    ),
    w3 AS (
        SELECT 3 AS r,
               CAST(sum(CASE WHEN mis THEN y * x0 ELSE 0 END) + max(pw0)
                    AS BIGINT) AS w0,
               CAST(sum(CASE WHEN mis THEN y * x1 ELSE 0 END) + max(pw1)
                    AS BIGINT) AS w1,
               CAST(sum(CASE WHEN mis THEN y * x2 ELSE 0 END) + max(pw2)
                    AS BIGINT) AS w2,
               CAST(sum(CASE WHEN mis THEN y * x3 ELSE 0 END) + max(pw3)
                    AS BIGINT) AS w3,
               CAST(sum(CASE WHEN mis THEN y * x4 ELSE 0 END) + max(pw4)
                    AS BIGINT) AS w4,
               CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
                   AS mistakes
        FROM (
            SELECT f.*, p.w0 AS pw0, p.w1 AS pw1, p.w2 AS pw2,
                   p.w3 AS pw3, p.w4 AS pw4,
                   y * (p.w0*x0 + p.w1*x1 + p.w2*x2 + p.w3*x3 + p.w4*x4)
                       <= 0 AS mis
            FROM f CROSS JOIN w2 p
        )
    ),
    w4 AS (
        SELECT 4 AS r,
               CAST(sum(CASE WHEN mis THEN y * x0 ELSE 0 END) + max(pw0)
                    AS BIGINT) AS w0,
               CAST(sum(CASE WHEN mis THEN y * x1 ELSE 0 END) + max(pw1)
                    AS BIGINT) AS w1,
               CAST(sum(CASE WHEN mis THEN y * x2 ELSE 0 END) + max(pw2)
                    AS BIGINT) AS w2,
               CAST(sum(CASE WHEN mis THEN y * x3 ELSE 0 END) + max(pw3)
                    AS BIGINT) AS w3,
               CAST(sum(CASE WHEN mis THEN y * x4 ELSE 0 END) + max(pw4)
                    AS BIGINT) AS w4,
               CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
                   AS mistakes
        FROM (
            SELECT f.*, p.w0 AS pw0, p.w1 AS pw1, p.w2 AS pw2,
                   p.w3 AS pw3, p.w4 AS pw4,
                   y * (p.w0*x0 + p.w1*x1 + p.w2*x2 + p.w3*x3 + p.w4*x4)
                       <= 0 AS mis
            FROM f CROSS JOIN w3 p
        )
    ),
    w5 AS (
        SELECT 5 AS r,
               CAST(sum(CASE WHEN mis THEN y * x0 ELSE 0 END) + max(pw0)
                    AS BIGINT) AS w0,
               CAST(sum(CASE WHEN mis THEN y * x1 ELSE 0 END) + max(pw1)
                    AS BIGINT) AS w1,
               CAST(sum(CASE WHEN mis THEN y * x2 ELSE 0 END) + max(pw2)
                    AS BIGINT) AS w2,
               CAST(sum(CASE WHEN mis THEN y * x3 ELSE 0 END) + max(pw3)
                    AS BIGINT) AS w3,
               CAST(sum(CASE WHEN mis THEN y * x4 ELSE 0 END) + max(pw4)
                    AS BIGINT) AS w4,
               CAST(sum(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT)
                   AS mistakes
        FROM (
            SELECT f.*, p.w0 AS pw0, p.w1 AS pw1, p.w2 AS pw2,
                   p.w3 AS pw3, p.w4 AS pw4,
                   y * (p.w0*x0 + p.w1*x1 + p.w2*x2 + p.w3*x3 + p.w4*x4)
                       <= 0 AS mis
            FROM f CROSS JOIN w4 p
        )
    )
    SELECT r, mistakes, w0, w1, w2, w3, w4 FROM w1
    UNION ALL
    SELECT r, mistakes, w0, w1, w2, w3, w4 FROM w2
    UNION ALL
    SELECT r, mistakes, w0, w1, w2, w3, w4 FROM w3
    UNION ALL
    SELECT r, mistakes, w0, w1, w2, w3, w4 FROM w4
    UNION ALL
    SELECT r, mistakes, w0, w1, w2, w3, w4 FROM w5
"""


@query("q_perceptron_rounds", oracle=_PERC_ORACLE)
def q_perceptron_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH PERCEPTRON, 5 unrolled rounds (Rosenblatt 1958; the batch
    variant sums the update over ALL currently-misclassified rows per
    round, so the result is ORDER-FREE — the property that makes an
    online-sequential algorithm exactly reproducible on a distributed
    engine): predict lang='en' (+1/-1) from five capped integer text
    features (bias, token count, mean token length, ' the ' hits,
    char-length bucket).  Integer weights forever — no learning rate,
    no floats — so every round's weight vector and mistake count is
    hash-gated; the oracle unrolls the 5 rounds as scalar CTEs (the
    q_dtw_band device).

    Scale: each round is ONE map-side-combinable aggregate over the
    feature table (broadcast 1-row weights in, 1-row weights out — the
    q_kmeans_lloyd k-round-collect class, documented bounded collect);
    rounds are inherently sequential, wall-clock = rounds x job
    latency at any corpus size."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    f = docs.select(
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.lit(1).alias("x0"),
        F.least(F.expr("size(split(text, ' ')) div 10"), F.lit(20))
        .cast("long")
        .alias("x1"),
        F.least(
            F.expr(
                "n_chars div greatest(size(split(text, ' ')), 1)"
            ),
            F.lit(20),
        )
        .cast("long")
        .alias("x2"),
        F.least(
            F.expr(
                "(length(text) - length(replace(text, ' the ', ''))) div 5"
            ),
            F.lit(10),
        )
        .cast("long")
        .alias("x3"),
        F.least(F.expr("n_chars div 200"), F.lit(20))
        .cast("long")
        .alias("x4"),
    )
    # 5 rounds re-scan the features; lazy — round 1's agg collect
    # materializes it (optimization round 12)
    f = f.localCheckpoint(eager=False)
    w = [0, 0, 0, 0, 0]
    out_rows = []
    for rnd in range(1, 6):
        margin = F.col("y") * sum(
            F.lit(int(w[i])) * F.col(f"x{i}") for i in range(5)
        )
        mis = margin <= 0
        agg = f.agg(
            *[
                F.sum(F.when(mis, F.col("y") * F.col(f"x{i}"))
                      .otherwise(0)).cast("long").alias(f"d{i}")
                for i in range(5)
            ],
            F.sum(F.when(mis, 1).otherwise(0)).cast("long").alias("m"),
        )
        [row] = agg.collect()  # 1-row scalar collect (k-round class)
        w = [w[i] + int(row[f"d{i}"]) for i in range(5)]
        out_rows.append((rnd, int(row["m"]), *w))
    return spark.createDataFrame(
        out_rows,
        "r int, mistakes long, w0 long, w1 long, w2 long, w3 long, w4 long",
    )


@query(
    "q_ppjoin",
    oracle=_SHINGLE_CTE
    + """,
    tk AS (SELECT DISTINCT doc_id, shingle AS tok FROM sh),
    sz AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tk GROUP BY 1
    ),
    df AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1
    ),
    rk AS (
        SELECT t.doc_id, t.tok, s.sz,
               row_number() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df, t.tok) AS rn
        FROM tk t JOIN df d ON d.tok = t.tok JOIN sz s ON s.doc_id = t.doc_id
    ),
    pre AS (
        SELECT doc_id, tok FROM rk
        WHERE rn <= sz - (4 * sz + 4) // 5 + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
        FROM cand c
        JOIN tk ta ON ta.doc_id = c.doc_a
        JOIN tk tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.inter,
           sa.sz AS size_a, sb.sz AS size_b,
           (1000 * i.inter) // (sa.sz + sb.sz - i.inter) AS jacc_milli
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    WHERE (1000 * i.inter) // (sa.sz + sb.sz - i.inter) >= 800
    """,
)
def q_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED EXACT set-similarity join at Jaccard >= 4/5
    over distinct 3-token shingle sets (Chaudhuri et al. ICDE 2006;
    Xiao et al. WWW 2008 "PPJoin" — the deterministic counterpart to
    minhash-LSH candidate generation): order each document's shingles
    rarest-first (global df, then shingle), keep only the first
    |d| - ceil(0.8|d|) + 1 as its PREFIX (ceil(0.8 s) = (4s+4) div 5,
    exact rational), and generate candidates from shared PREFIX
    shingles only — the prefix-filter theorem guarantees every pair
    with J >= t shares at least one prefix shingle, so unlike LSH this
    candidate set has RECALL EXACTLY 1 by construction, while the
    rarest-first ordering keeps prefix buckets small (frequent
    shingles never generate candidates).  Survivors verify with exact
    intersection counts; emits (pair, intersection, sizes, floor-milli
    Jaccard).  Shingle sets, not word sets, deliberately: this
    corpus's templated vocabulary puts ~74% of all pairs over
    word-set J = 1/2 (measured) — order-sensitive shingles restore the
    discriminative signal dedup actually thresholds on, and 25 pairs
    survive at 4/5 here.

    Scale: token df and doc sizes are map-side-combined aggregations;
    the prefix rank is a PER-DOC window (doc_id partitioning — never
    global); candidate generation joins on RARE tokens by construction
    (the filter's whole point — the frequent-token hot buckets that
    force q_ngram_jaccard's max_bucket guard never enter the join);
    verification touches candidate pairs only via two token-keyed
    equi-joins.  The LSH family screens at lower cost with recall < 1;
    this is the exact tool for contractual-recall dedup at the same
    shuffle-key discipline."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    tk = dedup.shingles(docs, n=3).select(
        "doc_id", F.col("shingle").alias("tok")
    )
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    dfreq = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    rk = (
        tk.join(dfreq, "tok")
        .join(sz, "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    pre = rk.where(
        F.expr("rn <= sz - (4 * sz + 4) div 5 + 1")
    ).select("doc_id", "tok")
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ta = tk.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = tk.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jacc_milli",
            F.expr("(1000 * inter) div (size_a + size_b - inter)"),
        )
        .where(F.col("jacc_milli") >= 800)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jacc_milli")
    )
