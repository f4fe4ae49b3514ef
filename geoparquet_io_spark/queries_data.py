"""Oracle-backed queries for the training-data operators (dedup /
similarity / text / multimodal / streaming-parity).

Imported by queries.py for registration.  The oracle SQL for
minhash/simhash/cosine is machine-generated so the hash-seed layout and
fold order match the Spark expressions exactly (md5-based hashing keeps
both engines bit-identical; folds start from the left so
0.0+v1+v2... == v1+v2...).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from geoparquet_io_spark.queries import register
from geoparquet_io_spark.testsupport.tables import load_table

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_TOKENS_SQL = "string_split_regex(trim({t}), '\\s+')"


@register(
    "text_token_count",
    f"""
    SELECT doc_id, len({_TOKENS_SQL.format(t='text')}) AS n_tokens
    FROM documents WHERE len(trim(text)) > 0
    """,
)
def q_token_count(spark, sf_dir):
    from geoparquet_io_spark.operators.text import token_count

    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return d.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


@register(
    "text_quality",
    f"""
    WITH f AS (
      SELECT doc_id,
             len(text) AS n_chars,
             len({_TOKENS_SQL.format(t='text')}) AS n_tokens,
             len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             len(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
             len(text) - len(regexp_replace(text, '[^\\w \\t\\n]', '', 'g')) AS punct,
             len(list_filter({_TOKENS_SQL.format(t='lower(text)')},
                 w -> list_contains(['the','and','of','to','a','in','is','it'], w))) AS sw
      FROM documents WHERE len(trim(text)) > 0
    )
    SELECT doc_id,
           ROUND(alpha / greatest(n_chars, 1), 6) AS alpha_ratio,
           ROUND(sw / greatest(n_tokens, 1), 6) AS stopword_ratio,
           ROUND(0.4 * (alpha / greatest(n_chars, 1))
               + 0.3 * least(sw / greatest(n_tokens, 1) * 4, 1.0)
               + 0.2 * (1.0 - least((punct / greatest(n_chars, 1)) * 5, 1.0))
               + 0.1 * (1.0 - least((digits / greatest(n_chars, 1)) * 5, 1.0)), 6) AS quality_score
    FROM f
    """,
)
def q_quality(spark, sf_dir):
    from geoparquet_io_spark.operators.text import quality_features

    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    out = quality_features(d)
    return out.select(
        "doc_id",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def _langid_oracle() -> str:
    from geoparquet_io_spark.operators.text import LANG_STOPWORDS

    toks = _TOKENS_SQL.format(t="lower(text)")
    scores = []
    for lang, sws in sorted(LANG_STOPWORDS.items()):
        lst = "[" + ",".join(f"'{w}'" for w in sws) + "]"
        scores.append(f"len(list_filter({toks}, w -> list_contains({lst}, w))) AS s_{lang}")
    langs = sorted(LANG_STOPWORDS)
    # alphabetically-first language wins ties; zero hits anywhere -> 'und'
    # (mirrors operators/text.py:language_id's score > 0 gate)
    case = "CASE "
    for i, lang in enumerate(langs):
        conds = " AND ".join(
            [f"s_{lang} > 0"]
            + [f"s_{lang} >= s_{other}" for other in langs[i + 1:]])
        case += f"WHEN {conds} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    WITH s AS (SELECT doc_id, {', '.join(scores)} FROM documents)
    SELECT doc_id, {case} AS lang_pred FROM s
    """


@register("text_langid", _langid_oracle())
def q_langid(spark, sf_dir):
    from geoparquet_io_spark.operators.text import language_id

    d = load_table(spark, sf_dir, "documents")
    return language_id(d).select("doc_id", "lang_pred")


@register(
    "dedup_exact_fingerprint",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           MIN(doc_id) AS survivor, COUNT(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def q_fingerprint_groups(spark, sf_dir):
    from geoparquet_io_spark.operators.dedup import duplicate_groups
    from geoparquet_io_spark.operators.text import fingerprint

    d = fingerprint(load_table(spark, sf_dir, "documents"))
    return duplicate_groups(d, ["fingerprint"], "doc_id")


@register(
    "text_repetition",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
      WHERE len(trim(text)) > 0
        AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 2
    ),
    tc AS (
      SELECT doc_id, term, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2
    ),
    ta AS (
      SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
             MAX(c) AS top_cnt
      FROM tc GROUP BY 1
    ),
    bc AS (
      SELECT doc_id, bigram, COUNT(*) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i + 1])) AS bigram
            FROM toks) GROUP BY 1, 2
    ),
    ba AS (SELECT doc_id, MAX(c) AS top_bigram_cnt FROM bc GROUP BY 1)
    SELECT ta.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           ROUND(n_distinct / n_tokens, 6) AS distinct_ratio,
           ROUND(top_cnt / n_tokens, 6) AS top_token_frac,
           ROUND(top_bigram_cnt / (n_tokens - 1), 6) AS top_bigram_frac
    FROM ta JOIN ba ON ta.doc_id = ba.doc_id
    """,
)
def q_repetition(spark, sf_dir):
    from geoparquet_io_spark.operators.text import repetition_features

    return repetition_features(load_table(spark, sf_dir, "documents"))


@register(
    "pack_greedy",
    """
    WITH RECURSIVE sized AS (
      SELECT lang, doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents WHERE len(trim(text)) > 0
    ),
    numbered AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM sized
    ),
    r AS (
      SELECT lang, rn, doc_id, n_tokens, n_tokens AS acc,
             CAST(0 AS BIGINT) AS pack_id
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.lang, n.rn, n.doc_id, n.n_tokens,
             CASE WHEN r.acc + n.n_tokens > 256 THEN n.n_tokens
                  ELSE r.acc + n.n_tokens END,
             CASE WHEN r.acc + n.n_tokens > 256 THEN r.pack_id + 1
                  ELSE r.pack_id END
      FROM numbered n JOIN r ON n.lang = r.lang AND n.rn = r.rn + 1
    )
    SELECT lang, doc_id, n_tokens, pack_id FROM r
    """,
)
def q_pack_greedy(spark, sf_dir):
    from geoparquet_io_spark.operators.packing import pack_sequences
    from geoparquet_io_spark.operators.text import token_count

    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    sized = d.select("lang", "doc_id",
                     token_count(F.col("text")).cast("long").alias("n_tokens"))
    return pack_sequences(sized, "lang", "doc_id", "n_tokens", 256)


_NGRAM3_SQL = "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"


@register(
    "text_contamination",
    f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    corpus AS (SELECT * FROM tok WHERE doc_id % 29 <> 0 AND len(t) >= 3),
    ev     AS (SELECT * FROM tok WHERE doc_id % 29 = 0 AND len(t) >= 3),
    cs AS (
      SELECT DISTINCT doc_id, md5(sh) AS h
      FROM (SELECT doc_id, unnest({_NGRAM3_SQL}) AS sh FROM corpus)
    ),
    es AS (
      SELECT DISTINCT md5(sh) AS h
      FROM (SELECT unnest({_NGRAM3_SQL}) AS sh FROM ev)
    ),
    agg AS (
      SELECT cs.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(es.h) AS BIGINT) AS hits
      FROM cs LEFT JOIN es ON cs.h = es.h
      GROUP BY 1
    )
    -- every corpus doc gets a row; unshingleable docs show n_shingles=0
    SELECT d.doc_id,
           COALESCE(a.n_shingles, 0) AS n_shingles,
           COALESCE(a.hits, 0) AS hits,
           ROUND(a.hits / a.n_shingles, 6) AS contamination_rate
    FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 29 <> 0) d
    LEFT JOIN agg a USING (doc_id)
    """,
)
def q_contamination(spark, sf_dir):
    from geoparquet_io_spark.operators.text import ngram_contamination

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 29 != 0)
    ev = d.filter(F.col("doc_id") % 29 == 0)
    return ngram_contamination(corpus, ev, n=3)


# ---------------------------------------------------------------------------
# minhash / simhash / jaccard
# ---------------------------------------------------------------------------

def _shingles_sql(text: str, k: int) -> str:
    return f"[substr({text}, i, {k}) FOR i IN range(1, greatest(len({text}) - {k - 1}, 0) + 1)]"


def _minhash_pairs_oracle(num_hashes: int = 8, bands: int = 4, k: int = 5,
                          max_bucket_size: int | None = None) -> str:
    """Models the operator's hot-bucket cap exactly: buckets at or
    under ``max_bucket_size`` (default: the operator's own
    DEFAULT_MAX_BUCKET_SIZE) emit all pairs; larger ones emit the
    sorted-id predecessor chain — so the oracle describes the query at
    EVERY scale factor, not just the ones whose buckets stay small."""
    from geoparquet_io_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE

    if max_bucket_size is None:
        max_bucket_size = DEFAULT_MAX_BUCKET_SIZE
    rows = num_hashes // bands
    mh = ", ".join(
        f"min(h1 + {i} * h2) AS mh{i}" for i in range(num_hashes)
    )
    band_cols = ", ".join(
        "md5(" + " || ',' || ".join(f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + f") AS band_{b}"
        for b in range(bands)
    )
    union = " UNION ALL ".join(
        f"SELECT {b} AS band, doc_id, band_{b} AS bh FROM banded" for b in range(bands)
    )
    return f"""
    WITH sh AS (SELECT doc_id, unnest({_shingles_sql('text', k)}) AS s
                FROM documents WHERE len(text) >= {k}),
    h AS (SELECT doc_id,
                 CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h1,
                 CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS h2
          FROM sh),
    sigs AS (SELECT doc_id, {mh} FROM h GROUP BY doc_id),
    banded AS (SELECT doc_id, {band_cols} FROM sigs),
    u AS ({union}),
    sized AS (SELECT band, bh, doc_id,
                     COUNT(*) OVER (PARTITION BY band, bh) AS n,
                     LAG(doc_id) OVER (PARTITION BY band, bh
                                       ORDER BY doc_id) AS prev
              FROM u),
    small_pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sized a JOIN sized b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      WHERE a.n <= {max_bucket_size}
    ),
    chain AS (
      SELECT prev AS id_a, doc_id AS id_b FROM sized
      WHERE n > {max_bucket_size} AND prev IS NOT NULL
    )
    SELECT DISTINCT id_a, id_b
    FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM chain)
    """


@register("dedup_minhash_pairs", _minhash_pairs_oracle(8, 2, 5))
def q_minhash_pairs(spark, sf_dir):
    from geoparquet_io_spark.operators.dedup import minhash_candidate_pairs

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    return minhash_candidate_pairs(d, "doc_id", "text", num_hashes=8, bands=2, k=5)


def _simhash_oracle(k: int = 5) -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN (hv >> {15 - bit}) % 2 = 1 THEN 1 ELSE -1 END) AS b{bit}"
        for bit in range(16)
    )
    total = " + ".join(
        f"(CASE WHEN b{bit} > 0 THEN {1 << (15 - bit)} ELSE 0 END)" for bit in range(16)
    )
    return f"""
    WITH sh AS (SELECT doc_id, unnest({_shingles_sql('text', k)}) AS s
                FROM documents WHERE len(text) >= {k}),
    h AS (SELECT doc_id, CAST(concat('0x', substr(md5(s), 1, 4)) AS BIGINT) AS hv FROM sh),
    sums AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM sums
    """


@register("dedup_simhash", _simhash_oracle())
def q_simhash(spark, sf_dir):
    from geoparquet_io_spark.operators.dedup import add_simhash

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    return add_simhash(d, id_column="doc_id").select("doc_id", "simhash")


@register(
    "dedup_simhash_survivors",
    f"""
    WITH sig AS ({_simhash_oracle()})
    SELECT a.doc_id FROM sig a
    WHERE NOT EXISTS (
      SELECT 1 FROM sig b
      WHERE b.doc_id < a.doc_id
        AND bit_count(xor(a.simhash, b.simhash)) <= 3)
    """,
)
def q_simhash_survivors(spark, sf_dir):
    """SimHash dedup survivors on the DISTINCT-SIGNATURE graph
    (operators/dedup.py:hamming_dedup_survivors — boilerplate masses
    collapse to one node; <= 65536 nodes for the 16-bit hash no matter
    the corpus size).  The oracle applies the survivor rule as a naive
    all-pairs NOT EXISTS, so a match proves the collapsed graph loses
    nothing."""
    from geoparquet_io_spark.operators.dedup import dedup_simhash

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    return dedup_simhash(d, "doc_id").select("doc_id")


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH d AS (SELECT doc_id, source,
                      list_distinct({_shingles_sql('text', 3)}) AS sh
               FROM documents WHERE doc_id % 7 = 0 AND len(text) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_filter(a.sh, s -> list_contains(b.sh, s))) AS DOUBLE)
                 / greatest(len(a.sh) + len(b.sh)
                            - len(list_filter(a.sh, s -> list_contains(b.sh, s))), 1),
                 6) AS jaccard
    FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    from geoparquet_io_spark.operators.dedup import jaccard_pairs

    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 7 == 0) & (F.length("text") >= 3)
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    pairs = a.join(b, (F.col("src_a") == F.col("src_b")) & (F.col("id_a") < F.col("id_b"))) \
             .select("id_a", "id_b")
    out = jaccard_pairs(d, "doc_id", pairs, "text", k=3)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_V64 = "[CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]"


def _dot_sql(a: str, b: str) -> str:
    return f"list_reduce([{a}[i] * {b}[i] FOR i IN range(1, 65)], (x, y) -> x + y)"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


@register(
    "similarity_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, {_V64} AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 97 = 0),
    s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                 ROUND({_cosine_sql('qv', 'v')}, 6) AS cosine
          FROM e, q WHERE e.vec_id != q.query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM s)
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM r WHERE rn <= 3
    """,
)
def q_topk(spark, sf_dir):
    from geoparquet_io_spark.operators.similarity import brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    return brute_force_topk(e, q, "vec_id", "embedding", k=3, round_digits=6,
                            dim=64)


def _near_dup_lsh_oracle() -> str:
    """LSH-bucketed near-dup oracle: the SAME deterministic hyperplanes the
    operator uses are embedded as SQL literals; candidates only meet inside
    a bucket (equi-join on the sign-bit string), so neither engine ever
    forms the all-pairs cross product."""
    from geoparquet_io_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, seed=42)
    lits = ["[" + ",".join(repr(x) for x in p) + "]" for p in planes]
    bits = " || ".join(
        f"(CASE WHEN {_dot_sql('v', l)} >= 0 THEN '1' ELSE '0' END)" for l in lits
    )
    return f"""
    WITH e AS (SELECT vec_id, {_V64} AS v FROM embeddings),
    hashed AS (SELECT vec_id, v, {bits} AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_cosine_sql('a.v', 'b.v')}, 6) AS cosine
    FROM hashed a JOIN hashed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_cosine_sql('a.v', 'b.v')} >= 0.3
    """


@register("embedding_near_dup", _near_dup_lsh_oracle())
def q_near_dup(spark, sf_dir):
    """Graded form is the LSH-bucketed operator (the 100 TB shape): the
    plan contains an equi-join on the bucket key, never a nested-loop
    cross product (asserted in tests/test_plans.py)."""
    from geoparquet_io_spark.operators.similarity import embedding_near_duplicates

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(e, id_column="vec_id",
                                      vector_column="embedding",
                                      threshold=0.3, n_planes=8, dim=64, seed=42)
    return pairs.select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))


# ---------------------------------------------------------------------------
# multimodal plumbing + streaming parity
# ---------------------------------------------------------------------------

@register(
    "multimodal_metadata",
    """
    SELECT doc_id, 'image' AS media_type,
           CAST(octet_length(encode(substr(text, 1, 100))) AS BIGINT) AS byte_size,
           md5(substr(text, 1, 100)) AS digest
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    from geoparquet_io_spark.operators.multimodal import media_metadata

    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("data", F.encode(F.substring("text", 1, 100), "utf-8"))
    m = d.withColumn("meta", media_metadata(F.col("data"), "image"))
    return m.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.byte_size").alias("byte_size"),
        F.col("meta.digest").alias("digest"),
    )


def _image_features_oracle() -> str:
    """The deterministic fake decoder is pure byte arithmetic over the
    payload (here: utf-8 of the first 64 chars, ASCII in this corpus), so
    its (width, height, mean_luma) are exactly SQL-expressible: cycled-
    byte mean = (full_cycles * sum + prefix_sum(remainder)) / n."""
    return """
    WITH d AS (SELECT doc_id, substr(text, 1, 64) AS t FROM documents),
    dims AS (
      SELECT doc_id, t, length(t) AS L,
             8 + length(t) % 8 AS h,
             8 + ascii(substr(t, 1, 1)) % 8 AS w
      FROM d),
    sums AS (
      SELECT doc_id, L, h, w, h * w * 3 AS n,
             list_reduce([ascii(substr(t, i, 1)) FOR i IN range(1, L + 1)],
                         (a, b) -> a + b) AS s_all,
             CASE WHEN (h * w * 3) % L = 0 THEN 0
                  ELSE list_reduce(
                    [ascii(substr(t, i, 1))
                     FOR i IN range(1, (h * w * 3) % L + 1)],
                    (a, b) -> a + b) END AS s_rem
      FROM dims)
    SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           ROUND(((n // L) * s_all + s_rem) / CAST(n AS DOUBLE), 4) AS mean_luma
    FROM sums
    """


@register("multimodal_image_features", _image_features_oracle())
def q_multimodal_features(spark, sf_dir):
    from geoparquet_io_spark.operators.multimodal import extract_image_features

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.substring("text", 1, 64), "utf-8").alias("data")
    )
    out = extract_image_features(d, "data", deterministic_fake=True)
    return out.select(
        "doc_id",
        F.col("image_features.width").alias("width"),
        F.col("image_features.height").alias("height"),
        F.round(F.col("image_features.mean_luma"), 4).alias("mean_luma"),
    )


@register(
    "stream_window_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_windows(spark, sf_dir):
    """Batch-mode parity for the streaming windowed aggregation — the SAME
    transformation runs under readStream (tested in tests/test_streaming.py)."""
    from geoparquet_io_spark.streaming.events import windowed_event_counts

    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events", "sum_value",
    )


@register(
    "stream_sessionize",
    """
    WITH seq AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark, sf_dir):
    from geoparquet_io_spark.streaming.events import sessionize

    ev = load_table(spark, sf_dir, "events")
    out = sessionize(ev, "30 minutes")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events", "sum_value",
    )


def _minhash_survivors_oracle() -> str:
    pairs = _minhash_pairs_oracle(8, 2, 5)
    return f"""
    WITH pairs AS ({pairs})
    SELECT d.doc_id FROM documents d
    WHERE len(d.text) >= 5
      AND d.doc_id NOT IN (SELECT id_b FROM pairs)
    """


@register("dedup_minhash_survivors", _minhash_survivors_oracle())
def q_minhash_survivors(spark, sf_dir):
    """Full near-dup dedup: drop every doc colliding with a smaller id."""
    from geoparquet_io_spark.operators.dedup import dedup_minhash

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    out = dedup_minhash(d, "doc_id", "text", num_hashes=8, bands=2, k=5)
    return out.select("doc_id")


@register(
    "text_word_tokens",
    f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           w -> len(w) > 0))
           + (len(text) - len(regexp_replace(text, '[^\\w \\t\\n]', '', 'g')))
             AS n_word_tokens
    FROM documents WHERE len(trim(text)) > 0
    """,
)
def q_word_tokens(spark, sf_dir):
    """BPE-ish sub-word token estimate (words + punctuation marks)."""
    from geoparquet_io_spark.operators.text import word_token_count

    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return d.select("doc_id",
                    word_token_count(F.col("text")).alias("n_word_tokens"))


@register(
    "text_rolling_fingerprint",
    """
    SELECT doc_id,
           list_reduce([CAST(0 AS BIGINT)] || [CAST(ord(c) AS BIGINT) FOR c IN string_split(text, '')],
                       (h, c) -> (h * 131 + c) % 2147483647) AS rhash
    FROM documents WHERE len(text) > 0
    """,
)
def q_rolling_fingerprint(spark, sf_dir):
    """Polynomial rolling-hash document fingerprint — fully native fold
    over the character array, identical arithmetic in the oracle."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    codes = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c))
    rhash = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda h, c: (h * 131 + c) % F.lit(2147483647).cast("long"),
    )
    return d.select("doc_id", rhash.alias("rhash"))


def _transitive_groups_oracle() -> str:
    """Transitive duplicate groups: the near-dup LSH pair oracle feeds a
    recursive CTE computing min-reachable-id per node — the SQL statement
    of the fixpoint the iterative Spark operator converges to."""
    pair_sql = _near_dup_lsh_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    )
    SELECT node AS id, MIN(r) AS component
    FROM reach GROUP BY node
    """


@register("dedup_transitive_groups", _transitive_groups_oracle())
def q_transitive_groups(spark, sf_dir):
    """Connected components over LSH near-dup pairs (a~b, b~c => one
    group): iterative min-label propagation, one shuffle per round
    (operators/dedup.py:connected_components)."""
    from geoparquet_io_spark.operators.dedup import connected_components
    from geoparquet_io_spark.operators.similarity import embedding_near_duplicates

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(e, id_column="vec_id",
                                      vector_column="embedding",
                                      threshold=0.3, n_planes=8, dim=64, seed=42)
    return connected_components(pairs, id_a="id_a", id_b="id_b")


@register(
    "stream_interval_join",
    """
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 30 MINUTE
    WHERE a.user_id % 17 = 0
    """,
)
def q_stream_interval_join(spark, sf_dir):
    """Batch-mode parity for the watermarked stream-stream interval join —
    the SAME transformation runs under readStream with bounded state
    (tests/test_streaming.py:test_stream_stream_join_equals_batch)."""
    from geoparquet_io_spark.streaming.events import stream_stream_join

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 17 == 0)
    la = ev.select("user_id", "ts", "event_id")
    rb = ev.select("user_id", "ts", "event_id")
    out = stream_stream_join(la, rb, key="user_id", interval="30 minutes")
    return out.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("r_event_id").alias("id_b"),
    )


# ---------------------------------------------------------------------------
# deterministic sampling (operators/sampling.py)
# ---------------------------------------------------------------------------

# mirrors sampling._hash_draw incl. the null-key sentinel (DuckDB concat
# would swallow NULLs where Spark's returns NULL — coalesce on both sides)
_DRAW = ("CAST(concat('0x', substr(md5(concat('{salt}', ':', "
         "COALESCE(CAST({key} AS VARCHAR), concat(chr(0), '__null_key__'))"
         ")), 1, 8)) AS BIGINT)")


@register(
    "sample_mixture_sources",
    f"""
    WITH drawn AS (
      SELECT source, {_DRAW.format(salt='mix', key='doc_id')} AS draw
      FROM documents
    )
    SELECT source, COUNT(*) AS n
    FROM drawn
    WHERE draw < CASE source
                   WHEN 'src1' THEN {int(0.25 * (1 << 32))}
                   WHEN 'src2' THEN {int(1.0 * (1 << 32))}
                   WHEN 'src3' THEN {int(0.5 * (1 << 32))}
                   ELSE {int(0.05 * (1 << 32))} END
    GROUP BY source
    """,
)
def q_mixture_sample(spark, sf_dir):
    """Per-source mixture sampling by key hash — stable across retries /
    engines, one map-only filtered scan (operators/sampling.py)."""
    from geoparquet_io_spark.operators.sampling import mixture_sample

    d = load_table(spark, sf_dir, "documents")
    out = mixture_sample(d, "doc_id", "source",
                         {"src1": 0.25, "src2": 1.0, "src3": 0.5},
                         salt="mix", default_fraction=0.05)
    return out.groupBy("source").agg(F.count("*").alias("n"))


@register(
    "sample_split_assignment",
    f"""
    WITH drawn AS (
      SELECT doc_id, {_DRAW.format(salt='split', key='doc_id')} AS draw
      FROM documents
    )
    SELECT CASE
             WHEN draw < {int(0.01 * (1 << 32))} THEN 'test'
             WHEN draw < {int(0.02 * (1 << 32))} THEN 'train'
             ELSE 'valid' END AS split,
           COUNT(*) AS n
    FROM drawn GROUP BY 1
    """,
)
def q_split_assignment(spark, sf_dir):
    """Leakage-free train/valid/test assignment by key hash: a key always
    lands in the same split (operators/sampling.py:split_by_hash).
    NB oracle thresholds follow the operator's sorted-name cumulative
    order: test(0.01) then train(0.01) then valid(0.98)."""
    from geoparquet_io_spark.operators.sampling import split_by_hash

    d = load_table(spark, sf_dir, "documents")
    out = split_by_hash(d, "doc_id",
                        {"train": 0.01, "valid": 0.98, "test": 0.01})
    return out.groupBy("split").agg(F.count("*").alias("n"))


def _leakage_split_oracle() -> str:
    """Group-aware split: the LSH near-dup recursive-CTE components
    pick each id's representative (min reachable id; singletons are
    their own rep), then the md5 split draw runs on the REP — so the
    oracle proves both the grouping and the assignment arithmetic."""
    pair_sql = _near_dup_lsh_oracle()
    draw = _DRAW.format(salt="lsplit", key="rep")
    t_test = int(0.05 * (1 << 32))          # sorted names: test, train, valid
    t_train = int((0.05 + 0.90) * (1 << 32))
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    ),
    comp AS (SELECT node AS id, MIN(r) AS component FROM reach GROUP BY node),
    reps AS (
      SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS rep
      FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
    ),
    drawn AS (SELECT vec_id, {draw} AS d FROM reps)
    SELECT vec_id,
           CASE WHEN d < {t_test} THEN 'test'
                WHEN d < {t_train} THEN 'train'
                ELSE 'valid' END AS split
    FROM drawn
    """


@register("curate_leakage_safe_split", _leakage_split_oracle())
def q_leakage_safe_split(spark, sf_dir):
    """Group-aware train/valid/test split (operators/sampling.py:
    leakage_safe_split): near-dup groups (connected components over the
    LSH pair graph) never straddle splits, so eval rows can't be
    near-duplicates of training rows — the contamination mode a plain
    per-id hash split can't prevent."""
    from geoparquet_io_spark.operators.dedup import connected_components
    from geoparquet_io_spark.operators.sampling import leakage_safe_split
    from geoparquet_io_spark.operators.similarity import \
        embedding_near_duplicates

    e = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(e, id_column="vec_id",
                                      vector_column="embedding",
                                      threshold=0.3, n_planes=8, dim=64,
                                      seed=42)
    groups = connected_components(pairs, id_a="id_a", id_b="id_b")
    out = leakage_safe_split(e.select("vec_id"), "vec_id", groups,
                             {"train": 0.90, "valid": 0.05, "test": 0.05},
                             salt="lsplit")
    return out.select("vec_id", "split")


@register(
    "events_asof_join",
    """
    WITH markers AS (
      SELECT user_id, ts, MAX(event_id) AS marker_id
      FROM events WHERE event_id % 5 = 0
      GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, r.marker_id AS asof_marker_id
    FROM events l ASOF LEFT JOIN markers r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
)
def q_asof_join(spark, sf_dir):
    """As-of join vs DuckDB's NATIVE ASOF LEFT JOIN — independent-engine
    semantics check, not a mirrored formula (operators/asof.py)."""
    from geoparquet_io_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    markers = (ev.filter(F.col("event_id") % 5 == 0)
               .groupBy("user_id", "ts")
               .agg(F.max("event_id").alias("marker_id")))
    out = asof_join(ev.select("event_id", "user_id", "ts"), markers,
                    key="user_id", left_ts="ts", right_ts="ts",
                    right_columns=["marker_id"])
    return out.select("event_id", "user_id", "asof_marker_id")


@register(
    "stats_quantiles_orders",
    """
    SELECT ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99
    FROM orders
    """,
)
def q_quantiles(spark, sf_dir):
    """Exact quantiles (SQL percentile == DuckDB quantile_cont, linear
    interpolation); approx sketch variant is the documented scale path
    (operators/stats.py:column_quantiles)."""
    from geoparquet_io_spark.operators.stats import column_quantiles

    o = load_table(spark, sf_dir, "orders")
    return column_quantiles(o, "o_totalprice", (0.25, 0.5, 0.75, 0.99),
                            round_digits=6)


@register(
    "curate_top_docs_per_source",
    """
    WITH scored AS (
      SELECT doc_id, source, len(text) AS n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY len(text) DESC, doc_id) AS rank
      FROM documents
    )
    SELECT source, doc_id, n_chars, CAST(rank AS INT) AS rank
    FROM scored WHERE rank <= 3
    """,
)
def q_top_docs(spark, sf_dir):
    """Per-group top-k curation (k best docs per source) — partitioned
    window, one shuffle on the group key (operators/stats.py)."""
    from geoparquet_io_spark.operators.stats import top_k_per_group

    d = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", F.length("text").alias("n_chars"))
    out = top_k_per_group(d, "source", "n_chars", k=3,
                          tiebreak_column="doc_id")
    return out.select("source", "doc_id", "n_chars", F.col("rank").cast("int").alias("rank"))


@register(
    "range_join_price_bands",
    """
    WITH bands AS (
      SELECT 'band_' || CAST(b AS VARCHAR) AS band,
             b * 50000.0 AS lo, (b + 1) * 50000.0 AS hi
      FROM (SELECT unnest(range(0, 12)) AS b)
    )
    SELECT b.band, COUNT(*) AS n, CAST(MIN(o.o_orderkey) AS BIGINT) AS min_key
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def q_range_join(spark, sf_dir):
    """Bucketed point-in-interval join (the 1-D PBSM shape): equi-join on
    bucket ids, never a nested-loop range cross product
    (operators/asof.py:range_join; plan-asserted in tests)."""
    from geoparquet_io_spark.operators.asof import range_join

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.range(0, 12).select(
        F.concat(F.lit("band_"), F.col("id").cast("string")).alias("band"),
        (F.col("id") * 50000.0).alias("lo"),
        ((F.col("id") + 1) * 50000.0).alias("hi"),
    )
    out = range_join(o, bands, "o_totalprice", "lo", "hi",
                     interval_columns=["band"], bucket_size=50000.0)
    return out.groupBy("band").agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("min_key"),
    )


@register(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest({_TOKENS_SQL.format(t='lower(text)')}) AS term
      FROM documents WHERE len(trim(text)) > 0
    ),
    tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks
           WHERE len(term) > 0 GROUP BY doc, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE len(trim(text)) > 0),
    scored AS (
      SELECT doc, term,
             ROUND(tf * ln(1.0 + (SELECT CAST(n_docs AS DOUBLE) FROM n) / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term)
    )
    SELECT doc AS doc_id, term, tfidf, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc
                                       ORDER BY tfidf DESC, term) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def q_tfidf(spark, sf_dir):
    """Top-3 tf-idf terms per doc (operators/text.py:tf_idf_top_terms)."""
    from geoparquet_io_spark.operators.text import tf_idf_top_terms

    d = load_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return tf_idf_top_terms(d, "doc_id", "text", k=3)


@register(
    "text_chunk_dedup",
    """
    WITH lists AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS arr
      FROM documents
    ),
    words AS (
      SELECT doc_id, unnest(arr) AS word,
             generate_subscripts(arr, 1) AS ord
      FROM lists
    ),
    chunks AS (
      SELECT doc_id, CAST((ord - 1) // 10 AS INTEGER) AS chunk_no,
             string_agg(word, ' ' ORDER BY ord) AS chunk
      FROM words GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, chunk_no, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_no) AS rn
      FROM chunks
    ),
    agg AS (
      SELECT doc_id,
             string_agg(chunk, ' ' ORDER BY chunk_no) AS clean_text,
             COUNT(*) AS n_kept_chunks
      FROM ranked WHERE rn = 1
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           COALESCE(a.n_kept_chunks, 0) AS n_kept_chunks
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_chunk_dedup(spark, sf_dir):
    """Span-level corpus dedup (C4/Dolma paragraph-dedup shape): global
    first occurrence per 10-word chunk, documents reassembled from the
    survivors — all native expressions, two shuffles."""
    from geoparquet_io_spark.operators.text import chunk_dedup

    d = load_table(spark, sf_dir, "documents")
    return chunk_dedup(d, chunk_words=10)


# ---------------------------------------------------------------------------
# retrieval scoring + semantic dedup
# ---------------------------------------------------------------------------

_BM25_TERMS = ("shuffle", "spark", "stream", "vector", "window")


@register(
    "text_bm25_topk",
    f"""
    WITH d2 AS (
      SELECT doc_id AS doc,
             CAST(len({_TOKENS_SQL.format(t='lower(text)')}) AS DOUBLE) AS dl,
             {_TOKENS_SQL.format(t='lower(text)')} AS toks
      FROM documents WHERE len(trim(text)) > 0
    ),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM d2),
    hits AS (SELECT doc, dl, unnest(toks) AS term FROM d2),
    tf AS (SELECT doc, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM hits WHERE term IN {_BM25_TERMS!r}
           GROUP BY doc, dl, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT doc,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS s
      FROM tf JOIN dfreq USING (term), stats
    ),
    per_doc AS (SELECT doc, ROUND(SUM(s), 6) AS bm25,
                       CAST(COUNT(*) AS INTEGER) AS n_terms_hit
                FROM scored GROUP BY doc)
    SELECT doc AS doc_id, bm25, n_terms_hit, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc) AS rn
          FROM per_doc)
    WHERE rn <= 10
    """,
)
def q_bm25(spark, sf_dir):
    """Okapi BM25 top-10 docs for a literal query-term bag
    (operators/text.py:bm25_scores).  Reference has no retrieval scoring;
    this is the lexical-search primitive of a curation pipeline (tf-idf's
    sibling, reference core has only frequency stats)."""
    from geoparquet_io_spark.operators.text import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, list(_BM25_TERMS), "doc_id", "text",
                       k1=1.2, b=0.75, k=10)


def _cents_cte(cents: list[list[float]]) -> str:
    """1-row CTE binding the centroid list-of-lists ONCE as a value.

    Inlining the 64-double literal at every ``[i]`` access made DuckDB
    re-evaluate the whole list literal per element per row — the
    semantic_dedup oracle spent ~80 s executing a 500-row assignment.
    Referencing the bound value (``cs[k][i]``) is the identical
    arithmetic on the identical doubles in the identical fold order,
    ~250x faster (verified EQUAL row-for-row at sf0.001 and sf0.01)."""
    return ("cents AS (SELECT ["
            + ", ".join("[" + ",".join(repr(x) for x in c) + "]"
                        for c in cents)
            + "] AS cs)")


def _semantic_dedup_oracle() -> str:
    """SemDeDup oracle: identical literal centroids; cluster = argmin of
    squared L2 (first minimum wins, matching the operator's strict-less
    tie-break via list_position); pairs only meet inside a cluster."""
    from geoparquet_io_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(64, 32, seed=7)
    darr = ("[list_reduce([(v[i] - cs[k][i]) * (v[i] - cs[k][i]) "
            "FOR i IN range(1, 65)], (x, y) -> x + y) "
            f"FOR k IN range(1, {len(cents) + 1})]")
    return f"""
    WITH {_cents_cte(cents)},
    e AS (SELECT vec_id, {_V64} AS v FROM embeddings),
    assigned AS (
      SELECT vec_id, v,
             (list_position(darr, list_min(darr)) - 1) AS cluster
      FROM (SELECT vec_id, v, {darr} AS darr FROM e, cents)
    ),
    losers AS (
      SELECT DISTINCT b.vec_id AS id
      FROM assigned a JOIN assigned b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_cosine_sql('a.v', 'b.v')} >= 0.25
    )
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           (vec_id NOT IN (SELECT id FROM losers)) AS kept
    FROM assigned
    """


@register("semantic_dedup", _semantic_dedup_oracle())
def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings, drop
    intra-cluster cosine near-dups keeping the lowest id
    (operators/similarity.py:semantic_dedup).  Pairs meet only inside a
    cluster — equi-join on the cluster id, never all-pairs."""
    from geoparquet_io_spark.operators.similarity import (ivf_centroids,
                                                          semantic_dedup)

    e = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(64, 32, seed=7)
    return semantic_dedup(e, cents, "vec_id", "embedding", threshold=0.25)


def _semantic_dedup_incremental_oracle() -> str:
    """Corpus (vec_id % 3 != 0) is SemDeDup'ed; the NEW batch
    (vec_id % 3 = 0) loses to any same-cluster kept corpus vector OR a
    smaller-id same-cluster batch member."""
    from geoparquet_io_spark.operators.similarity import ivf_centroids

    cents = ivf_centroids(64, 32, seed=7)
    darr = ("[list_reduce([(v[i] - cs[k][i]) * (v[i] - cs[k][i]) "
            "FOR i IN range(1, 65)], (x, y) -> x + y) "
            f"FOR k IN range(1, {len(cents) + 1})]")
    return f"""
    WITH {_cents_cte(cents)},
    e AS (SELECT vec_id, {_V64} AS v FROM embeddings),
    assigned AS (
      SELECT vec_id, v,
             (list_position(darr, list_min(darr)) - 1) AS cluster
      FROM (SELECT vec_id, v, {darr} AS darr FROM e, cents)
    ),
    corpus AS (SELECT * FROM assigned WHERE vec_id % 3 != 0),
    corpus_losers AS (
      SELECT DISTINCT b.vec_id FROM corpus a JOIN corpus b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_cosine_sql('a.v', 'b.v')} >= 0.25
    ),
    kept_idx AS (SELECT * FROM corpus
                 WHERE vec_id NOT IN (SELECT vec_id FROM corpus_losers)),
    batch AS (SELECT * FROM assigned WHERE vec_id % 3 = 0),
    new_losers AS (
      SELECT DISTINCT n.vec_id FROM batch n JOIN kept_idx i
        ON n.cluster = i.cluster
      WHERE {_cosine_sql('n.v', 'i.v')} >= 0.25
      UNION
      SELECT DISTINCT b.vec_id FROM batch a JOIN batch b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_cosine_sql('a.v', 'b.v')} >= 0.25
    )
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           (vec_id NOT IN (SELECT vec_id FROM new_losers)) AS kept
    FROM batch
    """


@register("semantic_dedup_incremental", _semantic_dedup_incremental_oracle())
def q_semantic_dedup_incremental(spark, sf_dir):
    """Incremental SemDeDup vs a PERSISTED kept-set
    (operators/similarity.py:semantic_dedup_incremental): the corpus is
    deduped once and its survivors written partitionBy(cluster); the new
    batch reads that index back and dedups against it plus itself —
    yesterday's 100 TB is never recomputed to admit today's batch (the
    same economics as dedup_incremental_index / the persisted IVF
    index)."""
    import tempfile

    from geoparquet_io_spark.operators.similarity import (
        ivf_centroids, semantic_dedup, semantic_dedup_incremental)

    e = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(64, 32, seed=7)
    corpus = e.filter(F.col("vec_id") % 3 != 0)
    new = e.filter(F.col("vec_id") % 3 == 0)
    flags = semantic_dedup(corpus, cents, "vec_id", "embedding",
                           threshold=0.25)
    kept = (corpus.join(flags.filter("kept"), "vec_id", "left_semi")
            .join(flags.select("vec_id", "cluster"), "vec_id"))
    path = tempfile.mkdtemp(prefix="gpq_semidx_") + "/index.parquet"
    kept.write.partitionBy("cluster").parquet(path)
    index = spark.read.parquet(path)
    return semantic_dedup_incremental(new, index, cents, "vec_id",
                                      "embedding", threshold=0.25)


@register(
    "sketch_hll_distinct",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_exact,
           TRUE AS est_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_hll_distinct(spark, sf_dir):
    """Mergeable HLL distinct rollup (operators/sketches.py): per-shard
    sketches -> union -> estimate, self-verified within 5% against the
    exact count.  The oracle checks the exact values and the claimed
    bound; the Spark side genuinely exercises sketch build/merge/estimate
    (the persisted-sketch rollup pattern for 100 TB distinct counts)."""
    from geoparquet_io_spark.operators.sketches import hll_distinct_check

    o = load_table(spark, sf_dir, "orders")
    return hll_distinct_check(o, "o_orderpriority", "o_custkey",
                              rel_tol=0.05, n_shards=16, lgk=14)


@register(
    "sample_stratified_exact",
    f"""
    WITH drawn AS (
      SELECT doc_id, source,
             {_DRAW.format(salt='strat', key='doc_id')} AS draw
      FROM documents
    )
    SELECT doc_id, source
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY draw, doc_id) AS rn
          FROM drawn)
    WHERE rn <= 20
    """,
)
def q_stratified_take(spark, sf_dir):
    """Exact-count per-stratum sampling (operators/sampling.py:
    stratified_take): exactly 20 docs per source, chosen by deterministic
    hash-draw rank — reproducible random-without-replacement."""
    from geoparquet_io_spark.operators.sampling import stratified_take

    d = load_table(spark, sf_dir, "documents")
    return stratified_take(d, "doc_id", "source", 20).select("doc_id", "source")


# fastText-style hashed linear quality filter: fixed literal model
_HLC_WEIGHTS = [-0.9, 0.7, -0.4, 1.1, -1.3, 0.2, 0.8, -0.6,
                1.4, -0.2, 0.5, -1.0, 0.3, 0.9, -0.7, 0.6]
_HLC_BIAS = 0.05


def _hlc_oracle() -> str:
    warr = "[" + ",".join(repr(float(x)) for x in _HLC_WEIGHTS) + "]"
    draw = _DRAW.format(salt="hlc", key="term")
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc, unnest({_TOKENS_SQL.format(t='lower(text)')}) AS term
      FROM documents WHERE len(trim(text)) > 0
    ),
    bucketed AS (
      SELECT doc, ({warr})[CAST(({draw}) % 16 AS INTEGER) + 1] AS w
      FROM toks WHERE len(term) > 0
    ),
    agg AS (SELECT doc, SUM(w) AS sw, CAST(COUNT(*) AS DOUBLE) AS n
            FROM bucketed GROUP BY doc)
    SELECT doc AS doc_id,
           ROUND(1.0 / (1.0 + exp(-({_HLC_BIAS!r} + sw / n))), 6) AS quality_score,
           (1.0 / (1.0 + exp(-({_HLC_BIAS!r} + sw / n))) >= 0.5) AS keep
    FROM agg
    """


@register("text_quality_classifier", _hlc_oracle())
def q_hashed_linear(spark, sf_dir):
    """FastText-shape hashed linear quality classifier with a literal
    weight vector (operators/text.py:hashed_linear_score): explode ->
    md5 bucket -> literal-array weight lookup -> one partial-agg shuffle
    -> sigmoid.  All native expressions."""
    from geoparquet_io_spark.operators.text import hashed_linear_score

    d = load_table(spark, sf_dir, "documents")
    return hashed_linear_score(d, _HLC_WEIGHTS, _HLC_BIAS, "doc_id", "text",
                               salt="hlc")


def _pagerank_oracle(damping: float = 0.85, iterations: int = 3) -> str:
    """Unrolled power-iteration CTE chain mirroring operators/graph.py
    exactly (same float ops per iteration; final ROUND absorbs sum-order
    noise)."""
    d = repr(damping)
    prev = "pr0"
    its = []
    for i in range(1, iterations + 1):
        its.append(f"""
    it{i} AS (
      SELECT n.node,
             (1.0 - {d}) / (SELECT n_nodes FROM nn)
               + {d} * COALESCE(s.m, 0.0) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(p.pr / o.deg) AS m
        FROM edges e JOIN {prev} p ON e.src = p.node
                     JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst) s ON n.node = s.node
    )""")
        prev = f"it{i}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey % 40 AS src, o_orderkey % 40 AS dst
      FROM orders WHERE o_custkey % 40 != o_orderkey % 40
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges)
    ),
    outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
               FROM edges GROUP BY src),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
    pr0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM nn) AS pr FROM nodes),
    {','.join(its)}
    SELECT node, ROUND(pr, 6) AS pagerank FROM {prev}
    """


@register("graph_pagerank", _pagerank_oracle())
def q_pagerank(spark, sf_dir):
    """Damped PageRank, 3 power iterations over a link graph derived from
    orders (operators/graph.py:pagerank) — the link-centrality signal
    web-corpus curation filters on (CommonCrawl ranks)."""
    from geoparquet_io_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    edges = o.select((F.col("o_custkey") % 40).alias("src"),
                     (F.col("o_orderkey") % 40).alias("dst")) \
             .filter(F.col("src") != F.col("dst"))
    return pagerank(edges, damping=0.85, iterations=3)


@register(
    "convert_orc_roundtrip",
    """
    SELECT source, COUNT(*) AS n, SUM(n_chars) AS total_chars
    FROM documents GROUP BY source
    """,
)
def q_orc_roundtrip(spark, sf_dir):
    """documents -> ORC (zstd) -> read back -> aggregate: the Spark-native
    columnar interchange converter (sources/columnar.py), IO path inside
    the correctness gate like geoparquet_roundtrip."""
    import tempfile

    from geoparquet_io_spark.sources.columnar import read_orc, write_orc

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="orc_rt_") + "/docs_orc"
    write_orc(d, path, compression="zstd")
    back = read_orc(spark, path)
    return back.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "convert_jsonl_roundtrip",
    """
    SELECT lang, COUNT(*) AS n, SUM(n_chars) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def q_jsonl_roundtrip(spark, sf_dir):
    """documents -> JSONL (the LLM-corpus interchange format) -> read back
    with an explicit schema -> aggregate (sources/jsonl.py).  IO path in
    the correctness gate like the parquet/ORC roundtrips."""
    import tempfile

    from geoparquet_io_spark.sources.jsonl import read_jsonl, write_jsonl

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="jsonl_rt_") + "/docs"
    write_jsonl(d, path)
    back = read_jsonl(spark, path, schema=d.schema, keep_corrupt=False)
    return back.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "dataset_diff_versions",
    """
    WITH old AS (SELECT doc_id, text FROM documents),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 10 != 0
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, 'new doc' AS text
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old.text = new.text THEN 'unchanged'
                ELSE 'changed' END AS diff_status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def q_dataset_diff(spark, sf_dir):
    """Keyed corpus-version diff (operators/merge.py:dataset_diff): v2
    drops every 10th doc, edits every 7th, adds one new doc per 13th —
    the full outer join + row-hash classifier must label every key."""
    from geoparquet_io_spark.operators.merge import dataset_diff

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edited = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    added = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.lit("new doc").alias("text"),
    )
    new = edited.unionByName(added)
    return dataset_diff(d, new, "doc_id", ["text"])


@register(
    "curate_token_budget",
    f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(doc_id % 97 AS DOUBLE) / 97.0 AS score,
             len({_TOKENS_SQL.format(t='text')}) AS n_tokens
      FROM documents WHERE len(trim(text)) > 0
    ),
    run AS (
      SELECT doc_id, score, n_tokens,
             SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS c
      FROM scored
    )
    SELECT doc_id, ROUND(score, 6) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM run WHERE c <= 3000
    """,
)
def q_token_budget(spark, sf_dir):
    """Token-budget corpus selection (operators/sampling.py:
    select_under_token_budget): keep the highest-scoring docs whose
    running token total fits 3000 tokens — bucket histogram + driver
    cumsum + boundary-bucket-only window, never a global sort (the
    oracle mirrors the equivalent global-window rule)."""
    from geoparquet_io_spark.operators.sampling import select_under_token_budget
    from geoparquet_io_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0) \
        .select(
            "doc_id",
            ((F.col("doc_id") % 97).cast("double") / 97.0).alias("score"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
    out = select_under_token_budget(d, 3000, "doc_id", "score", "n_tokens")
    return out.select("doc_id", F.round("score", 6).alias("score"), "n_tokens")


@register(
    "embedding_quantize_int8",
    f"""
    WITH e AS (SELECT vec_id, {_V64} AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0
                  THEN 1.0
                  ELSE list_max(list_transform(v, x -> abs(x))) / 127.0
             END AS scale
      FROM e
    ),
    q AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS codes
      FROM s
    )
    SELECT vec_id,
           ROUND(scale, 9) AS scale_r,
           list_reduce(codes, (a, b) -> a + b) AS code_sum,
           list_min(codes) AS code_min,
           list_max(codes) AS code_max,
           (list_max(list_transform([i FOR i IN range(1, 65)],
                     i -> abs(v[i] - codes[i] * scale)))
            <= scale * 0.5000001) AS err_ok
    FROM q
    """,
)
def q_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization
    (operators/similarity.py:quantize_embeddings_int8): scale, code
    stats, and the reconstruction-error bound |v - q*scale| <= scale/2,
    all computed identically in both engines."""
    from geoparquet_io_spark.operators.similarity import (
        as_double_array, quantize_embeddings_int8)

    e = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(e)
    v = as_double_array(F.col("embedding"))
    recon_err = F.array_max(
        F.zip_with(v, F.col("codes"),
                   lambda x, c: F.abs(x - c.cast("double") * F.col("scale"))))
    return q.select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale_r"),
        F.aggregate(F.col("codes"), F.lit(0),
                    lambda a, b: a + b).alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        (recon_err <= F.col("scale") * 0.5000001).alias("err_ok"),
    )


@register(
    "stream_sliding_windows",
    """
    WITH hits AS (
      SELECT strftime(time_bucket(INTERVAL 30 MINUTE, ts)
                      - k * (INTERVAL 30 MINUTE),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type, value
      FROM events, unnest([0, 1]) AS u(k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM hits GROUP BY 1, 2
    """,
)
def q_sliding_windows(spark, sf_dir):
    """Sliding 1h/30m window counts (streaming/events.py:
    sliding_event_counts) — the oracle expands the 2-window membership
    explicitly (time_bucket - k*slide)."""
    from geoparquet_io_spark.streaming.events import sliding_event_counts

    ev = load_table(spark, sf_dir, "events")
    out = sliding_event_counts(ev, "1 hour", "30 minutes")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type", "n_events", "sum_value",
    )


def _keep_best_oracle() -> str:
    """dedup_keep_best over the LSH near-dup graph: per component keep
    the highest-score node (score = label cast double; tie -> lower id);
    rows in no pair pass through."""
    pair_sql = _near_dup_lsh_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    scored AS (
      SELECT c.node, c.component, CAST(e.label AS DOUBLE) AS score
      FROM comp c JOIN embeddings e ON e.vec_id = c.node
    ),
    losers AS (
      SELECT node FROM (
        SELECT node, row_number() OVER (PARTITION BY component
                                        ORDER BY score DESC, node) AS rn
        FROM scored) WHERE rn > 1
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM losers)
    """


@register("dedup_keep_best", _keep_best_oracle())
def q_keep_best(spark, sf_dir):
    """Score-aware transitive dedup (operators/dedup.py:dedup_keep_best):
    keep the highest-quality copy per duplicate group (C4/RefinedWeb
    convention), quality = the label column here; deterministic
    lower-id tie-break."""
    from geoparquet_io_spark.operators.dedup import dedup_keep_best
    from geoparquet_io_spark.operators.similarity import embedding_near_duplicates

    e = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "label", "embedding")
    pairs = embedding_near_duplicates(e, id_column="vec_id",
                                      vector_column="embedding",
                                      threshold=0.3, n_planes=8, dim=64, seed=42)
    scored = e.withColumn("__q", F.col("label").cast("double"))
    return dedup_keep_best(scored, pairs, "vec_id", "__q") \
        .select("vec_id", "label")


@register(
    "geo_distance_join",
    f"""
    WITH ev AS (
      SELECT event_id, {{elon}} AS elon, {{elat}} AS elat
      FROM events WHERE event_id % 31 = 0
    ),
    cu AS (
      SELECT c_custkey, {{clon}} AS clon, {{clat}} AS clat FROM customer
    ),
    pairs AS (
      SELECT event_id,
             sqrt((elon - clon) * (elon - clon)
                  + (elat - clat) * (elat - clat)) AS d
      FROM ev, cu
    )
    SELECT event_id, COUNT(*) AS n_within,
           ROUND(MIN(d), 6) AS min_dist
    FROM pairs WHERE d <= 2.0
    GROUP BY event_id
    """.format(
        elon="(((user_id * 37 + event_id) % 3400) / 10.0 - 170.0)",
        elat="(((user_id * 53 + event_id * 7) % 1600) / 10.0 - 80.0)",
        clon="(((c_custkey * 131) % 3600) / 10.0 - 180.0)",
        clat="(((c_custkey * 197) % 1700) / 10.0 - 85.0)",
    ),
)
def q_distance_join(spark, sf_dir):
    """ST_DWithin spatial join (operators/joins.py:distance_join): events
    vs customers within 2 degrees, gridded at cell=radius so each pair
    meets in exactly one cell — equi-join, never a cross product (the
    quadratic form exists only in the oracle)."""
    from geoparquet_io_spark.operators.joins import distance_join
    from geoparquet_io_spark.testsupport.tables import (customer_lonlat,
                                                        event_lonlat)

    ev = event_lonlat(load_table(spark, sf_dir, "events")) \
        .filter(F.col("event_id") % 31 == 0) \
        .select("event_id", F.col("lon").alias("elon"), F.col("lat").alias("elat"))
    cu = customer_lonlat(load_table(spark, sf_dir, "customer")) \
        .select("c_custkey", F.col("lon").alias("clon"), F.col("lat").alias("clat"))
    pairs = distance_join(ev, cu, 2.0, "elon", "elat", "clon", "clat")
    return pairs.groupBy("event_id").agg(
        F.count("*").alias("n_within"),
        F.round(F.min("distance"), 6).alias("min_dist"),
    )


@register(
    "geo_knn_join",
    f"""
    WITH ev AS (
      SELECT event_id, {{elon}} AS elon, {{elat}} AS elat
      FROM events WHERE event_id % 31 = 0
    ),
    cu AS (
      SELECT c_custkey, {{clon}} AS clon, {{clat}} AS clat FROM customer
    ),
    pairs AS (
      SELECT event_id, c_custkey,
             sqrt((elon - clon) * (elon - clon)
                  + (elat - clat) * (elat - clat)) AS d
      FROM ev, cu
    )
    SELECT event_id, c_custkey, ROUND(d, 6) AS distance,
           CAST(rn AS INTEGER) AS knn_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY event_id
                                       ORDER BY d, c_custkey) AS rn
          FROM pairs)
    WHERE rn <= 3
    """.format(
        elon="(((user_id * 37 + event_id) % 3400) / 10.0 - 170.0)",
        elat="(((user_id * 53 + event_id * 7) % 1600) / 10.0 - 80.0)",
        clon="(((c_custkey * 131) % 3600) / 10.0 - 180.0)",
        clat="(((c_custkey * 197) % 1700) / 10.0 - 85.0)",
    ),
)
def q_knn_join(spark, sf_dir):
    """Exact 3-NN spatial join (operators/joins.py:knn_join): expanding-
    ring grid search seeded by the density-derived radius estimate (the
    radius changes only how many doubling rounds run, never the exact
    k-NN answer), unique-id tie-break; quadratic form exists only in
    the oracle."""
    from geoparquet_io_spark.operators.joins import (estimate_knn_radius,
                                                     knn_join)
    from geoparquet_io_spark.testsupport.tables import (customer_lonlat,
                                                        event_lonlat)

    ev = event_lonlat(load_table(spark, sf_dir, "events")) \
        .filter(F.col("event_id") % 31 == 0) \
        .select("event_id", F.col("lon").alias("elon"), F.col("lat").alias("elat"))
    cu = customer_lonlat(load_table(spark, sf_dir, "customer")) \
        .select("c_custkey", F.col("lon").alias("clon"), F.col("lat").alias("clat"))
    out = knn_join(ev, cu, k=3,
                   initial_radius=estimate_knn_radius(cu, 3, "clon", "clat"),
                   left_id="event_id", left_x="elon", left_y="elat",
                   right_x="clon", right_y="clat",
                   tie_columns=["c_custkey"])
    return out.select(
        "event_id", "c_custkey",
        F.round("distance", 6).alias("distance"),
        F.col("knn_rank").cast("int").alias("knn_rank"),
    )


@register(
    "sample_weighted_take",
    f"""
    WITH drawn AS (
      SELECT doc_id, source, n_chars,
             pow((CAST({_DRAW.format(salt='wtake', key='doc_id')} AS DOUBLE) + 0.5)
                 / 4294967296.0,
                 1.0 / CAST(n_chars AS DOUBLE)) AS p
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source
    FROM (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY p DESC, doc_id) AS rn
          FROM drawn)
    WHERE rn <= 10
    """,
)
def q_weighted_take(spark, sf_dir):
    """Weighted without-replacement sampling (Efraimidis-Spirakis),
    10 docs per source weighted by length
    (operators/sampling.py:weighted_take)."""
    from geoparquet_io_spark.operators.sampling import weighted_take

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return weighted_take(d, "doc_id", "n_chars", 10,
                         stratum_column="source").select("doc_id", "source")


def _simhash_pairs_oracle(k: int = 5, max_hamming: int = 3) -> str:
    """Hamming-banded simhash pairs: sig CTE from _simhash_oracle, 4
    nibble bands, exact bit_count(xor) filter — pigeonhole-complete for
    max_hamming <= 3."""
    sig_sql = _simhash_oracle(k)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS b, (simhash >> {4 * b}) % 16 AS nib "
        f"FROM sigs" for b in range(4)
    )
    return f"""
    WITH sigs AS ({sig_sql}),
    u AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS sh_a, b.simhash AS sh_b
      FROM u a JOIN u b ON a.b = b.b AND a.nib = b.nib
                       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(CAST(xor(sh_a, sh_b) AS BIGINT)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(CAST(xor(sh_a, sh_b) AS BIGINT)) <= {max_hamming}
    """


@register("dedup_simhash_pairs", _simhash_pairs_oracle())
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at hamming <= 3 — nibble-banded so the
    candidate join is an equi-join, pigeonhole-complete
    (operators/dedup.py:simhash_candidate_pairs)."""
    from geoparquet_io_spark.operators.dedup import simhash_candidate_pairs

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    return simhash_candidate_pairs(d, "doc_id", "text", k=5, max_hamming=3)


def _dedup_against_index_oracle(num_hashes: int = 8, bands: int = 2,
                                k: int = 5) -> str:
    """New docs (doc_id % 3 = 0) that collide in no band with the corpus
    (doc_id % 3 != 0)."""
    rows = num_hashes // bands
    mh = ", ".join(f"min(h1 + {i} * h2) AS mh{i}" for i in range(num_hashes))
    band_cols = ", ".join(
        "md5(" + " || ',' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows))
        + f") AS band_{b}" for b in range(bands))
    union = lambda src: " UNION ALL ".join(  # noqa: E731
        f"SELECT doc_id, {b} AS b, band_{b} AS bh FROM {src}"
        for b in range(bands))
    return f"""
    WITH sh AS (SELECT doc_id, unnest({_shingles_sql('text', k)}) AS s
                FROM documents WHERE len(text) >= {k}),
    h AS (SELECT doc_id,
                 CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h1,
                 CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS h2
          FROM sh),
    sigs AS (SELECT doc_id, {mh} FROM h GROUP BY doc_id),
    banded AS (SELECT doc_id, {band_cols} FROM sigs),
    new_b AS (SELECT * FROM banded WHERE doc_id % 3 = 0),
    idx_b AS (SELECT * FROM banded WHERE doc_id % 3 != 0),
    new_u AS ({union('new_b')}),
    idx_u AS ({union('idx_b')}),
    flagged AS (SELECT DISTINCT n.doc_id FROM new_u n
                JOIN (SELECT DISTINCT b, bh FROM idx_u) i
                  ON n.b = i.b AND n.bh = i.bh)
    SELECT doc_id, source FROM documents
    WHERE doc_id % 3 = 0 AND len(text) >= {k}
      AND doc_id NOT IN (SELECT doc_id FROM flagged)
    """


@register("dedup_incremental_index", _dedup_against_index_oracle())
def q_dedup_against_index(spark, sf_dir):
    """Incremental ingest dedup vs a persisted LSH band index
    (operators/dedup.py:dedup_against_index): the corpus side's bands are
    computed once; the new batch anti-joins on band collisions."""
    from geoparquet_io_spark.operators.dedup import (dedup_against_index,
                                                     minhash_bands)

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    idx = minhash_bands(corpus, num_hashes=8, bands=2, k=5, id_column="doc_id")
    out = dedup_against_index(new, idx, "doc_id", num_hashes=8, bands=2, k=5)
    return out.select("doc_id", "source")


def _normalize_oracle() -> str:
    from geoparquet_io_spark.operators.text import (NORMALIZE_PUNCT_FROM,
                                                    NORMALIZE_PUNCT_TO)

    frm = NORMALIZE_PUNCT_FROM.replace("'", "''")
    to = NORMALIZE_PUNCT_TO.replace("'", "''")
    return f"""
    WITH n AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               regexp_replace(
                 translate(lower(text), '{frm}', '{to}'),
                 '[\\x00-\\x1F\\x7F]', ' ', 'g'),
               '\\s+', ' ', 'g')) AS text_norm
      FROM documents
    )
    SELECT doc_id, md5(text_norm) AS norm_digest,
           (text_norm != text) AS was_changed
    FROM n
    """


@register("text_normalize", _normalize_oracle())
def q_normalize(spark, sf_dir):
    """Canonical text normalization (operators/text.py:normalize_text):
    md5 digests compared so the full normalized strings round-trip the
    harness compactly."""
    from geoparquet_io_spark.operators.text import normalize_text

    d = load_table(spark, sf_dir, "documents")
    out = normalize_text(d)
    return out.select("doc_id", F.md5("text_norm").alias("norm_digest"),
                      "was_changed")


@register(
    "stats_histogram_prices",
    """
    WITH f AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
      WHERE o_totalprice >= 0.0 AND o_totalprice < 600000.0
    )
    SELECT LEAST(11, CAST(floor(x / 50000.0) AS INTEGER)) AS bin,
           0.0 + LEAST(11, CAST(floor(x / 50000.0) AS INTEGER)) * 50000.0
             AS bin_lo,
           COUNT(*) AS n,
           MIN(x) AS min_v, MAX(x) AS max_v
    FROM f GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram (operators/stats.py:histogram): order prices
    into 12 x 50k bins, one partial-agg shuffle, no width_bucket
    dependency (identical floor arithmetic in the oracle)."""
    from geoparquet_io_spark.operators.stats import histogram

    o = load_table(spark, sf_dir, "orders")
    return histogram(o, "o_totalprice", 0.0, 600000.0, 12)


# ---------------------------------------------------------------------------
# RAG passage chunking / exact-substring span dedup / composite quality gate
# ---------------------------------------------------------------------------

@register(
    "text_passages",
    """
    WITH lists AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS arr
      FROM documents
    ),
    nn AS (SELECT doc_id, arr, len(arr) AS n FROM lists WHERE len(arr) > 0),
    idx AS (
      SELECT doc_id, arr,
             unnest(generate_series(0, (greatest(n - 16, 0) + 11) // 12)) AS i
      FROM nn
    )
    SELECT doc_id, CAST(i AS INT) AS passage_no,
           array_to_string(list_slice(arr, i * 12 + 1, i * 12 + 16), ' ')
             AS passage,
           CAST(len(list_slice(arr, i * 12 + 1, i * 12 + 16)) AS INT)
             AS n_tokens
    FROM idx
    """,
)
def q_passages(spark, sf_dir):
    """Overlapping RAG passage chunking (operators/text.py:chunk_passages):
    16-token windows every 12 tokens, map-only (zero shuffles — the
    chunk-and-embed front half of a retrieval index build)."""
    from geoparquet_io_spark.operators.text import chunk_passages

    d = load_table(spark, sf_dir, "documents")
    return chunk_passages(d, size=16, stride=12)


@register(
    "text_dup_spans",
    """
    WITH lists AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w != '') AS arr
      FROM documents
    ),
    nn AS (SELECT doc_id, arr, len(arr) AS n FROM lists WHERE len(arr) >= 3),
    wins AS (
      SELECT doc_id, n, i AS start,
             md5(array_to_string(list_slice(arr, i + 1, i + 3), ' ')) AS h
      FROM (SELECT doc_id, arr, n, unnest(generate_series(0, n - 3)) AS i
            FROM nn)
    ),
    freq AS (SELECT h, COUNT(*) AS nd FROM wins GROUP BY h),
    dup AS (SELECT w.doc_id, w.n, w.start
            FROM wins w JOIN freq USING (h) WHERE nd >= 2),
    isl AS (
      SELECT doc_id, n, start,
             CASE WHEN start > COALESCE(MAX(start + 2) OVER (
                 PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), (-1))
               THEN 1 ELSE 0 END AS new_island
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, n, start,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, n, island, MAX(start) - MIN(start) + 3 AS span_tokens
      FROM isl2 GROUP BY doc_id, n, island
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
           ROUND(SUM(span_tokens) / n, 6) AS dup_token_fraction
    FROM spans GROUP BY doc_id, n
    """,
)
def q_dup_spans(spark, sf_dir):
    """Exact-substring duplicate-span coverage, the Lee et al. 2021 corpus
    dedup signal (operators/text.py:duplicated_spans): duplicated 3-token
    windows merged into maximal spans via a per-doc running-max interval
    union — window generation map-only, frequency one uniform-key shuffle,
    island merge a BOUNDED per-doc window."""
    from geoparquet_io_spark.operators.text import duplicated_spans

    d = load_table(spark, sf_dir, "documents")
    return duplicated_spans(d, n=3)


@register(
    "text_quality_filter",
    """
    WITH f AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w != '')) AS n_words,
             len(regexp_replace(text, '\\s+', '', 'g')) AS twc,
             len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS symbols,
             greatest(len(text), 1) AS n_chars,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> list_contains(['the','and','of','to','a','in','is','it'],
                                    w))) AS sw
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_words,
             twc / greatest(n_words, 1) AS mean_wl,
             symbols / n_chars AS sym_ratio, sw,
             concat_ws(',',
               CASE WHEN n_words < 5 OR n_words > 100000
                    THEN 'word_count' END,
               CASE WHEN twc / greatest(n_words, 1) < 2.0
                      OR twc / greatest(n_words, 1) > 12.0
                    THEN 'mean_word_len' END,
               CASE WHEN symbols / n_chars > 0.3 THEN 'symbol_ratio' END,
               CASE WHEN sw < 1 THEN 'stopwords' END) AS fail_reasons
      FROM f
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_wl, 6) AS mean_word_len,
           ROUND(sym_ratio, 6) AS symbol_ratio,
           CAST(sw AS BIGINT) AS stopword_hits,
           fail_reasons, (len(fail_reasons) = 0) AS keep
    FROM g
    """,
)
def q_quality_filter(spark, sf_dir):
    """Composite Gopher/C4-style quality gate
    (operators/text.py:quality_filter): word-count + mean-word-length +
    symbol-ratio + stopword rules, map-only, with a per-rule audit
    column."""
    from geoparquet_io_spark.operators.text import quality_filter

    d = load_table(spark, sf_dir, "documents")
    return quality_filter(d).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "stopword_hits", "fail_reasons", "keep")


@register(
    "text_perplexity_buckets",
    """
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents WHERE len(trim(text)) > 0
    ),
    tf AS (
      SELECT doc, term, COUNT(*) AS tf FROM toks
      WHERE len(term) > 0 GROUP BY doc, term
    ),
    vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY term),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
    scored AS (
      SELECT tf.doc, tf.tf,
             CAST(ROUND(ln(vocab.c / tot.n) * 1e6) AS BIGINT) AS lp_micro
      FROM tf JOIN vocab ON tf.term = vocab.term CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc AS doc_id,
             CAST(SUM(tf) AS BIGINT) AS n_tokens,
             ROUND(CAST(SUM(tf * lp_micro) AS BIGINT)
                   / CAST(SUM(tf) AS BIGINT) / 1e6, 6) AS avg_logprob
      FROM scored GROUP BY doc
    ),
    cnt AS (SELECT COUNT(*) AS n FROM per_doc),
    ranked AS (
      SELECT doc_id, n_tokens, avg_logprob,
             row_number() OVER (ORDER BY avg_logprob DESC, doc_id) AS rn
      FROM per_doc
    )
    SELECT doc_id, n_tokens, avg_logprob,
           CAST(((rn - 1) * 3) // (SELECT n FROM cnt) AS INT) AS bucket_no,
           CASE ((rn - 1) * 3) // (SELECT n FROM cnt)
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
    FROM ranked
    """,
)
def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity bucketing
    (operators/text.py:perplexity_buckets): corpus-unigram scoring + an
    exact DISTRIBUTED global rank (operators/sorts.py:global_rank — range
    repartition + local ordinal + tiny offset table, never a
    single-partition window) + integer-division bucket boundaries."""
    from geoparquet_io_spark.operators.text import perplexity_buckets

    d = load_table(spark, sf_dir, "documents")
    return perplexity_buckets(d)


@register(
    "dataset_time_travel",
    """
    SELECT 1 AS version, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 3 <= 1
    """,
)
def q_time_travel(spark, sf_dir):
    """Snapshot versioning + time travel over plain parquet
    (operators/maintenance.py: commit_snapshot/read_snapshot — the
    Iceberg/Delta membership-list idea): ingest batch 1, commit v1,
    append batch 2, commit v2; reading v1 must see ONLY batch 1 while
    the latest snapshot sees both.  Only file names + a tiny JSON list
    touch the driver; row counts come from one pooled driver footer
    read."""
    import tempfile

    from geoparquet_io_spark.operators.maintenance import (commit_snapshot,
                                                           read_snapshot)

    orders = load_table(spark, sf_dir, "orders")
    p = tempfile.mkdtemp(prefix="gpq_tt_") + "/ds"
    orders.filter(F.col("o_orderkey") % 3 == 0) \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p, note="batch1")
    orders.filter(F.col("o_orderkey") % 3 == 1) \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p, note="batch2")

    def agg(gt, version):
        return gt.df.agg(
            F.lit(version).cast("int").alias("version"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )

    v1 = agg(read_snapshot(spark, p, 1), 1)
    v2 = agg(read_snapshot(spark, p), 2)
    return v1.unionByName(v2)


@register(
    "curate_mixture_budget",
    f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(doc_id % 89 AS DOUBLE) / 89.0 AS score,
             len({_TOKENS_SQL.format(t='text')}) AS n_tokens
      FROM documents
      WHERE len(trim(text)) > 0 AND source IN ('src0', 'src1', 'src2')
    ),
    run AS (
      SELECT doc_id, source, score, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY score DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS c
      FROM scored
    )
    SELECT doc_id, source, ROUND(score, 6) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM run
    WHERE (source = 'src0' AND c <= 700)
       OR (source = 'src1' AND c <= 900)
       OR (source = 'src2' AND c <= 400)
    """,
)
def q_mixture_budget(spark, sf_dir):
    """Per-source token-budget mixture assembly (operators/sampling.py:
    mixture_under_token_budget): best 700/900/400 tokens from three
    sources — one (group, bucket) histogram + driver cumsum + windows
    over only the boundary buckets; exactly equals the per-group
    global-window prefix rule the oracle runs."""
    from geoparquet_io_spark.operators.sampling import (
        mixture_under_token_budget)
    from geoparquet_io_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0) \
        .select(
            "doc_id", "source",
            ((F.col("doc_id") % 89).cast("double") / 89.0).alias("score"),
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
    out = mixture_under_token_budget(
        d, {"src0": 700, "src1": 900, "src2": 400},
        group_column="source")
    return out.select("doc_id", "source",
                      F.round("score", 6).alias("score"), "n_tokens")


@register(
    "stats_profile_customer",
    """
    WITH seg AS (
      SELECT CAST(c_mktsegment AS VARCHAR) AS v, COUNT(*) AS cnt
      FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 1
    ),
    seg_top AS (SELECT v, cnt FROM seg
                QUALIFY row_number() OVER (ORDER BY cnt DESC, v) = 1),
    nk AS (
      SELECT CAST(c_nationkey AS VARCHAR) AS v, COUNT(*) AS cnt
      FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1
    ),
    nk_top AS (SELECT v, cnt FROM nk
               QUALIFY row_number() OVER (ORDER BY cnt DESC, v) = 1)
    SELECT 'c_mktsegment' AS col_name,
           (SELECT COUNT(*) FROM customer) AS n_rows,
           (SELECT COUNT(*) - COUNT(c_mktsegment) FROM customer) AS n_nulls,
           (SELECT COUNT(*) FROM seg) AS n_distinct,
           (SELECT CAST(MIN(c_mktsegment) AS VARCHAR) FROM customer)
             AS min_value,
           (SELECT CAST(MAX(c_mktsegment) AS VARCHAR) FROM customer)
             AS max_value,
           (SELECT v FROM seg_top) AS top_value,
           (SELECT cnt FROM seg_top) AS top_count
    UNION ALL
    SELECT 'c_nationkey',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) - COUNT(c_nationkey) FROM customer),
           (SELECT COUNT(*) FROM nk),
           (SELECT CAST(MIN(c_nationkey) AS VARCHAR) FROM customer),
           (SELECT CAST(MAX(c_nationkey) AS VARCHAR) FROM customer),
           (SELECT v FROM nk_top),
           (SELECT cnt FROM nk_top)
    """,
)
def q_profile_customer(spark, sf_dir):
    """Column profiler (operators/stats.py:profile_columns): row/null
    counts, exact distinct, typed min/max, modal value with a
    deterministic tie-break — one value-count shuffle per profiled
    column, scalars only to the driver."""
    from geoparquet_io_spark.operators.stats import profile_columns

    c = load_table(spark, sf_dir, "customer")
    return profile_columns(c, ["c_mktsegment", "c_nationkey"])


@register(
    "join_fuzzy_names",
    """
    WITH dirty AS (
      SELECT c_custkey AS dirty_id,
             substr(c_name, 1, (c_custkey % 17)::INT)
               || substr(c_name, (c_custkey % 17)::INT + 2) AS dirty_name
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT o.c_custkey AS left_id, d.dirty_id AS right_id,
           CAST(levenshtein(o.c_name, d.dirty_name) AS INT) AS distance
    FROM customer o CROSS JOIN dirty d
    WHERE levenshtein(o.c_name, d.dirty_name) <= 1
    """,
)
def q_fuzzy_names(spark, sf_dir):
    """Blocked fuzzy join / entity resolution (operators/linkage.py:
    fuzzy_join): every third customer name gets one deterministic
    character deletion; the SymSpell deletion-neighborhood equi-join
    must recover exactly the pairs within Levenshtein distance 1 that
    the oracle's brute-force cross join finds (the cross product never
    runs on the Spark side — candidates meet on variant keys only)."""
    from geoparquet_io_spark.operators.linkage import fuzzy_join

    c = load_table(spark, sf_dir, "customer")
    p = (F.col("c_custkey") % 17).cast("int")
    dirty = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(F.col("c_name").substr(F.lit(1), p),
                 F.col("c_name").substr(p + 2, F.length("c_name")))
        .alias("dirty_name"))
    out = fuzzy_join(c.select("c_custkey", "c_name"), dirty,
                     "c_custkey", "c_name", "dirty_id", "dirty_name",
                     max_distance=1)
    return out.select(F.col("c_custkey").alias("left_id"),
                      F.col("dirty_id").alias("right_id"), "distance")


@register(
    "events_funnel",
    """
    WITH s1 AS (
      SELECT user_id AS u, MIN(ts) AS t_1 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t_2
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'view' AND e.ts > s1.t_1 GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t_3
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1
    )
    SELECT s1.u AS user_id,
           strftime(t_1, '%Y-%m-%d %H:%M:%S') AS t_1,
           strftime(t_2, '%Y-%m-%d %H:%M:%S') AS t_2,
           strftime(t_3, '%Y-%m-%d %H:%M:%S') AS t_3,
           (CASE WHEN t_1 IS NULL THEN 0 ELSE 1 END
            + CASE WHEN t_2 IS NULL THEN 0 ELSE 1 END
            + CASE WHEN t_3 IS NULL THEN 0 ELSE 1 END) AS steps_completed
    FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered-sequence funnel signup -> view -> purchase
    (operators/stats.py:funnel_steps): per-user earliest strictly-ordered
    completion times via chained filtered aggregates — no windows, no
    per-user sorts; mirrors the warehouse correlated-min CTE chain."""
    from geoparquet_io_spark.operators.stats import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    out = funnel_steps(ev, "user_id", "ts", "event_type",
                       ["signup", "view", "purchase"])
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)  # noqa: E731
    return out.select("user_id", fmt("t_1"), fmt("t_2"), fmt("t_3"),
                      "steps_completed")


@register(
    "search_rrf_fusion",
    f"""
    WITH lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id)
               AS r
      FROM documents QUALIFY r <= 15
    ),
    sem AS (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY CAST(doc_id % 89 AS DOUBLE) / 89.0 DESC, doc_id)
               AS r
      FROM documents QUALIFY r <= 15
    ),
    contrib AS (
      SELECT doc_id, 1.0 / (60.0 + r) AS c FROM lex
      UNION ALL
      SELECT doc_id, 1.0 / (60.0 + r) AS c FROM sem
    ),
    fused AS (
      SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score,
             COUNT(*) AS n_rankings
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_rankings,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
             AS rank
    FROM fused
    """,
)
def q_rrf(spark, sf_dir):
    """Hybrid-search rank fusion (operators/similarity.py:rrf_fuse,
    Cormack et al. 2009): two top-15 rankings (a length-based 'lexical'
    list and a hash-score 'semantic' list) fused by reciprocal rank —
    the fusion runs over the tiny union of top-k lists only."""
    from pyspark.sql import Window as W

    from geoparquet_io_spark.operators.similarity import rrf_fuse

    d = load_table(spark, sf_dir, "documents")

    def topk(df, order):
        # top-k via orderBy().limit() = TakeOrderedAndProject (per-
        # partition top-k + tiny merge); the rank window then runs over
        # the 15 surviving rows only — never a full-table window
        cut = df.orderBy(*order).limit(15)
        return (cut.withColumn("rank", F.row_number().over(W.orderBy(*order)))
                .select("doc_id", "rank"))

    lex = topk(d.select("doc_id", "n_chars"),
               [F.desc("n_chars"), F.asc("doc_id")])
    sem = topk(d.select("doc_id",
                        ((F.col("doc_id") % 89).cast("double") / 89.0)
                        .alias("score")),
               [F.desc("score"), F.asc("doc_id")])
    return rrf_fuse([lex, sem], "doc_id", k=60)


@register(
    "merge_scd2_segments",
    """
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '2023-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer
    ),
    ch AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 8 = 0 THEN c_mktsegment
                  ELSE c_mktsegment || '_V2' END AS segment,
             TIMESTAMP '2024-06-01' AS eff
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 'NEW', TIMESTAMP '2024-06-01'
      FROM customer WHERE c_custkey % 16 = 0
    ),
    kept AS (
      SELECT d.c_custkey, d.segment, d.valid_from, d.valid_to
      FROM dim d LEFT JOIN ch ON d.c_custkey = ch.c_custkey
      WHERE ch.c_custkey IS NULL OR d.segment = ch.segment
    ),
    closed AS (
      SELECT d.c_custkey, d.segment, d.valid_from, ch.eff AS valid_to
      FROM dim d JOIN ch ON d.c_custkey = ch.c_custkey
      WHERE d.segment != ch.segment
    ),
    opened AS (
      SELECT ch.c_custkey, ch.segment, ch.eff AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM ch LEFT JOIN dim d ON d.c_custkey = ch.c_custkey
      WHERE d.c_custkey IS NULL OR d.segment != ch.segment
    ),
    unioned AS (
      SELECT * FROM kept UNION ALL SELECT * FROM closed
      UNION ALL SELECT * FROM opened
    )
    SELECT c_custkey, segment,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(valid_to, '%Y-%m-%d') AS valid_to
    FROM unioned
    """,
)
def q_scd2(spark, sf_dir):
    """SCD type-2 dimension merge (operators/merge.py:scd2_apply): every
    4th customer changes segment (every 8th is a no-op change), every
    16th adds a brand-new key — changed rows close with the effective
    timestamp, no-ops produce no spurious version, new keys open.  One
    equi-join of the current slice against the change batch."""
    from geoparquet_io_spark.operators.merge import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey", F.col("c_mktsegment").alias("segment"),
        F.lit("2023-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"))
    ch = c.filter(F.col("c_custkey") % 4 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 8 == 0, F.col("c_mktsegment"))
         .otherwise(F.concat(F.col("c_mktsegment"), F.lit("_V2")))
         .alias("segment"),
        F.lit("2024-06-01").cast("timestamp").alias("effective_ts"),
    ).unionByName(
        c.filter(F.col("c_custkey") % 16 == 0).select(
            (F.col("c_custkey") + 10000000).alias("c_custkey"),
            F.lit("NEW").alias("segment"),
            F.lit("2024-06-01").cast("timestamp").alias("effective_ts")))
    out = scd2_apply(dim, ch, "c_custkey", ["segment"])
    fmt = lambda x: F.date_format(x, "yyyy-MM-dd").alias(x)  # noqa: E731
    return out.select("c_custkey", "segment", fmt("valid_from"),
                      fmt("valid_to"))


@register(
    "stats_grouped_outliers",
    """
    WITH st AS (
      SELECT o_orderpriority AS g, AVG(o_totalprice) AS m,
             stddev_pop(o_totalprice) AS sd
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CASE WHEN abs((o.o_totalprice - st.m) / st.sd) > 2.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN abs((o.o_totalprice - st.m) / st.sd) > 2.0
                          THEN o.o_totalprice ELSE 0.0 END), 2)
             AS outlier_total
    FROM orders o JOIN st ON o.o_orderpriority = st.g
    GROUP BY 1
    """,
)
def q_grouped_outliers(spark, sf_dir):
    """Per-group z-score outlier flags (operators/stats.py:
    grouped_outliers): one stats aggregate + broadcast join back, no
    windows; aggregated per priority class for the oracle compare."""
    from geoparquet_io_spark.operators.stats import grouped_outliers

    o = load_table(spark, sf_dir, "orders")
    out = grouped_outliers(o, "o_orderpriority", "o_totalprice", z=2.0)
    return (out.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("is_outlier").cast("long"))
                 .alias("n_outliers"),
                 F.round(F.sum(F.when(F.col("is_outlier"),
                                      F.col("o_totalprice"))
                               .otherwise(0.0)), 2)
                 .alias("outlier_total")))


@register(
    "stats_grouped_quantiles",
    """
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.9]) AS qs
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(CASE i WHEN 1 THEN 0.25 WHEN 2 THEN 0.5
                  WHEN 3 THEN 0.75 ELSE 0.9 END AS DOUBLE) AS probability,
           ROUND(qs[i], 6) AS quantile
    FROM q, UNNEST(generate_series(1, 4)) AS t(i)
    """,
)
def q_grouped_quantiles(spark, sf_dir):
    """Exact per-group quantiles (operators/stats.py:grouped_quantiles):
    Spark's percentile aggregate == SQL quantile_cont (both linear
    interpolation — verified identical), one aggregate shuffle."""
    from geoparquet_io_spark.operators.stats import grouped_quantiles

    o = load_table(spark, sf_dir, "orders")
    return grouped_quantiles(o, "o_orderpriority", "o_totalprice",
                             [0.25, 0.5, 0.75, 0.9])


@register(
    "stats_correlation",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def q_correlation(spark, sf_dir):
    """Per-group Pearson correlation + sample covariance — native
    numerically-stable one-pass aggregates in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
        .alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6)
        .alias("cov_qty_disc"),
        F.count("*").alias("n"))


@register(
    "events_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY 1
    ),
    j AS (
      SELECT e.user_id, f.cohort, date_trunc('week', e.ts) AS period
      FROM events e JOIN first f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
           CAST(floor(date_diff('second', cohort, period)
                      / 604800.0) AS INT) AS period_index,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j GROUP BY 1, 2
    """,
)
def q_cohort(spark, sf_dir):
    """Weekly cohort retention matrix (operators/stats.py:
    cohort_retention): first-event cohort per user + distinct-active
    counts per (cohort, week index) — two keyed aggregates and one
    user-key join, no windows.  Monday-anchored week truncation is
    identical in both engines (verified)."""
    from geoparquet_io_spark.operators.stats import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    out = cohort_retention(ev, "user_id", "ts", unit="week")
    return out.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "period_index", "n_users")


_DSIR_BUCKET = "CAST(concat('0x', substr(md5({t}), 1, 8)) AS BIGINT) % 256"


@register(
    "curate_dsir_select",
    f"""
    WITH tgt_tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      FROM documents WHERE source = 'src0' AND len(trim(text)) > 0
    ),
    src_tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      FROM documents WHERE source != 'src0' AND len(trim(text)) > 0
    ),
    tb AS (SELECT {_DSIR_BUCKET.format(t='t')} AS b, COUNT(*) AS c
           FROM tgt_tok WHERE len(t) > 0 GROUP BY 1),
    sb AS (SELECT {_DSIR_BUCKET.format(t='t')} AS b, COUNT(*) AS c
           FROM src_tok WHERE len(t) > 0 GROUP BY 1),
    tt AS (SELECT CAST(COALESCE(SUM(c), 0) + 256 AS DOUBLE) AS tot FROM tb),
    st AS (SELECT CAST(COALESCE(SUM(c), 0) + 256 AS DOUBLE) AS tot FROM sb),
    ratios AS (
      SELECT g.b,
             CAST(ROUND((ln((COALESCE(tb.c, 0) + 1) / tt.tot)
                        - ln((COALESCE(sb.c, 0) + 1) / st.tot)) * 1e6)
                  AS BIGINT) AS lr
      FROM (SELECT unnest(range(256)) AS b) g
      LEFT JOIN tb ON g.b = tb.b LEFT JOIN sb ON g.b = sb.b
      CROSS JOIN tt CROSS JOIN st
    ),
    doc_lw AS (
      SELECT s.doc_id, CAST(SUM(r.lr) AS BIGINT) AS lwm
      FROM (SELECT doc_id, {_DSIR_BUCKET.format(t='t')} AS b
            FROM src_tok WHERE len(t) > 0) s
      JOIN ratios r ON s.b = r.b GROUP BY 1
    ),
    pri AS (
      -- stable Gumbel form (see operators/sampling.py:dsir_select):
      -- ln(-ln u) - lw ascending == ln(u)*exp(-lw) descending, sans the
      -- exp underflow
      SELECT doc_id, lwm,
             ln(-ln(({_DRAW.format(salt='dsir', key='doc_id')} + 0.5)
                    / 4294967296.0)) - (lwm / 1e6) AS p
      FROM doc_lw
    ),
    top AS (SELECT doc_id, lwm FROM pri
            ORDER BY p ASC, doc_id LIMIT 40)
    SELECT d.doc_id, d.source, ROUND(top.lwm / 1e6, 6) AS logweight
    FROM top JOIN documents d ON top.doc_id = d.doc_id
    """,
)
def q_dsir(spark, sf_dir):
    """DSIR data selection (operators/sampling.py:dsir_select, Xie et
    al. 2023): pick 40 out-of-domain docs that look most like the
    src0 target domain under hashed-unigram importance weights, with
    log-space Efraimidis-Spirakis resampling (TakeOrderedAndProject,
    no overflow at extreme ratios).  Ratios quantized to integer
    micro-nats — both engines sum identical integers."""
    from geoparquet_io_spark.operators.sampling import dsir_select

    d = load_table(spark, sf_dir, "documents") \
        .filter(F.length(F.trim("text")) > 0)
    target = d.filter(F.col("source") == "src0")
    pool = d.filter(F.col("source") != "src0")
    out = dsir_select(pool, target, n=40, num_features=256)
    return out.select("doc_id", "source", "logweight")


@register(
    "pipeline_curation_e2e",
    """
    WITH f AS (
      SELECT doc_id, text,
             len(list_filter(string_split_regex(text, '\\s+'),
                 w -> w != '')) AS n_words,
             len(regexp_replace(text, '\\s+', '', 'g')) AS twc,
             len(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS symbols,
             greatest(len(text), 1) AS n_chars,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 w -> list_contains(['the','and','of','to','a','in','is','it'],
                                    w))) AS sw
      FROM documents
    ),
    kept AS (
      SELECT doc_id, text, n_words, sw
      FROM f
      WHERE n_words BETWEEN 5 AND 100000
        AND twc / greatest(n_words, 1) BETWEEN 2.0 AND 12.0
        AND symbols / n_chars <= 0.3 AND sw >= 1
    ),
    deduped AS (
      SELECT doc_id, n_words, sw,
             ROUND(sw / n_words, 6) AS score
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)),
                                              '\\s+', ' ', 'g'))
              ORDER BY doc_id) AS rn
            FROM kept)
      WHERE rn = 1
    ),
    run AS (
      SELECT doc_id, n_words, score,
             SUM(n_words) OVER (ORDER BY score DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS c
      FROM deduped
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, score
    FROM run WHERE c <= 5000
    """,
)
def q_curation_e2e(spark, sf_dir):
    """End-to-end curation pipeline — the composition story: quality
    gate (map-only) -> exact dedup on the normalized fingerprint
    (deterministic survivor) -> stopword-density scoring -> token-budget
    prefix selection (bucket histogram, boundary-window only).  Each
    stage is an independently-verified operator; the pipeline is their
    straight composition with no glue code."""
    from geoparquet_io_spark.operators.dedup import dedup_exact
    from geoparquet_io_spark.operators.sampling import (
        select_under_token_budget)
    from geoparquet_io_spark.operators.text import quality_filter

    d = load_table(spark, sf_dir, "documents")
    kept = quality_filter(d).filter("keep")
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    deduped = dedup_exact(kept.withColumn("__fp", fp),
                          columns=["__fp"], key_column="doc_id")
    scored = deduped.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(F.col("stopword_hits") / F.col("n_words"), 6)
        .alias("score"))
    out = select_under_token_budget(scored, 5000, "doc_id", "score",
                                    "n_words")
    return out.select("doc_id", "n_words", "score")


def _video_means_oracle() -> str:
    """The graded AVI payload is built from document bytes at fixed
    geometry (8x6 DIB frames, 3 per doc, stride 24 = no row padding), so
    the decoded per-frame mean pixel value is exactly the mean of the
    144 source bytes of that frame -- SQL-expressible byte arithmetic
    over the cycled 432-char prefix (corpus is ASCII)."""
    frame = ("ROUND(list_reduce([ascii(substr(t, {off} + i, 1)) "
             "FOR i IN range(1, 145)], (a, b) -> a + b) / 144.0, 4)")
    return f"""
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(432.0 / length(text)) AS INT)),
                    1, 432) AS t
      FROM documents WHERE length(text) >= 1)
    SELECT doc_id, 8 AS width, 6 AS height, 10.0 AS fps, 3 AS n_frames,
           {frame.format(off=0)} AS mean_f0,
           {frame.format(off=144)} AS mean_f1,
           {frame.format(off=288)} AS mean_f2
    FROM d
    """


@register("multimodal_video_frames", _video_means_oracle())
def q_multimodal_video(spark, sf_dir):
    """REAL video decode, graded: per-document MJPEG-style AVI containers
    are assembled with native binary concat (the container template --
    headers, stream table, movi chunk framing -- is a fixed byte literal
    at this geometry; only the 3 x 144-byte DIB frame payloads vary),
    then the REAL RIFF parser + frame decoder (functions/avi.py) runs
    inside Arrow-batched mapInPandas.  The oracle recomputes each frame
    mean from the source bytes independently.  Reference: multimodal
    media handling via external binaries (core/convert.py); here the
    container+DIB path needs no codec library."""
    from geoparquet_io_spark.functions.avi import build_avi, parse_avi
    from geoparquet_io_spark.operators.multimodal import (
        extract_video_features)

    # fixed-geometry container template: 3 placeholder frames of 144 bytes
    tpl = build_avi([b"\x00" * 144] * 3, 8, 6, fps=10.0, codec="DIB ")
    offs = [f.offset for f in parse_avi(tpl).frames]
    statics = [tpl[:offs[0]], tpl[offs[0] + 144:offs[1]],
               tpl[offs[1] + 144:offs[2]], tpl[offs[2] + 144:]]

    from geoparquet_io_spark.operators.skew import spread

    d = (spread(load_table(spark, sf_dir, "documents"))
         .filter(F.length("text") >= 1)
         .withColumn("t", F.expr(
             "substr(repeat(text, cast(ceil(432.0/length(text)) as int)),"
             " 1, 432)")))
    data = F.concat(
        F.lit(statics[0]), F.encode(F.substring("t", 1, 144), "utf-8"),
        F.lit(statics[1]), F.encode(F.substring("t", 145, 144), "utf-8"),
        F.lit(statics[2]), F.encode(F.substring("t", 289, 144), "utf-8"),
        F.lit(statics[3]))
    out = extract_video_features(d.withColumn("data", data), "data")
    v = F.col("video_features")
    means = v["frame_means"]
    return out.select(
        "doc_id",
        v["width"].alias("width"), v["height"].alias("height"),
        v["fps"].alias("fps"), v["n_frames"].alias("n_frames"),
        F.round(means[0], 4).alias("mean_f0"),
        F.round(means[1], 4).alias("mean_f1"),
        F.round(means[2], 4).alias("mean_f2"))


@register(
    "multimodal_audio_metadata",
    """
    WITH d AS (
      SELECT doc_id,
             CASE length(text) % 3 WHEN 0 THEN 96.0 WHEN 1 THEN 128.0
                  ELSE 160.0 END AS br,
             2 + ascii(substr(text, 1, 1)) % 3 AS k
      FROM documents WHERE length(text) >= 1)
    SELECT doc_id, 'mp3' AS format, 48000 AS sample_rate, 2 AS channels,
           ROUND(k * 1152.0 / 48000, 4) AS duration_s,
           ROUND(br, 4) AS bitrate_kbps,
           k AS n_frames
    FROM d
    """,
)
def q_multimodal_audio(spark, sf_dir):
    """REAL MPEG-audio parsing, graded: each document becomes a CBR MP3
    stream assembled with native binary concat (MPEG-1 Layer III 48 kHz
    stereo frame headers are 4-byte literals; the bitrate -- and so the
    exact frame size 144*br/48000 -- varies with the text length, the
    frame count with its first byte).  The REAL frame walker
    (functions/mp3.py) recovers duration / average bitrate / frame
    count inside Arrow-batched mapInPandas; the oracle recomputes them
    from the construction arithmetic independently."""
    from geoparquet_io_spark.functions.mp3 import parse_frame_header
    from geoparquet_io_spark.operators.multimodal import (
        extract_audio_metadata)

    # bitrate -> (header literal, frame size); sanity-checked via the
    # parser itself at build time so a bad literal fails loudly
    hdrs = {96: (b"\xff\xfb\x74\x00", 288), 128: (b"\xff\xfb\x94\x00", 384),
            160: (b"\xff\xfb\xa4\x00", 480)}
    for br, (hdr, size) in hdrs.items():
        fr = parse_frame_header(hdr + b"\x00" * 500, 0)
        assert (fr.bitrate_kbps, fr.size, fr.sample_rate) == (br, size, 48000)

    from geoparquet_io_spark.operators.skew import spread

    d = (spread(load_table(spark, sf_dir, "documents"))
         .filter(F.length("text") >= 1)
         .withColumn("t", F.expr(
             "substr(repeat(text, cast(ceil(476.0/length(text)) as int)),"
             " 1, 476)")))
    m = F.length("text") % 3

    def frame(br):
        hdr, size = hdrs[br]
        return F.concat(F.lit(hdr),
                        F.encode(F.substring("t", 1, size - 4), "utf-8"))

    fr = (F.when(m == 0, frame(96)).when(m == 1, frame(128))
          .otherwise(frame(160)))
    k = (F.ascii(F.substring("text", 1, 1)) % 3) + 2
    data = (F.when(k == 2, F.concat(fr, fr))
            .when(k == 3, F.concat(fr, fr, fr))
            .otherwise(F.concat(fr, fr, fr, fr)))
    out = extract_audio_metadata(d.withColumn("data", data), "data")
    a = F.col("audio_meta")
    return out.select(
        "doc_id", a["format"].alias("format"),
        a["sample_rate"].alias("sample_rate"),
        a["channels"].alias("channels"),
        F.round(a["duration_s"], 4).alias("duration_s"),
        F.round(a["bitrate_kbps"], 4).alias("bitrate_kbps"),
        a["n_frames"].alias("n_frames"))


_RASTER_PTS_SQL = """
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(48.0 / length(text)) AS INT)),
                    1, 48) AS t
      FROM documents WHERE length(text) >= 1)
    SELECT doc_id, CAST(c AS INT) AS col, CAST(r AS INT) AS row,
           CAST(500000.0 + (c + 0.5) * 30.0 AS DOUBLE) AS x,
           CAST(4650000.0 - (r + 0.5) * 30.0 AS DOUBLE) AS y,
           CAST(ascii(substr(t, r * 8 + c + 1, 1)) AS DOUBLE) AS value
    FROM d, range(0, 6) t1(r), range(0, 8) t2(c)
"""


def _doc_geotiffs(spark, sf_dir):
    """Per-document 8x6 uint8 GeoTIFF payloads assembled with native
    binary concat: the container (IFD, geo tags EPSG:32633 /
    origin (500000, 4650000) / 30 m pixels, strip layout) is a fixed
    byte template from the product writer; only the 48 pixel bytes
    (cycled document text) vary per row."""
    from geoparquet_io_spark.functions.tiff import (_read_ifds,
                                                    build_geotiff)
    import numpy as _np

    tpl = build_geotiff(_np.zeros((6, 8), dtype=_np.uint8), epsg=32633,
                        origin=(500000.0, 4650000.0), scale=(30.0, 30.0))
    strip_off = _read_ifds(tpl)[0][0].tags[273][0]
    prefix, suffix = tpl[:strip_off], tpl[strip_off + 48:]
    from geoparquet_io_spark.operators.skew import spread

    d = (spread(load_table(spark, sf_dir, "documents"))
         .filter(F.length("text") >= 1)
         .withColumn("t", F.expr(
             "substr(repeat(text, cast(ceil(48.0/length(text)) as int)),"
             " 1, 48)")))
    return d.withColumn("data", F.concat(
        F.lit(prefix), F.encode(F.substring("t", 1, 48), "utf-8"),
        F.lit(suffix)))


@register("raster_pixel_points", _RASTER_PTS_SQL)
def q_raster_points(spark, sf_dir):
    """REAL raster ingestion, graded: GeoTIFF payloads decode through the
    pure-numpy TIFF reader and explode to pixel-center points in the
    raster's CRS (operators/raster.py:geotiff_to_points); the oracle
    regenerates every pixel row and its affine coordinates from the
    construction arithmetic."""
    from geoparquet_io_spark.operators.raster import geotiff_to_points

    d = _doc_geotiffs(spark, sf_dir).select("doc_id", "data")
    return geotiff_to_points(d).select(
        "doc_id", "col", "row", "x", "y", "value")


@register(
    "raster_zonal_stats",
    f"""
    WITH pts AS ({_RASTER_PTS_SQL})
    SELECT doc_id, CAST(col // 4 AS INT) AS zx, CAST(row // 3 AS INT) AS zy,
           ROUND(AVG(value), 4) AS mean_v, COUNT(*) AS n
    FROM pts GROUP BY 1, 2, 3
    """,
)
def q_raster_zonal(spark, sf_dir):
    """Zonal statistics as pure composition: raster -> points -> ordinary
    groupBy on the zone grid.  No raster-specific aggregation machinery
    — at 100 TB this is files-parallel decode + one keyed aggregate."""
    from geoparquet_io_spark.operators.raster import geotiff_to_points

    d = _doc_geotiffs(spark, sf_dir).select("doc_id", "data")
    pts = geotiff_to_points(d)
    return pts.groupBy(
        "doc_id",
        F.floor(F.col("col") / 4).cast("int").alias("zx"),
        F.floor(F.col("row") / 3).cast("int").alias("zy"),
    ).agg(F.round(F.avg("value"), 4).alias("mean_v"),
          F.count("*").alias("n"))


@register(
    "graph_triangles",
    """
    WITH raw AS (SELECT o_custkey % 40 AS s, o_orderkey % 40 AS d
                 FROM orders),
    e AS (SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b
          FROM raw WHERE s <> d),
    t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    v AS (SELECT x AS v FROM t UNION ALL SELECT y FROM t
          UNION ALL SELECT z FROM t)
    SELECT v AS vertex, COUNT(*) AS n_triangles FROM v GROUP BY 1
    """,
)
def q_graph_triangles(spark, sf_dir):
    """Exact per-vertex triangle counts on the orders-derived graph
    (operators/graph.py:triangle_count) — the clustering-coefficient
    numerator used for community/spam signals in web-graph curation.
    Degree-ordered edge-iterator: the oracle's naive 3-way self-join is
    the quadratic form the operator avoids."""
    from geoparquet_io_spark.operators.graph import triangle_count

    o = load_table(spark, sf_dir, "orders")
    edges = o.select((F.col("o_custkey") % 40).alias("src"),
                     (F.col("o_orderkey") % 40).alias("dst")) \
             .filter(F.col("src") != F.col("dst"))
    return triangle_count(edges)


def _zorder_oracle(bits: int = 8) -> str:
    n = (1 << bits) - 1
    x_terms = " + ".join(f"((gx >> {j}) & 1) * {1 << (2 * j)}"
                         for j in range(bits))
    y_terms = " + ".join(f"((gy >> {j}) & 1) * {1 << (2 * j + 1)}"
                         for j in range(bits))
    return f"""
    WITH ext AS (
      SELECT MIN(o_totalprice) AS plo, MAX(o_totalprice) AS phi,
             MIN(o_custkey) AS clo, MAX(o_custkey) AS chi
      FROM orders),
    g AS (
      SELECT o_orderkey,
        LEAST({n}, GREATEST(0, CAST(FLOOR(
          (o_totalprice - plo) / (phi - plo) * {n}.0 + 0.5) AS BIGINT)))
          AS gx,
        LEAST({n}, GREATEST(0, CAST(FLOOR(
          (CAST(o_custkey AS DOUBLE) - clo) / (chi - clo) * {n}.0 + 0.5)
          AS BIGINT))) AS gy
      FROM orders, ext)
    SELECT o_orderkey, {x_terms} + {y_terms} AS zkey
    FROM g
    """


@register("sort_zorder_multicolumn", _zorder_oracle())
def q_zorder_multicolumn(spark, sf_dir):
    """Generic multi-column Z-ORDER key (operators/sorts.py:zorder_by,
    linear mode): the Delta/Iceberg OPTIMIZE ZORDER BY layout over
    (o_totalprice, o_custkey).  The oracle recomputes the uniform-grid
    bucket ids and the full bit interleave in SQL."""
    from geoparquet_io_spark.operators.sorts import zorder_by

    o = load_table(spark, sf_dir, "orders")
    z = zorder_by(o, ["o_totalprice", "o_custkey"], bits=8,
                  key_column="zkey", keep_key=True)
    return z.select("o_orderkey", "zkey")


# --- perceptual image hashing over per-doc BMPs ----------------------------

def _doc_bmp_template():
    """54-byte BMP header for a 24-bit 8x7 bottom-up image (stride 24,
    no padding) — the fixed prefix; 168 pixel bytes follow."""
    import struct as _s

    header = b"BM" + _s.pack("<IHHI", 54 + 168, 0, 0, 54)
    info = _s.pack("<IiiHHIIiiII", 40, 8, 7, 1, 24, 0, 168, 2835, 2835,
                   0, 0)
    return header + info


def _dhash49_sql(tcol: str) -> str:
    """dhash(hash_size=7) of the 8x7 BMP whose 168 pixel bytes are the
    chars of ``tcol`` (bottom-up rows): gray(r,c) averages 3 bytes;
    bit (r,c) = gray(r,c) > gray(r,c+1), MSB-first."""
    gray = (f"[(ascii(substr({tcol}, (6 - i // 8) * 24 + (i % 8) * 3 + 1, 1))"
            f" + ascii(substr({tcol}, (6 - i // 8) * 24 + (i % 8) * 3 + 2, 1))"
            f" + ascii(substr({tcol}, (6 - i // 8) * 24 + (i % 8) * 3 + 3, 1))"
            f") / 3.0 FOR i IN range(0, 56)]")
    return (f"list_reduce([CASE WHEN {gray}[(j // 7) * 8 + (j % 7) + 1] > "
            f"{gray}[(j // 7) * 8 + (j % 7) + 2] "
            f"THEN (1::BIGINT << (48 - j)) ELSE 0::BIGINT END "
            f"FOR j IN range(0, 49)], (a, b) -> a + b)")


_DHASH_DOCS_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(168.0 / length(text)) AS INT)),
                    1, 168) AS t
      FROM documents WHERE length(text) >= 1)
    SELECT doc_id, {_dhash49_sql('t')} AS dhash FROM d
"""


def _doc_bmps(spark, sf_dir, perturb: bool = False):
    from geoparquet_io_spark.operators.skew import spread

    tpl = _doc_bmp_template()
    d = (spread(load_table(spark, sf_dir, "documents"))
         .filter(F.length("text") >= 1)
         .withColumn("t", F.expr(
             "substr(repeat(text, cast(ceil(168.0/length(text)) as int)),"
             " 1, 168)")))
    src = (F.concat(F.substring("t", 1, 165), F.lit("zzz")) if perturb
           else F.col("t"))
    return d.withColumn("data",
                        F.concat(F.lit(tpl), F.encode(src, "utf-8")))


@register("multimodal_image_dhash", _DHASH_DOCS_SQL)
def q_image_dhash(spark, sf_dir):
    """Perceptual difference-hash (operators/multimodal.py:add_image_dhash,
    hash_size=7 -> 49 bits) over per-doc 24-bit BMPs assembled with
    native binary concat; the oracle recomputes the pooled-gray
    gradient bits from the source bytes."""
    from geoparquet_io_spark.operators.multimodal import add_image_dhash

    d = _doc_bmps(spark, sf_dir).select("doc_id", "data")
    return add_image_dhash(d, "data", "dhash", hash_size=7) \
        .select("doc_id", "dhash")


@register(
    "multimodal_image_near_dup",
    f"""
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(168.0 / length(text)) AS INT)),
                    1, 168) AS t
      FROM documents WHERE length(text) >= 1),
    imgs AS (
      SELECT doc_id * 2 AS img_id, {_dhash49_sql('t')} AS h FROM d
      UNION ALL
      SELECT doc_id * 2 + 1 AS img_id,
             {_dhash49_sql("concat(substr(t, 1, 165), 'zzz')")} AS h
      FROM d)
    SELECT a.img_id AS id_a, b.img_id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
    FROM imgs a JOIN imgs b ON a.img_id < b.img_id
    WHERE bit_count(xor(a.h, b.h)) <= 6
    """,
)
def q_image_near_dup(spark, sf_dir):
    """Image near-dup pairing (multimodal.py:image_near_duplicate_pairs):
    every doc contributes its BMP and a last-pixel-perturbed copy, so
    each pair (2d, 2d+1) sits within hamming <= 1 and must surface;
    the banded LSH join (7 bands x 7 bits, pigeonhole-complete for
    hamming <= 6) finds them without an all-pairs product, while the
    oracle IS the all-pairs product."""
    from geoparquet_io_spark.operators.multimodal import (
        image_near_duplicate_pairs)

    a = _doc_bmps(spark, sf_dir).select(
        (F.col("doc_id") * 2).alias("img_id"), "data")
    b = _doc_bmps(spark, sf_dir, perturb=True).select(
        (F.col("doc_id") * 2 + 1).alias("img_id"), "data")
    return image_near_duplicate_pairs(a.unionAll(b), "img_id",
                                      max_hamming=6, hash_size=7, bands=7)


@register(
    "multimodal_audio_wav_features",
    """
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(200.0 / length(text)) AS INT)),
                    1, 200) AS t
      FROM documents WHERE length(text) >= 1),
    s AS (SELECT doc_id,
            [(ascii(substr(t, i, 1)) - 128.0) / 128.0
             FOR i IN range(1, 201)] AS x
          FROM d)
    SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
           ROUND(200.0 / 8000.0, 6) AS duration_s,
           ROUND(sqrt(list_reduce([v * v FOR v IN x],
                                  (a, b) -> a + b) / 200.0), 6) AS rms,
           ROUND(list_reduce(
             [CASE WHEN (x[i] < 0) <> (x[i + 1] < 0) THEN 1.0
                   ELSE 0.0 END FOR i IN range(1, 200)],
             (a, b) -> a + b) / 199.0, 6) AS zcr
    FROM s
    """,
)
def q_audio_wav_features(spark, sf_dir):
    """REAL WAV DSP, graded: per-doc 8-bit PCM WAVs (200 samples at
    8 kHz, sample bytes = cycled text) built with native binary concat;
    the featurizer decodes and computes RMS + zero-crossing rate, the
    oracle recomputes both from the byte arithmetic.  (Spectral
    centroid is FFT-based — covered by the physics-pinned pytest, not
    SQL-expressible.)"""
    import struct as _s

    from geoparquet_io_spark.operators.multimodal import (
        extract_audio_features)

    hdr = (b"RIFF" + _s.pack("<I", 36 + 200) + b"WAVE"
           + b"fmt " + _s.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
           + b"data" + _s.pack("<I", 200))
    from geoparquet_io_spark.operators.skew import spread

    d = (spread(load_table(spark, sf_dir, "documents"))
         .filter(F.length("text") >= 1)
         .withColumn("t", F.expr(
             "substr(repeat(text, cast(ceil(200.0/length(text)) as int)),"
             " 1, 200)")))
    d = d.withColumn("data", F.concat(
        F.lit(hdr), F.encode(F.substring("t", 1, 200), "utf-8")))
    out = extract_audio_features(d, "data")
    a = F.col("audio_features")
    return out.select(
        "doc_id", a["sample_rate"].alias("sample_rate"),
        a["channels"].alias("channels"),
        F.round(a["duration_s"], 6).alias("duration_s"),
        F.round(a["rms"], 6).alias("rms"),
        F.round(a["zcr"], 6).alias("zcr"))


@register(
    "dataset_delete_travel",
    """
    SELECT 1 AS version, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total FROM orders
    UNION ALL
    SELECT 2 AS version, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT 3 AS version, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 7 <> 0
    """,
)
def q_delete_travel(spark, sf_dir):
    """Merge-on-read DELETE + time travel (operators/maintenance.py:
    delete_where / apply_deletes — Iceberg equality-delete model):
    v1 = full ingest, v2 = delete_where (no data rewrite, anti-join on
    the delete-file keys at read), v3 = apply_deletes REPLACE rewrite.
    v2 and v3 must agree with each other and the oracle; v1 still sees
    every row."""
    import tempfile

    from geoparquet_io_spark.operators.maintenance import (apply_deletes,
                                                           delete_where,
                                                           commit_snapshot,
                                                           read_snapshot)

    orders = load_table(spark, sf_dir, "orders")
    p = tempfile.mkdtemp(prefix="gpq_del_") + "/ds"
    orders.write.mode("append").parquet(p)
    commit_snapshot(spark, p, note="ingest")
    delete_where(spark, p, "o_orderkey % 7 = 0", "o_orderkey")
    apply_deletes(spark, p)

    def agg(version):
        return read_snapshot(spark, p, version).df.agg(
            F.lit(version).cast("int").alias("version"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"))

    return agg(1).unionAll(agg(2)).unionAll(agg(3))


@register(
    "dataset_change_feed",
    """
    SELECT o_orderkey, 'insert' AS _change FROM orders
    WHERE o_orderkey % 3 = 1 AND o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey, 'delete' AS _change FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
    """,
)
def q_change_feed(spark, sf_dir):
    """Snapshot change data feed (operators/maintenance.py:
    changes_between — the Delta CDF idea computed from membership
    lists): v1 = keys %3==0; append keys %3==1 (v2); merge-on-read
    delete of even keys (v3).  The 1->3 feed must contain exactly the
    odd appended keys as inserts (even appended keys are already gone
    at v3 — never visible to the feed) and the even original keys as
    deletes."""
    import tempfile

    from geoparquet_io_spark.operators.maintenance import (changes_between,
                                                           commit_snapshot,
                                                           delete_where)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    p = tempfile.mkdtemp(prefix="gpq_cdf_") + "/ds"
    orders.filter(F.col("o_orderkey") % 3 == 0) \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)
    orders.filter(F.col("o_orderkey") % 3 == 1) \
        .write.mode("append").parquet(p)
    commit_snapshot(spark, p)
    delete_where(spark, p, "o_orderkey % 2 = 0", "o_orderkey")
    return changes_between(spark, p, "o_orderkey", 1, 3) \
        .select("o_orderkey", "_change")


@register(
    "dataset_merge_into",
    """
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0 THEN 0.0
                  ELSE o_totalprice END AS price
      FROM orders WHERE NOT o_orderkey % 77 = 0
      UNION ALL
      SELECT -1 AS o_orderkey, 123.45 AS price
    )
    SELECT COUNT(*) AS n, ROUND(SUM(price), 2) AS total,
           CAST(SUM(CASE WHEN price = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS zeroed
    FROM merged
    """,
)
def q_merge_into(spark, sf_dir):
    """Lakehouse MERGE INTO (operators/maintenance.py:merge_into):
    updates (price zeroed on %100 keys not also deleted — the
    changelog contract is one change row per key), one insert (key -1)
    and deletes (%77 keys) applied to the snapshot in one changelog;
    the oracle reconstructs the merged table with set algebra."""
    import tempfile

    from geoparquet_io_spark.operators.maintenance import (commit_snapshot,
                                                           merge_into,
                                                           read_snapshot)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price"))
    p = tempfile.mkdtemp(prefix="gpq_mrg_") + "/ds"
    orders.write.mode("append").parquet(p)
    commit_snapshot(spark, p)
    updates = orders.filter((F.col("o_orderkey") % 100 == 0)
                            & (F.col("o_orderkey") % 77 != 0)) \
        .withColumn("price", F.lit(0.0)).withColumn("op", F.lit("U"))
    inserts = spark.createDataFrame([(-1, 123.45, "U")],
                                    ["o_orderkey", "price", "op"])
    deletes = orders.filter(F.col("o_orderkey") % 77 == 0) \
        .withColumn("op", F.lit("D"))
    merge_into(spark, p, updates.unionByName(inserts).unionByName(deletes),
               "o_orderkey")
    return read_snapshot(spark, p).df.agg(
        F.count("*").alias("n"),
        F.round(F.sum("price"), 2).alias("total"),
        F.sum(F.when(F.col("price") == 0.0, 1).otherwise(0))
        .cast("long").alias("zeroed"))


@register(
    "multimodal_image_resize",
    """
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(168.0 / length(text)) AS INT)),
                    1, 168) AS t
      FROM documents WHERE length(text) >= 1)
    SELECT doc_id, 16 AS width, 14 AS height,
           ascii(substr(t, 147, 1)) AS v1,
           ascii(substr(t, 22, 1)) AS v2,
           ascii(substr(t, 86, 1)) AS v3
    FROM d
    """,
)
def q_image_resize(spark, sf_dir):
    """Model-input resize (operators/multimodal.py:resize_images,
    nearest 2x upscale of the per-doc 8x7 BMPs): probe pixels are read
    back from the raw RGB tensor bytes with NATIVE exprs
    (ascii(decode(substring))), so the check does not reuse the python
    decode path; the oracle maps each probe through the nearest-
    neighbor index math + the BMP bottom-up BGR layout to a source
    byte."""
    from geoparquet_io_spark.operators.multimodal import resize_images

    d = _doc_bmps(spark, sf_dir).select("doc_id", "data")
    out = resize_images(d, 16, 14, method="nearest")

    def probe(i):
        return F.expr(
            f"ascii(decode(substring(resized.data, {i}, 1), 'ISO-8859-1'))")

    return out.select(
        "doc_id",
        F.col("resized.width").alias("width"),
        F.col("resized.height").alias("height"),
        probe(1).alias("v1"),      # out(0,0,R)  = in(0,0,R)
        probe(672).alias("v2"),    # out(13,15,B) = in(6,7,B)
        probe(365).alias("v3"))    # out(7,9,G)  = in(3,4,G)


@register(
    "stats_ab_welch",
    """
    WITH arms AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             value + CASE WHEN event_id % 2 = 0 THEN 0.0 ELSE 0.1 END AS v
      FROM events),
    m AS (
      SELECT arm, COUNT(*) AS n, AVG(v) AS mean, VAR_SAMP(v) AS var
      FROM arms GROUP BY arm),
    j AS (SELECT
            (SELECT n FROM m WHERE arm = 'A') AS n_a,
            (SELECT mean FROM m WHERE arm = 'A') AS mean_a,
            (SELECT var FROM m WHERE arm = 'A') AS var_a,
            (SELECT n FROM m WHERE arm = 'B') AS n_b,
            (SELECT mean FROM m WHERE arm = 'B') AS mean_b,
            (SELECT var FROM m WHERE arm = 'B') AS var_b)
    SELECT n_a, ROUND(mean_a, 6) AS mean_a, ROUND(var_a, 6) AS var_a,
           n_b, ROUND(mean_b, 6) AS mean_b, ROUND(var_b, 6) AS var_b,
           ROUND((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 6) AS t_welch,
           ROUND(pow(var_a / n_a + var_b / n_b, 2)
                 / (pow(var_a / n_a, 2) / (n_a - 1)
                    + pow(var_b / n_b, 2) / (n_b - 1)), 4) AS dof
    FROM j
    """,
)
def q_ab_welch(spark, sf_dir):
    """Welch's t-test between two synthetic experiment arms
    (operators/stats.py:ab_test): six distributed moments -> exact t
    statistic + Welch-Satterthwaite dof; the oracle recomputes the
    closed form from the same aggregates."""
    from geoparquet_io_spark.operators.stats import ab_test

    e = load_table(spark, sf_dir, "events")
    arms = e.select(
        F.when(F.col("event_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        (F.col("value") + F.when(F.col("event_id") % 2 == 0, 0.0)
         .otherwise(0.1)).alias("v"))
    out = ab_test(arms, "arm", "v", "A", "B")
    return out.select(
        "n_a", F.round("mean_a", 6).alias("mean_a"),
        F.round("var_a", 6).alias("var_a"),
        "n_b", F.round("mean_b", 6).alias("mean_b"),
        F.round("var_b", 6).alias("var_b"),
        F.round("t_welch", 6).alias("t_welch"),
        F.round("dof", 4).alias("dof"))


@register(
    "stats_chi_square",
    """
    WITH base AS (
      SELECT event_type, CAST(user_id % 4 AS INT) AS segment FROM events),
    cells AS (
      SELECT event_type, segment, COUNT(*) AS o
      FROM base GROUP BY 1, 2),
    tot AS (SELECT SUM(o) AS n FROM cells),
    e AS (
      SELECT c.o,
             rt.rt * ct.ct / (SELECT n FROM tot) AS e
      FROM cells c
      JOIN (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1) rt
        USING (event_type)
      JOIN (SELECT segment, SUM(o) AS ct FROM cells GROUP BY 1) ct
        USING (segment))
    SELECT ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
           (SELECT CAST((COUNT(DISTINCT event_type) - 1)
                 * (COUNT(DISTINCT segment) - 1) AS BIGINT) FROM base)
             AS dof,
           (SELECT CAST(n AS BIGINT) FROM tot) AS n
    FROM e
    """,
)
def q_chi_square(spark, sf_dir):
    """Pearson chi-square for independence of event_type x user segment
    (operators/stats.py:chi_square_independence) — cell counts +
    marginals, shuffle bounded by category cardinality."""
    from geoparquet_io_spark.operators.stats import chi_square_independence

    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 4).cast("int").alias("segment"))
    out = chi_square_independence(e, "event_type", "segment")
    return out.select(F.round("chi2", 6).alias("chi2"), "dof", "n")


@register(
    "raster_sample_points",
    """
    WITH docs AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(48.0 / length(text)) AS INT)),
                    1, 48) AS t
      FROM documents WHERE doc_id < 4 AND length(text) >= 1),
    pts AS (
      SELECT event_id,
             CAST(event_id % 400 AS DOUBLE) + 0.5 AS x,
             CAST(user_id % 59 AS DOUBLE) + 0.5 AS y
      FROM events),
    assigned AS (
      SELECT event_id, x, y,
             CASE WHEN CAST(FLOOR(x) AS BIGINT) % 100 < 80
                  THEN CAST(FLOOR(x / 100) AS INT) END AS tile
      FROM pts)
    SELECT a.event_id, a.tile AS raster_id,
           CASE WHEN a.tile IS NULL THEN NULL
                ELSE CAST(ascii(substr(d.t,
                    CAST(FLOOR((60 - a.y) / 10) * 8
                         + FLOOR((a.x - 100 * a.tile) / 10) AS INT) + 1,
                    1)) AS DOUBLE) END AS value
    FROM assigned a LEFT JOIN docs d ON d.doc_id = a.tile
    """,
)
def q_raster_sample_points(spark, sf_dir):
    """Raster point enrichment (operators/raster.py:
    sample_raster_at_points): four 8x6 GeoTIFF tiles (pixels = the
    first four docs' bytes) at origins x = 0/100/200/300 with 20 m
    gaps; every event becomes a point and is answered by its covering
    tile's pixel — or NULL in the gaps.  Extent assignment is a
    broadcast range join; each tile decodes once per group.  The
    oracle recomputes the tile/pixel index arithmetic and byte lookup
    end-to-end."""
    from geoparquet_io_spark.functions.tiff import build_geotiff
    from geoparquet_io_spark.operators.raster import sample_raster_at_points
    import numpy as np

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 4) & (F.length("text") >= 1))
            .withColumn("t", F.expr(
                "substr(repeat(text, cast(ceil(48.0/length(text)) as int)),"
                " 1, 48)"))
            .select("doc_id", "t").collect())   # 4 rows — bounded
    tiles = []
    for r in docs:
        px = np.frombuffer(r["t"].encode("utf-8")[:48], np.uint8) \
            .reshape(6, 8)
        tiles.append((int(r["doc_id"]), bytearray(build_geotiff(
            px, epsg=32633, origin=(100.0 * r["doc_id"], 60.0),
            scale=(10.0, 10.0)))))
    rasters = spark.createDataFrame(tiles, "raster_id int, data binary")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("event_id") % 400).cast("double") + 0.5).alias("x"),
        ((F.col("user_id") % 59).cast("double") + 0.5).alias("y"))
    out = sample_raster_at_points(ev, rasters)
    return out.select("event_id", "raster_id", "value")


def _image_dedup_pipeline_oracle() -> str:
    """Recursive-CTE fixpoint over the dhash near-dup pair oracle: the
    SQL statement of what decode -> dhash -> banded pairs -> connected
    components converges to."""
    return f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(168.0 / length(text)) AS INT)),
                    1, 168) AS t
      FROM documents WHERE length(text) >= 1),
    imgs AS (
      SELECT doc_id * 2 AS img_id, {_dhash49_sql('t')} AS h FROM d
      UNION ALL
      SELECT doc_id * 2 + 1 AS img_id,
             {_dhash49_sql("concat(substr(t, 1, 165), 'zzz')")} AS h
      FROM d),
    pairs AS (
      SELECT a.img_id AS id_a, b.img_id AS id_b
      FROM imgs a JOIN imgs b ON a.img_id < b.img_id
      WHERE bit_count(xor(a.h, b.h)) <= 6),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node)
    SELECT component, COUNT(*) AS group_size
    FROM (SELECT node AS id, MIN(r) AS component FROM reach GROUP BY node)
    GROUP BY component
    """


@register("pipeline_image_dedup", _image_dedup_pipeline_oracle())
def q_pipeline_image_dedup(spark, sf_dir):
    """End-to-end multimodal dedup pipeline, pure composition of
    independently-verified operators: BMP decode -> dHash -> banded
    hamming pairs (image_near_duplicate_pairs) -> connected components
    (dedup.connected_components) -> per-group sizes.  Every doc ships
    an original + a perturbed twin, so chains exist by construction;
    the oracle is the recursive-CTE fixpoint over the all-pairs form."""
    from geoparquet_io_spark.operators.dedup import connected_components
    from geoparquet_io_spark.operators.multimodal import (
        image_near_duplicate_pairs)

    a = _doc_bmps(spark, sf_dir).select(
        (F.col("doc_id") * 2).alias("img_id"), "data")
    b = _doc_bmps(spark, sf_dir, perturb=True).select(
        (F.col("doc_id") * 2 + 1).alias("img_id"), "data")
    pairs = image_near_duplicate_pairs(a.unionAll(b), "img_id",
                                       max_hamming=6, hash_size=7, bands=7)
    comp = connected_components(pairs, id_a="id_a", id_b="id_b")
    return comp.groupBy("component").agg(F.count("*").alias("group_size"))


@register(
    "raster_burn_polygons",
    """
    WITH d AS (
      SELECT doc_id,
             10.0 * (1 + doc_id % 7) AS a,
             10.0 * (1 + doc_id % 5) AS b
      FROM documents)
    SELECT doc_id, CAST(c AS INT) AS col, CAST(r AS INT) AS row
    FROM d, range(0, 8) t1(c), range(0, 6) t2(r)
    WHERE (0.3 + c * 10 + 5) / a + (60.7 - (r * 10 + 5)) / b < 1
    """,
)
def q_raster_burn(spark, sf_dir):
    """Polygon rasterization (operators/raster.py:rasterize_polygons —
    the gdal_rasterize operation): per-doc right triangles with
    doc-dependent legs, built as NATIVE WKT strings and converted by
    the ST_GeomFromText pandas UDF, burned onto an 8x6 grid at a
    fractional origin (centers never sit on edges); the oracle is the
    half-plane inequality over every cell center."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.operators.raster import rasterize_polygons
    from geoparquet_io_spark.operators.skew import spread

    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        (10.0 * (1 + F.col("doc_id") % 7)).alias("a"),
        (10.0 * (1 + F.col("doc_id") % 5)).alias("b"))
    wkt = F.format_string(
        "POLYGON ((0 0, %.1f 0, 0 %.1f, 0 0))", F.col("a"), F.col("b"))
    polys = d.withColumn("geometry", G.st_geomfromtext(wkt)) \
        .select("doc_id", "geometry")
    out = rasterize_polygons(polys, 8, 6, origin=(0.3, 60.7),
                             scale=(10.0, 10.0))
    return out.select("doc_id", "col", "row")


@register(
    "raster_polygon_zonal",
    """
    WITH d AS (
      SELECT doc_id,
             substr(repeat(text, CAST(ceil(48.0 / length(text)) AS INT)),
                    1, 48) AS t,
             10.0 * (1 + doc_id % 7) AS a,
             10.0 * (1 + doc_id % 5) AS b
      FROM documents WHERE length(text) >= 1),
    px AS (
      SELECT doc_id, c, r, a, b,
             CAST(ascii(substr(t, r * 8 + c + 1, 1)) AS DOUBLE) AS v
      FROM d, range(0, 8) t1(c), range(0, 6) t2(r))
    SELECT doc_id, COUNT(*) AS n_cells, ROUND(AVG(v), 4) AS mean_v
    FROM px
    WHERE (0.3 + c * 10 + 5) / a + (60.7 - (r * 10 + 5)) / b < 1
    GROUP BY doc_id
    """,
)
def q_raster_polygon_zonal(spark, sf_dir):
    """Polygon zonal statistics as pure composition: each doc's raster
    (geotiff_to_points) joins its burned triangle cells
    (rasterize_polygons) on (doc_id, col, row) -> per-polygon pixel
    mean.  At scale both sides are map-only explosions and the join is
    one keyed shuffle; the oracle recomputes mask and mean from the
    construction arithmetic."""
    from geoparquet_io_spark.functions import geom as G
    from geoparquet_io_spark.operators.raster import (geotiff_to_points,
                                                      rasterize_polygons)

    # rasters over the same grid the burn uses: origin (0.3, 60.7)
    tiles = _doc_geotiffs(spark, sf_dir).select("doc_id", "data")
    # _doc_geotiffs pins origin (500000, 4650000); re-georeference by
    # using col/row (grid-local) from the explosion instead of x/y
    pixels = geotiff_to_points(tiles).select(
        "doc_id", "col", "row", "value")

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (10.0 * (1 + F.col("doc_id") % 7)).alias("a"),
        (10.0 * (1 + F.col("doc_id") % 5)).alias("b"))
    wkt = F.format_string(
        "POLYGON ((0 0, %.1f 0, 0 %.1f, 0 0))", F.col("a"), F.col("b"))
    polys = d.withColumn("geometry", G.st_geomfromtext(wkt)) \
        .select("doc_id", "geometry")
    mask = rasterize_polygons(polys, 8, 6, origin=(0.3, 60.7),
                              scale=(10.0, 10.0)) \
        .select("doc_id", "col", "row")
    joined = pixels.join(mask, ["doc_id", "col", "row"])
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_cells"),
        F.round(F.avg("value"), 4).alias("mean_v"))


# ---------------------------------------------------------------------------
# KMV dataset-overlap estimation (r6)
# ---------------------------------------------------------------------------

def _kmv_overlap_oracle(k: int = 1024) -> str:
    hv = ("CAST(concat('0x', substr(md5(CAST(text AS VARCHAR)), 1, 15)) "
          "AS BIGINT)")
    return f"""
    WITH a AS (SELECT DISTINCT {hv} AS hv FROM documents WHERE doc_id % 2 = 0),
    ak AS (SELECT hv FROM a ORDER BY hv LIMIT {k}),
    b AS (SELECT DISTINCT {hv} AS hv FROM documents WHERE doc_id % 3 = 0),
    bk AS (SELECT hv FROM b ORDER BY hv LIMIT {k}),
    uni AS (SELECT DISTINCT hv
            FROM (SELECT hv FROM ak UNION ALL SELECT hv FROM bk)
            ORDER BY hv LIMIT {k}),
    agg AS (
      SELECT COUNT(*) AS m, MAX(hv) AS theta,
             SUM(CASE WHEN hv IN (SELECT hv FROM ak)
                       AND hv IN (SELECT hv FROM bk)
                 THEN 1 ELSE 0 END) AS matches
      FROM uni)
    SELECT
      CAST(FLOOR(CASE WHEN m < {k} THEN CAST(m AS DOUBLE)
                 ELSE ({k} - 1.0) * 1152921504606846976.0 / theta END)
           AS BIGINT) AS union_distinct_est,
      CAST(FLOOR((CAST(matches AS DOUBLE) / m)
                 * CASE WHEN m < {k} THEN CAST(m AS DOUBLE)
                   ELSE ({k} - 1.0) * 1152921504606846976.0 / theta END)
           AS BIGINT) AS intersect_est,
      CAST(FLOOR(CAST(matches AS DOUBLE) / m * 1000000.0) AS BIGINT)
        AS jaccard_micro
    FROM agg
    """


@register("sketch_kmv_overlap", _kmv_overlap_oracle())
def q_kmv_overlap(spark, sf_dir):
    """Distinct-overlap between two corpora from KB-scale KMV sketches —
    no join of the datasets themselves
    (operators/sketches.py:kmv_sketch/kmv_overlap_estimate).  The two
    'corpora' are overlapping doc_id slices (% 2 and % 3; every sixth
    document is shared), so the intersection is real.  At sf0.01 the
    union fits under k and the figures are exact; past k the (k-1)/theta
    estimator kicks in."""
    from geoparquet_io_spark.operators.sketches import (
        kmv_overlap_estimate, kmv_sketch)

    d = load_table(spark, sf_dir, "documents")
    sk_a = kmv_sketch(d.filter(F.col("doc_id") % 2 == 0), "text", k=1024)
    sk_b = kmv_sketch(d.filter(F.col("doc_id") % 3 == 0), "text", k=1024)
    return kmv_overlap_estimate(sk_a, sk_b, k=1024)
