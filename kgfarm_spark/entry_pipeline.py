"""Oracle-checked queries: dedup / similarity / text-analysis families
(training-data pipeline ops from the task brief).

The dedup corpora are augmented with deterministic duplicate/near-dup
copies (doc_id+100000) so the operators have guaranteed positives at
every scale factor; the oracle applies the identical augmentation in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgfarm_spark.entry_queries import register
from kgfarm_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup_pairs,
    simhash16,
)
from kgfarm_spark.operators.similarity import cosine_topk
from kgfarm_spark.operators.textstats import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    quality_features,
    token_counts,
)
from kgfarm_spark.sources.transcripts import load_table, scan_repartition

# ---------------------------------------------------------------------------
# shared corpora (Spark + SQL twins)
# ---------------------------------------------------------------------------


def _dup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ exact copies (every 7th) ∪ near-dup copies (every 10th,
    3 tokens appended) — deterministic positives for dedup ops."""
    from kgfarm_spark.sources.transcripts import _cached_plan

    return _cached_plan(
        spark, (sf, "__dup_corpus"), lambda: _build_dup_corpus(spark, sf)
    )


def _build_dup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz1 zz2 zz3")).alias("text"),
    )
    # the 3-branch union yields 3 unsplittable scan tasks; repartition so
    # the shingle/md5 pipelines above parallelize (no-op at real scale) —
    # and, since every consumer subtree now starts at a canonically
    # identical round-robin exchange, AQE's exchange reuse materializes
    # the corpus ONCE per query instead of rescanning per consumer
    return scan_repartition(docs.unionByName(exact).unionByName(near), key="doc_id")


_DUP_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' zz1 zz2 zz3' AS text
  FROM documents WHERE doc_id % 10 = 0
)"""

_SHINGLES_SQL = r"""
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0) AS w FROM corpus)
  )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"""

_JACCARD_VERIFY_SQL = """
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = inter.id_a
JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
"""


@register(
    "dedup_exact",
    f"""
WITH {_DUP_CORPUS_SQL}
SELECT doc_id, text FROM corpus
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
""",
)
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup(_dup_corpus(spark, sf), on=["text"], order_col="doc_id")


@register(
    "dedup_ngram_jaccard",
    f"""
WITH {_DUP_CORPUS_SQL},
{_SHINGLES_SQL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
{_JACCARD_VERIFY_SQL}
""",
)
def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    out = jaccard_pairs(
        _dup_corpus(spark, sf), "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=None
    )
    return out.withColumn("jaccard", F.round("jaccard", 6))


_MINHASH_K = 8
_MINHASH_BANDS = 4


def _minhash_oracle() -> str:
    mh_cols = ",\n    ".join(
        f"min(md5(shingle || '#{i}')) AS mh_{i}" for i in range(_MINHASH_K)
    )
    rows_per_band = _MINHASH_K // _MINHASH_BANDS
    band_keys = []
    for b in range(_MINHASH_BANDS):
        parts = " || '|' || ".join(
            f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        band_keys.append(f"'{b}' || '|' || {parts}")
    buckets = " UNION ALL ".join(
        f"SELECT doc_id, {k} AS bucket FROM sigs" for k in band_keys
    )
    return f"""
WITH {_DUP_CORPUS_SQL},
{_SHINGLES_SQL},
sigs AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
buckets AS (SELECT DISTINCT doc_id, bucket FROM ({buckets})),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b USING (bucket)
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
{_JACCARD_VERIFY_SQL}
"""


@register("dedup_minhash_lsh", _minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    out = minhash_lsh_dedup_pairs(
        _dup_corpus(spark, sf), "doc_id", "text",
        n=3, num_hashes=_MINHASH_K, bands=_MINHASH_BANDS, threshold=0.5,
    )
    return out.withColumn("jaccard", F.round("jaccard", 6))


def _simhash_oracle() -> str:
    sums = ",\n    ".join(
        f"sum(CASE WHEN substr(md5(w), {b + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    fp = " || ".join(
        f"CASE WHEN s{b} > 0 THEN '1' ELSE '0' END" for b in range(16)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
agg AS (SELECT doc_id, {sums} FROM words GROUP BY doc_id)
SELECT doc_id, {fp} AS simhash FROM agg
"""


@register("simhash_fingerprint", _simhash_oracle())
def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return simhash16(load_table(spark, sf, "documents"), "doc_id", "text")


@register(
    "dedup_components_jaccard",
    f"""
WITH RECURSIVE {_DUP_CORPUS_SQL},
{_SHINGLES_SQL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.id_a
  JOIN sizes sb ON sb.doc_id = inter.id_b
  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
)
SELECT src AS id, least(src, min(dst)) AS component
FROM reach GROUP BY src
""",
)
def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup pairs —
    the oracle computes the same components via DuckDB's recursive
    transitive closure (component = min reachable id)."""
    from kgfarm_spark.operators.dedup import dedup_components

    pairs = jaccard_pairs(
        _dup_corpus(spark, sf), "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=None
    )
    return dedup_components(pairs)


@register("simhash_neardup", None)  # rows-only: xxhash64 fingerprint is JVM-only;
# exactness (banded == brute-force Hamming) is pinned by
# tests/test_pipeline_ops.py::TestDedup::test_simhash_neardup_banded_equals_bruteforce
def q_simhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        load_table(spark, sf, "documents"), "doc_id", "text", max_hamming=3
    )


@register(
    "embedding_neardup",
    """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 5 = 0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM corpus a, corpus b WHERE a.vec_id < b.vec_id
),
sums AS (
  SELECT id_a, id_b, sum(x * y) AS dot, sum(x * x) AS na, sum(y * y) AS nb
  FROM (SELECT id_a, id_b, unnest(va) AS x, unnest(vb) AS y FROM pairs)
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / ((CASE WHEN na = 0 THEN 1 ELSE sqrt(na) END)
                  * (CASE WHEN nb = 0 THEN 1 ELSE sqrt(nb) END)), 4) AS cosine
FROM sums
WHERE dot / ((CASE WHEN na = 0 THEN 1 ELSE sqrt(na) END)
           * (CASE WHEN nb = 0 THEN 1 ELSE sqrt(nb) END)) >= 0.999
""",
)
def q_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    out = embedding_neardup_pairs(corpus, "vec_id", "embedding", threshold=0.999)
    return out.withColumn("cosine", F.round("cosine", 4))


@register(
    "cosine_topk",
    """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 25 = 0
),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
sums AS (
  SELECT query_id, neighbor_id, sum(a * b) AS dot, sum(a * a) AS na, sum(b * b) AS nb
  FROM (
    SELECT query_id, neighbor_id, unnest(qv) AS a, unnest(cv) AS b
    FROM q CROSS JOIN c WHERE query_id <> neighbor_id
  )
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id
    ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neighbor_id) AS rn
  FROM sums
)
WHERE rn <= 5
""",
)
def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # corpus side: one unsplittable scan task would serialize the whole
    # |Q|x|C| dot-product pipeline onto one core (queries stay unsplit —
    # they are broadcast); the repartitioned plan is memoized like the
    # scans (the .rdd partition probe costs a planning pass per build)
    from kgfarm_spark.sources.transcripts import _cached_plan

    corpus = _cached_plan(
        spark, (sf, "__emb_repart"), lambda: scan_repartition(emb, key="vec_id")
    )
    out = cosine_topk(corpus, queries, "vec_id", "embedding", "query_id", k=5)
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "text_token_counts",
    r"""
SELECT doc_id,
       len(list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0)) AS ws_tokens,
       len(regexp_extract_all(coalesce(text, ''),
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
FROM documents
""",
)
def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    out = token_counts(load_table(spark, sf, "documents"), "text")
    return out.select("doc_id", "ws_tokens", "bpe_tokens")


def _quality_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return rf"""
WITH base AS (
  SELECT doc_id,
         length(coalesce(text, '')) AS n_chars_computed,
         len(list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0)) AS n_words,
         length(coalesce(text, ''))
           - length(regexp_replace(coalesce(text, ''), '[.,!?;:]', '', 'g'))
             AS n_punct,
         length(coalesce(text, ''))
           - length(regexp_replace(coalesce(text, ''), '[0-9]', '', 'g'))
             AS n_digit,
         length(regexp_replace(coalesce(text, ''), '\s', '', 'g')) AS n_nonws,
         len(list_filter(list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0),
             x -> list_contains([{stops}], lower(x)))) AS n_stop
  FROM documents
),
ratios AS (
  SELECT doc_id, n_chars_computed, n_words,
         CAST(n_punct AS DOUBLE) / greatest(n_chars_computed, 1) AS punct_ratio,
         CAST(n_digit AS DOUBLE) / greatest(n_chars_computed, 1) AS digit_ratio,
         CAST(n_stop AS DOUBLE) / greatest(n_words, 1) AS stopword_ratio,
         CASE WHEN n_words BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END AS len_ok,
         CASE WHEN CAST(n_nonws AS DOUBLE) / greatest(n_words, 1)
                   BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END AS word_len_ok
  FROM base
)
-- no rounding: both engines evaluate the identical left-assoc double
-- expression → bit-identical results (round() itself diverges at
-- decimal half-boundaries between BigDecimal and multiply-then-round)
SELECT doc_id, n_chars_computed, n_words,
       punct_ratio, digit_ratio, stopword_ratio,
       0.3 * len_ok + 0.2 * word_len_ok
             + 0.2 * (1 - least(punct_ratio * 5, 1.0))
             + 0.2 * (1 - least(digit_ratio * 5, 1.0))
             + 0.1 * least(stopword_ratio * 10, 1.0) AS quality_score
FROM ratios
"""


@register("text_quality", _quality_oracle())
def q_quality(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.sources.transcripts import _cached_plan

    docs = _cached_plan(
        spark,
        (sf, "__docs_repart"),
        lambda: scan_repartition(load_table(spark, sf, "documents"), key="doc_id"),
    )
    out = quality_features(docs, "text")
    return out.select(
        "doc_id",
        "n_chars_computed",
        "n_words",
        "punct_ratio",
        "digit_ratio",
        "stopword_ratio",
        "quality_score",
    )


def _langid_oracle() -> str:
    hit_exprs = []
    for lang, stops in sorted(LANG_STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in stops)
        hit_exprs.append(
            f"len(list_intersect(words, [{lst}])) AS h_{lang}"
        )
    hits_sql = ",\n         ".join(hit_exprs)
    langs = sorted(LANG_STOPWORDS)
    mx = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    case = "CASE WHEN " + mx + " = 0 THEN 'und' "
    for l in langs:
        case += f"WHEN h_{l} = {mx} THEN '{l}' "
    case += "END"
    return rf"""
WITH w AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0),
                        x -> lower(x)) AS words
  FROM documents
),
h AS (SELECT doc_id, {hits_sql} FROM w)
SELECT doc_id, {case} AS lang_pred FROM h
"""


@register("lang_id", _langid_oracle())
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    out = lang_id(load_table(spark, sf, "documents"), "text")
    return out.select("doc_id", "lang_pred")


@register(
    "doc_fingerprint",
    r"""
SELECT doc_id,
       md5(trim(regexp_replace(
           regexp_replace(lower(coalesce(text, '')), '[.,!?;:]', '', 'g'),
           '\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    out = fingerprint(load_table(spark, sf, "documents"), "text")
    return out.select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# Round-4 text additions: PII redaction + Gopher-style repetition signals.
# Registered but DEFERRED past the driver's 50-query window (see
# entry_queries._DEFERRED_PAST_DRIVER_CAP) so the verified ordering is
# untouched; tools/check_oracle.py hash-verifies them locally.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{7,18}[0-9]"


@register(
    "redact_pii",
    f"""
WITH pii AS (
  SELECT doc_id,
         text || ' reach me at user' || doc_id || '@example.com or 192.168.' ||
         (doc_id % 256) || '.1 or +1 (555) 000-' || (1000 + doc_id % 9000) AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IPV4}', '<IP>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS text
FROM pii
""",
)
def q_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.textstats import redact_pii

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach me at user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 or +1 (555) 000-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ).alias("text"),
    )
    return redact_pii(docs, "text")


@register(
    "repetition_signals",
    r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || chr(10) || text || chr(10) || 'spam spam spam spam'
              ELSE text END AS text
  FROM documents
),
lns AS (
  SELECT doc_id,
         CASE WHEN len(l) > 0
              THEN round(1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6)
              ELSE 0.0 END AS dup_line_frac
  FROM (SELECT doc_id,
               list_filter(list_transform(string_split(text, chr(10)),
                   x -> regexp_replace(x, '^[\t\r ]+|[\t\r ]+$', '', 'g')),
                   x -> len(x) > 0) AS l
        FROM base)
),
toks AS (SELECT doc_id,
                list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                            x -> len(x) > 0) AS w
         FROM base),
bg AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
         THEN list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])
         ELSE [] END) AS b
  FROM toks
),
cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
agg AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY 1)
SELECT l.doc_id AS doc_id, l.dup_line_frac,
       round(COALESCE(CAST(a.mx AS DOUBLE) / a.tot, 0.0), 6) AS top_bigram_frac
FROM lns l LEFT JOIN agg a USING (doc_id)
""",
)
def q_repetition_signals(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.textstats import repetition_signals

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"), F.lit("\n"), F.col("text"),
                F.lit("\nspam spam spam spam"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return repetition_signals(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# round 5: exact duplicate-span census (Lee et al. 2021), C4-style
# corpus-wide line dedup (Raffel et al. 2020 §2.2), Gopher quality gate
# (Rae et al. 2021 Table A1) — the remaining canonical pretraining-corpus
# operators. Each wrapper injects deterministic boilerplate so the
# operator has guaranteed positives at every scale factor; the oracle
# applies the identical injection in SQL.
# ---------------------------------------------------------------------------

_BOILERPLATE = "subscribe to our newsletter for weekly updates and offers"


@register(
    "duplicate_ngram_spans",
    rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' {_BOILERPLATE}'
              ELSE text END AS text
  FROM documents
),
w AS (SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0) AS w FROM base),
sp AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 5
                THEN list_transform(generate_series(1, len(w) - 4),
                                    i -> array_to_string(w[i:i+4], ' '))
                ELSE [] END) AS s
  FROM w
),
census AS (SELECT s, count(DISTINCT doc_id) AS d FROM sp GROUP BY 1),
per AS (
  SELECT sp.doc_id,
         count(*) AS n_spans,
         CAST(sum(CASE WHEN c.d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
  FROM sp JOIN census c USING (s)
  GROUP BY 1
)
SELECT w.doc_id AS doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.dup_spans, 0) AS dup_spans,
       COALESCE(CAST(p.dup_spans AS DOUBLE) / p.n_spans, 0.0) AS dup_span_frac
FROM w LEFT JOIN per p USING (doc_id)
""",
)
def q_duplicate_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.dedup import duplicate_ngram_spans

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" " + _BOILERPLATE)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return duplicate_ngram_spans(docs, "doc_id", "text", n=5, min_docs=2)


@register(
    "dedup_lines_corpus",
    rf"""
WITH base AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id % 7 AS VARCHAR) || ' header' || chr(10)
         || text || chr(10) || '{_BOILERPLATE}' AS text
  FROM documents
),
flat AS (
  SELECT doc_id, s['idx'] AS idx, s['l'] AS l
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ls)),
                                 i -> {{'idx': i - 1, 'l': ls[i]}})) AS s
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM base)
  )
),
win AS (
  SELECT *,
         CASE WHEN length(regexp_replace(l, '^[\t\r ]+|[\t\r ]+$', '', 'g')) = 0
              THEN 1
              ELSE row_number() OVER (
                  PARTITION BY CASE WHEN length(regexp_replace(
                      l, '^[\t\r ]+|[\t\r ]+$', '', 'g')) = 0
                      THEN NULL ELSE l END
                  ORDER BY doc_id, idx)
         END AS rn
  FROM flat
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN l END, chr(10) ORDER BY idx), '') AS text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept
FROM win
GROUP BY doc_id
""",
)
def q_dedup_lines_corpus(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.dedup import dedup_lines_corpus

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("doc "), (F.col("doc_id") % 7).cast("string"), F.lit(" header\n"),
            F.col("text"),
            F.lit("\n" + _BOILERPLATE),
        ).alias("text"),
    )
    return dedup_lines_corpus(docs, "doc_id", "text")


def _quality_gate_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN coalesce(text, '') || ' 1234567890 !!!,,,???'
              ELSE coalesce(text, '') END AS text
  FROM documents
),
f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)) AS n_words,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         len(list_intersect(
             list_transform(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0), x -> lower(x)),
             [{stops}])) AS stop_hits,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
             / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> length(x) > 0)), 1) AS mean_wl
  FROM base
)
SELECT doc_id,
       (n_words >= 10 AND n_words <= 100000) AS words_ok,
       (mean_wl >= 3.0 AND mean_wl <= 12.0) AS word_len_ok,
       (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.10) AS punct_ok,
       (CAST(n_digit AS DOUBLE) / greatest(n_chars, 1) <= 0.20) AS digit_ok,
       (stop_hits >= 2) AS stopword_ok,
       ((n_words >= 10 AND n_words <= 100000)
        AND (mean_wl >= 3.0 AND mean_wl <= 12.0)
        AND (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) <= 0.10)
        AND (CAST(n_digit AS DOUBLE) / greatest(n_chars, 1) <= 0.20)
        AND (stop_hits >= 2)) AS keep
FROM f
"""


@register("quality_gate", _quality_gate_oracle())
def q_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.textstats import quality_gate

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" 1234567890 !!!,,,???")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return quality_gate(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# round 5 (late): sequence packing, unigram-LM scoring, source-weighted
# corpus mixing — the layout/scoring tail of the pretraining pipeline.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@register(
    "pack_sequences",
    rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tokens_before
  FROM t
)
SELECT doc_id, n_tokens, tokens_before,
       tokens_before // {_PACK_BUDGET} AS seq_id,
       tokens_before % {_PACK_BUDGET} AS offset_in_seq,
       (tokens_before % {_PACK_BUDGET}) + n_tokens > {_PACK_BUDGET}
           AS crosses_boundary
FROM c
""",
)
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens", budget=_PACK_BUDGET)


@register("pack_nosplit")  # rows-only BY CONTRACT: the greedy
# close-on-overflow recurrence (fill' = fill+n if it fits else n) is not
# an associative scan and has no one-shot ANSI-SQL form; exact parity vs
# a pure-Python sequential twin is pytest-pinned (tests/test_pack_nosplit)
def q_pack_nosplit(spark: SparkSession, sf: str) -> DataFrame:
    """Boundary-respecting packing (packing.pack_sequences_nosplit):
    no document splits across sequences; per-bucket greedy first-fit,
    oversize docs get dedicated sequences."""
    from kgfarm_spark.operators.packing import pack_sequences_nosplit

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("n_tokens"),
    )
    return pack_sequences_nosplit(
        docs, "doc_id", "n_tokens", budget=_PACK_BUDGET, n_buckets=8,
        oversize="own",
    )


@register(
    "materialize_sequences",
    rf"""
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST(COALESCE(sum(len(toks)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS before
  FROM docs
),
pieces AS (
  SELECT s.seq_id,
         greatest(s.seq_id * {_PACK_BUDGET}, before) AS gstart,
         list_slice(toks,
                    CAST(greatest(s.seq_id * {_PACK_BUDGET} - before, 0) + 1 AS BIGINT),
                    CAST(least((s.seq_id + 1) * {_PACK_BUDGET}, before + n) - before AS BIGINT)
                   ) AS piece
  FROM sized, LATERAL (
    SELECT unnest(generate_series(before // {_PACK_BUDGET},
                                  (before + n - 1) // {_PACK_BUDGET})) AS seq_id
  ) s
  WHERE n > 0
),
seqs AS (
  SELECT seq_id, flatten(list(piece ORDER BY gstart)) AS toks,
         count(*) AS n_docs
  FROM pieces GROUP BY seq_id
)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(n_docs AS BIGINT) AS n_docs,
       toks[1] AS first_token,
       toks[len(toks)] AS last_token
FROM seqs
""",
)
def q_materialize_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """The packing MATERIALIZER (packing.materialize_sequences): per-doc
    token arrays → actual budget-sized training sequences (crossing docs
    split across sequences, nothing truncated). The oracle replays the
    slice/regroup arithmetic in SQL; token arrays stay out of the hash
    (first/last token + counts pin the alignment scalar-wise — the full
    concat-roundtrip invariant is pytest-pinned)."""
    from kgfarm_spark.operators.packing import materialize_sequences
    from kgfarm_spark.operators.textstats import _words

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        _words(F.coalesce(F.col("text"), F.lit(""))).alias("tokens"),
    )
    out = materialize_sequences(docs, "doc_id", "tokens", budget=_PACK_BUDGET)
    return out.select(
        "seq_id", "n_tokens", "n_docs",
        F.element_at("tokens", 1).alias("first_token"),
        F.element_at("tokens", -1).alias("last_token"),
    )


@register(
    "gopher_repetition_full",
    r"""
WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
lns AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
             x -> regexp_replace(x, '^[\t\r ]+|[\t\r ]+$', '', 'g')),
             x -> len(x) > 0) AS u
  FROM docs),
prs AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10) || chr(10)),
             x -> regexp_replace(x, '^[\t\r\n ]+|[\t\r\n ]+$', '', 'g')),
             x -> len(x) > 0) AS u
  FROM docs),
luc AS (SELECT doc_id, unit, count(*) AS c, len(unit) AS ln
        FROM (SELECT doc_id, unnest(u) AS unit FROM lns) GROUP BY 1, 2),
lagg AS (SELECT doc_id,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_line_frac,
           round(coalesce(sum(CASE WHEN c >= 2 THEN c * ln END), 0) * 1.0
                 / sum(c * ln), 6) AS dup_line_char_frac
         FROM luc GROUP BY 1),
puc AS (SELECT doc_id, unit, count(*) AS c, len(unit) AS ln
        FROM (SELECT doc_id, unnest(u) AS unit FROM prs) GROUP BY 1, 2),
pagg AS (SELECT doc_id,
           round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_para_frac,
           round(coalesce(sum(CASE WHEN c >= 2 THEN c * ln END), 0) * 1.0
                 / sum(c * ln), 6) AS dup_para_char_frac
         FROM puc GROUP BY 1),
toks AS (SELECT doc_id, greatest(len(text), 1) AS nc,
                list_filter(regexp_split_to_array(text, '\s+'),
                            x -> len(x) > 0) AS w
         FROM docs),
g AS (SELECT doc_id, nc, n,
             unnest(CASE WHEN len(w) >= n THEN
                 list_transform(generate_series(1, len(w) - n + 1),
                     i -> array_to_string(list_slice(w, i, i + n - 1), ' '))
               ELSE [] END) AS gram
      FROM toks, (SELECT unnest(range(2, 11)) AS n) ns),
gc AS (SELECT doc_id, nc, n, gram, count(*) AS c FROM g GROUP BY ALL),
ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id, n
             ORDER BY c DESC, len(gram) DESC, gram DESC) AS rk FROM gc),
gn AS (SELECT doc_id, nc, n,
         max(CASE WHEN rk = 1 THEN c * len(gram) END) AS top_mass,
         sum(CASE WHEN c >= 2 THEN c * len(gram) ELSE 0 END) AS dup_mass
       FROM ranked GROUP BY 1, 2, 3),
piv AS (SELECT doc_id,
  round(least(1.0, coalesce(max(CASE WHEN n = 2 THEN top_mass * 1.0 / nc END), 0.0)), 6) AS top_2gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 3 THEN top_mass * 1.0 / nc END), 0.0)), 6) AS top_3gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 4 THEN top_mass * 1.0 / nc END), 0.0)), 6) AS top_4gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 5 THEN dup_mass * 1.0 / nc END), 0.0)), 6) AS dup_5gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 6 THEN dup_mass * 1.0 / nc END), 0.0)), 6) AS dup_6gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 7 THEN dup_mass * 1.0 / nc END), 0.0)), 6) AS dup_7gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 8 THEN dup_mass * 1.0 / nc END), 0.0)), 6) AS dup_8gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 9 THEN dup_mass * 1.0 / nc END), 0.0)), 6) AS dup_9gram_char_frac,
  round(least(1.0, coalesce(max(CASE WHEN n = 10 THEN dup_mass * 1.0 / nc END), 0.0)), 6) AS dup_10gram_char_frac
  FROM gn GROUP BY 1)
SELECT d.doc_id,
       coalesce(la.dup_line_frac, 0.0) AS dup_line_frac,
       coalesce(la.dup_line_char_frac, 0.0) AS dup_line_char_frac,
       coalesce(pa.dup_para_frac, 0.0) AS dup_para_frac,
       coalesce(pa.dup_para_char_frac, 0.0) AS dup_para_char_frac,
       coalesce(p.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
       coalesce(p.top_3gram_char_frac, 0.0) AS top_3gram_char_frac,
       coalesce(p.top_4gram_char_frac, 0.0) AS top_4gram_char_frac,
       coalesce(p.dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac,
       coalesce(p.dup_6gram_char_frac, 0.0) AS dup_6gram_char_frac,
       coalesce(p.dup_7gram_char_frac, 0.0) AS dup_7gram_char_frac,
       coalesce(p.dup_8gram_char_frac, 0.0) AS dup_8gram_char_frac,
       coalesce(p.dup_9gram_char_frac, 0.0) AS dup_9gram_char_frac,
       coalesce(p.dup_10gram_char_frac, 0.0) AS dup_10gram_char_frac
FROM docs d
LEFT JOIN lagg la USING (doc_id)
LEFT JOIN pagg pa USING (doc_id)
LEFT JOIN piv p USING (doc_id)
""",
)
def q_gopher_repetition_full(spark: SparkSession, sf: str) -> DataFrame:
    """The complete Gopher Table A1 repetition family
    (textstats.gopher_repetition_full): line/paragraph dup + char
    fractions, top-{2,3,4}-gram char fractions, dup-{5..10}-gram char
    fractions — conventions in the operator docstring, replayed exactly
    by the oracle."""
    from kgfarm_spark.operators.textstats import gopher_repetition_full

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return gopher_repetition_full(docs)


@register(
    "unigram_logprob",
    r"""
WITH occ AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                    x -> length(x) > 0)) AS w
  FROM documents
),
census AS (SELECT w, count(*) AS cnt FROM occ GROUP BY 1),
tot AS (SELECT sum(cnt) AS n FROM census),
per AS (
  SELECT occ.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         sum(ln(census.cnt / tot.n)) AS lp
  FROM occ JOIN census ON occ.w = census.w CROSS JOIN tot
  GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       COALESCE(p.n_words, 0) AS n_words,
       round(COALESCE(p.lp, 0.0), 6) AS logprob_sum,
       round(COALESCE(p.lp / p.n_words, 0.0), 6) AS mean_logprob
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def q_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.textstats import unigram_logprob

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return unigram_logprob(docs, "doc_id", "text")


_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1, "src4": 0.0}
_MIX_BUDGET = 10_000


def _mix_oracle() -> str:
    vals = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS.items())
    return rf"""
WITH t AS (
  SELECT doc_id,
         'src' || CAST(doc_id % 5 AS VARCHAR) AS source,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
w AS (SELECT * FROM (VALUES {vals}) AS v(source, wt)),
r AS (
  SELECT t.source, w.wt,
         CASE WHEN sum(t.n_tokens) > 0
              THEN least(1.0, w.wt * {float(_MIX_BUDGET)} / sum(t.n_tokens))
              ELSE 0.0 END AS rate
  FROM t JOIN w USING (source) GROUP BY t.source, w.wt
)
SELECT t.doc_id, t.source, t.n_tokens, round(r.rate, 6) AS rate
FROM t JOIN r USING (source)
WHERE CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      / 4294967296.0 < r.rate
"""


@register("source_mix_sample", _mix_oracle())
def q_source_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.packing import stratified_mix_sample

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("src"), (F.col("doc_id") % 5).cast("string")).alias("source"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    return stratified_mix_sample(
        docs, "source", "doc_id", "n_tokens",
        weights=_MIX_WEIGHTS, token_budget=_MIX_BUDGET,
    )


@register("semantic_neardup", None)  # rows-only: the IVF coarse quantizer
# (k-means) is not ANSI-SQL-expressible; exactness is pytest-pinned instead —
# tests/test_pipeline_ops.py::TestSemanticDedup proves nprobe=n_cells equals
# the brute-force quadratic answer and nprobe=1 recovers it at the true
# cluster count.
def q_semantic_neardup(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.dedup import semantic_neardup_pairs

    base = load_table(spark, sf, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # plant exact duplicates (every 10th vector) so the operator has
    # guaranteed positives at every scale factor, like _dup_corpus
    dups = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "embedding"
    )
    emb = base.unionByName(dups)
    return semantic_neardup_pairs(
        emb, "doc_id", "embedding", threshold=0.95, n_cells=8, nprobe=2
    )


@register("pq_topk_ann", None)  # rows-only: per-subspace k-means codebooks
# (product quantization) are not ANSI-SQL-expressible; exactness is
# pytest-pinned instead — TestProductQuantization proves codebooks covering
# the corpus reproduce brute force bit-for-bit, pins flat-ADC and reranked
# recall vs cosine_topk_twophase, and partition invariance.
def q_pq_topk_ann(spark: SparkSession, sf: str) -> DataFrame:
    """PQ-ADC approximate top-k with exact rerank (similarity.pq_topk):
    codes = m uint8 subspace codewords + the exact norm (~32× smaller
    than raw float64 vectors — the ANN family's memory lever), ADC
    lookup-table scan, shortlist joined back to raw vectors for the
    final exact ranking."""
    from kgfarm_spark.operators.similarity import (
        fit_pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 50 == 0).selectExpr(
        "vec_id as query_id", "embedding"
    )
    books = fit_pq_codebooks(emb, m=16, ksub=256)
    codes = pq_encode(emb, books)
    out = pq_topk(codes, queries, books, k=5, rerank=25, corpus=emb)
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "decontaminate_vs_eval",
    r"""
WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
evalb AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
esh AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0) AS w FROM evalb)
  )
),
tsh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT doc_id, list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0) AS w FROM train)
  )
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
FROM tsh JOIN esh USING (shingle)
GROUP BY doc_id
HAVING count(*) >= 2
""",
)
def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-3-style benchmark decontamination (dedup.py:decontaminate):
    every 97th document plays the held-out eval set; training docs
    sharing >= 2 distinct 3-grams with it are flagged with their overlap
    count. Production uses 13-grams; 3 here because the test corpus
    documents are short."""
    from kgfarm_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    evalb = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(train, evalb, "doc_id", "text", n=3, min_overlap=2)


@register(
    "ccnet_buckets",
    r"""
WITH occ AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                                    x -> length(x) > 0)) AS w
  FROM documents
),
census AS (SELECT w, count(*) AS cnt FROM occ GROUP BY 1),
tot AS (SELECT sum(cnt) AS n FROM census),
per AS (
  SELECT occ.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         sum(ln(census.cnt / tot.n)) AS lp
  FROM occ JOIN census ON occ.w = census.w CROSS JOIN tot
  GROUP BY 1
),
scored AS (
  SELECT d.doc_id AS doc_id,
         COALESCE(p.n_words, 0) AS n_words,
         round(COALESCE(p.lp / p.n_words, 0.0), 6) AS mean_logprob
  FROM documents d LEFT JOIN per p USING (doc_id)
),
ranked AS (
  SELECT doc_id, n_words, mean_logprob,
         percent_rank() OVER (ORDER BY mean_logprob) AS pr
  FROM scored WHERE n_words > 0
)
SELECT doc_id, n_words, mean_logprob,
       round(pr, 6) AS ptile,
       CASE WHEN pr >= 0.666667 THEN 'head'
            WHEN pr >= 0.333333 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
UNION ALL
SELECT doc_id, n_words, mean_logprob,
       CAST(NULL AS DOUBLE) AS ptile, 'tail' AS bucket
FROM scored WHERE n_words = 0
""",
)
def q_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail split (textstats.ccnet_buckets): unigram-LM
    score -> exact distributed percent_rank -> tercile labels."""
    from kgfarm_spark.operators.textstats import ccnet_buckets

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return ccnet_buckets(docs, "doc_id", "text")


@register(
    "dsir_importance",
    r"""
WITH occ AS (
  SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
         unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                            x -> length(x) > 0)) AS w
  FROM documents
),
census AS (SELECT w, sum(tgt) AS ct, count(*) AS cr FROM occ GROUP BY 1),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM census),
per AS (
  SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         sum( ln((census.ct + 0.5) / (tot.nt + 0.5 * tot.v))
            - ln((census.cr + 0.5) / (tot.nr + 0.5 * tot.v)) ) AS s
  FROM occ JOIN census USING (w) CROSS JOIN tot
  GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
       round(COALESCE(p.s, 0.0), 6) AS dsir_logweight
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def q_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights toward the English-document target
    distribution (textstats.dsir_importance, Xie et al. 2023)."""
    from kgfarm_spark.operators.textstats import dsir_importance

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    return dsir_importance(docs, F.col("lang") == "en", "doc_id", "text")


@register(
    "gopher_line_rules",
    r"""
WITH b AS (
  SELECT doc_id,
    list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> length(x) > 0) AS words,
    list_filter(list_transform(string_split(coalesce(text, ''), chr(10)),
                    x -> regexp_replace(x, '^[\t\r ]+|[\t\r ]+$', '', 'g')),
                x -> length(x) > 0) AS lines,
    length(coalesce(text, ''))
      - length(replace(coalesce(text, ''), '#', '')) AS n_hash,
    (length(coalesce(text, ''))
      - length(replace(coalesce(text, ''), '...', ''))) / 3.0
      + (length(coalesce(text, ''))
      - length(replace(coalesce(text, ''), '…', ''))) AS n_ell
  FROM documents
),
c AS (
  SELECT doc_id,
    greatest(len(words), 1) AS n_words,
    greatest(len(lines), 1) AS n_lines,
    n_hash, n_ell,
    len(list_filter(lines,
        x -> substr(x, 1, 1) IN ('-', '*', '•'))) AS bullet_lines,
    len(list_filter(lines,
        x -> right(x, 3) = '...' OR right(x, 1) = '…'))
        AS ell_lines,
    len(list_filter(words,
        w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words
  FROM b
)
SELECT doc_id,
  round(n_hash * 1.0 / n_words, 6) AS hash_word_ratio,
  round(n_ell / n_words, 6) AS ellipsis_word_ratio,
  round(bullet_lines * 1.0 / n_lines, 6) AS bullet_line_frac,
  round(ell_lines * 1.0 / n_lines, 6) AS ellipsis_line_frac,
  round(alpha_words * 1.0 / n_words, 6) AS alpha_word_frac,
  n_hash * 1.0 / n_words <= 0.1 AS hash_ok,
  n_ell / n_words <= 0.1 AS ellipsis_ok,
  bullet_lines * 1.0 / n_lines <= 0.9 AS bullet_ok,
  ell_lines * 1.0 / n_lines <= 0.3 AS ellipsis_line_ok,
  alpha_words * 1.0 / n_words >= 0.8 AS alpha_ok,
  (n_hash * 1.0 / n_words <= 0.1 AND n_ell / n_words <= 0.1
   AND bullet_lines * 1.0 / n_lines <= 0.9
   AND ell_lines * 1.0 / n_lines <= 0.3
   AND alpha_words * 1.0 / n_words >= 0.8) AS keep
FROM c
""",
)
def q_gopher_line_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher symbol-ratio + line-shape rules (textstats.gopher_line_rules)
    completing the Rae et al. 2021 Table A1 set."""
    from kgfarm_spark.operators.textstats import gopher_line_rules

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return gopher_line_rules(docs, "doc_id", "text")


@register(
    "bpe_pair_counts",
    r"""
WITH census AS (
  SELECT w AS word, count(*) AS cnt FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents WHERE length(trim(text)) > 0)
  WHERE length(w) > 0 GROUP BY 1
),
pos AS (
  SELECT word, cnt, unnest(range(1, length(word))) AS i
  FROM census WHERE length(word) >= 2
)
SELECT substr(word, CAST(i AS INT), 1) AS "left",
       substr(word, CAST(i AS INT) + 1, 1) AS "right",
       CAST(sum(cnt) AS BIGINT) AS pair_count
FROM pos GROUP BY 1, 2
""",
)
def q_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Round-0 BPE pair statistics (bpe.bpe_pair_counts): word-frequency-
    weighted character-bigram counts — the stat that picks the first merge."""
    from kgfarm_spark.operators.bpe import bpe_pair_counts

    docs = load_table(spark, sf, "documents").select("text")
    return bpe_pair_counts(docs, "text")


@register(
    "bpe_pair_counts_bytes",
    r"""
WITH census AS (
  SELECT w AS word, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                              x -> length(x) > 0)) AS w
    FROM documents)
  GROUP BY 1
),
hx AS (SELECT hex(encode(word)) AS h, cnt FROM census),
pos AS (
  SELECT h, cnt, unnest(range(1, length(h) // 2)) AS i
  FROM hx WHERE length(h) >= 4
)
SELECT substr(h, CAST(2 * i - 1 AS INT), 2) AS "left",
       substr(h, CAST(2 * i + 1 AS INT), 2) AS "right",
       CAST(sum(cnt) AS BIGINT) AS pair_count
FROM pos GROUP BY 1, 2
""",
)
def q_bpe_pair_counts_bytes(spark: SparkSession, sf: str) -> DataFrame:
    r"""Round-0 BYTE-level BPE pair statistics (bpe.bpe_pair_counts with
    alphabet='bytes'): per-UTF-8-byte symbols hex-coded, so the oracle
    replays the identical statistic via hex(encode(word)). The gpt2
    pre-tokenizer variant is pytest-pinned instead (its (?!\S) lookahead
    is outside DuckDB's RE2 subset)."""
    from kgfarm_spark.operators.bpe import bpe_pair_counts

    docs = load_table(spark, sf, "documents").select("text")
    return bpe_pair_counts(docs, "text", alphabet="bytes")


# bpe_merges is rows-only BY CONTRACT: the merge sequence is an iterative
# k-round algorithm (argmax + re-segmentation per round) that plain SQL
# cannot express; exact parity vs a pure-Python reference BPE is
# pytest-enforced (tests/test_pipeline_ops.py::TestBPE), and round-0 of
# the same machinery IS oracle-checked above via bpe_pair_counts.
@register("bpe_merges")
def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """First 8 learned BPE merges over the documents corpus (bpe.bpe_train)."""
    from kgfarm_spark.operators.bpe import bpe_train

    docs = load_table(spark, sf, "documents").select("text")
    merges, _ = bpe_train(docs, "text", n_merges=8)
    return merges


@register(
    "unigram_seed_counts",
    r"""
WITH census AS (
  SELECT w AS word, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                              x -> length(x) > 0)) AS w
    FROM documents)
  GROUP BY 1
),
lens AS (
  SELECT word, cnt, unnest(range(1, least(length(word), 4) + 1)) AS l
  FROM census
),
pos AS (
  SELECT word, cnt, l, unnest(range(1, length(word) - l + 2)) AS i
  FROM lens
)
SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
       CAST(sum(cnt) AS BIGINT) AS piece_count
FROM pos GROUP BY 1
""",
)
def q_unigram_seed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Seed statistics of the SentencePiece-style unigram-LM tokenizer
    trainer (unigram.unigram_seed_counts): occurrence-weighted substring
    census up to 4 chars over the word census — the candidate-piece pool
    EM starts from. The oracle replays the identical double position
    explode in SQL."""
    from kgfarm_spark.operators.unigram import unigram_seed_counts

    docs = load_table(spark, sf, "documents").select("text")
    return unigram_seed_counts(docs, "text", max_piece_len=4)


# unigram_pieces is rows-only BY CONTRACT: the EM fit (forward-backward
# expected counts + iterative pruning) is not SQL-expressible; exact
# parity vs an independent pure-Python EM twin, local==distributed
# equality, and partition invariance are pytest-enforced
# (tests/test_pipeline_ops.py::TestUnigramTokenizer), and the seed stage
# of the same machinery IS oracle-checked above via unigram_seed_counts.
@register("unigram_pieces")
def q_unigram_pieces(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM tokenizer piece table (unigram.unigram_train) fitted on
    the documents corpus: 500-piece vocabulary, census-local exact EM."""
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.unigram import unigram_train

    docs = load_table(spark, sf, "documents").select("text")
    pieces = unigram_train(
        docs, "text", vocab_size=500, max_piece_len=4,
        seed_size=2000, em_iters=1, strategy="local",
    )
    return pieces.withColumn("logprob", F.round("logprob", 6))


@register(
    "dedup_keep_best",
    f"""
WITH RECURSIVE {_DUP_CORPUS_SQL},
{_SHINGLES_SQL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = inter.id_a
  JOIN sizes sb ON sb.doc_id = inter.id_b
  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
),
und AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM und
  UNION
  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
),
comp AS (SELECT src AS id, least(src, min(dst)) AS component
         FROM reach GROUP BY src),
ranked AS (
  SELECT c.doc_id, comp.component,
         row_number() OVER (PARTITION BY comp.component
                            ORDER BY length(c.text) DESC, c.doc_id DESC) AS rn
  FROM corpus c JOIN comp ON comp.id = c.doc_id
)
SELECT doc_id FROM corpus
WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
""",
)
def q_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware cluster resolution (dedup.dedup_keep_component_best):
    near-dup components over exact-Jaccard pairs, keep the LONGEST doc per
    cluster (ties -> larger id); oracle replays the recursive transitive
    closure + a per-component rank in DuckDB."""
    from kgfarm_spark.operators.dedup import dedup_keep_component_best

    corpus = _dup_corpus(spark, sf).withColumn("__score", F.length("text"))
    pairs = jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.5, max_shingle_freq=None
    )
    kept = dedup_keep_component_best(corpus, pairs, "doc_id", "__score")
    return kept.select("doc_id")


@register(
    "dsir_resample",
    r"""
WITH occ AS (
  SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
         unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                            x -> length(x) > 0)) AS w
  FROM documents
),
census AS (SELECT w, sum(tgt) AS ct, count(*) AS cr FROM occ GROUP BY 1),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM census),
per AS (
  SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         sum( ln((census.ct + 0.5) / (tot.nt + 0.5 * tot.v))
            - ln((census.cr + 0.5) / (tot.nr + 0.5 * tot.v)) ) AS s
  FROM occ JOIN census USING (w) CROSS JOIN tot
  GROUP BY 1
),
wt AS (
  SELECT d.doc_id AS doc_id,
         CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
         round(COALESCE(p.s, 0.0), 6) AS dsir_logweight,
         (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
  FROM documents d LEFT JOIN per p USING (doc_id)
)
SELECT doc_id, n_words, dsir_logweight,
       round(dsir_logweight + (-ln(-ln(u))), 6) AS gumbel_key
FROM wt
ORDER BY gumbel_key DESC, doc_id DESC
LIMIT 100
""",
)
def q_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR Gumbel top-k selection toward the English target (k=100,
    deterministic md5 Gumbel noise — textstats.dsir_resample)."""
    from kgfarm_spark.operators.textstats import dsir_resample

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    return dsir_resample(docs, F.col("lang") == "en", 100, "doc_id", "text")


@register(
    "bigram_logprob",
    r"""
WITH base AS (
  SELECT doc_id, ws FROM (
    SELECT doc_id,
           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                       x -> length(x) > 0) AS ws
    FROM documents)
  WHERE len(ws) > 0
),
occ AS (
  SELECT doc_id, ws[CAST(i AS INT)] AS cur,
         CASE WHEN i > 1 THEN ws[CAST(i AS INT) - 1] END AS prev
  FROM base, unnest(range(1, len(ws) + 1)) AS t(i)
),
uni AS (SELECT cur AS w, count(*) AS cu FROM occ GROUP BY 1),
bi AS (SELECT prev, cur, count(*) AS cb FROM occ WHERE prev IS NOT NULL
       GROUP BY 1, 2),
tot AS (SELECT sum(cu) AS n FROM uni),
per AS (
  SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         sum(ln(CASE WHEN occ.prev IS NOT NULL
                THEN 0.7 * (bi.cb / up.cu) + 0.3 * (uni.cu / tot.n)
                ELSE uni.cu / tot.n END)) AS s
  FROM occ
  JOIN uni ON uni.w = occ.cur
  LEFT JOIN bi ON bi.prev = occ.prev AND bi.cur = occ.cur
  LEFT JOIN uni up ON up.w = occ.prev
  CROSS JOIN tot
  GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
       round(COALESCE(p.s, 0.0), 6) AS logprob_sum,
       round(COALESCE(p.s / p.n_words, 0.0), 6) AS mean_logprob
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def q_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated bigram LM score (textstats.bigram_logprob, lam=0.7)."""
    from kgfarm_spark.operators.textstats import bigram_logprob

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return bigram_logprob(docs, "doc_id", "text", lam=0.7)


@register("curation_pipeline_e2e")  # rows-only BY CONTRACT: the chain
# contains MinHash-LSH (iterative components) and the exact distributed
# percent_rank fit — not one-shot-SQL-expressible end-to-end. Every stage
# IS individually oracle-checked above (gopher_line_rules, quality_gate,
# repetition_signals, dedup_exact, dedup_keep_best, decontaminate_vs_eval,
# ccnet_buckets, pack_sequences); the composition's per-stage counts are
# pinned in tests/test_curation_e2e.py against hand-composed stages.
def q_curation_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Full curation pipeline (curation.curate): gopher_filter → exact
    dedup → LSH near-dedup keep-best → decontaminate vs an eval split →
    CCNet head+middle selection → pack_sequences; returns the per-stage
    lineage (stage, rows, dropped) — deterministic at any partitioning."""
    from kgfarm_spark.curation import curate

    corpus = _dup_corpus(spark, sf)
    train = corpus.filter(F.col("doc_id") % 97 != 0)
    evalb = corpus.filter(F.col("doc_id") % 97 == 0).select("text")
    _, manifest = curate(
        train,
        eval_df=evalb,
        neardup_kw={"threshold": 0.5},
        decontaminate_kw={"n": 3, "min_overlap": 2},
        pack_budget=512,
    )
    rows = [
        (s["stage"], int(s["rows"]), int(s["dropped"]))
        for s in manifest["stages"]
    ]
    return spark.createDataFrame(rows, "stage string, rows long, dropped long")


_KN_D = 0.75


@register(
    "kn3_logprob",
    rf"""
WITH base AS (
  SELECT doc_id, ws FROM (
    SELECT doc_id,
           list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                       x -> length(x) > 0) AS ws
    FROM documents)
  WHERE len(ws) > 0
),
occ AS (
  SELECT doc_id, ws[CAST(i AS INT)] AS cur,
         CASE WHEN i > 1 THEN ws[CAST(i AS INT) - 1] END AS prev,
         CASE WHEN i > 2 THEN ws[CAST(i AS INT) - 2] END AS prev2
  FROM base, unnest(range(1, len(ws) + 1)) AS t(i)
),
uni AS (SELECT DISTINCT cur AS c FROM occ),
bity AS (SELECT DISTINCT prev AS b, cur AS c FROM occ WHERE prev IS NOT NULL),
r1 AS (SELECT c, count(*) AS r1 FROM bity GROUP BY 1),
tri AS (SELECT prev2 AS a, prev AS b, cur AS c, count(*) AS ct
        FROM occ WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
ctx AS (SELECT a, b, sum(ct) AS cctx, count(*) AS fwd2 FROM tri GROUP BY 1, 2),
rev2 AS (SELECT b, c, count(*) AS r2 FROM tri GROUP BY 1, 2),
mid AS (SELECT b, count(*) AS nmid, count(DISTINCT c) AS fwd1 FROM tri GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM uni) AS v, (SELECT count(*) FROM bity) AS nb),
sc0 AS (
  SELECT occ.doc_id, occ.prev, occ.prev2, tri.ct, ctx.cctx, ctx.fwd2,
         (COALESCE(r1.r1, 0) + 1.0) / (tot.nb + tot.v) AS p1,
         rev2.r2, mid.nmid, mid.fwd1
  FROM occ
  LEFT JOIN r1 ON r1.c = occ.cur
  LEFT JOIN rev2 ON rev2.b = occ.prev AND rev2.c = occ.cur
  LEFT JOIN mid ON mid.b = occ.prev
  LEFT JOIN tri ON tri.a = occ.prev2 AND tri.b = occ.prev AND tri.c = occ.cur
  LEFT JOIN ctx ON ctx.a = occ.prev2 AND ctx.b = occ.prev
  CROSS JOIN tot
),
sc1 AS (
  SELECT doc_id, prev, prev2, ct, cctx, fwd2, p1,
         CASE WHEN COALESCE(nmid, 0) > 0
              THEN (greatest(COALESCE(r2, 0) - {_KN_D}, 0.0)
                    + {_KN_D} * fwd1 * p1) / nmid
              ELSE p1 END AS p2
  FROM sc0
),
sc2 AS (
  SELECT doc_id,
         CASE WHEN prev2 IS NOT NULL
              THEN ln((greatest(ct - {_KN_D}, 0.0) + {_KN_D} * fwd2 * p2) / cctx)
              WHEN prev IS NOT NULL THEN ln(p2)
              ELSE ln(p1) END AS lp
  FROM sc1
),
per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, sum(lp) AS s
        FROM sc2 GROUP BY 1)
SELECT d.doc_id AS doc_id,
       CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
       round(COALESCE(p.s, 0.0), 6) AS logprob_sum,
       round(COALESCE(p.s / p.n_words, 0.0), 6) AS mean_logprob
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def q_kn3_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney trigram LM score (textstats.kn3_logprob,
    D=0.75) — the CCNet-fidelity scorer (VERDICT r05 #4)."""
    from kgfarm_spark.operators.textstats import kn3_logprob

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return kn3_logprob(docs, "doc_id", "text")


# Shared oracle prefix for the quality-classifier family: the FULL fit
# (2 unrolled full-batch GD iterations, dim=64, lr=2.0, target lang='en')
# plus scoring, replayed in SQL. Exact because the fit is deterministic
# full-batch GD and the md5-prefix bucketing collides identically in both
# engines (the reason this module hashes with md5, not xxhash64).
_QC_SQL = r"""
WITH occ AS (
  SELECT doc_id, CAST(lang = 'en' AS INT) AS y,
         CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 64 AS b
  FROM (SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                      x -> length(x) > 0)) AS w
        FROM documents)
),
nd AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM occ GROUP BY 1),
fx AS (
  SELECT o.doc_id, o.y, o.b, count(*) / max(nd.n) AS x
  FROM occ o JOIN nd USING (doc_id) GROUP BY o.doc_id, o.y, o.b
),
nds AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM fx),
r0 AS (SELECT DISTINCT doc_id, y FROM fx),
g0 AS (SELECT b, sum((0.5 - y) * x) AS g FROM fx GROUP BY b),
w1 AS (SELECT b, -(2.0 * g / n_docs) AS w FROM g0, nds),
b1 AS (SELECT -(2.0 * avg(0.5 - y)) AS bias FROM r0),
m1 AS (SELECT fx.doc_id, fx.y, b1.bias + sum(w1.w * fx.x) AS m
       FROM fx JOIN w1 USING (b), b1 GROUP BY fx.doc_id, fx.y, b1.bias),
r1 AS (SELECT doc_id, 1 / (1 + exp(-m)) - y AS r FROM m1),
g1 AS (SELECT fx.b, sum(r1.r * fx.x) AS g
       FROM fx JOIN r1 USING (doc_id) GROUP BY fx.b),
w2 AS (SELECT b, w1.w - 2.0 * g1.g / nds.n_docs AS w
       FROM w1 JOIN g1 USING (b), nds),
b2 AS (SELECT b1.bias - 2.0 * (SELECT avg(r) FROM r1) AS bias FROM b1),
m2 AS (SELECT fx.doc_id, b2.bias + sum(w2.w * fx.x) AS m
       FROM fx JOIN w2 USING (b), b2 GROUP BY fx.doc_id, b2.bias),
sc AS (SELECT doc_id, 1 / (1 + exp(-m)) AS s FROM m2),
scored AS (
  SELECT d.doc_id,
         CAST(coalesce(nd.n, 0) AS BIGINT) AS n_words,
         round(coalesce(sc.s,
               1 / (1 + exp(-(SELECT bias FROM b2)))), 6) AS quality_score
  FROM documents d LEFT JOIN nd USING (doc_id) LEFT JOIN sc USING (doc_id)
)
"""


def _qc_fit_score(spark: SparkSession, sf: str) -> DataFrame:
    from kgfarm_spark.operators.quality_model import (
        quality_classifier_fit,
        quality_classifier_score,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    model = quality_classifier_fit(
        docs, F.col("lang") == "en", "doc_id", "text", dim=64, iters=2, lr=2.0
    )
    return quality_classifier_score(docs, model, "doc_id", "text")


@register(
    "quality_classifier_score",
    _QC_SQL + "SELECT doc_id, n_words, quality_score FROM scored",
)
def q_quality_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-3-style discriminative quality scoring
    (quality_model.quality_classifier_fit/_score): logistic regression
    over md5-hashed L1-normalized bag-of-words, fit by 2 deterministic
    full-batch GD iterations (dim=64 to exercise hash collisions) with
    lang='en' as the high-quality label, then scored over every document
    — the oracle replays fit AND apply entirely in SQL."""
    return _qc_fit_score(spark, sf)


@register(
    "quality_pareto_select",
    _QC_SQL
    + r"""
SELECT doc_id, n_words, quality_score,
       round(pow(u, -1.0 / 9.0) - 1.0, 6) AS pareto_key
FROM (
  SELECT s.*,
         (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
  FROM scored s
)
WHERE round(pow(u, -1.0 / 9.0) - 1.0, 6) > 1.0 - quality_score
""",
)
def q_quality_pareto_select(spark: SparkSession, sf: str) -> DataFrame:
    """The GPT-3 Pareto acceptance rule (quality_model.pareto_select,
    alpha=9): keep iff deterministic-pareto(9) > 1 - score, so
    high-scoring docs always pass and low-scoring docs pass rarely —
    diversity-preserving classifier filtering, reproducible across
    engines via the md5-uniform noise recipe."""
    from kgfarm_spark.operators.quality_model import pareto_select

    return pareto_select(_qc_fit_score(spark, sf), alpha=9.0)


@register(
    "wordpiece_pair_scores",
    r"""
WITH census AS (
  SELECT w AS word, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
                              x -> length(x) > 0)) AS w
    FROM documents)
  GROUP BY 1
),
sym AS (
  SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
              ELSE '##' || substr(word, CAST(i AS INT), 1) END AS s,
         cnt
  FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i FROM census)
),
symc AS (SELECT s, CAST(sum(cnt) AS BIGINT) AS sym_count FROM sym GROUP BY 1),
pairs AS (
  SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
              ELSE '##' || substr(word, CAST(i AS INT), 1) END AS "left",
         '##' || substr(word, CAST(i AS INT) + 1, 1) AS "right",
         CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (SELECT word, cnt, unnest(range(1, length(word))) AS i
        FROM census WHERE length(word) >= 2)
  GROUP BY 1, 2
)
SELECT p."left", p."right", p.pair_count,
       l.sym_count AS left_count, r.sym_count AS right_count,
       round(p.pair_count / CAST(l.sym_count * r.sym_count AS DOUBLE), 9)
         AS score
FROM pairs p
JOIN symc l ON p."left" = l.s
JOIN symc r ON p."right" = r.s
""",
)
def q_wordpiece_pair_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Round-0 WordPiece statistics (wordpiece.wordpiece_pair_scores):
    the likelihood-ratio score count(ab)/(count(a)*count(b)) over
    '##'-marked symbol pairs — the signal that picks the first BERT-style
    merge (the trainer itself is census-local and rows-only, exact-parity
    pytest vs the rescan twin)."""
    from kgfarm_spark.operators.wordpiece import wordpiece_pair_scores

    docs = load_table(spark, sf, "documents").select("text")
    return wordpiece_pair_scores(docs, "text")


@register("wordpiece_merges")  # rows-only BY CONTRACT: the merge loop is
# iterative argmax-by-score over the evolving census (non-SQL); exact
# parity vs the naive rescan twin is pytest-pinned in test_wordpiece, and
# the round-0 score surface carries the wordpiece_pair_scores oracle.
def q_wordpiece_merges(spark: SparkSession, sf: str) -> DataFrame:
    """First 8 learned WordPiece merges over the documents corpus
    (wordpiece.wordpiece_train)."""
    from kgfarm_spark.operators.wordpiece import wordpiece_train

    docs = load_table(spark, sf, "documents").select("text")
    merges, _ = wordpiece_train(docs, "text", n_merges=8)
    return merges


@register(
    "chunk_documents",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS w
  FROM documents
), base AS (
  SELECT doc_id, w, len(w) AS n,
         CAST(CASE WHEN len(w) <= 32 THEN 1
                   ELSE ceil((len(w) - 32) / 16.0) + 1 END AS BIGINT) AS k
  FROM toks WHERE len(w) > 0
), ex AS (
  SELECT doc_id, w, n, unnest(range(k)) AS i FROM base
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(list_slice(w, i*16 + 1, i*16 + 32), ' ') AS chunk_text,
       CAST(least(32, n - i*16) AS INT) AS n_tokens
FROM ex
""",
)
def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window chunking (packing.chunk_documents): overlapping
    32-word windows every 16 words — long-document preparation for
    context-bounded training / embedding indexing. Zero-shuffle explode;
    output row count ∝ corpus words / stride, immune to doc-length skew."""
    from kgfarm_spark.operators.packing import chunk_documents

    return chunk_documents(
        load_table(spark, sf, "documents"), window=32, stride=16
    )


@register(
    "hashed_embedding",
    r"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                            x -> length(x) > 0)) AS word
  FROM documents
),
h AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) % 64 AS INT)
           AS bucket,
         CASE WHEN substr(md5(word), 9, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 1.0 ELSE -1.0 END AS s
  FROM w
),
sp AS (SELECT doc_id, bucket, sum(s) AS v FROM h GROUP BY doc_id, bucket),
nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nn FROM sp GROUP BY doc_id)
SELECT sp.doc_id, sp.bucket, round(sp.v / nrm.nn, 4) AS weight
FROM sp JOIN nrm USING (doc_id)
WHERE sp.v <> 0
""",
)
def q_hashed_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-hashing text embedding (similarity.hashed_text_embedding,
    dim=64) in SPARSE form — the dense ``emb`` array posexploded to its
    nonzero (bucket, weight) entries so the oracle hash-checks the
    embedding CONTENT, not just its shape. Bridges text to the ANN
    stack (cosine_topk / IVF / SemDeDup) with no external encoder."""
    from kgfarm_spark.operators.similarity import hashed_text_embedding

    emb = hashed_text_embedding(
        load_table(spark, sf, "documents"), dim=64
    )
    return (
        emb.select("doc_id", F.posexplode("emb").alias("bucket", "__w"))
        .filter(F.col("__w") != 0)
        .select("doc_id", "bucket", F.round("__w", 4).alias("weight"))
    )


@register(
    "ngram_novelty",
    r"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
ref AS (SELECT text FROM documents WHERE doc_id % 3 = 0),
ctoks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                             x -> length(x) > 0) AS toks
  FROM corpus
),
csh AS (
  SELECT doc_id, unnest(CASE WHEN len(toks) >= 5 THEN
           list_distinct(list_transform(range(len(toks) - 4),
             i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
         ELSE [] END) AS shingle
  FROM ctoks
),
rtoks AS (
  SELECT list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                     x -> length(x) > 0) AS toks
  FROM ref
),
rsh AS (
  SELECT DISTINCT unnest(CASE WHEN len(toks) >= 5 THEN
           list_distinct(list_transform(range(len(toks) - 4),
             i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')))
         ELSE [] END) AS shingle
  FROM rtoks
),
per AS (
  SELECT c.doc_id, CAST(count(*) AS INT) AS n_shingles,
         CAST(sum(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END) AS INT)
           AS n_novel
  FROM csh c LEFT JOIN rsh r ON c.shingle = r.shingle
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_novel, 0) AS n_novel,
       round(p.n_novel / nullif(p.n_shingles, 0), 4) AS novelty
FROM (SELECT DISTINCT doc_id FROM corpus) d LEFT JOIN per p USING (doc_id)
""",
)
def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc 5-gram novelty vs a corpus-sized reference
    (dedup.ngram_novelty) — the non-broadcastable sibling of
    decontaminate: shuffle join on hash-uniform shingle keys; the
    reference here is every 3rd document, the corpus the rest."""
    from kgfarm_spark.operators.dedup import ngram_novelty

    d = load_table(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    ref = d.filter(F.col("doc_id") % 3 == 0)
    return ngram_novelty(corpus, ref, n=5)
