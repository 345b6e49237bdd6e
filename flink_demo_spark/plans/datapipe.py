"""LLM-training-data pipeline queries: dedup, text analysis,
similarity search over ``documents`` and ``embeddings``.

Beyond-reference surface (BASELINE.json north star; SURVEY.md §7
phase 6). Oracle-backed where the computation is expressible in
portable SQL; the hash-based operators (MinHash/SimHash/LSH) use
Spark's xxhash64 and register without an oracle (driver rows-only
check) — their correctness is pinned by pytest unit tests instead.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup, similarity, text
from ._util import first_vectors
from .registry import query

_SW = ", ".join(f"'{s}'" for s in text.STOPWORDS)

# fixed random hyperplanes for the LSH path (seeded; 64-dim, 6 bits)
_rng = random.Random(42)
LSH_PLANES = [[_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(6)]


def _plane_lit(p: list[float]) -> str:
    # repr() is the shortest round-trip decimal, so DuckDB parses the
    # bit-identical double the Spark literal carries
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


def _lsh_bucket_sql(vec: str) -> str:
    """DuckDB expression for the random-hyperplane bucket id of `vec`
    — same planes, same sequential-fold dot product, same sign test
    as operators/similarity.random_hyperplane_buckets."""
    terms = [
        f"CASE WHEN list_dot_product({vec}, {_plane_lit(p)}) > 0"
        f" THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(LSH_PLANES)
    ]
    return "(" + "\n             + ".join(terms) + ")"


def _minhash_lsh_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
    directed: bool = False,
    names: tuple[str, str] = ("doc1", "doc2"),
) -> str:
    """DuckDB SQL reproducing minhash_lsh_pairs bit-for-bit: the
    portable md5-fold digest, the same affine MinHash family
    (operators/dedup.MINHASH_COEF), the same polynomial band buckets,
    then exact-Jaccard verification of the candidates.

    ``directed=True`` emits BOTH orientations of every colliding pair
    (a != b instead of a < b) — the shape of the incremental feed-vs-
    index dedup, where each arriving doc reports every index doc it
    collides with. ``names`` renames the two id columns."""
    rows = num_hashes // bands
    hcols = ",\n             ".join(
        f"min((x * {a} + {b}) % {dedup.MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEF[:num_hashes])
    )

    def bucket_expr(b: int) -> str:
        acc = "0"
        for r in range(rows):
            acc = f"(({acc}) * {dedup.BAND_M} + h{b * rows + r}) % {dedup.BAND_Q}"
        return acc

    bands_sql = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, {bucket_expr(b)} AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks
      )
    ), xs AS (
      SELECT doc_id,
             list_reduce(list_transform(generate_series(1, 15),
               i -> strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1),
               (a, b) -> a * 16 + b) % {dedup.MINHASH_P} AS x
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {hcols}
      FROM xs GROUP BY doc_id
    ), banded AS (
      {bands_sql}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id {"<>" if directed else "<"} b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
      SELECT c.doc1, c.doc2, count(*) AS n_common
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc1
      JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.shingle = s1.shingle
      GROUP BY 1, 2
    )
    SELECT doc1 AS {names[0]}, doc2 AS {names[1]},
           round(n_common / (n1.n + n2.n - n_common), 4) AS jaccard
    FROM common
    JOIN sizes n1 ON n1.doc_id = doc1
    JOIN sizes n2 ON n2.doc_id = doc2
    WHERE n_common / (n1.n + n2.n - n_common) >= {threshold}
    ORDER BY doc1, doc2
    """

@query(
    "batch_by_length",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             n_tokens // 16 AS bucket, doc_id % 8 AS shard
      FROM s
    ), r AS (
      SELECT bucket, shard, n_tokens,
             row_number() OVER (PARTITION BY bucket, shard
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM b
    ), g AS (
      SELECT bucket, shard, (rn - 1) // 8 AS batch_id,
             count(*) AS n_docs, max(n_tokens) AS max_len,
             sum(n_tokens) AS sum_len
      FROM r GROUP BY 1, 2, 3
    )
    SELECT bucket, shard, batch_id, n_docs, max_len,
           CAST(sum_len AS BIGINT) AS sum_len,
           CAST(((n_docs * max_len - sum_len) * 10000)
                // (n_docs * max_len) AS BIGINT) AS pad_waste_bp
    FROM g ORDER BY bucket, shard, batch_id
    """,
    doc=(
        "length-bucketed batching with a padding-waste audit - the "
        "sorted-batching step every inference/training serving stack "
        "runs (batch same-length sequences together so padding-to-max "
        "wastes the fewest tokens): documents bucket by n_tokens DIV "
        "16, SUB-SHARD by doc_id % 8 (buckets are few and would be "
        "hot window partitions at scale - sharding keeps the "
        "row_number parallelism at buckets x shards and batch ids "
        "deterministic per shard), sort long-first inside each "
        "(bucket, shard), and cut batches of 8; each batch row "
        "reports its exact integer padding waste in basis points "
        "((n*max - sum) * 1e4 DIV (n*max)). ONE (bucket, shard) "
        "shuffle serves the window; the batch agg collapses map-side. "
        "At 100 TB raise the shard count with the cluster - the plan "
        "is unchanged."
    ),
)
def batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    s = docs.select(
        "doc_id", F.size(text.tokens("text")).cast("long").alias("n_tokens")
    )
    b = s.select(
        "doc_id",
        "n_tokens",
        F.expr("n_tokens DIV 16").alias("bucket"),
        (F.col("doc_id") % 8).alias("shard"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy(
        F.desc("n_tokens"), "doc_id"
    )
    r = b.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy(
            "bucket", "shard", F.expr("CAST((rn - 1) DIV 8 AS BIGINT)").alias("batch_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
        )
        .select(
            "bucket",
            "shard",
            "batch_id",
            "n_docs",
            "max_len",
            "sum_len",
            F.expr(
                "CAST(((n_docs * max_len - sum_len) * 10000)"
                " DIV (n_docs * max_len) AS BIGINT)"
            ).alias("pad_waste_bp"),
        )
    )


@query(
    "exact_median_nchars",
    oracle="""
    WITH c AS (
      SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c
    ), r AS (
      SELECT v, cnt,
             CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
      FROM c
    ), ks AS (
      SELECT CAST((n + 1) // 2 AS BIGINT) AS k_lo,
             CAST(n // 2 + 1 AS BIGINT) AS k_hi, n
      FROM tot
    )
    SELECT ks.n AS n_docs,
           CAST(min(CASE WHEN r.cum >= ks.k_lo THEN r.v END) AS BIGINT)
             AS median_lo,
           CAST(min(CASE WHEN r.cum >= ks.k_hi THEN r.v END) AS BIGINT)
             AS median_hi
    FROM r CROSS JOIN ks
    GROUP BY ks.n
    """,
    doc=(
        "EXACT distributed median (both order statistics, so the "
        "even-n convention is the reader's choice) via the "
        "census-and-cumulate selection pattern - the scalable way to "
        "get exact percentiles without a global sort: groupBy the "
        "VALUE (one partial-agg shuffle whose size is the value "
        "domain, not the row count), cumulative-sum the counts in "
        "value order, and the k-th element is the first value whose "
        "cumulative count reaches k = (n+1) DIV 2 / n DIV 2 + 1. "
        "The window runs over the value census (bounded domain; for "
        "unbounded domains the same idea runs two passes - coarse "
        "histogram, then explode only the k-th bucket). Exact "
        "integers end to end - the audit twin of "
        "text_token_quantiles_approx's mergeable-sketch scale path."
    ),
)
def exact_median_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    r = c.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("v")).cast("long")
    )
    ks = c.agg(F.sum("cnt").alias("n")).select(
        F.expr("CAST((n + 1) DIV 2 AS BIGINT)").alias("k_lo"),
        F.expr("CAST(n DIV 2 + 1 AS BIGINT)").alias("k_hi"),
        "n",
    )
    return (
        r.crossJoin(F.broadcast(ks))
        .groupBy(F.col("n").alias("n_docs"))
        .agg(
            F.min(F.when(F.col("cum") >= F.col("k_lo"), F.col("v")))
            .cast("long")
            .alias("median_lo"),
            F.min(F.when(F.col("cum") >= F.col("k_hi"), F.col("v")))
            .cast("long")
            .alias("median_hi"),
        )
    )


@query(
    "text_novelty_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks
      )
    ), census AS (
      SELECT shingle, count(*) AS df FROM sh GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS novelty_bp
    FROM sh s JOIN census c USING (shingle)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc=(
        "n-gram novelty scoring - the memorization/diversity audit "
        "run over training corpora (what share of a document's "
        "3-gram shingles appears NOWHERE else): per-doc distinct "
        "shingles (the dedup family's exact shingle definition), a "
        "document-frequency census (since shingles are distinct "
        "within a doc, count(*) IS the doc frequency), joined back "
        "for the per-doc unique share in exact basis points. Plan: "
        "one shingle explode feeds the census (partial agg absorbs "
        "hot boilerplate grams map-side) and the gram-keyed join "
        "back (AQE skew-splits viral grams), then one doc_id "
        "partial-agg shuffle - the inverted-index shape tf-idf and "
        "exact-substring dedup already use, O(corpus grams) shuffled "
        "rows, never all-pairs. Low novelty flags boilerplate and "
        "near-dup survivors; high novelty flags the documents worth "
        "upsampling."
    ),
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    sh = (
        docs.select(
            "doc_id", F.explode_outer(text.shingles("text", 3)).alias("gram")
        )
        .where(F.col("gram").isNotNull())
    )
    census = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(census, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.expr("n_unique * 10000 DIV n_grams").alias("novelty_bp"),
        )
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) AS n_tokens,
           CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS INT)
             AS n_distinct,
           CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> lower(x) IN ({_SW}))) AS INT) AS n_stopwords,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
    doc="token counting + lexical stats per document.",
    bench=True,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the token array ONCE (referenced 3x below, so
    # CollapseProject keeps the split out of the outer projection —
    # one regex pass per row instead of three)
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id", "n_chars", text.tokens("text").alias("toks")
    )
    sw = F.array(*[F.lit(s) for s in text.STOPWORDS])
    return staged.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(
            F.array_distinct(F.transform("toks", lambda t: F.lower(t)))
        ).alias("n_distinct"),
        F.size(
            F.filter("toks", lambda t: F.array_contains(sw, F.lower(t)))
        ).alias("n_stopwords"),
        "n_chars",
    )


def quality_bp_frame(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, lang, *keep, quality_bp) — the integer basis-point
    quality heuristic, shared by text_quality_score, the keep-best
    dedup composition, and the stratified-cut pair. One split per row
    (see text_token_stats); distinct-token count is case-folded,
    matching the oracle. ``keep`` threads extra passthrough columns
    (e.g. ``source``) so streaming callers need no post-hoc join."""
    toks_stage = docs.select(
        "doc_id", "lang", *keep, text.tokens("text").alias("toks")
    )
    sw_arr = F.array(*[F.lit(s) for s in text.STOPWORDS])
    n = F.size("toks").cast("long")
    d = F.size(
        F.array_distinct(F.transform("toks", lambda t: F.lower(t)))
    ).cast("long")
    s = F.size(
        F.filter("toks", lambda t: F.array_contains(sw_arr, F.lower(t)))
    ).cast("long")
    staged = toks_stage.select(
        "doc_id", "lang", *keep, n.alias("n"), d.alias("d"), s.alias("sw")
    )
    return staged.select(
        "doc_id",
        "lang",
        *keep,
        F.expr(
            "CAST(5000 * least(n, 50) div 50"
            " + (3000 * d) div n"
            " + (2000 * least(n, 10 * sw)) div n AS BIGINT)"
        ).alias("quality_bp"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n,
             CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')))
               AS BIGINT) AS d,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      x -> lower(x) IN ({_SW}))) AS BIGINT) AS sw
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(5000 * least(n, 50) // 50
                + (3000 * d) // n
                + (2000 * least(n, 10 * sw)) // n AS BIGINT) AS quality_bp
    FROM s
    ORDER BY doc_id
    """,
    doc=(
        "document quality heuristic in basis points "
        "(length/diversity/stopwords) — exact integer arithmetic so both "
        "engines agree bit-for-bit."
    ),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return quality_bp_frame(docs)


# shared CTE prefix for the stratified-quality pair: per-doc quality
# basis points (q) and the per-(lang, source) rank/census frame (r).
# quality_stratified_cut reports the rank cut; streaming_quality_cut
# serves the boundary thresholds derived from the SAME text — one copy,
# so the train-batch and serve-stream semantics cannot desynchronize.
_QCUT_CTES = f"""
    WITH s AS (
      SELECT doc_id, lang, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n,
             CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')))
               AS BIGINT) AS d,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      x -> lower(x) IN ({_SW}))) AS BIGINT) AS sw
      FROM documents
    ), q AS (
      SELECT doc_id, lang, source,
             CAST(5000 * least(n, 50) // 50
                  + (3000 * d) // n
                  + (2000 * least(n, 10 * sw)) // n AS BIGINT) AS quality_bp
      FROM s
    ), r AS (
      SELECT doc_id, lang, source, quality_bp,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY quality_bp DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS n_stratum
      FROM q
    )"""


def stratum_quality_thresholds(docs: DataFrame) -> DataFrame:
    """(lang, source, thr) — each stratum's boundary quality_bp (the
    value at rank ceil(0.4n)), shared by the batch rank cut and the
    streaming threshold serve. One (lang, source) shuffle serves both
    window functions."""
    q = quality_bp_frame(docs, keep=("source",))
    w = Window.partitionBy("lang", "source").orderBy(
        F.desc("quality_bp"), "doc_id"
    )
    wc = Window.partitionBy("lang", "source")
    return (
        q.withColumn("rn", F.row_number().over(w))
        .withColumn("n_stratum", F.count(F.lit(1)).over(wc))
        .where(F.expr("rn = (4 * n_stratum + 9) DIV 10"))
        .select("lang", "source", F.col("quality_bp").alias("thr"))
    )


@query(
    "quality_stratified_cut",
    oracle=_QCUT_CTES
    + """
    SELECT doc_id, lang, source, quality_bp
    FROM r WHERE rn <= (4 * n_stratum + 9) // 10
    ORDER BY doc_id
    """,
    doc=(
        "per-stratum quality-quantile cut (the FineWeb/DCLM pipeline "
        "stage: keep the best X% of each (lang, source) stratum so one "
        "easy domain cannot crowd out hard ones): rank every document "
        "by the shared integer quality_bp heuristic inside its stratum "
        "and keep rank <= ceil(0.4 * stratum size) - the ceiling "
        "computed as (4n+9) DIV 10 so the cut is integer-exact, ties "
        "broken by doc_id. Plan: ONE shuffle on (lang, source) serves "
        "both window functions (row_number + stratum count share the "
        "partition spec). At 100 TB the rank-exact form is the audit "
        "tool; production serving swaps in per-stratum approximate "
        "thresholds (percentile_approx) to avoid ranking the tail."
    ),
)
def quality_stratified_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    q = quality_bp_frame(docs, keep=("source",))
    w = Window.partitionBy("lang", "source").orderBy(
        F.desc("quality_bp"), "doc_id"
    )
    wc = Window.partitionBy("lang", "source")
    return (
        q.withColumn("rn", F.row_number().over(w))
        .withColumn("n_stratum", F.count(F.lit(1)).over(wc))
        .where(F.expr("rn <= (4 * n_stratum + 9) DIV 10"))
        .select("doc_id", "lang", "source", "quality_bp")
    )


@query(
    "text_langid",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      x -> lower(x) IN ({_SW}))) AS DOUBLE)
             / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
               AS en_score
      FROM documents
    )
    SELECT doc_id, lang, round(en_score, 4) AS en_score,
           CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS predicted
    FROM s
    ORDER BY doc_id
    """,
    doc="language-ID heuristic: function-word hit ratio.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    staged = docs.select("doc_id", "lang", text.tokens("text").alias("toks"))
    sw = F.array(*[F.lit(s) for s in text.STOPWORDS])
    score = (
        F.size(F.filter("toks", lambda t: F.array_contains(sw, F.lower(t))))
        .cast("double")
        / F.size("toks").cast("double")
    )
    return staged.select(
        "doc_id",
        "lang",
        F.round(score, 4).alias("en_score"),
        F.when(score >= 0.05, "en").otherwise("other").alias("predicted"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(
                 list_sort(list_distinct(
                   regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
             AS fp
    FROM documents
    ORDER BY doc_id
    """,
    doc="order-insensitive md5 fingerprint over the distinct token bag.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


@query(
    "dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
               AS fp
      FROM documents
    )
    SELECT fp, count(*) AS n_docs, min(doc_id) AS min_id
    FROM fp GROUP BY fp HAVING count(*) > 1
    ORDER BY fp
    """,
    doc="exact dedup: hash-groupBy on normalized fingerprint (1 shuffle).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return dedup.exact_duplicates(docs, "text", "doc_id")


@query(
    "dedup_exact_substring",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
      FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(tok[i : i + 19], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(tok) - 19)) AS g(i)
      WHERE len(tok) >= 20
    ), dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
    ), isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM grams WHERE gram IN (SELECT gram FROM dup)
    )
    SELECT doc_id, MIN(pos) AS pass_start,
           CAST(MAX(pos) - MIN(pos) + 20 AS BIGINT) AS pass_len
    FROM isl GROUP BY doc_id, sid
    ORDER BY doc_id, pass_start
    """,
    doc=(
        "exact-substring passage dedup (Lee et al. arXiv:2107.06499 "
        "suffix-array family, k=20 tokens): maximal token spans whose "
        "every 20-gram repeats corpus-wide; k-gram-seed + interval-merge "
        "formulation, three bounded-key shuffles (see "
        "operators/dedup.py:duplicate_passages). The registry plan opts "
        "into the 128-bit hashed gram key — the 100 TB default (gram-"
        "text shuffle bytes dominate otherwise); output is pinned "
        "identical to the exact-text variant by test, and the DuckDB "
        "oracle compares exact."
    ),
    bench=True,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_passages(docs, "text", "doc_id", k=20, hashed=True)


@query(
    "dedup_cross_source_matrix",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks
      )
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), cap AS (
      -- scale-relative posting cap: max(64, ceil(1% of corpus)),
      -- exact integer arithmetic mirroring the engine
      SELECT greatest(64, (count(*) + 99) // 100) AS c FROM documents
    ), kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= (SELECT c FROM cap)
    ), common AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc1, doc2,
             round(n_common / (n1.n + n2.n - n_common), 4) AS jaccard
      FROM common
      JOIN sizes n1 ON n1.doc_id = doc1
      JOIN sizes n2 ON n2.doc_id = doc2
      WHERE n_common / (n1.n + n2.n - n_common) >= 0.3
    )
    SELECT least(d1.source, d2.source) AS src_a,
           greatest(d1.source, d2.source) AS src_b,
           count(*) AS n_pairs,
           max(p.jaccard) AS max_jaccard
    FROM pairs p
    JOIN documents d1 ON d1.doc_id = p.doc1
    JOIN documents d2 ON d2.doc_id = p.doc2
    GROUP BY 1, 2
    ORDER BY src_a, src_b
    """,
    doc=(
        "cross-source duplication matrix - the provenance audit run "
        "when tuning a dedup pipeline (which sources copy from each "
        "other, which self-duplicate): the verified Jaccard near-dup "
        "pair stage joined back to each side's source, pair counts "
        "and max similarity per unordered source pair "
        "(least/greatest normalization). The per-(source a, source b) "
        "matrix is what decides per-source dedup policy and crawl "
        "dedup priorities. Two doc_id broadcast-or-shuffle joins over "
        "the already-bounded pair list + one census agg - cost rides "
        "the pair stage, which is the capped inverted index, never "
        "all-pairs."
    ),
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    pairs = dedup.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc1"), F.col("source").alias("src1")
            ),
            "doc1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc2"), F.col("source").alias("src2")
            ),
            "doc2",
        )
    )
    return (
        j.select(
            F.least("src1", "src2").alias("src_a"),
            F.greatest("src1", "src2").alias("src_b"),
            "jaccard",
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# shared with dedup_recall_minhash, which replays this exact-tier text
# verbatim as one side of its recall intersection
_JACCARD_PAIRS_ORACLE = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks
      )
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), cap AS (
      -- mirror of the engine's SCALE-RELATIVE posting cap
      -- (max_posting_frac=0.01, floor 64): ultra-frequent shingles —
      -- a document-frequency FRACTION, the quantity that stays
      -- meaningful from sf0.01 to 100 TB — leave the candidate index
      SELECT greatest(64, (count(*) + 99) // 100) AS c FROM documents
    ), kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) <= (SELECT c FROM cap)
    ), common AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN kept k ON k.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT doc1, doc2,
           round(n_common / (n1.n + n2.n - n_common), 4) AS jaccard
    FROM common
    JOIN sizes n1 ON n1.doc_id = doc1
    JOIN sizes n2 ON n2.doc_id = doc2
    WHERE n_common / (n1.n + n2.n - n_common) >= 0.3
    ORDER BY doc1, doc2
    """


@query(
    "dedup_jaccard_pairs",
    oracle=_JACCARD_PAIRS_ORACLE,
    doc=(
        "n-gram (3-shingle) Jaccard near-dup pairs via inverted index; "
        "posting lists capped at max(64, 1% of corpus) docs — a "
        "document-frequency FRACTION so the skew guard travels across "
        "corpus sizes (a fixed 64 emptied the candidate set at sf1, "
        "round-8 sweep), mirrored exactly in the oracle."
    ),
    bench=True,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return dedup.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )


@query(
    "dedup_minhash_lsh",
    oracle=_minhash_lsh_oracle(num_hashes=16, bands=4, threshold=0.3),
    doc=(
        "MinHash(16) + LSH(4 bands) candidate pairs, verified with exact "
        "Jaccard >= 0.3 — the 100 TB-scale near-dup path. Fully "
        "oracle-backed: the portable md5-fold digest makes signatures, "
        "buckets, and the final verified pairs engine-exact."
    ),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, k=3, verify_threshold=0.3
    )


# shared CTE chain computing the 60-bit portable SimHash signature
_SIMHASH_SIG_CTES = """
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents
    ), xs AS (
      SELECT doc_id,
             list_reduce(list_transform(generate_series(1, 15),
               i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
               (a, b) -> a * 16 + b) AS x
      FROM toks
    ), votes AS (
      SELECT doc_id, bs.b AS b,
             sum(CASE WHEN (x >> bs.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM xs CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTES}
    SELECT doc_id, simhash FROM sig ORDER BY doc_id
    """,
    doc=(
        "60-bit SimHash signatures per document (portable md5-fold "
        "digest -> bit votes), oracle-exact across engines."
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return dedup.simhash(docs, "text", "doc_id")


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_SIG_CTES}
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc1, doc2
    """,
    doc=(
        "SimHash near-dup pairs (hamming <= 3) via Manku 4-band "
        "block-match — exact recall by pigeonhole, shuffle keyed on "
        "(band, block) instead of all-pairs; the brute-force oracle "
        "verifies both the distance math AND the banding guarantee."
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3, bands=4)


@query(
    "text_bpe_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_word_runs,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digits,
           CAST(len(regexp_extract_all(text,
             '[^A-Za-z0-9\\s]')) AS INT) AS n_symbols
    FROM documents
    ORDER BY doc_id
    """,
    doc=(
        "BPE-style pre-tokenizer counts (letter runs, single digits, "
        "single symbols — lookahead-free so Java and RE2 regex agree): "
        "the cheap LLM-token-budget estimate for a 100 TB corpus scan."
    ),
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # ONE regex pass: the three alternation branches are disjoint
    # character classes, so each extracted token's class is recoverable
    # from its first character — counting by class over the bound array
    # equals running the three sub-patterns separately, at 1/4 the
    # regex cost (the regex scan dominates this query at corpus scale).
    def classify(a):
        def count_first(pred):
            return F.size(F.filter(a, lambda x: pred(F.ascii(x))))

        is_alpha = lambda o: ((o >= 65) & (o <= 90)) | ((o >= 97) & (o <= 122))
        is_digit = lambda o: (o >= 48) & (o <= 57)
        return F.struct(
            F.size(a).alias("n_bpe_tokens"),
            count_first(is_alpha).alias("n_word_runs"),
            count_first(is_digit).alias("n_digits"),
            (
                F.size(a) - count_first(is_alpha) - count_first(is_digit)
            ).alias("n_symbols"),
        )

    return (
        docs.select(
            "doc_id",
            text.bind(
                F.regexp_extract_all(
                    F.col("text"), F.lit(text.BPE_PATTERN), F.lit(0)
                ),
                classify,
            ).alias("s"),
        )
        .select("doc_id", "s.*")

    )


@query(
    "bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT unnest(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS w
      FROM documents
    ), pairs AS (
      SELECT substr(w, i, 1) AS left_sym,
             CASE WHEN i < length(w) THEN substr(w, i + 1, 1)
                  ELSE '</w>' END AS right_sym
      FROM words, UNNEST(generate_series(1, length(w))) AS g(i)
    )
    SELECT left_sym, right_sym, CAST(count(*) AS BIGINT) AS freq
    FROM pairs
    GROUP BY 1, 2
    ORDER BY freq DESC, left_sym, right_sym
    LIMIT 50
    """,
    doc=(
        "BPE training round 1: adjacent symbol-pair frequencies over "
        "the corpus word-frequency table (chars + '</w>' end-of-word "
        "marker), top 50. The distributed core of operators/bpe.py — "
        "one corpus-sized pass, then vocab-sized aggregation; fully "
        "deterministic ordering (freq desc, then pair) so the LIMIT "
        "window is engine-independent."
    ),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    vocab = bpe.word_freq_table(docs, "text").select(
        bpe._initial_symbols(F.col("word")).alias("syms"), "freq"
    )
    return (
        bpe._pair_counts(vocab)
        .select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "freq",
        )
        .orderBy(F.desc("freq"), "left_sym", "right_sym")
        .limit(50)
    )


@query(
    "bpe_train_merges",
    doc=(
        "full BPE training loop (operators/bpe.py): 12 merge rounds on "
        "the cached word-frequency vocabulary; returns the learned "
        "merge table. Oracle-less by design (the argmax-per-round loop "
        "is not single-statement SQL); exactness is pinned locally by "
        "test_bpe_train_matches_reference_implementation (char-exact "
        "vs an independent pure-Python Sennrich trainer, ties "
        "included)."
    ),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(docs, "text", num_merges=12)
    return spark.createDataFrame(
        [(i + 1, l, r, f) for i, (l, r, f) in enumerate(merges)],
        "rank int, left_sym string, right_sym string, freq long",
    )


@query(
    "text_winnow_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(t[i:i+2], ' ')) AS h
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
           AS g(i)
    ), w AS (
      SELECT doc_id, min(h) OVER fr AS win_min, count(*) OVER fr AS cnt
      FROM sh
      WINDOW fr AS (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
    )
    SELECT doc_id, CAST(count(DISTINCT win_min) AS BIGINT) AS n_fingerprints,
           min(win_min) AS min_fp
    FROM w WHERE cnt = 4
    GROUP BY doc_id ORDER BY doc_id
    """,
    doc=(
        "winnowing fingerprints (rolling-hash min per 4-frame over "
        "3-shingle md5s, Schleimer et al.): position-robust document "
        "signatures; posexplode + windowed min + agg, two shuffles."
    ),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return text.winnow_fingerprints(docs, "text", "doc_id", k=3, window=4)


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT a.vec_id AS doc1, b.vec_id AS doc2,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    ORDER BY doc1, doc2
    """,
    doc=(
        "embedding-cosine near-dup pairs (exact, cosine >= 0.4): "
        "distributed block-pair join (no driver collect) — rows "
        "replicate to their block pairs, one shuffle on (bi, bj), "
        "dense dgemm kernel with fold-order-exact accumulation per "
        "block pair; the LSH variant is the sub-quadratic scale path."
    ),
    bench=True,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, "vec_id", "embedding", 0.4)


@query(
    "dedup_embedding_cosine_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v,
             {_lsh_bucket_sql('v')} AS bucket
      FROM e
    )
    SELECT a.vec_id AS doc1, c.vec_id AS doc2,
           round(list_dot_product(a.v, c.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine_sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_dot_product(a.v, c.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(c.v, c.v))) >= 0.4
    ORDER BY doc1, doc2
    """,
    doc=(
        "embedding near-dup via random-hyperplane LSH buckets + exact "
        "cosine verify: pairs only form inside a bucket (shuffle keyed "
        "on bucket id) — the sub-quadratic 100 TB path. Oracle-backed: "
        "the hyperplanes ship as double literals and both engines fold "
        "the dot product in the same order, so bucket ids and verified "
        "pairs are bit-exact."
    ),
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_lsh(
        emb, LSH_PLANES, "vec_id", "embedding", 0.4
    )


@query(
    "similarity_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))), 6)
               AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "brute-force cosine top-5 for 5 query vectors: broadcast query "
        "set, JVM fold dot product, WindowGroupLimit top-k."
    ),
    bench=True,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.brute_force_top_k(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, round_to=6
    ).orderBy("query_id", "rk")


@query(
    "similarity_lsh_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v,
             {_lsh_bucket_sql('v')} AS bucket
      FROM e
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine_sim
      FROM b c JOIN q ON c.bucket = q.bucket
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "LSH-bucketed ANN top-5 (random hyperplane signatures), "
        "oracle-backed: literal-shipped hyperplanes make the candidate "
        "buckets and within-bucket ranking engine-exact."
    ),
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.lsh_top_k(
        emb, queries, LSH_PLANES, id_col="vec_id", vec_col="embedding", k=5
    ).orderBy("query_id", "rk")


_MMR_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a}))"
    "    * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _mmr_oracle(
    k: int = 5,
    lam_tenths: int = 7,
    topn: int = 20,
    cand_stmts: str | None = None,
) -> str:
    """Unrolled MMR greedy as SQL (the k-step argmax has no closed
    window form, but k is a constant, so the loop unrolls into k
    select-stages — each picks the argmax of
    ``lam·qsim_u − (10−lam)·max ssim_u over the selected set``, ties
    to the smaller neighbor id, all in integer micro-units so the
    arithmetic is bit-identical to the engine's greedy).

    ``cand_stmts`` overrides the candidate-generation prefix with
    MULTI-STATEMENT SQL that must ``CREATE OR REPLACE TEMP TABLE
    mmr_ivf_cand(query_id, neighbor_id, v, qsim_u)`` — materialized
    ONCE, because the greedy references cand from psim and every
    unrolled stage and DuckDB inlines CTEs per consumer (the
    round-12/13 spill lesson; the IVF variant OOM'd at sf1 before
    this). Mirrors the engine's :func:`mmr_over_candidates` split so
    ANY candidate stage composes with the same greedy. Default =
    exact brute-force top-``topn`` as a plain CTE (small enough to
    inline)."""
    stages = [_mmr_head(topn, cand_stmts), _mmr_stage_ctes("", lam_tenths, k)]
    union = "\n      UNION ALL ".join(
        f"SELECT query_id, {i} AS rk, neighbor_id, score_u FROM sel{i}"
        for i in range(1, k + 1)
    )
    stages.append(
        f"""
    SELECT query_id, CAST(rk AS INT) AS rk, neighbor_id,
           CAST(score_u AS BIGINT) AS mmr_score_u
    FROM ({union})
    ORDER BY query_id, rk"""
    )
    return "".join(stages)


def _mmr_head(topn: int = 20, cand_stmts: str | None = None) -> str:
    """Shared MMR oracle prefix: the ``cand`` stage (brute-force
    top-``topn`` by default, or the caller's materialized temp table)
    plus the candidate-pair similarity CTE ``psim``."""
    cos = _MMR_COS
    if cand_stmts is not None:
        head = cand_stmts + """;
    WITH cand AS (SELECT * FROM mmr_ivf_cand)"""
    else:
        head = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5
    ), cand AS (
      SELECT query_id, neighbor_id, v,
             CAST(round(cosine_sim * 1000000) AS BIGINT) AS qsim_u
      FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.v,
               {cos.format(a="q.qv", b="c.v")} AS cosine_sim,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {cos.format(a="q.qv", b="c.v")} DESC,
                          c.vec_id) AS rk1
        FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id
      ) WHERE rk1 <= {topn}
    )"""
    return head + f""", psim AS (
      SELECT a.query_id, a.neighbor_id AS d1, b.neighbor_id AS d2,
             CAST(round({cos.format(a="a.v", b="b.v")} * 1000000)
                  AS BIGINT) AS ssim_u
      FROM cand a JOIN cand b ON a.query_id = b.query_id
       AND a.neighbor_id <> b.neighbor_id
    )"""


def _mmr_stage_ctes(p: str, lam_tenths: int, k: int) -> str:
    """The unrolled greedy as a ``p``-prefixed CTE chain over the
    shared ``cand``/``psim``: ``{p}sel1..{p}sel{k}`` each carry
    (query_id, neighbor_id, qsim_u, maxs, score_u) — relevance AND the
    incurred diversity penalty — so both the ranking oracle and the
    lambda-curve oracle read from the same stages; ties to the smaller
    neighbor id. Prefixing lets several lambda settings coexist in one
    WITH chain."""
    div = 10 - lam_tenths
    out = [
        f""", {p}sel1 AS (
      SELECT query_id, neighbor_id, qsim_u,
             CAST(0 AS BIGINT) AS maxs,
             {lam_tenths} * qsim_u AS score_u
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY qsim_u DESC, neighbor_id) AS rn FROM cand)
      WHERE rn = 1
    ), {p}all1 AS (SELECT query_id, neighbor_id FROM {p}sel1)"""
    ]
    for i in range(2, k + 1):
        out.append(
            f""", {p}m{i} AS (
      SELECT c.query_id, c.neighbor_id, c.qsim_u, max(p2.ssim_u) AS maxs
      FROM cand c
      JOIN psim p2 ON p2.query_id = c.query_id AND p2.d1 = c.neighbor_id
      JOIN {p}all{i - 1} s ON s.query_id = p2.query_id
       AND s.neighbor_id = p2.d2
      WHERE NOT EXISTS (SELECT 1 FROM {p}all{i - 1} x
                        WHERE x.query_id = c.query_id
                          AND x.neighbor_id = c.neighbor_id)
      GROUP BY 1, 2, 3
    ), {p}sel{i} AS (
      SELECT query_id, neighbor_id, qsim_u, maxs,
             {lam_tenths} * qsim_u - {div} * maxs AS score_u
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY {lam_tenths} * qsim_u - {div} * maxs DESC,
                       neighbor_id) AS rn FROM {p}m{i})
      WHERE rn = 1
    ), {p}all{i} AS (
      SELECT query_id, neighbor_id FROM {p}all{i - 1}
      UNION ALL SELECT query_id, neighbor_id FROM {p}sel{i}
    )"""
        )
    return "".join(out)


def _mmr_lambda_curve_oracle(
    lams: tuple[int, ...] = (5, 7, 9), k: int = 5, topn: int = 20
) -> str:
    """The lambda TRADEOFF curve: the same candidates and the same
    greedy run at several lambda settings, reduced to one row per
    setting — total selected relevance (sum qsim_u) vs total incurred
    redundancy penalty (sum max_ssim_u), both exact integer sums (no
    division, so no floor-vs-trunc cross-engine hazard with negative
    cosines)."""
    parts = [_mmr_head(topn)]
    for lam in lams:
        parts.append(_mmr_stage_ctes(f"l{lam}", lam, k))
    union = "\n      UNION ALL ".join(
        f"SELECT {lam} AS lam_tenths, qsim_u, maxs FROM l{lam}sel{i}"
        for lam in lams
        for i in range(1, k + 1)
    )
    parts.append(
        f"""
    SELECT CAST(lam_tenths AS INT) AS lam_tenths,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(qsim_u) AS BIGINT) AS sum_qsim_u,
           CAST(sum(maxs) AS BIGINT) AS sum_max_ssim_u
    FROM ({union})
    GROUP BY lam_tenths
    ORDER BY lam_tenths"""
    )
    return "".join(parts)


@query(
    "similarity_topk_mmr",
    oracle=_mmr_oracle(),
    doc=(
        "MMR diversity re-rank (Carbonell & Goldstein 1998) - the "
        "redundancy-pruning step every retrieval pipeline runs on top "
        "of ANN: from the exact cosine top-20, greedily keep 5 "
        "results maximizing lam*sim(q,d) - (1-lam)*max sim(d,selected) "
        "(lam=0.7), so near-duplicate hits can't crowd the context "
        "window. Candidate generation is the verified brute-force "
        "top-k (the LSH/IVF paths swap in at 100 TB); the candidate-"
        "pair similarity matrix is JVM sequential-fold cosine over a "
        "SCALE-INVARIANT n_candidates^2-per-query set; similarities "
        "are integerized to micro-units so the greedy is pure integer "
        "math in one per-query applyInPandas (ties to smaller id). "
        "The oracle unrolls the k-step greedy into k select-stages "
        "over the same integers - bit-identical arithmetic, "
        "independently formulated."
    ),
)
def similarity_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.mmr_rerank(
        emb,
        queries,
        id_col="vec_id",
        vec_col="embedding",
        n_candidates=20,
        k=5,
        lam_tenths=7,
    )


@query(
    "similarity_mmr_lambda_curve",
    oracle=_mmr_lambda_curve_oracle(),
    doc=(
        "the MMR lambda knob PRICED - the tuning run a retrieval "
        "deployment executes before committing the "
        "relevance/diversity tradeoff (the family pattern of the "
        "bands/hashes/nprobe recall curves): the SAME brute-force "
        "top-20 candidates and the SAME integer greedy run at "
        "lam=0.5/0.7/0.9, one row per setting with total selected "
        "relevance (sum qsim_u) vs total incurred redundancy penalty "
        "(sum max_ssim_u) - exact integer SUMS, no division, so "
        "negative cosines can't open a floor-vs-trunc cross-engine "
        "gap. Candidates computed ONCE and persisted (settings "
        "re-rank the same pool); raising lam must raise relevance "
        "and raise the tolerated redundancy - monotonicity pinned in "
        "tests/test_round13.py. Oracle: three prefixed greedy "
        "unrolls over one shared cand/psim chain."
    ),
)
def similarity_mmr_lambda_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cand = (
        similarity.brute_force_top_k(
            emb, queries, id_col="vec_id", vec_col="embedding", k=20, round_to=6
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine_sim") * 1_000_000)
            .cast("long")
            .alias("qsim_u"),
        )
        .persist()
    )
    parts = [
        similarity.mmr_over_candidates(
            cand,
            emb,
            id_col="vec_id",
            vec_col="embedding",
            k=5,
            lam_tenths=lam,
            emit_penalty=True,
        ).select(
            F.lit(lam).cast("int").alias("lam_tenths"), "qsim_u", "max_ssim_u"
        )
        for lam in (5, 7, 9)
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return u.groupBy("lam_tenths").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum("qsim_u").cast("long").alias("sum_qsim_u"),
        F.sum("max_ssim_u").cast("long").alias("sum_max_ssim_u"),
    )


@query(
    "embedding_norms",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[],
                                           embedding::DOUBLE[]))), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    doc="per-label embedding L2-norm stats (array fold, no UDF).",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = similarity.l2_norm(
        F.transform("embedding", lambda x: x.cast("double"))
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(norm), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


# shared with similarity_recall_quant, which replays this retrieval
# verbatim as one side of its recall intersection
_INT8_TOPK_ORACLE = """
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), mm AS (
      SELECT min(list_min(v)) AS mn, max(list_max(v)) AS mx FROM ev
    ), qz AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(((x - mn) * 254) / (mx - mn))
                                         AS BIGINT)) AS qv
      FROM ev, mm
    ), q AS (
      SELECT vec_id AS query_id, qv AS qq FROM qz WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, len(c.qv)),
               i -> c.qv[i] * q.qq[i])) AS BIGINT) AS dot_q
      FROM qz c CROSS JOIN q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, dot_q FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY dot_q DESC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """


@query(
    "similarity_int8_topk",
    oracle=_INT8_TOPK_ORACLE,
    doc=(
        "ANN over the int8-QUANTIZED corpus - retrieval on the "
        "quarter-size index embedding_int8_quant produces: every "
        "vector maps onto the global 255-level grid (the same "
        "deterministic IEEE floor sequence as the audit query), and "
        "ranking is the INTEGER dot product of quantized codes - "
        "pure BIGINT arithmetic after quantization, so the whole "
        "ranking is engine-exact with no float-ordering hazard at "
        "all. The 100 TB serving trade: 4x less index memory and "
        "SIMD int8 dot products for a small recall loss; the global "
        "min/max is one scalar row broadcast back over the scan, the "
        "5-query side broadcasts, one WindowGroupLimit shuffle."
    ),
)
def similarity_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.transform("embedding", lambda x: x.cast("double"))
    mm = emb.agg(
        F.min(F.array_min(ev)).alias("mn"), F.max(F.array_max(ev)).alias("mx")
    )
    qv = F.transform(
        ev, lambda x: F.floor(((x - F.col("mn")) * 254) / (F.col("mx") - F.col("mn")))
    )
    qz = emb.crossJoin(F.broadcast(mm)).select("vec_id", qv.alias("qv"))
    q = qz.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    dot_q = F.aggregate(
        F.zip_with("qv", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("neighbor_id"))
    return (
        qz.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), dot_q.alias("dot_q")
        )
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", "dot_q")
    )


_PQ_M, _PQ_D, _PQ_K = 8, 8, 16


def _pq_oracle() -> str:
    """Product-quantization oracle: per subspace, one L2 Lloyd
    iteration from the fixed seeds (vec_id<16 subvectors), then every
    vector encodes to its nearest updated sub-centroid, and queries
    rank the corpus by the sum of per-subspace quantized distances
    (ADC). Every float op is EXPLICIT flat arithmetic (per-element
    products summed ascending, left-associated) — no fold primitives —
    so the Spark side uses the same flat expressions (codegen-friendly,
    unlike nested lambda folds which fall back to interpreted
    evaluation) and the driver-precomputed ADC table (plain C-double
    Python arithmetic in the identical order) is bit-exact too. The
    nearest-centroid criterion drops the candidate-independent
    ||x||^2 term: argmin of ||c||^2 - 2<x,c>, identical ranking,
    mirrored on both sides. Codebook update is the decimal-exact mean
    of embedding_kmeans."""

    def ssum(terms):
        return "(" + " + ".join(terms) + ")"

    parts = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_D + 1, (m + 1) * _PQ_D
        ev = "(e.embedding::DOUBLE[])"
        b = ssum(f"{ev}[{lo + i}]*c.cv[{i + 1}]" for i in range(_PQ_D))
        cc = ssum(f"c.cv[{i + 1}]*c.cv[{i + 1}]" for i in range(_PQ_D))
        crit = f"({cc} - 2.0*{b})"

        parts.append(f"""cent{m} AS (
      SELECT vec_id AS cid, list_slice(embedding::DOUBLE[], {lo}, {hi}) AS cv
      FROM embeddings WHERE vec_id < {_PQ_K}
    ), a{m} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT e.vec_id,
               list_slice(e.embedding::DOUBLE[], {lo}, {hi}) AS sub, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {crit} ASC, c.cid) AS crk
        FROM embeddings e CROSS JOIN cent{m} c
      ) WHERE crk = 1
    ), upd{m} AS (
      SELECT cid, pos,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mv
      FROM (SELECT cid, generate_subscripts(sub, 1) AS pos, unnest(sub) AS x
            FROM a{m})
      GROUP BY cid, pos
    ), cb{m} AS (
      SELECT cid, list(mv ORDER BY pos) AS cv FROM upd{m} GROUP BY cid
    ), enc{m} AS (
      SELECT vec_id, cv AS v{m} FROM (
        SELECT e.vec_id, c.cv,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {crit} ASC, c.cid) AS crk
        FROM embeddings e CROSS JOIN cb{m} c
      ) WHERE crk = 1
    )""")
    joins = " ".join(f"JOIN enc{m} USING (vec_id)" for m in range(1, _PQ_M))
    vcols = ", ".join(f"v{m}" for m in range(_PQ_M))

    def qterm(m):
        lo = m * _PQ_D + 1
        a = ssum(f"q.qv[{lo + i}]*q.qv[{lo + i}]" for i in range(_PQ_D))
        b = ssum(f"q.qv[{lo + i}]*c.v{m}[{i + 1}]" for i in range(_PQ_D))
        cc = ssum(f"c.v{m}[{i + 1}]*c.v{m}[{i + 1}]" for i in range(_PQ_D))
        return f"({a} - 2.0*{b} + {cc})"

    score = " + ".join(qterm(m) for m in range(_PQ_M))
    return f"""
    WITH {", ".join(parts)},
    codes AS (
      SELECT vec_id, {vcols} FROM enc0 {joins}
    ), qs AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({score}, 6) AS pq_dist
      FROM codes c CROSS JOIN qs q
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, pq_dist FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY pq_dist ASC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """


def _py_dot(a: list, b: list) -> float:
    """Left-associated ascending product sum — the SAME IEEE op
    sequence as the generated flat SQL/Column expressions, so a value
    computed here on the driver is bit-identical to one computed by
    either engine from the same doubles."""
    acc = None
    for x, y in zip(a, b):
        t = x * y
        acc = t if acc is None else acc + t
    return acc


@query(
    "similarity_pq_topk",
    oracle=_pq_oracle(),
    doc=(
        "Product-quantization ANN (Jegou et al. 2011): the 64-dim "
        "space splits into 8 subspaces of 8 dims, each trained with "
        "one L2 Lloyd iteration from fixed seeds (16 sub-centroids "
        "per subspace, decimal-exact codebook update - the "
        "embedding_kmeans contract), every vector encodes to 8 "
        "4-bit-sized codes, and queries rank the corpus by the sum "
        "of per-subspace quantized distances (asymmetric distance "
        "computation). The memory story PQ exists for: 64 floats -> "
        "8 codes per vector, 64x smaller than float32, with the "
        "codebooks (8x16x8 doubles) a literal broadcast at any "
        "corpus size. All float ops are the portable sequential-fold "
        "dot (L2 via the dot identity), so training, encoding, and "
        "ADC ranking are bit-identical across engines. Plan: "
        "training is one explode + 1024-row partial agg + bounded "
        "collect; serving is a map-side encode + 5-query broadcast "
        "cross join + one WindowGroupLimit shuffle."
    ),
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType

    emb = load_table(spark, sf_dir, "embeddings")
    ev = similarity._as_double(F.col("embedding"))

    def flat_dot_sql(off: int, cvec: list) -> str:
        # sum_i embedding[off+i] * c_i — explicit flat arithmetic
        # (stays in whole-stage codegen; a nested fold of this size
        # falls back to interpreted evaluation, measured ~30x slower)
        return " + ".join(
            f"CAST(element_at(embedding, {off + i + 1}) AS DOUBLE)"
            f" * {similarity.sql_double(c)}"
            for i, c in enumerate(cvec)
        )

    def assign_idx(m: int, cents: list):
        # 1-based index of the argmin centroid: criterion drops the
        # candidate-independent ||x||^2 — argmin ||c||^2 - 2<x,c> —
        # ties to the smaller centroid id (cents sorted by cid).
        # Spelled as ONE SQL expression: a Column call costs about 15
        # Py4J round trips and this expression has ~2300 nodes
        off = m * _PQ_D
        entries = ", ".join(
            f"struct(-({similarity.sql_double(_py_dot(cv, cv))}"
            f" - 2.0D * ({flat_dot_sql(off, cv)})) AS nd, {-(i + 1)} AS neg_i)"
            for i, (_cid, cv) in enumerate(cents)
        )
        return F.expr(f"CAST(-array_max(array({entries})).neg_i AS INT)")

    seed_rows = first_vectors(emb, _PQ_K)
    seeds = [
        [(cid, vec[m * _PQ_D : (m + 1) * _PQ_D]) for cid, vec in seed_rows]
        for m in range(_PQ_M)
    ]

    # train: one Lloyd iteration per subspace in a single pass —
    # explode (m, cell, sub) then a 1024-row (m, cell, pos) partial agg
    parts = []
    for m in range(_PQ_M):
        idx = assign_idx(m, seeds[m])
        cids = F.array(*[F.lit(cid) for cid, _ in seeds[m]])
        parts.append(
            F.struct(
                F.lit(m).alias("m"),
                F.element_at(cids, idx).alias("cell"),
                F.slice(ev, m * _PQ_D + 1, _PQ_D).alias("sub"),
            )
        )
    longf = emb.select(F.explode(F.array(*parts)).alias("p")).select(
        "p.m", "p.cell", F.posexplode("p.sub").alias("pos", "x")
    )
    mean_rows = (
        longf.groupBy("m", "cell", "pos")
        .agg(
            (
                F.sum(F.col("x").cast(DecimalType(28, 12))).cast("double")
                / F.count("x")
            ).alias("c")
        )
        .collect()
    )
    cb: dict = {}
    for r in mean_rows:
        cb.setdefault((int(r.m), int(r.cell)), [0.0] * _PQ_D)[int(r.pos)] = float(
            r.c
        )
    books = [
        sorted((cid, vec) for (m2, cid), vec in cb.items() if m2 == m)
        for m in range(_PQ_M)
    ]

    # precompute the ADC tables on the driver: dt[m][qslot][code-1] =
    # ||q_sub||^2 - 2<q_sub, c> + ||c||^2, identical op order to the
    # oracle's flat SQL, so the looked-up distance is bit-exact
    q_rows = first_vectors(emb, 5)
    qids = [qid for qid, _ in q_rows]
    dt = []
    for m in range(_PQ_M):
        lo = m * _PQ_D
        per_q = []
        for _qid, qv in q_rows:
            qs = qv[lo : lo + _PQ_D]
            a = _py_dot(qs, qs)
            per_q.append(
                [
                    a - 2.0 * _py_dot(qs, cv) + _py_dot(cv, cv)
                    for _cid, cv in books[m]
                ]
            )
        dt.append(per_q)

    # serve: per corpus row, encode (argmin index per subspace) and
    # sum the 8 table lookups — all flat, zero higher-order functions
    q = emb.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"))
    qslot = F.array_position(
        F.array(*[F.lit(int(x)) for x in qids]), F.col("query_id")
    ).cast("int")
    score = None
    for m in range(_PQ_M):
        dt_m = F.array(*[similarity.double_array_lit(per_q) for per_q in dt[m]])
        term = F.element_at(F.element_at(dt_m, qslot), assign_idx(m, books[m]))
        score = term if score is None else score + term
    w = Window.partitionBy("query_id").orderBy(
        F.asc("pq_dist"), F.asc("neighbor_id")
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(score, 6).alias("pq_dist"),
        )
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", "pq_dist")
    )


_MAT_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "similarity_matryoshka",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_slice(embedding::DOUBLE[], 1, 16) AS h
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, h AS qh FROM ev WHERE vec_id < 5
    ), stage1 AS (
      SELECT query_id, neighbor_id, v FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.v,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({_MAT_COS.format(a='q.qh', b='c.h')}, 6) DESC,
                          c.vec_id) AS rk1
        FROM ev c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
      ) WHERE rk1 <= 50
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT s.query_id, s.neighbor_id,
             round({_MAT_COS.format(a='q.qv', b='s.v')}, 6) AS cosine_sim,
             CAST(row_number() OVER (PARTITION BY s.query_id
               ORDER BY round({_MAT_COS.format(a='q.qv', b='s.v')}, 6) DESC,
                        s.neighbor_id) AS INT) AS rk
      FROM stage1 s JOIN q ON q.query_id = s.query_id
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "Matryoshka-style two-stage retrieval (Kusupati et al. 2022: "
        "nested representations let a 16-dim prefix stand in for the "
        "full vector): stage 1 ranks the corpus by cosine over the "
        "FIRST 16 dims only and keeps 50 candidates per query - at "
        "100 TB this is the pass that touches every vector, at 1/4 "
        "the flops and memory bandwidth - and stage 2 re-ranks just "
        "those 50 by full-dimension cosine. Both stages order by the "
        "round-6 cosine with vec_id tiebreak, the established "
        "engine-exact float contract of the ANN family; the stage-1 "
        "survivors carry their vectors through the shuffle so stage "
        "2 re-reads nothing."
    ),
)
def similarity_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select(
        "vec_id", ev.alias("v"), F.slice(ev, 1, 16).alias("h")
    )
    q = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("h").alias("qh"),
    )
    sim1 = F.round(similarity.cosine(F.col("qh"), F.col("h")), 6)
    w1 = Window.partitionBy("query_id").orderBy(F.desc("sim1"), F.asc("neighbor_id"))
    stage1 = (
        base.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "v",
            "qv",
            sim1.alias("sim1"),
        )
        .withColumn("rk1", F.row_number().over(w1))
        .where(F.col("rk1") <= 50)
    )
    sim2 = F.round(similarity.cosine(F.col("qv"), F.col("v")), 6)
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        stage1.select("query_id", "neighbor_id", sim2.alias("cosine_sim"))
        .withColumn("rk", F.row_number().over(w2).cast("int"))
        .where(F.col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", "cosine_sim")
    )


@query(
    "hybrid_search_rrf",
    oracle="""
    WITH dt AS (
      SELECT doc_id,
             unnest(list_distinct(
               regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
      FROM documents
    ), lex_scored AS (
      SELECT q.doc_id AS query_id, d.doc_id, count(*) AS n_common
      FROM dt q JOIN dt d ON q.tok = d.tok AND d.doc_id <> q.doc_id
      WHERE q.doc_id < 5
      GROUP BY 1, 2
    ), lex AS (
      SELECT query_id, doc_id, lex_rk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY n_common DESC, doc_id) AS lex_rk
        FROM lex_scored
      ) WHERE lex_rk <= 20
    ), vec_scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
             round(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                            q.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))), 6)
               AS cosine_sim
      FROM embeddings e CROSS JOIN embeddings q
      WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id
    ), vec AS (
      SELECT query_id, doc_id, vec_rk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, doc_id) AS vec_rk
        FROM vec_scored
      ) WHERE vec_rk <= 20
    ), fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rk, v.vec_rk,
             COALESCE(1.0 / (60 + l.lex_rk), 0.0)
               + COALESCE(1.0 / (60 + v.vec_rk), 0.0) AS rrf_score
      FROM lex l FULL OUTER JOIN vec v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    )
    SELECT query_id, rk, doc_id,
           CAST(lex_rk AS INT) AS lex_rk, CAST(vec_rk AS INT) AS vec_rk,
           rrf_score
    FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf_score DESC, doc_id) AS INT) AS rk
      FROM fused
    ) WHERE rk <= 10
    ORDER BY query_id, rk
    """,
    doc=(
        "Hybrid retrieval with reciprocal-rank fusion - the "
        "lexical+vector search shape modern retrieval stacks ship "
        "(RRF, Cormack/Clarke/Buettcher 2009): for each query doc, a "
        "lexical ranking (distinct-token overlap count - integer-"
        "exact - via an exploded token self-join with the 5-doc query "
        "side broadcast) and a vector ranking (the brute_force_top_k "
        "rounded-cosine order) are each truncated to 20, full-outer "
        "merged, and fused by rrf = 1/(60+lex_rk) + 1/(60+vec_rk). "
        "The fusion arithmetic is two IEEE divisions and one "
        "addition in a fixed order, so the score is bit-identical "
        "across engines with no rounding step. Plan: both rankings "
        "are WindowGroupLimit top-k over ONE shuffle each; the merge "
        "joins two 100-row frames - at 100 TB the cost is the two "
        "rankings, which scale exactly like text_tfidf_topk and "
        "similarity_topk do."
    ),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    dt = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
        ).alias("tok"),
    )
    qt = dt.where(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    lex_w = Window.partitionBy("query_id").orderBy(
        F.desc("n_common"), F.asc("doc_id")
    )
    lex = (
        dt.join(F.broadcast(qt), "tok")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("lex_rk", F.row_number().over(lex_w))
        .where(F.col("lex_rk") <= 20)
        .select("query_id", "doc_id", "lex_rk")
    )
    vec = similarity.brute_force_top_k(
        emb, emb.where(F.col("vec_id") < 5), k=20, round_to=6
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").alias("vec_rk"),
    )
    fused = (
        lex.join(vec, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            "lex_rk",
            "vec_rk",
            (
                F.coalesce(1.0 / (60 + F.col("lex_rk")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("vec_rk")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )
    rrf_w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(rrf_w))
        .where(F.col("rk") <= 10)
        .select(
            "query_id",
            F.col("rk").cast("int"),
            "doc_id",
            F.col("lex_rk").cast("int").alias("lex_rk"),
            F.col("vec_rk").cast("int").alias("vec_rk"),
            "rrf_score",
        )
    )


_IVF_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "similarity_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent c
      ) WHERE crk = 1
    ), q AS (
      SELECT vec_id AS query_id, ev AS qv, cid FROM assign WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='q.qv', b='a.ev')}, 6) AS cosine_sim
      FROM assign a JOIN q ON a.cid = q.cid AND a.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "IVF(nprobe=1) ANN: 8 fixed centroids (vec_id<8), nearest-"
        "centroid cell assignment, exact cosine top-5 within the query's "
        "cell. The 100 TB path: cells pre-partitioned on disk, probes "
        "touch one partition. Fully oracle-checked."
    ),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.ivf_top_k(
        emb, queries, cents, id_col="vec_id", vec_col="embedding", k=5
    ).orderBy("query_id", "rk")


@query(
    "similarity_ivf_nprobe",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), ranked AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                        c.cid
             ) AS crk
      FROM embeddings e CROSS JOIN cent c
    ), assign AS (
      SELECT vec_id, ev, cid FROM ranked WHERE crk = 1
    ), q AS (
      -- queries probe their TWO nearest cells
      SELECT vec_id AS query_id, ev AS qv, cid
      FROM ranked WHERE vec_id < 5 AND crk <= 2
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='q.qv', b='a.ev')}, 6) AS cosine_sim
      FROM assign a JOIN q ON a.cid = q.cid AND a.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "IVF multi-probe ANN (nprobe=2): queries explode into their "
        "two nearest cells, exact cosine top-5 over the union of both "
        "cells' members — higher recall at 2x probe cost, the standard "
        "IVF quality knob. Fully oracle-checked."
    ),
)
def similarity_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.ivf_top_k(
        emb, queries, cents, id_col="vec_id", vec_col="embedding", k=5,
        nprobe=2,
    ).orderBy("query_id", "rk")


@query(
    "embedding_kmeans",
    bench=True,
    oracle=f"""
    WITH cent0 AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), a0 AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent0 c
      ) WHERE crk = 1
    ), upd AS (
      -- decimal-exact per-dimension mean: order-independent, so the
      -- updated centroids are bit-identical to Spark's
      SELECT cid, pos,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
      FROM (SELECT cid, generate_subscripts(ev, 1) AS pos, unnest(ev) AS x
            FROM a0)
      GROUP BY cid, pos
    ), cent1 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM upd GROUP BY cid
    )
    SELECT vec_id, CAST(cid AS INT) AS cluster,
           round(sim, 6) AS cosine_to_centroid
    FROM (
      SELECT e.vec_id, c.cid,
             {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} AS sim,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                        c.cid
             ) AS crk
      FROM embeddings e CROSS JOIN cent1 c
    ) WHERE crk = 1
    ORDER BY vec_id
    """,
    doc=(
        "spherical k-means (one Lloyd iteration): 8 fixed seeds "
        "(vec_id<8), cosine-argmax assignment, DECIMAL-exact centroid "
        "update, final reassignment. The clustering step behind "
        "SemDeDup-style semantic dedup and IVF index builds. Per "
        "iteration: one (cell,dim)-keyed partial agg + a K x dim "
        "driver collect — the MLlib KMeans pattern, corpus never "
        "leaves the executors. Fully oracle-checked including the "
        "updated centroid values."
    ),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    init = first_vectors(emb, 8)
    cents = similarity.kmeans_lloyd(emb, init, iterations=1)
    assigned = similarity.ivf_assign(emb, cents, sim_col="__sim")
    return assigned.select(
        "vec_id",
        F.col("cell").alias("cluster"),
        F.round("__sim", 6).alias("cosine_to_centroid"),
    )


_SEM_COS = _IVF_COS.format(a="u.ev", b="a.ev")


@query(
    "embedding_semantic_dedup",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), a AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent c
      ) WHERE crk = 1
    )
    SELECT a.vec_id, CAST(a.cid AS INT) AS cluster
    FROM a
    WHERE NOT EXISTS (
      SELECT 1 FROM a u
      WHERE u.cid = a.cid AND u.vec_id < a.vec_id
        AND {_SEM_COS} >= 0.4
    )
    ORDER BY vec_id
    """,
    doc=(
        "SemDeDup-style semantic dedup: cluster by nearest centroid, "
        "then inside each cluster drop any vector that has an "
        "earlier-id neighbor with cosine >= 0.4 (keep-first). The "
        "pairwise check is confined to a cluster — one shuffle keyed "
        "on cluster id, never all-pairs; at 100 TB K grows with the "
        "corpus so cluster populations stay bounded (SemDeDup, "
        "Abbas et al. 2023). Oracle-backed NOT EXISTS twin."
    ),
)
def embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = first_vectors(emb, 8)
    assigned = similarity.ivf_assign(emb, cents, cell_col="cluster")
    # explicit renames break the self-join lineage so the cluster
    # equality is a real hash key (shuffled-on-cluster at scale),
    # not an ambiguous same-attribute predicate
    # per-side cast + norm staged before the cluster self-join, so the
    # anti-join condition pays one dot fold per candidate pair instead
    # of 2 casts + 3 folds (same u*v norm multiply order as cosine()
    # — bit-identical values)
    withn = assigned.withColumn(
        "__vd", similarity._as_double(F.col("embedding"))
    ).withColumn("__vn", similarity.l2_norm(F.col("__vd")))
    earlier = withn.select(
        F.col("cluster").alias("u_cluster"),
        F.col("vec_id").alias("u_id"),
        F.col("__vd").alias("u_vd"),
        F.col("__vn").alias("u_vn"),
    )
    pair_cos = similarity.dot(F.col("u_vd"), F.col("__vd")) / (
        F.col("u_vn") * F.col("__vn")
    )
    survivors = withn.join(
        earlier,
        (F.col("cluster") == F.col("u_cluster"))
        & (F.col("u_id") < F.col("vec_id"))
        & (pair_cos >= 0.4),
        "left_anti",
    )
    return survivors.select("vec_id", "cluster")


@query(
    "json_extract_props",
    oracle="""
    SELECT event_type,
           CAST(CAST(props->>'$.k' AS INT) % 10 AS INT) AS k_mod,
           count(*) AS n,
           CAST(min(CAST(props->>'$.k' AS INT)) AS INT) AS min_k,
           CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, k_mod
    """,
    doc=(
        "JSON payload extraction (reference Kafka JSON format "
        "CreateTest.scala:141-160): get_json_object over the props "
        "column, grouped stats."
    ),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type", "k_mod")
    )


@query(
    "text_vocab_topk",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
          FROM documents)
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 50
    """,
    doc=(
        "corpus vocabulary top-50 (training-data token stats): explode "
        "tokens, count, deterministic top-k."
    ),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            F.explode_outer(F.split(F.trim(F.lower("text")), r"\s+")).alias(
                "word"
            )
        )
        .where(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
    )


@query(
    "text_length_histogram",
    oracle="""
    SELECT CAST(n_chars // 100 AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    doc="document length histogram (100-char buckets) for corpus QA.",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy(F.expr("n_chars div 100").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bucket")
    )


@query(
    "dedup_keep_first",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
               AS fp
      FROM documents
    )
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
      FROM fp
    ) WHERE rk = 1
    ORDER BY doc_id
    """,
    doc=(
        "dedup 'apply' form: the surviving doc set (first doc per "
        "normalized fingerprint) — what a pipeline actually keeps."
    ),
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.select("doc_id", text.fingerprint("text").alias("fp"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id")
        
    )


@query(
    "embedding_int8_quant",
    oracle="""
    WITH ev AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), mm AS (
      SELECT min(list_min(v)) AS mn, max(list_max(v)) AS mx FROM ev
    )
    SELECT vec_id,
           CAST(len(v) AS INT) AS n_dims,
           CAST(list_min(list_transform(v,
             x -> floor(((x - mn) * 254) / (mx - mn)))) AS BIGINT) AS q_min,
           CAST(list_max(list_transform(v,
             x -> floor(((x - mn) * 254) / (mx - mn)))) AS BIGINT) AS q_max,
           round(list_max(list_transform(v,
             x -> abs(x - (mn + (floor(((x - mn) * 254) / (mx - mn))
                               * (mx - mn)) / 254)))), 6) AS max_abs_err
    FROM ev, mm
    ORDER BY vec_id
    """,
    doc=(
        "per-tensor int8 quantization audit: global [min,max] over the "
        "corpus -> 255-level uniform grid -> per-vector quantized "
        "range and max reconstruction error. The compression pass that "
        "turns a 100 TB float ANN corpus into a quarter-size int8 one; "
        "the global min/max aggregate is one scalar row broadcast back "
        "over the scan, and every per-element op is a fixed IEEE "
        "sequence (sub, mul, div, floor) so any engine reproduces the "
        "quantized values bit-for-bit — no round() half-even hazards."
    ),
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.transform("embedding", lambda x: x.cast("double"))
    mm = emb.agg(
        F.min(F.array_min(ev)).alias("mn"), F.max(F.array_max(ev)).alias("mx")
    )
    mn, mx = F.col("mn"), F.col("mx")

    def quant(x):
        return F.floor(((x - mn) * 254) / (mx - mn))

    def stats(v):
        qv = F.transform(v, quant)
        errs = F.transform(
            v,
            lambda x: F.abs(
                x - (mn + (quant(x).cast("double") * (mx - mn)) / 254)
            ),
        )
        return F.struct(
            F.size(v).cast("int").alias("n_dims"),
            F.array_min(qv).cast("long").alias("q_min"),
            F.array_max(qv).cast("long").alias("q_max"),
            F.round(F.array_max(errs), 6).alias("max_abs_err"),
        )

    return (
        emb.crossJoin(F.broadcast(mm))
        .select("vec_id", text.bind(ev, stats).alias("s"))
        .select("vec_id", "s.*")
        
    )


@query(
    "webdataset_roundtrip",
    oracle="""
    SELECT doc_id, lang, CAST(length(text) AS INT) AS n_chars_txt
    FROM documents ORDER BY doc_id
    """,
    doc=(
        "WebDataset tar-shard round trip - the de-facto storage "
        "format for multimodal training corpora (tar shards of "
        "grouped sample members keyed by basename), implemented with "
        "no external library: the documents table SHARDS out "
        "executor-side (key % num_shards, whole shards co-located by "
        "a repartition on the shard id, each task writes its tars "
        "with zeroed metadata and key-sorted members - byte-"
        "deterministic), then reads BACK through a binaryFile scan "
        "(one task per shard, the format's parallelism unit) + "
        "Arrow-batched mapInPandas tar walk emitting one row per "
        "member, and regroups members into samples by key. A green "
        "row proves the whole shard/write/scan/walk/regroup chain "
        "lossless against the source table. At 100 TB: num_shards "
        "scales to keep shards at the ~1 GB streaming unit, writers "
        "target shared storage, and the reader topology is unchanged."
    ),
)
def webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources import wds

    docs = load_table(spark, sf_dir, "documents")
    # NOTE: this query materializes EAGERLY - the shard write (a
    # foreachPartition job) runs at plan-construction time, so bench
    # timings attribute the write to plan build. Each invocation gets
    # its own fresh directory (mkdtemp): two concurrent sessions on
    # the same sf_dir can no longer race writer-vs-reader on a shared
    # path (ADVICE r8).
    key = sf_dir.strip("/").replace("/", "_")
    parent = os.path.join(tempfile.gettempdir(), "flink_demo_spark_wds")
    os.makedirs(parent, exist_ok=True)
    out_dir = tempfile.mkdtemp(prefix=key + "_", dir=parent)
    wds.write_tar_shards(
        docs.select(
            "doc_id",
            F.encode("text", "UTF-8").alias("tb"),
            F.encode("lang", "UTF-8").alias("lb"),
        ),
        out_dir,
        "doc_id",
        {"txt": "tb", "cls": "lb"},
        num_shards=4,
    )
    members = wds.read_tar_shards(spark, os.path.join(out_dir, "*.tar"))
    parsed = members.groupBy("key").agg(
        F.max(
            F.when(F.col("ext") == "txt", F.decode("data", "UTF-8"))
        ).alias("text"),
        F.max(
            F.when(F.col("ext") == "cls", F.decode("data", "UTF-8"))
        ).alias("lang"),
    )
    return parsed.select(
        F.col("key").cast("long").alias("doc_id"),
        "lang",
        F.length("text").cast("int").alias("n_chars_txt"),
    )


@query(
    "multimodal_ppm_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             16 + doc_id % 16 AS w,
             12 + doc_id % 8 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, w, h, (i * h) // 8 AS sy, (j * w) // 8 AS sx
      FROM d,
           LATERAL unnest(generate_series(0, 7)) AS gi(i),
           LATERAL unnest(generate_series(0, 7)) AS gj(j)
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(sum((doc_id * 7 + sx) % 256) AS BIGINT) AS sum_r,
           CAST(sum((sx + sy) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id + 3 * sy) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY doc_id, w, h
    ORDER BY doc_id
    """,
    doc=(
        "REAL image decode end to end: deterministic binary PPM (P6) "
        "payloads are synthesized per doc_id, then every byte is "
        "actually parsed (header + raster) in an Arrow-batched "
        "mapInPandas, nearest-neighbor-resized to 8x8 with integer "
        "index math, and reduced to per-channel pixel sums. The oracle "
        "recomputes the same pixels from the closed-form synthesis — a "
        "hash-match proves the decoder, the resize kernel, and the "
        "Arrow plumbing are all exact. Compressed formats (JPEG/PNG) "
        "stay behind the documented stub (no codec libs in container); "
        "at 100 TB this is the same one-pass scan shape: payloads "
        "stream through executors in Arrow batches, nothing reaches "
        "the driver."
    ),
)
def multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    imgs = multimodal.synthesize_ppm_images(text.fan_out(docs), "doc_id")
    return multimodal.ppm_features(imgs, "doc_id", "image")


@query(
    "multimodal_wav_decode",
    oracle="""
    WITH d AS (
      SELECT doc_id, 800 + 16 * (doc_id % 17) AS n FROM documents
    ), s AS (
      SELECT doc_id, n, ((doc_id * 31 + t * 7) % 4096) - 2048 AS v
      FROM d, LATERAL unnest(generate_series(0, n - 1)) AS g(t)
    )
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(n AS INT) AS n_samples,
           CAST(n * 1000 // 8000 AS INT) AS duration_ms,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(max(abs(v)) AS INT) AS peak
    FROM s
    GROUP BY doc_id, n
    ORDER BY doc_id
    """,
    doc=(
        "REAL audio decode end to end: deterministic RIFF/WAVE PCM16 "
        "payloads per doc_id, chunk-walked and parsed byte-for-byte in "
        "Arrow-batched mapInPandas, reduced to integer signal stats "
        "(duration, total |amplitude|, peak). Oracle recomputes the "
        "closed-form samples — a hash-match proves the WAV parser and "
        "the Arrow path exact. Compressed audio stays behind the "
        "documented stub."
    ),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clips = multimodal.synthesize_wav_clips(text.fan_out(docs), "doc_id")
    return multimodal.wav_features(clips, "doc_id", "audio")


@query(
    "multimodal_vad_segments",
    oracle="""
    WITH d AS (
      SELECT doc_id, 800 + 16 * (doc_id % 17) AS n FROM documents
    ), s AS (
      SELECT doc_id, CAST(t // 160 AS INT) AS frame_no,
             ((doc_id * 31 + t * 7) % 4096) - 2048 AS v
      FROM d, LATERAL unnest(generate_series(0, n - 1)) AS g(t)
    ), f AS (
      SELECT doc_id, frame_no, count(*) AS n_in, sum(v * v) AS e
      FROM s GROUP BY 1, 2
    ), a AS (
      SELECT doc_id, frame_no, e,
             frame_no - row_number() OVER (PARTITION BY doc_id
                                           ORDER BY frame_no) AS island
      FROM f WHERE e // n_in > 1400000
    )
    SELECT doc_id, CAST(min(frame_no) AS INT) AS seg_start,
           CAST(max(frame_no) AS INT) AS seg_end,
           count(*) AS n_frames_seg,
           CAST(sum(e) AS BIGINT) AS seg_energy
    FROM a GROUP BY doc_id, island
    ORDER BY doc_id, seg_start
    """,
    doc=(
        "voice-activity segmentation - the utterance-splitting pass "
        "every speech-corpus pipeline runs before ASR/training: REAL "
        "RIFF/WAVE PCM16 decode into 160-sample (20 ms @ 8 kHz) "
        "analysis frames with EXACT integer energy (sum of squared "
        "samples in int64, tail frame normalized by its true length), "
        "active = mean-square energy DIV n_in_frame > 1.4e6, and "
        "consecutive active frames merge into segments by the "
        "gaps-and-islands idiom (island = frame_no - row_number). The "
        "oracle recomputes the closed-form samples, so a hash match "
        "proves the WAV parser, the Arrow frame walk, the integer "
        "energies, AND the island merge exact. Plan: one mapInPandas "
        "decode feeding a doc_id-keyed window + one partial-agg "
        "groupBy - frames never leave their doc's partition; at 100 TB "
        "this is the per-file-parallel shape audio pipelines need."
    ),
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clips = multimodal.synthesize_wav_clips(text.fan_out(docs), "doc_id")
    fe = multimodal.wav_frame_energies(clips, "doc_id", "audio", frame=160)
    active = fe.where(F.expr("energy DIV n_in_frame > 1400000"))
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    isl = active.withColumn(
        "island", F.col("frame_no") - F.row_number().over(w)
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("frame_no").alias("seg_start"),
            F.max("frame_no").alias("seg_end"),
            F.count(F.lit(1)).alias("n_frames_seg"),
            F.sum("energy").alias("seg_energy"),
        )
        .select(
            "doc_id", "seg_start", "seg_end", "n_frames_seg", "seg_energy"
        )
    )


@query(
    "multimodal_y4m_frames",
    oracle="""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
    ), f AS (
      SELECT doc_id, n, fno
      FROM d, LATERAL unnest(generate_series(0, n - 1, 2)) AS g(fno)
    ), px AS (
      SELECT doc_id, n, fno,
             (doc_id + 17 * fno + x + 2 * y) % 256 AS luma
      FROM f,
           LATERAL unnest(generate_series(0, 7)) AS gx(x),
           LATERAL unnest(generate_series(0, 5)) AS gy(y)
    )
    SELECT doc_id, CAST(fno AS INT) AS frame_no, CAST(n AS INT) AS n_frames,
           25 AS fps, 8 AS width, 6 AS height,
           CAST(sum(luma) AS BIGINT) AS sum_luma
    FROM px
    GROUP BY doc_id, fno, n
    ORDER BY doc_id, frame_no
    """,
    doc=(
        "REAL video frame sampling end to end: deterministic "
        "YUV4MPEG2 (C444) clips per doc_id, stream-header + FRAME "
        "parsing byte-for-byte, every 2nd frame sampled (the ffmpeg "
        "select-filter analog), integer luma sums per sampled frame. "
        "Oracle recomputes the closed-form pixels — proves the Y4M "
        "parser, the frame sampler, and the Arrow path exact. "
        "Compressed video stays behind the documented stub."
    ),
)
def multimodal_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clips = multimodal.synthesize_y4m_clips(text.fan_out(docs), "doc_id")
    return multimodal.y4m_frame_stats(clips, "doc_id", "video", every=2)


@query(
    "multimodal_shot_boundaries",
    oracle="""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 4 AS n FROM documents
    ), f AS (
      SELECT doc_id, n, fno
      FROM d, LATERAL unnest(generate_series(1, n - 1)) AS g(fno)
    ), px AS (
      SELECT doc_id, n, fno,
             CASE WHEN (doc_id + 17 * (fno - 1) + x + 2 * y) % 256 >= 239
                  THEN 239 ELSE 17 END AS adiff
      FROM f,
           LATERAL unnest(generate_series(0, 7)) AS gx(x),
           LATERAL unnest(generate_series(0, 5)) AS gy(y)
    ), sads AS (
      SELECT doc_id, CAST(fno AS INT) AS frame_no, CAST(n AS INT) AS n_frames,
             CAST(sum(adiff) AS BIGINT) AS sad
      FROM px GROUP BY doc_id, fno, n
    )
    SELECT doc_id, frame_no, n_frames, sad
    FROM sads WHERE sad > 1500
    ORDER BY doc_id, frame_no
    """,
    doc=(
        "shot-boundary detection - the scene-splitting pass video "
        "curation runs before frame sampling (cut detection by "
        "thresholded SAD between consecutive frames, the classic "
        "ffmpeg/PySceneDetect signal): REAL YUV4MPEG2 decode, "
        "per-transition sum of absolute luma differences in EXACT "
        "int64 (`y4m_frame_sad`), boundaries = SAD > 1500. The oracle "
        "recomputes the closed-form pixel deltas (each pixel steps "
        "+17 mod 256 between frames, so |diff| is 17 or 239 by the "
        "wrap predicate) - a hash match proves the Y4M parser, the "
        "frame differencing, and the Arrow path exact. Plan: one "
        "mapInPandas decode + a filter - zero shuffles; frames of one "
        "clip never leave their task, the per-file-parallel shape "
        "video pipelines need at 100 TB."
    ),
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clips = multimodal.synthesize_y4m_clips(text.fan_out(docs), "doc_id")
    sads = multimodal.y4m_frame_sad(clips, "doc_id", "video")
    return sads.where(F.col("sad") > 1500)


@query(
    "text_pii_redact",
    # deterministic synthetic PII appended from doc_id (the corpus is
    # synthetic prose with no real PII — same synthesize->transform
    # pattern as the multimodal decode queries), then regex redaction;
    # identical simple regexes run in both engines
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.org or +1-202-555-0'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS txt
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(
             txt, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(
             txt, '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(
             txt, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
             AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(
             txt,
             '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>',
             'g')) AS redacted_digest
    FROM synth
    ORDER BY doc_id
    """,
    doc=(
        "PII scrubbing for training corpora (beyond-reference LLM "
        "pipeline surface): email / NANP phone / IPv4 detection counts "
        "+ regex redaction to typed placeholders, as single-pass JVM "
        "column expressions (no UDF); digest of the redacted text is "
        "oracle-exact."
    ),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    txt = F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +1-202-555-0"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit(" from 192.168."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    email = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+"
    phone = r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    ipv4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
    staged = docs.select("doc_id", txt.alias("txt"))
    return staged.select(
        "doc_id",
        F.regexp_count("txt", F.lit(email)).cast("int").alias("n_emails"),
        F.regexp_count("txt", F.lit(phone)).cast("int").alias("n_phones"),
        F.regexp_count("txt", F.lit(ipv4)).cast("int").alias("n_ips"),
        F.md5(
            F.encode(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace("txt", email, "<EMAIL>"),
                        phone,
                        "<PHONE>",
                    ),
                    ipv4,
                    "<IP>",
                ),
                "UTF-8",
            )
        ).alias("redacted_digest"),
    )


@query(
    "text_html_strip",
    # deterministic synthetic markup wrapped around the corpus text
    # (same synthesize->transform pattern as text_pii_redact), then
    # script/style removal, tag stripping, entity unescape, whitespace
    # collapse — identical lookahead-free regexes in both engines
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             '<html><head><style>p{color:red}</style></head><body><h1>Doc '
               || CAST(doc_id AS VARCHAR)
               || '</h1><p class="body">' || text
               || ' &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;end</p>'
               || '<script>var x=' || CAST(doc_id AS VARCHAR)
               || ';</script></body></html>' AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '<[^>]+>')) AS INT) AS n_tags,
           CAST(len(regexp_extract_all(raw, '&[A-Za-z]+;|&#[0-9]+;'))
             AS INT) AS n_entities,
           md5(trim(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(
               raw,
               '<script[^>]*>[\\s\\S]*?</script>', ' ', 'g'),
               '<style[^>]*>[\\s\\S]*?</style>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
               '&lt;', '<', 'g'),
               '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
               '&#39;', CHR(39), 'g'),
               '&nbsp;', ' ', 'g'),
               '&amp;', '&', 'g'),
               '\\s+', ' ', 'g'))) AS stripped_digest
    FROM synth
    ORDER BY doc_id
    """,
    doc=(
        "HTML/markup stripping for crawled corpora (beyond-reference "
        "LLM pipeline surface): script/style block removal, tag "
        "stripping, entity unescape (&amp; last so no double-unescape), "
        "whitespace collapse — a single-pass JVM regexp chain, zero "
        "UDFs; digest of the cleaned text is oracle-exact."
    ),
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.lit('<html><head><style>p{color:red}</style></head><body><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="body">'),
        F.col("text"),
        F.lit(' &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;end</p>'),
        F.lit("<script>var x="),
        F.col("doc_id").cast("string"),
        F.lit(";</script></body></html>"),
    )
    staged = docs.select("doc_id", raw.alias("raw"))
    cleaned = F.col("raw")
    for pat, rep in [
        (r"<script[^>]*>[\s\S]*?</script>", " "),
        (r"<style[^>]*>[\s\S]*?</style>", " "),
        (r"<[^>]+>", " "),
        (r"&lt;", "<"),
        (r"&gt;", ">"),
        (r"&quot;", '"'),
        (r"&#39;", "'"),
        (r"&nbsp;", " "),
        (r"&amp;", "&"),
        (r"\s+", " "),
    ]:
        cleaned = F.regexp_replace(cleaned, pat, rep)
    return staged.select(
        "doc_id",
        F.regexp_count("raw", F.lit(r"<[^>]+>")).cast("int").alias("n_tags"),
        F.regexp_count("raw", F.lit(r"&[A-Za-z]+;|&#[0-9]+;"))
        .cast("int")
        .alias("n_entities"),
        F.md5(F.encode(F.trim(cleaned), "UTF-8")).alias("stripped_digest"),
    )


@query(
    "url_canonicalize_dedup",
    # deterministic synthetic URLs from doc_id; canonicalization
    # rebuilds from whitelisted parts (lowercased host, path, the id
    # query param — tracking params and fragments dropped), then an
    # exact-dedup groupBy on the canonical form
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://WWW.ExAmple' || CAST(doc_id % 13 AS VARCHAR)
               || '.com:443/path/' || CAST(doc_id % 40 AS VARCHAR)
               || '?utm_source=s' || CAST(doc_id % 5 AS VARCHAR)
               || '&id=' || CAST(doc_id % 11 AS VARCHAR)
               || '&utm_campaign=x&ref=r' || CAST(doc_id % 3 AS VARCHAR)
               || '#frag' AS url
      FROM documents
    ), c AS (
      SELECT doc_id,
             'https://' || lower(regexp_extract(url, '^https?://([^/:]+)', 1))
               || regexp_extract(url, '://[^/]+(/[^?#]*)', 1)
               || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1)
               AS canonical
      FROM u
    )
    SELECT canonical, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM c GROUP BY canonical
    ORDER BY canonical
    """,
    doc=(
        "URL canonicalization + dedup for web corpora (beyond-"
        "reference LLM pipeline surface): lowercase host, strip "
        "default port / tracking params / fragment by rebuilding from "
        "whitelisted parts, then exact-dedup on the canonical form — "
        "one groupBy shuffle, all else JVM column expressions."
    ),
)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    url = F.concat(
        F.lit("https://WWW.ExAmple"), (F.col("doc_id") % 13).cast("string"),
        F.lit(".com:443/path/"), (F.col("doc_id") % 40).cast("string"),
        F.lit("?utm_source=s"), (F.col("doc_id") % 5).cast("string"),
        F.lit("&id="), (F.col("doc_id") % 11).cast("string"),
        F.lit("&utm_campaign=x&ref=r"), (F.col("doc_id") % 3).cast("string"),
        F.lit("#frag"),
    )
    staged = docs.select("doc_id", url.alias("url"))
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract("url", r"^https?://([^/:]+)", 1)),
        F.regexp_extract("url", r"://[^/]+(/[^?#]*)", 1),
        F.lit("?id="),
        F.regexp_extract("url", r"[?&]id=([0-9]+)", 1),
    )
    return (
        staged.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "dedup_bloom_incremental",
    oracle="""
    WITH fp AS (
      SELECT doc_id, doc_id % 3 = 0 AS inc,
             md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
               AS fp
      FROM documents
    )
    SELECT d.doc_id, d.fp
    FROM fp d
    WHERE d.inc AND EXISTS (
      SELECT 1 FROM fp h WHERE NOT h.inc AND h.fp = d.fp
    )
    ORDER BY doc_id
    """,
    doc=(
        "incremental ingest dedup: incoming documents (doc_id%3=0) "
        "checked against the already-ingested history via a Bloom "
        "bitmap prefilter (k=2 xxhash64 probes into an 8 KiB literal "
        "— membership is a pure column expression, no join/shuffle) "
        "then an exact fingerprint semi-join over the surviving "
        "candidates only. Blooms never false-negative, so the verify "
        "join makes the output exact (the cms_heavy_hitters "
        "contract); at 100 TB the prefilter shrinks the verify "
        "join's probe side from |incoming| to |dups|+FPs and the "
        "bitmap ships via broadcast."
    ),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", text.fingerprint("text").alias("fp")
    )
    hist = docs.where(F.col("doc_id") % 3 != 0)
    incoming = docs.where(F.col("doc_id") % 3 == 0)
    bitmap = dedup.bloom_bitmap(hist, "fp")
    candidates = dedup.bloom_prefilter(incoming, "fp", bitmap)
    # the verify semi-join keys on fp: at scale BOTH sides shuffle on
    # the fingerprint, but the prefilter has already cut the probe
    # side to |dups|+FPs — no broadcast hint; AQE picks per-SF
    return candidates.join(hist.select("fp"), "fp", "left_semi").select(
        "doc_id", "fp"
    )


@query(
    "similarity_ivf_kmeans",
    oracle=f"""
    WITH cent0 AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), a0 AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent0 c
      ) WHERE crk = 1
    ), upd AS (
      SELECT cid, pos,
             CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
      FROM (SELECT cid, generate_subscripts(ev, 1) AS pos, unnest(ev) AS x
            FROM a0)
      GROUP BY cid, pos
    ), cent1 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM upd GROUP BY cid
    ), ranked AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                        c.cid
             ) AS crk
      FROM embeddings e CROSS JOIN cent1 c
    ), assign AS (
      SELECT vec_id, ev, cid FROM ranked WHERE crk = 1
    ), q AS (
      SELECT vec_id AS query_id, ev AS qv, cid
      FROM ranked WHERE vec_id < 5 AND crk <= 2
    ), scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='q.qv', b='a.ev')}, 6) AS cosine_sim
      FROM assign a JOIN q ON a.cid = q.cid AND a.vec_id <> q.query_id
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "the full IVF index lifecycle in one query: TRAIN the "
        "coarse quantizer (one decimal-exact Lloyd iteration over 8 "
        "seeds — embedding_kmeans's contract) then SERVE multi-probe "
        "ANN (nprobe=2, exact cosine top-5 inside the probed cells) "
        "against the refined cells. This is how a real IVF index is "
        "built: k-means centroids from a corpus sample, corpus "
        "bucketed once by trained cell, queries probe their n nearest "
        "cells. Oracle-checked through BOTH stages."
    ),
)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    init = first_vectors(emb, 8)
    cents = similarity.kmeans_lloyd(emb, init, iterations=1)
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.ivf_top_k(
        emb, queries, cents, id_col="vec_id", vec_col="embedding", k=5,
        nprobe=2,
    )


@query(
    "knn_graph_mutual",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS s
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))) >= 0.4
    ), d AS (
      SELECT d1 AS src, d2 AS dst, s FROM p
      UNION ALL SELECT d2, d1, s FROM p
    ), k AS (
      SELECT * FROM (
        SELECT src, dst, s,
               row_number() OVER (PARTITION BY src ORDER BY s DESC, dst) AS rk
        FROM d
      ) WHERE rk <= 3
    )
    SELECT k1.src AS a, k1.dst AS b,
           CAST(k1.rk AS BIGINT) AS rank_ab,
           CAST(k2.rk AS BIGINT) AS rank_ba,
           k1.s AS cosine_sim
    FROM k k1 JOIN k k2 ON k1.src = k2.dst AND k1.dst = k2.src
    WHERE k1.src < k1.dst
    ORDER BY a, b
    """,
    doc=(
        "mutual k-nearest-neighbor graph (k=3, exact cosine) over the "
        "similarity-candidate pair base (cosine >= 0.4) - the "
        "structure semantic-clustering and graph-based dedup "
        "(SemDeDup-style communities) start from: an edge survives "
        "only if EACH endpoint ranks the other in its top-3 AMONG its "
        "candidates (mutuality kills hub edges; the threshold floor "
        "is where community building operates anyway). Built on the "
        "same block-pair exact-cosine kernel as "
        "dedup_embedding_cosine (no driver collect, BLAS candidate "
        "filter + fold-order-exact recompute that hash-matches "
        "DuckDB's list_dot_product - and the threshold keeps the "
        "exact-recompute set SPARSE, the property that let that "
        "kernel pass the sf1 sweep); both directed top-3 cuts ride "
        "WindowGroupLimit, the mutual check is a self-join on the "
        "reversed key. Unthresholded exact kNN is quadratic BY "
        "DEFINITION - at 100 TB the same mutual/rank plumbing runs "
        "on IVF candidate lists (similarity_ivf_topk) instead."
    ),
    bench=True,
)
def knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # the block-pair kernel is the expensive stage and feeds four plan
    # consumers (two union branches x the t1/t2 self-join) — persist
    # the sparse thresholded pair set so the kernel runs ONCE
    pairs = similarity.cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.4
    ).persist()
    directed = pairs.select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst"), "cosine_sim"
    ).unionByName(
        pairs.select(
            F.col("doc2").alias("src"), F.col("doc1").alias("dst"), "cosine_sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine_sim"), F.asc("dst"))
    topk = directed.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)
    t1 = topk.alias("t1")
    t2 = topk.select(
        F.col("src").alias("dst"), F.col("dst").alias("src"),
        F.col("rk").alias("rk_back"),
    ).alias("t2")
    return (
        t1.join(t2, ["src", "dst"])
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.col("rk").cast("long").alias("rank_ab"),
            F.col("rk_back").cast("long").alias("rank_ba"),
            "cosine_sim",
        )
    )


@query(
    "embedding_label_drift",
    oracle="""
    WITH x AS (
      SELECT label, generate_subscripts(embedding::DOUBLE[], 1) AS pos,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings
    ), lc AS (
      SELECT label, pos,
             CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mv
      FROM x GROUP BY 1, 2
    ), la AS (
      SELECT label, list(mv ORDER BY pos) AS lv FROM lc GROUP BY 1
    ), gc AS (
      SELECT pos,
             CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mv
      FROM x GROUP BY 1
    ), ga AS (
      SELECT list(mv ORDER BY pos) AS gv FROM gc
    ), n AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
      FROM embeddings GROUP BY 1
    )
    SELECT la.label, n.n_vecs,
           round(list_dot_product(lv, gv)
                 / (sqrt(list_dot_product(lv, lv))
                    * sqrt(list_dot_product(gv, gv))), 6) AS cos_to_global
    FROM la JOIN n ON la.label = n.label CROSS JOIN ga
    ORDER BY la.label
    """,
    doc=(
        "per-label embedding centroid drift vs the global centroid - "
        "the representation-health audit run when a new data slice "
        "lands (a label whose centroid swings away from the corpus "
        "centroid signals distribution shift or a broken encoder): "
        "per-dimension DECIMAL-exact means (the embedding_kmeans "
        "update contract, so engine and oracle centroids are "
        "bit-identical), centroid arrays reassembled in dimension "
        "order, cosine via the sequential fold that matches DuckDB's "
        "list_dot_product bit-for-bit. Plan: one posexplode -> "
        "(label, dim) partial-agg shuffle (the census is "
        "#labels x dim), the global centroid derives from the same "
        "exploded pass, and the final cosine folds #labels rows "
        "against a 1-row broadcast. Never materializes pairwise "
        "anything - linear scan, census-sized everything after."
    ),
)
def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    ).persist()
    x = emb.select("label", F.posexplode("v").alias("pos", "val"))
    dec = F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
    lc = x.groupBy("label", "pos").agg(
        (dec / F.count(F.lit(1))).alias("mv")
    )
    gc = x.groupBy("pos").agg((dec / F.count(F.lit(1))).alias("mv"))
    n = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return label_drift_frame(lc, gc, n)


def label_drift_frame(lc: DataFrame, gc: DataFrame, n: DataFrame) -> DataFrame:
    """Each label's vector count and the cosine between its mean vector
    and the global one, from the per-(label, pos) means ``lc``, the
    per-pos global means ``gc`` and the per-label counts ``n``."""
    la = lc.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))),
            lambda s: s["mv"],
        ).alias("lv")
    )
    ga = gc.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))),
            lambda s: s["mv"],
        ).alias("gv")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731 — the list_dot_product fold
        F.zip_with(a, b, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    j = la.join(n, "label").crossJoin(F.broadcast(ga))
    cos = dot(F.col("lv"), F.col("gv")) / (
        F.sqrt(dot(F.col("lv"), F.col("lv")))
        * F.sqrt(dot(F.col("gv"), F.col("gv")))
    )
    return j.select(
        "label", "n_vecs", F.round(cos, 6).alias("cos_to_global")
    )


@query(
    "dedup_substring_removal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tok
      FROM documents
    ), grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(tok[i : i + 19], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(tok) - 19)) AS g(i)
      WHERE len(tok) >= 20
    ), dup AS (
      SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
    ), cov AS (
      SELECT DISTINCT g.doc_id, g.pos + o.o AS p
      FROM grams g JOIN dup d USING (gram),
           UNNEST(generate_series(0, 19)) AS o(o)
    ), kept AS (
      SELECT t.doc_id, s.i, t.tok[s.i] AS w
      FROM toks t, UNNEST(generate_series(1, len(t.tok))) AS s(i)
      WHERE NOT EXISTS (
        SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.p = s.i - 1
      )
    ), cleaned AS (
      SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    ), affected AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM cov
      GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(len(t.tok) AS BIGINT) AS n_toks,
           a.n_removed,
           coalesce(c.clean_text, '') AS clean_text
    FROM affected a
    JOIN toks t USING (doc_id)
    LEFT JOIN cleaned c USING (doc_id)
    ORDER BY a.doc_id
    """,
    doc=(
        "the REMOVE half of Lee et al. exact-substring dedup "
        "(arXiv:2107.06499 §4.2: 'we remove the duplicated spans from "
        "the corpus'): dedup_exact_substring detects maximal "
        "duplicated passages; this query actually CUTS them - every "
        "token position covered by a corpus-duplicated 20-gram is "
        "dropped (all occurrences, the paper's aggressive variant; "
        "keep-one-copy needs a global occurrence ranking and is noted "
        "as the policy alternative), emitting the affected docs with "
        "before/removed token counts and the reconstructed clean "
        "text. Plan: the same three bounded-key shuffles as the "
        "detector (posexploded k-grams, gram census, gram join back) "
        "plus ONE more doc_id shuffle that merges covered positions "
        "and filters the token array by index (JVM higher-order "
        "filter, no UDF) - everything keyed by doc or gram, never "
        "all-pairs; the clean text is rebuilt per-row from arrays, "
        "so at 100 TB this is the detector's cost + one census-sized "
        "join, the same shape production span-removal runs."
    ),
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = dedup.duplicate_passages(docs, "text", "doc_id", k=20, hashed=True)
    # covered token positions per affected doc (distinct-position union
    # of the maximal spans; spans never overlap post-merge but DISTINCT
    # keeps the contract obvious)
    cov = (
        spans.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("pass_start"),
                    F.col("pass_start") + F.col("pass_len") - 1,
                )
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("p")).alias("ps"),
            F.count(F.lit(1)).cast("long").alias("n_removed"),
        )
    )
    staged = docs.select("doc_id", text.tokens("text").alias("toks"))
    # kept positions via array_except (hash-set membership, built ONCE
    # per doc): O(tokens + removed) instead of the previous per-token
    # array_contains scan, O(tokens x removed) — round-10 verdict #6.
    # array_except preserves the first array's order, so kept indices
    # stay ascending and the rebuilt text is byte-identical.
    kept = F.array_except(
        F.sequence(F.lit(0).cast("long"), F.size("toks").cast("long") - 1),
        F.col("ps"),
    )
    return cov.join(staged, "doc_id").select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        "n_removed",
        F.array_join(
            F.transform(
                kept,
                lambda p: F.element_at(F.col("toks"), (p + 1).cast("int")),
            ),
            " ",
        ).alias("clean_text"),
    )


@query(
    "similarity_recall_ivf",
    oracle=f"""
    WITH bq AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), bs AS (
      SELECT bq.query_id, e.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='bq.qv', b='e.embedding::DOUBLE[]')}, 6)
               AS cosine_sim
      FROM embeddings e CROSS JOIN bq
      WHERE e.vec_id <> bq.query_id
    ), brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM bs
      ) WHERE rk <= 5
    ), cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_IVF_COS.format(a='e.embedding::DOUBLE[]', b='c.cv')} DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent c
      ) WHERE crk = 1
    ), iq AS (
      SELECT vec_id AS query_id, ev AS qv, cid FROM assign WHERE vec_id < 5
    ), isc AS (
      SELECT iq.query_id, a.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='iq.qv', b='a.ev')}, 6) AS cosine_sim
      FROM assign a JOIN iq ON a.cid = iq.cid AND a.vec_id <> iq.query_id
    ), ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM isc
      ) WHERE rk <= 5
    ), base AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS k
      FROM brute GROUP BY query_id
    ), hits AS (
      SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM brute b JOIN ivf i USING (query_id, neighbor_id)
      GROUP BY b.query_id
    )
    SELECT base.query_id, base.k,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 10000 // base.k AS BIGINT)
             AS recall_bp
    FROM base LEFT JOIN hits h USING (query_id)
    ORDER BY base.query_id
    """,
    doc=(
        "ANN recall evaluation - the eval-harness query every vector "
        "index deployment runs before trusting its ANN tier: per "
        "query point, recall@5 of IVF(nprobe=1) against the exact "
        "brute-force top-5 (hit count + integer basis-point recall), "
        "composed verbatim from the two gate-green formulations "
        "(similarity_topk / similarity_ivf_topk) so the oracle "
        "replays BOTH retrieval paths and the set intersection. The "
        "recall join runs on two k x |queries| frames - at 100 TB the "
        "cost is the two retrievals themselves (broadcast query set, "
        "cell-bounded probes); the eval adds census-sized work. Low "
        "recall here is the signal to raise nprobe "
        "(similarity_ivf_nprobe) or re-train centroids "
        "(embedding_kmeans)."
    ),
)
def similarity_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_top_k(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, round_to=6
    ).select("query_id", "neighbor_id")
    # 8-row bounded collect: the same fixed-centroid seed
    # similarity_ivf_topk documents
    cents = first_vectors(emb, 8)
    ivf = similarity.ivf_top_k(
        emb, queries, cents, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    base = brute.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    hits = (
        brute.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "k",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.expr(
            "CAST(coalesce(n_hits, 0) * 10000 DIV k AS BIGINT)"
        ).alias("recall_bp"),
    )



@query(
    "similarity_recall_ivf_trained",
    oracle="""
    WITH nn AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
    ), prm AS (
      -- integer sqrt with float-boundary correction: nlist is the
      -- exact isqrt(n) (engine uses math.isqrt), floored at 8
      SELECT n,
             greatest(8, CASE WHEN (s + 1) * (s + 1) <= n THEN s + 1
                              WHEN s * s > n THEN s - 1 ELSE s END) AS nlist
      FROM (SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s
            FROM nn)
    ), prm2 AS (
      SELECT n, nlist, n // nlist AS stride FROM prm
    ), cent0 AS (
      -- deterministic strided seeds: every stride-th vec_id
      SELECT e.vec_id AS cid, e.embedding::DOUBLE[] AS cv
      FROM embeddings e, prm2 p
      WHERE e.vec_id % p.stride = 0 AND e.vec_id < p.stride * p.nlist
    ), a0 AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv) / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent0 c
      ) WHERE crk = 1
    
    ), cent1 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT cid, pos,
               CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        FROM (SELECT cid, generate_subscripts(ev, 1) AS pos, unnest(ev) AS x
              FROM a0)
        GROUP BY cid, pos
      ) GROUP BY cid
    
    ), a1 AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv) / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent1 c
      ) WHERE crk = 1
    
    ), cent2 AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM (
        SELECT cid, pos,
               CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
        FROM (SELECT cid, generate_subscripts(ev, 1) AS pos, unnest(ev) AS x
              FROM a1)
        GROUP BY cid, pos
      ) GROUP BY cid
    
    ), assign AS (
      SELECT vec_id, ev, cid FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv) / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                          c.cid
               ) AS crk
        FROM embeddings e CROSS JOIN cent2 c
      ) WHERE crk = 1
    
    ), qrk AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv) / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                        c.cid
             ) AS crk
      FROM embeddings e CROSS JOIN cent2 c
      WHERE e.vec_id < 32
    ), qc AS (
      SELECT vec_id AS query_id, ev AS qv, cid, crk FROM qrk WHERE crk <= 4
    ), bq AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 32
    ), bs AS (
      SELECT bq.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(bq.qv, e.embedding::DOUBLE[]) / (sqrt(list_dot_product(bq.qv, bq.qv)) * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cosine_sim
      FROM embeddings e CROSS JOIN bq
      WHERE e.vec_id <> bq.query_id
    ), brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM bs
      ) WHERE rk <= 5
    ), bt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
      FROM brute
    ), np AS (
      SELECT unnest([1, 2, 4]) AS nprobe
    ), isc AS (
      SELECT np.nprobe, q.query_id, a.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, a.ev) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(a.ev, a.ev))), 6) AS cosine_sim
      FROM np, qc q JOIN assign a
        ON a.cid = q.cid AND a.vec_id <> q.query_id
      WHERE q.crk <= np.nprobe
    ), ivf AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM isc
      ) WHERE rk <= 5
    ), hits AS (
      SELECT i.nprobe, CAST(count(*) AS BIGINT) AS n_hits
      FROM ivf i JOIN brute b USING (query_id, neighbor_id)
      GROUP BY i.nprobe
    )
    SELECT p.nlist AS nlist, CAST(np.nprobe AS INT) AS nprobe,
           bt.n_queries AS n_queries,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 10000 // bt.n_truth AS BIGINT)
             AS recall_bp
    FROM np CROSS JOIN prm2 p CROSS JOIN bt
    LEFT JOIN hits h ON h.nprobe = np.nprobe
    ORDER BY nprobe
    """,
    doc=(
        "recall-vs-nprobe curve on a TRAINED IVF codebook - the "
        "tuning run a 100 TB vector-search deployment actually "
        "executes before committing to index parameters (the other "
        "registered IVF demos pin 8 seed centroids; this one trains "
        "the codebook the way FAISS/ScaNN users do): nlist = "
        "isqrt(n) centroids (the sqrt(N) rule - cells stay ~sqrt(N) "
        "so probe cost and cell count grow together), seeded "
        "deterministically at every stride-th vec_id, trained with "
        "TWO Lloyd iterations of spherical k-means (cosine-argmax "
        "assignment + DECIMAL-exact per-dimension centroid means, so "
        "the trained codebook is bit-identical on both engines - the "
        "embedding_kmeans contract), then recall@5 of "
        "IVF(nprobe=1/2/4) against the exact brute-force top-5 over "
        "32 query points, one row per nprobe. Cost: iterations x "
        "one (cell,dim)-keyed partial agg (K x dim driver state, "
        "corpus never leaves the executors) + the corpus assignment "
        "reused across all three probe settings (persisted once); "
        "at 100 TB you train on a sample (sample_dsir demonstrates "
        "the sampler) and nlist rises as sqrt(N), which is exactly "
        "what this query's derivation automates. The recall curve "
        "is THE number an ANN user tunes: read recall_bp down the "
        "nprobe column and pick the cheapest probe width above the "
        "quality bar."
    ),
)
def similarity_recall_ivf_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    # bounded driver values: the corpus count (1 long) and the seed /
    # trained codebooks (nlist x dim doubles) - the same K x dim
    # driver-state contract as embedding_kmeans / MLlib KMeans
    n = emb.count()
    nlist = max(8, math.isqrt(n))
    stride = n // nlist
    seeds = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(
            (F.col("vec_id") % stride == 0)
            & (F.col("vec_id") < stride * nlist)
        ).collect()
    )
    cents = similarity.kmeans_lloyd(emb, seeds, iterations=2)
    # corpus assigned ONCE under the trained codebook; all three probe
    # settings reuse it (the probe side only changes which cells each
    # QUERY visits, never the corpus partitioning)
    # corpus-side cast + norm ride the persisted frame: every nprobe
    # setting's candidate scoring then pays one dot fold per pair
    assigned = (
        similarity.ivf_assign(emb, cents)
        .withColumn("__vd", similarity._as_double(F.col("embedding")))
        .withColumn("__vn", similarity.l2_norm(F.col("__vd")))
        .persist()
    )
    queries = emb.where(F.col("vec_id") < 32)
    brute = (
        similarity.brute_force_top_k(
            emb, queries, id_col="vec_id", vec_col="embedding",
            k=5, round_to=6,
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    bt = brute.agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.countDistinct("query_id").cast("long").alias("n_queries"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    out = None
    for nprobe in (1, 2, 4):
        qb = (
            similarity.ivf_probe_cells(q, cents, nprobe, "__qvec")
            .withColumn("__qd", similarity._as_double(F.col("__qvec")))
            .withColumn("__qn", similarity.l2_norm(F.col("__qd")))
        )
        sim = F.round(
            similarity.dot(F.col("__qd"), F.col("__vd"))
            / (F.col("__qn") * F.col("__vn")),
            6,
        )
        scored = (
            assigned.join(F.broadcast(qb), "cell")
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                sim.alias("cosine_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("neighbor_id")
        )
        ivf = (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("query_id", "neighbor_id")
        )
        # both sides are k x |queries| bounded (<= 160 rows); the ivf
        # side is marked broadcast so the intersection never sorts
        hits = brute.join(F.broadcast(ivf), ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        row = bt.crossJoin(F.broadcast(hits)).select(
            F.lit(nlist).cast("long").alias("nlist"),
            F.lit(nprobe).cast("int").alias("nprobe"),
            "n_queries",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "CAST(coalesce(n_hits, 0) * 10000 DIV n_truth AS BIGINT)"
            ).alias("recall_bp"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def _recall_grid_oracle(
    settings: list[tuple[int, int]],
    sig_hashes: int,
    pfx: str,
    order_col: str,
) -> str:
    """Multi-statement (temp-table materialized) recall-grid oracle
    (round-12 verdict #4). The previous single-statement bands-curve
    form inlined the full shingle->minhash derivation once PER setting
    plus the exact tier; DuckDB re-materialized the shared stages per
    branch and the sf1 run spilled past the sandbox's temp disk. This
    form materializes each shared stage ONCE as a temp table —
    shingle sets, sizes, ONE ``sig_hashes``-wide signature table
    (MINHASH_COEF prefixes nest, so a 16-hash setting folds h0..h15 of
    the 32-hash table), the exact capped-Jaccard tier — exactly
    mirroring the engine's persist() structure, then folds the SAME
    signatures into each (num_hashes, bands) layout. CREATE OR REPLACE
    so a rerun on the same connection (the driver re-executes oracles)
    is idempotent. Values are bit-identical to the single-statement
    formulation (same md5-fold, same affine family, same polynomial
    buckets, same verification)."""
    hcols = ",\n         ".join(
        f"min((x * {a} + {b}) % {dedup.MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEF[:sig_hashes])
    )

    def bucket_expr(band: int, rows: int) -> str:
        acc = "0"
        for r in range(rows):
            acc = (
                f"(({acc}) * {dedup.BAND_M} + h{band * rows + r})"
                f" % {dedup.BAND_Q}"
            )
        return acc

    def lsh_table(h: int, b: int) -> str:
        rows = h // b
        bands_sql = "\n        UNION ALL\n        ".join(
            f"SELECT doc_id, {i} AS band, {bucket_expr(i, rows)} AS bucket"
            f" FROM {pfx}_sig"
            for i in range(b)
        )
        return f"""
    CREATE OR REPLACE TEMP TABLE {pfx}_lsh{h}x{b} AS
      WITH banded AS (
        {bands_sql}
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
      ), common AS (
        SELECT c.doc1, c.doc2, count(*) AS n_common
        FROM cand c
        JOIN {pfx}_sh s1 ON s1.doc_id = c.doc1
        JOIN {pfx}_sh s2 ON s2.doc_id = c.doc2 AND s2.shingle = s1.shingle
        GROUP BY 1, 2
      )
      SELECT doc1, doc2 FROM common
      JOIN {pfx}_sizes n1 ON n1.doc_id = doc1
      JOIN {pfx}_sizes n2 ON n2.doc_id = doc2
      WHERE n_common / (n1.n + n2.n - n_common) >= 0.3;
    """

    def setting_sql(h: int, b: int) -> str:
        t = f"{h}x{b}"
        return f"""
    SELECT CAST({h} AS INT) AS num_hashes, CAST({b} AS INT) AS bands,
           CAST({h // b} AS INT) AS rows_per_band,
           je.n_exact, s{t}.n_lsh, c{t}.n_common,
           CAST(CASE WHEN je.n_exact = 0 THEN 10000
                ELSE c{t}.n_common * 10000 // je.n_exact END AS BIGINT)
             AS recall_bp,
           CAST(CASE WHEN s{t}.n_lsh = 0 THEN 0
                ELSE (s{t}.n_lsh - c{t}.n_common) * 10000 // s{t}.n_lsh
                END AS BIGINT) AS lsh_extra_bp
    FROM je, s{t}, c{t}
    """

    count_ctes = ", ".join(
        f"""s{h}x{b} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM {pfx}_lsh{h}x{b}
    ), c{h}x{b} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM {pfx}_exact e JOIN {pfx}_lsh{h}x{b} m
        ON e.doc1 = m.doc1 AND e.doc2 = m.doc2
    )"""
        for h, b in settings
    )
    union = "\n    UNION ALL\n    ".join(
        setting_sql(h, b) for h, b in settings
    )
    return f"""
    CREATE OR REPLACE TEMP TABLE {pfx}_sh AS
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
          FROM documents
        )
      );
    CREATE OR REPLACE TEMP TABLE {pfx}_sizes AS
      SELECT doc_id, count(*) AS n FROM {pfx}_sh GROUP BY doc_id;
    CREATE OR REPLACE TEMP TABLE {pfx}_sig AS
      SELECT doc_id,
         {hcols}
      FROM (
        SELECT doc_id,
               list_reduce(list_transform(generate_series(1, 15),
                 i -> strpos('0123456789abcdef',
                             substr(md5(shingle), i, 1)) - 1),
                 (a, b) -> a * 16 + b) % {dedup.MINHASH_P} AS x
        FROM {pfx}_sh
      ) GROUP BY doc_id;
    CREATE OR REPLACE TEMP TABLE {pfx}_exact AS
      WITH cap AS (
        SELECT greatest(64, (count(*) + 99) // 100) AS c FROM documents
      ), kept AS (
        SELECT shingle FROM {pfx}_sh GROUP BY shingle
        HAVING count(*) <= (SELECT c FROM cap)
      ), common AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
        FROM {pfx}_sh a JOIN {pfx}_sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN kept k ON k.shingle = a.shingle
        GROUP BY 1, 2
      )
      SELECT doc1, doc2 FROM common
      JOIN {pfx}_sizes n1 ON n1.doc_id = doc1
      JOIN {pfx}_sizes n2 ON n2.doc_id = doc2
      WHERE n_common / (n1.n + n2.n - n_common) >= 0.3;
    {"".join(lsh_table(h, b) for h, b in settings)}
    WITH je AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact FROM {pfx}_exact
    ), {count_ctes}
    {union}
    ORDER BY {order_col}
    """


def _recall_curve_oracle() -> str:
    return _recall_grid_oracle(
        [(16, 2), (16, 4), (16, 8)], 16, "prmc", "bands"
    )


@query(
    "dedup_recall_minhash_curve",
    oracle=_recall_curve_oracle(),
    doc=(
        "MinHash recall-vs-bands curve - the dedup-side analogue of "
        "similarity_recall_ivf_trained and the tuning run the "
        "round-11 scaling adjudication points at (more bands = more "
        "collisions = higher recall AND more random-collision "
        "verification cost, the exact trade the sf10 probe priced): "
        "at a fixed 16-hash signature, recall@(Jaccard>=0.3) of the "
        "banded-LSH verified pairs against the exact capped-Jaccard "
        "tier for bands = 2/4/8 (rows-per-band 8/4/2), one row per "
        "setting with the same recall_bp / lsh_extra_bp split as "
        "dedup_recall_minhash. The signature table is computed ONCE "
        "and persisted (each setting only re-folds the SAME minhashes "
        "into different band buckets - the cheap part), the shingle "
        "sets for candidate verification are computed once, and the "
        "exact tier is shared - so the curve costs one signature "
        "pass + three bucket self-joins, all bucketed, never "
        "all-pairs. Read recall_bp down the bands column and pick "
        "the cheapest banding above the quality bar BEFORE running "
        "the sketch tier at 100 TB."
    ),
)
def dedup_recall_minhash_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # persisted: the exact tier feeds its count and all three
    # intersections; signatures and shingle sets feed every setting
    exact = (
        dedup.jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
        )
        .select("doc1", "doc2")
        .persist()
    )
    je = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    sigs = dedup.minhash_table(docs, "text", "doc_id", 16, 3).persist()
    sets_ = docs.select(
        "doc_id", text.shingles("text", 3).alias("sh")
    )
    s1 = sets_.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sets_.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    jac = inter / union
    out = None
    for b in (2, 4, 8):
        banded = dedup.lsh_band_table(sigs, 16, b)
        cand = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc1"),
                F.col("b.doc_id").alias("doc2"),
            )
            .distinct()
        )
        vb = (
            cand.join(s1, "doc1")
            .join(s2, "doc2")
            .where(jac >= 0.3)
            .select("doc1", "doc2")
            .persist()
        )
        jl = vb.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
        jc = exact.join(vb, ["doc1", "doc2"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_common")
        )
        row = (
            je.crossJoin(F.broadcast(jl))
            .crossJoin(F.broadcast(jc))
            .select(
                F.lit(16).cast("int").alias("num_hashes"),
                F.lit(b).cast("int").alias("bands"),
                F.lit(16 // b).cast("int").alias("rows_per_band"),
                "n_exact",
                "n_lsh",
                "n_common",
                F.expr(
                    "CAST(CASE WHEN n_exact = 0 THEN 10000"
                    " ELSE n_common * 10000 DIV n_exact END AS BIGINT)"
                ).alias("recall_bp"),
                F.expr(
                    "CAST(CASE WHEN n_lsh = 0 THEN 0"
                    " ELSE (n_lsh - n_common) * 10000 DIV n_lsh END"
                    " AS BIGINT)"
                ).alias("lsh_extra_bp"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "dedup_recall_minhash_hashes",
    oracle=_recall_grid_oracle(
        [(16, 4), (32, 4)], 32, "prmh", "num_hashes"
    ),
    doc=(
        "MinHash recall-vs-num_hashes curve - the OTHER signature "
        "knob, priced the same way as the bands curve (round-12 "
        "verdict #5 names this the collision-control response: at a "
        "fixed band count, doubling hashes doubles rows-per-band, so "
        "random in-bucket collisions fall ~quadratically in bucket "
        "occupancy while true near-dups above the threshold mostly "
        "survive): recall@(Jaccard>=0.3) + lsh_extra_bp of the "
        "banded-LSH verified pairs vs the exact capped-Jaccard tier "
        "for 16 vs 32 hashes at bands=4 (rows-per-band 4 vs 8). The "
        "affine MinHash family is a PREFIX family (MINHASH_COEF[:16] "
        "is a prefix of [:32]), so the engine computes ONE 32-hash "
        "signature table and each setting folds its prefix - exactly "
        "what a production tuner does when deciding whether the "
        "bigger signature pays for itself. lsh_extra_bp falling from "
        "16 to 32 hashes is the measured collision-term controllab"
        "ility the sf10 streaming-minhash adjudication cites."
    ),
)
def dedup_recall_minhash_hashes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    exact = (
        dedup.jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
        )
        .select("doc1", "doc2")
        .persist()
    )
    je = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    # ONE 32-hash signature pass; the 16-hash setting folds h0..h15
    sigs = dedup.minhash_table(docs, "text", "doc_id", 32, 3).persist()
    sets_ = docs.select("doc_id", text.shingles("text", 3).alias("sh"))
    s1 = sets_.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sets_.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    jac = inter / union
    out = None
    for h in (16, 32):
        banded = dedup.lsh_band_table(sigs, h, 4)
        cand = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc1"),
                F.col("b.doc_id").alias("doc2"),
            )
            .distinct()
        )
        vb = (
            cand.join(s1, "doc1")
            .join(s2, "doc2")
            .where(jac >= 0.3)
            .select("doc1", "doc2")
            .persist()
        )
        jl = vb.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
        jc = exact.join(vb, ["doc1", "doc2"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_common")
        )
        row = (
            je.crossJoin(F.broadcast(jl))
            .crossJoin(F.broadcast(jc))
            .select(
                F.lit(h).cast("int").alias("num_hashes"),
                F.lit(4).cast("int").alias("bands"),
                F.lit(h // 4).cast("int").alias("rows_per_band"),
                "n_exact",
                "n_lsh",
                "n_common",
                F.expr(
                    "CAST(CASE WHEN n_exact = 0 THEN 10000"
                    " ELSE n_common * 10000 DIV n_exact END AS BIGINT)"
                ).alias("recall_bp"),
                F.expr(
                    "CAST(CASE WHEN n_lsh = 0 THEN 0"
                    " ELSE (n_lsh - n_common) * 10000 DIV n_lsh END"
                    " AS BIGINT)"
                ).alias("lsh_extra_bp"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "dedup_recall_minhash",
    oracle=f"""
    WITH exact AS (
      {_JACCARD_PAIRS_ORACLE}
    ), lsh AS (
      {_minhash_lsh_oracle(num_hashes=16, bands=4, threshold=0.3)}
    ), je AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact
    ), jl AS (
      SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh
    ), jc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM exact e JOIN lsh m ON e.doc1 = m.doc1 AND e.doc2 = m.doc2
    )
    SELECT n_exact, n_lsh, n_common,
           CAST(CASE WHEN n_exact = 0 THEN 10000
                ELSE n_common * 10000 // n_exact END AS BIGINT) AS recall_bp,
           CAST(CASE WHEN n_lsh = 0 THEN 0
                ELSE (n_lsh - n_common) * 10000 // n_lsh END AS BIGINT)
             AS lsh_extra_bp
    FROM je, jl, jc
    """,
    doc=(
        "near-dup recall evaluation - the eval-harness query a dedup "
        "deployment runs before trusting its sketch tier (the "
        "similarity_recall_ivf of the dedup family): the MinHash(16)/"
        "LSH(4-band) verified pairs are intersected with the "
        "inverted-index exact-Jaccard pairs at the same 0.3 "
        "threshold, both composed VERBATIM from the two gate-green "
        "formulations (dedup_minhash_lsh / dedup_jaccard_pairs) so "
        "the oracle replays both tiers and the set intersection. "
        "recall_bp measures what LSH banding forfeits (pairs whose "
        "signatures never collide in any band); lsh_extra_bp "
        "measures the converse - verified near-dup pairs the exact "
        "tier's scale-relative posting cap forfeits (both tiers "
        "prune, in different places; the two numbers separate the "
        "prunings). Cost is the two pair stages themselves - both "
        "bucketed, never all-pairs - plus census-sized joins on the "
        "pair lists; the output is ONE summary row. Low recall here "
        "is the signal to raise bands/hashes before running the "
        "sketch tier at 100 TB."
    ),
)
def dedup_recall_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # persisted: each pair frame feeds its count AND the intersection
    exact = (
        dedup.jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
        )
        .select("doc1", "doc2")
        .persist()
    )
    lsh = (
        dedup.minhash_lsh_pairs(
            docs, "text", "doc_id",
            num_hashes=16, bands=4, k=3, verify_threshold=0.3,
        )
        .select("doc1", "doc2")
        .persist()
    )
    je = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    jl = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    jc = exact.join(lsh, ["doc1", "doc2"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        je.crossJoin(F.broadcast(jl))
        .crossJoin(F.broadcast(jc))
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.expr(
                "CAST(CASE WHEN n_exact = 0 THEN 10000"
                " ELSE n_common * 10000 DIV n_exact END AS BIGINT)"
            ).alias("recall_bp"),
            F.expr(
                "CAST(CASE WHEN n_lsh = 0 THEN 0"
                " ELSE (n_lsh - n_common) * 10000 DIV n_lsh END AS BIGINT)"
            ).alias("lsh_extra_bp"),
        )
    )


@query(
    "similarity_recall_quant",
    oracle=f"""
    WITH bq AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), bs AS (
      SELECT bq.query_id, e.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='bq.qv', b='e.embedding::DOUBLE[]')}, 6)
               AS cosine_sim
      FROM embeddings e CROSS JOIN bq
      WHERE e.vec_id <> bq.query_id
    ), brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM bs
      ) WHERE rk <= 5
    ), i8 AS (
      {_INT8_TOPK_ORACLE}
    ), pq AS (
      {_pq_oracle()}
    ), base AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS k
      FROM brute GROUP BY query_id
    ), hi AS (
      SELECT b.query_id, CAST(count(*) AS BIGINT) AS n
      FROM brute b JOIN i8 USING (query_id, neighbor_id)
      GROUP BY b.query_id
    ), hp AS (
      SELECT b.query_id, CAST(count(*) AS BIGINT) AS n
      FROM brute b JOIN pq USING (query_id, neighbor_id)
      GROUP BY b.query_id
    )
    SELECT base.query_id, base.k,
           CAST(coalesce(hi.n, 0) AS BIGINT) AS hits_int8,
           CAST(coalesce(hi.n, 0) * 10000 // base.k AS BIGINT)
             AS recall_int8_bp,
           CAST(coalesce(hp.n, 0) AS BIGINT) AS hits_pq,
           CAST(coalesce(hp.n, 0) * 10000 // base.k AS BIGINT)
             AS recall_pq_bp
    FROM base LEFT JOIN hi ON hi.query_id = base.query_id
    LEFT JOIN hp ON hp.query_id = base.query_id
    ORDER BY base.query_id
    """,
    doc=(
        "quantization recall evaluation - the second eval-harness "
        "row of the ANN family (similarity_recall_ivf covers the "
        "PARTITION approximation; this covers the two CODE "
        "approximations): per query point, recall@5 of the int8 "
        "scalar-quantized ranking AND the 8x8 product-quantized ADC "
        "ranking against the exact brute-force top-5, every tier "
        "composed VERBATIM by calling the gate-green query "
        "formulations (similarity_int8_topk / similarity_pq_topk) "
        "so the oracle replays all three retrievals and both "
        "intersections. This is the memory-vs-recall trade read off "
        "directly: int8 costs 4x less index RAM, PQ ~32x less, and "
        "the two recall columns price those savings per query - and "
        "the harness already earned its keep on this corpus: int8 "
        "recall is 0/5 everywhere (the int8 tier ranks by the RAW "
        "quantized dot product while ground truth is cosine, and "
        "this corpus's vector norms vary enough that dot-order != "
        "cosine-order - the classic deploy-an-unnormalized-index "
        "mistake, caught by the eval, not by the tier's own green "
        "gate row), while PQ (a true L2/ADC approximation) lands "
        "20-60%. Eval "
        "cost is census-sized (k x |queries| frames) on top of the "
        "retrievals; at 100 TB the retrievals dominate and the "
        "brute-force ground truth runs on a fixed query SAMPLE, "
        "never the full corpus."
    ),
)
def similarity_recall_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    # persisted: ground truth feeds the base counts + both intersections
    brute = (
        similarity.brute_force_top_k(
            emb, queries, id_col="vec_id", vec_col="embedding", k=5, round_to=6
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    i8 = similarity_int8_topk(spark, sf_dir).select("query_id", "neighbor_id")
    pq = similarity_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    base = brute.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )

    def hits(tier: DataFrame, alias: str) -> DataFrame:
        return (
            brute.join(tier, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    return (
        base.join(hits(i8, "hits_int8"), "query_id", "left")
        .join(hits(pq, "hits_pq"), "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce("hits_int8", F.lit(0)).cast("long").alias("hits_int8"),
            F.expr(
                "CAST(coalesce(hits_int8, 0) * 10000 DIV k AS BIGINT)"
            ).alias("recall_int8_bp"),
            F.coalesce("hits_pq", F.lit(0)).cast("long").alias("hits_pq"),
            F.expr(
                "CAST(coalesce(hits_pq, 0) * 10000 DIV k AS BIGINT)"
            ).alias("recall_pq_bp"),
        )
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
      FROM documents
    ), census AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY word
    ), ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk
      FROM census
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n FROM census
    ), sizes AS (
      SELECT unnest([8, 16, 32, 64, 128]) AS vocab_size
    )
    SELECT CAST(s.vocab_size AS INT) AS vocab_size,
           CAST(sum(r.cnt) AS BIGINT) AS covered_tokens,
           CAST(max(t.n) AS BIGINT) AS total_tokens,
           CAST(sum(r.cnt) * 10000 // max(t.n) AS BIGINT) AS coverage_bp
    FROM sizes s
    JOIN ranked r ON r.rk <= s.vocab_size
    CROSS JOIN tot t
    GROUP BY s.vocab_size
    ORDER BY vocab_size
    """,
    doc=(
        "tokenizer vocabulary coverage curve - the design question "
        "every tokenizer build answers first (what share of corpus "
        "tokens does a vocab of size V cover?), here at V = 8/16/32/"
        "64/128 in exact integer basis points: ONE token-census "
        "shuffle (partial agg absorbs repeats - the shuffle carries "
        "the Heaps-law-bounded vocabulary, never corpus rows), a "
        "rank over the census, and each census row fans out to the "
        "curve points it belongs to via a constant <=5-element array "
        "filter-explode (no size-x-census join on the Spark side; "
        "the oracle's rk <= vocab_size join is the same set). The "
        "single-partition census window is the corpus_source_gini "
        "shape - bounded by vocabulary, not volume, which is what "
        "keeps an exact curve feasible at 100 TB."
    ),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # persisted: the rank pass and the 1-row total both read it
    return vocab_coverage_frame(word_counts(docs).persist())


def word_counts(docs: DataFrame) -> DataFrame:
    """Occurrences per whitespace-split lower-cased word."""
    return (
        docs.select(
            F.explode_outer(F.split(F.trim(F.lower("text")), r"\s+")).alias(
                "word"
            )
        )
        .where(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def vocab_coverage_frame(census: DataFrame) -> DataFrame:
    """The share of all tokens that the top 8..128 words cover, from
    the word counts."""
    ranked = census.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("word")))
        .alias("rk"),
    )
    tot = census.agg(F.sum("cnt").cast("long").alias("n"))
    sizes = F.array(*[F.lit(s) for s in (8, 16, 32, 64, 128)])
    cov = (
        ranked.select(
            "cnt",
            F.explode(
                F.filter(sizes, lambda v: v >= F.col("rk"))
            ).alias("vocab_size"),
        )
        .groupBy("vocab_size")
        .agg(F.sum("cnt").cast("long").alias("covered_tokens"))
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        F.col("vocab_size").cast("int").alias("vocab_size"),
        "covered_tokens",
        F.col("n").alias("total_tokens"),
        F.expr(
            "CAST(covered_tokens * 10000 DIV n AS BIGINT)"
        ).alias("coverage_bp"),
    )


@query(
    "similarity_recall_lsh",
    oracle=f"""
    WITH bq AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), bs AS (
      SELECT bq.query_id, e.vec_id AS neighbor_id,
             round({_IVF_COS.format(a='bq.qv', b='e.embedding::DOUBLE[]')}, 6)
               AS cosine_sim
      FROM embeddings e CROSS JOIN bq
      WHERE e.vec_id <> bq.query_id
    ), brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
        FROM bs
      ) WHERE rk <= 5
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM e
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5
    ), lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round({_IVF_COS.format(a='q.qv', b='c.v')}, 6) DESC,
                 c.vec_id) AS rk
        FROM b c JOIN q ON c.bucket = q.bucket
        WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 5
    ), base AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS k
      FROM brute GROUP BY query_id
    ), hits AS (
      SELECT b2.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM brute b2 JOIN lsh USING (query_id, neighbor_id)
      GROUP BY b2.query_id
    )
    SELECT base.query_id, base.k,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 10000 // base.k AS BIGINT)
             AS recall_bp
    FROM base LEFT JOIN hits h USING (query_id)
    ORDER BY base.query_id
    """,
    doc=(
        "LSH recall evaluation - the third ANN eval-harness row, "
        "completing the family (recall_ivf prices the IVF partition "
        "approximation, recall_quant the int8/PQ code "
        "approximations; this prices the random-hyperplane BUCKET "
        "approximation): per query point, recall@5 of the "
        "single-bucket LSH retrieval against exact brute-force "
        "cosine, both composed VERBATIM from the gate-green "
        "formulations (similarity_lsh_topk / similarity_topk). "
        "Together the three rows rank every ANN tier the engine "
        "ships by measured recall before anyone trusts one at "
        "100 TB. Same census-sized eval cost as the siblings."
    ),
)
def similarity_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_top_k(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, round_to=6
    ).select("query_id", "neighbor_id")
    lsh = similarity_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id")
    base = brute.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    hits = (
        brute.join(lsh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "k",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.expr(
            "CAST(coalesce(n_hits, 0) * 10000 DIV k AS BIGINT)"
        ).alias("recall_bp"),
    )


def _qsa_oracle() -> str:
    """Compose the signal-agreement oracle from the two registered
    quality oracles. The corpus import makes this safe under DIRECT
    `import datapipe` too (tests do this), not just under _load_all's
    corpus-first order — without it the gopher row isn't registered
    yet and the decorator raises at collection time."""
    from . import corpus  # noqa: F401  (registers quality_gopher_rules)
    from .registry import REGISTRY

    q = REGISTRY["text_quality_score"].oracle
    g = REGISTRY["quality_gopher_rules"].oracle
    th = ",\n             ".join(
        f"min(CASE WHEN cum >= ({k} * n + 9) // 10 THEN v END) AS t{k}"
        for k in range(1, 10)
    )
    bucket = " + ".join(f"CAST(jj.quality_bp > th.t{k} AS INT)"
                        for k in range(1, 10))
    return f"""
    WITH q AS (
      {q}
    ), g AS (
      {g}
    ), jj AS (
      SELECT q.doc_id, q.quality_bp, g.keep
      FROM q JOIN g ON g.doc_id = q.doc_id
    ), c AS (
      SELECT quality_bp AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM jj GROUP BY 1
    ), r AS (
      SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS n
      FROM c
    ), th AS (
      SELECT {th}
      FROM r
    ), bucketed AS (
      SELECT jj.doc_id, jj.quality_bp, jj.keep,
             1 + {bucket} AS bucket
      FROM jj CROSS JOIN th
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(quality_bp) AS BIGINT) AS min_quality_bp,
           CAST(max(quality_bp) AS BIGINT) AS max_quality_bp,
           CAST(sum(CAST(keep AS INT)) AS BIGINT) AS n_gopher_keep,
           CAST(sum(CAST(keep AS INT)) * 10000 // count(*) AS BIGINT)
             AS keep_share_bp
    FROM bucketed
    GROUP BY bucket ORDER BY bucket
    """


@query(
    "quality_signal_agreement",
    oracle=_qsa_oracle(),
    doc=(
        "quality-signal agreement audit - the calibration check run "
        "before trusting any single quality gate (do the heuristic "
        "score and the Gopher rule bundle rank documents the same "
        "way?): documents bucket into quality-score deciles by "
        "EXACT census-and-cumulate thresholds (t_k = smallest score "
        "whose cumulative count reaches ceil(k*n/10) - value-domain "
        "census, so ties share a bucket and the bucketing never "
        "needs the row-scale single-partition ntile window), then "
        "each bucket reports its Gopher keep share in exact bp. A "
        "monotone share curve = the signals agree; a flat or "
        "inverted segment names exactly WHERE they disagree. Both "
        "signals replay their gate-green formulations verbatim; "
        "the 9 thresholds ride one 1-row broadcast back over the "
        "doc-level join - census-bounded at 100 TB."
    ),
)
def quality_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import quality_gopher_rules

    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_bp")
    g = quality_gopher_rules(spark, sf_dir).select("doc_id", "keep")
    # persisted: the threshold census and the bucketed output both
    # read the joined frame
    jj = q.join(g, "doc_id").persist()
    c = jj.groupBy(F.col("quality_bp").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    from pyspark.sql import Window

    r = c.select(
        "v",
        F.sum("cnt")
        .over(
            Window.orderBy("v").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy(F.lit(1))).alias("n"),
    )
    th = r.agg(
        *[
            F.min(
                F.when(
                    F.expr(f"cum >= ({k} * n + 9) DIV 10"), F.col("v")
                )
            ).alias(f"t{k}")
            for k in range(1, 10)
        ]
    )
    bucket = F.lit(1)
    for k in range(1, 10):
        bucket = bucket + (
            F.col("quality_bp") > F.col(f"t{k}")
        ).cast("int")
    return (
        jj.crossJoin(F.broadcast(th))
        .select("quality_bp", "keep", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("quality_bp").cast("long").alias("min_quality_bp"),
            F.max("quality_bp").cast("long").alias("max_quality_bp"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_gopher_keep"),
            F.expr(
                "CAST(sum(CAST(keep AS INT)) * 10000 DIV count(*) AS BIGINT)"
            ).alias("keep_share_bp"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "min_quality_bp",
            "max_quality_bp",
            "n_gopher_keep",
            "keep_share_bp",
        )
    )
