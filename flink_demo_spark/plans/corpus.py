"""Corpus-curation queries: dup-cluster assignment, deterministic
stratified/importance sampling, temperature-based language mixing,
column profiling, token-length quantiles (exact + sketch), n-gram
statistics, and the composed end-to-end curation gate.

Beyond-reference surface (SURVEY.md §7 phase 6): the operations that
turn near-dup PAIRS and per-doc stats into the keep/drop and
inspection artifacts a 100 TB training-data pipeline actually ships.
DuckDB-oracle-backed throughout (the clustering oracle uses a
recursive CTE; the sampling oracles share the exact integer hash;
the one sketch query, text_token_quantiles_approx, is pinned to its
rank-error bound by a unit test instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup, graph, text
from .registry import query

_SW_LIST = ", ".join(f"'{w}'" for w in text.STOPWORDS)

# the shingle->pairs CTE chain shared with dedup_jaccard_pairs;
# parameterized so compositions can run it over an upstream CTE (src)
# with name-prefixed CTEs (p) to avoid collisions in assembled oracles
def _jaccard_pairs_ctes(src: str = "documents", p: str = "") -> str:
    return f"""
    {p}toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM {src}
    ), {p}sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM {p}toks
      )
    ), {p}cap AS (
      -- mirror of the engine's SCALE-RELATIVE posting cap
      -- (max_posting_frac=0.01, floor 64): a document-frequency
      -- FRACTION of the corpus, so the skew guard travels across
      -- corpus sizes (a fixed 64 emptied the candidate set at sf1,
      -- round-8 sweep; round-11 ADVICE migrated this whole family)
      SELECT greatest(64, (count(*) + 99) // 100) AS c FROM {src}
    ), {p}keep_sh AS (
      SELECT shingle FROM {p}sh GROUP BY shingle
      HAVING count(*) <= (SELECT c FROM {p}cap)
    ), {p}sizes AS (
      SELECT doc_id, count(*) AS n FROM {p}sh GROUP BY doc_id
    ), {p}common AS (
      SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_common
      FROM {p}sh a JOIN {p}sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN {p}keep_sh k ON k.shingle = a.shingle
      GROUP BY 1, 2
    ), {p}pairs AS (
      SELECT doc1, doc2
      FROM {p}common
      JOIN {p}sizes n1 ON n1.doc_id = doc1
      JOIN {p}sizes n2 ON n2.doc_id = doc2
      WHERE n_common / (n1.n + n2.n - n_common) >= 0.3
    )
"""


_JACCARD_PAIRS_CTES = _jaccard_pairs_ctes()


def _cc_label_stmts(p: str, nodes_sql: str, passes: int = 24) -> str:
    """Bounded connected-components labeling as a sequence of
    ``CREATE OR REPLACE TEMP TABLE`` statements (round-12 verdict #1:
    the single recursive walk CTE gets INLINED once per consumer by
    DuckDB and spills past the sandbox disk at sf1 in multi-consumer
    compositions; materialized iterations run in seconds).

    Requires ``{p}edges(a, b)`` (both edge directions) to already
    exist; emits ``{p}lab(node, comp)`` where comp is the component's
    MIN node id — the same labels as the recursive
    ``min(comp) GROUP BY node`` walk. Each pass is min-label
    propagation (small-star: every node takes the min label in its
    closed neighborhood) followed by a pointer jump
    (``lab <- prop(prop(x))``, the path-doubling half of the
    large-star/small-star family), so the covered horizon at least
    doubles per pass: 24 passes converge for any component diameter
    up to ~2^24. Labels always stay inside the node's own component
    and never increase, so a final edge-consistency check proves
    convergence — it ERRORS loudly instead of returning
    plausible-but-wrong labels if the pass budget were ever short."""
    stmts = [
        f"CREATE OR REPLACE TEMP TABLE {p}lab AS "
        f"SELECT node, node AS comp FROM ({nodes_sql}) t(node)"
    ]
    for _ in range(passes):
        stmts.append(
            f"""CREATE OR REPLACE TEMP TABLE {p}prop AS
    SELECT node, min(comp) AS comp FROM (
      SELECT node, comp FROM {p}lab
      UNION ALL
      SELECT e.a AS node, l.comp AS comp
      FROM {p}edges e JOIN {p}lab l ON l.node = e.b
    ) GROUP BY node"""
        )
        stmts.append(
            f"""CREATE OR REPLACE TEMP TABLE {p}lab AS
    SELECT p1.node, p2.comp
    FROM {p}prop p1 JOIN {p}prop p2 ON p2.node = p1.comp"""
        )
    stmts.append(
        f"""CREATE OR REPLACE TEMP TABLE {p}chk AS
    SELECT CASE WHEN count(*) = 0 THEN TRUE
           ELSE CAST(error('{p}lab: CC propagate/jump loop not '
                           'converged within the pass budget')
                     AS BOOLEAN) END AS ok
    FROM {p}edges e
    JOIN {p}lab la ON la.node = e.a
    JOIN {p}lab lb ON lb.node = e.b
    WHERE la.comp <> lb.comp"""
    )
    return ";\n".join(stmts)


@query(
    "dedup_cluster_assign",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTES},
    edges AS (
      SELECT doc1 AS a, doc2 AS b FROM pairs
      UNION ALL
      SELECT doc2, doc1 FROM pairs
    ),
    walk(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
    )
    SELECT node AS doc_id, min(comp) AS cluster_id,
           (node = min(comp)) AS keep
    FROM walk GROUP BY node ORDER BY doc_id
    """,
    doc=(
        "near-dup cluster assignment: Jaccard>=0.3 pairs -> connected "
        "components (min-label propagation, operators/graph.py) -> one "
        "canonical keeper per cluster. The end-to-end keep/drop "
        "decision of a corpus dedup pipeline; oracle = recursive CTE."
    ),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # max_posting_frac=0.01 (floor 64): same SCALE-RELATIVE skew cap as
    # dedup_jaccard_pairs (mirrored in the oracle's cap/keep_sh CTEs) —
    # one viral shingle must not become a single-task straggler, and a
    # FIXED cap goes blind at sf1+ (round-8 sweep / round-11 ADVICE)
    edges = dedup.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )
    labels = graph.connected_components(
        edges, "doc1", "doc2", nodes=docs.select("doc_id")
    )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("keep"),
    )


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTES},
    edges AS (
      SELECT doc1 AS a, doc2 AS b FROM pairs
      UNION ALL
      SELECT doc2, doc1 FROM pairs
    ),
    walk(node, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node
    ),
    clusters AS (
      SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node
    ),
    qs AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n,
             CAST(len(list_distinct(
               regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) AS d,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                      x -> lower(x) IN ({_SW_LIST}))) AS BIGINT) AS sw
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             CAST(5000 * least(n, 50) // 50
                  + (3000 * d) // n
                  + (2000 * least(n, 10 * sw)) // n AS BIGINT) AS quality_bp
      FROM qs
    )
    SELECT c.doc_id, c.cluster_id, q.quality_bp,
           (row_number() OVER (PARTITION BY c.cluster_id
              ORDER BY q.quality_bp DESC, c.doc_id) = 1) AS keep
    FROM clusters c JOIN q USING (doc_id)
    ORDER BY doc_id
    """,
    doc=(
        "keep-BEST near-dup resolution - the keeper-selection policy "
        "real curation pipelines use instead of keep-first: cluster "
        "near-dups (Jaccard>=0.3 pairs -> connected components, the "
        "dedup_cluster_assign machinery) and keep the member with the "
        "HIGHEST quality score (text_quality_score's integer basis-"
        "point heuristic; doc_id breaks ties), so deduplication "
        "removes the low-quality copies rather than whichever "
        "happened to sort first. Composition of two verified stages "
        "plus one quality join and a per-cluster WindowGroupLimit-"
        "shaped argmax; the quality frame is a map-side projection, "
        "so the extra cost over cluster assignment is one doc_id "
        "broadcast-or-shuffle join - holds at 100 TB."
    ),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .datapipe import quality_bp_frame

    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    edges = dedup.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )
    labels = graph.connected_components(
        edges, "doc1", "doc2", nodes=docs.select("doc_id")
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    quality = quality_bp_frame(docs).select("doc_id", "quality_bp")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_bp"), F.asc("doc_id")
    )
    return (
        labels.join(quality, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "quality_bp", "keep")
    )


@query(
    "sample_stratified",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             (((doc_id % 1000003) * 2654435761 + 12345) % 1000000007) % 1000
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket
    FROM s
    WHERE bucket < CASE lang WHEN 'en' THEN 150 WHEN 'zh' THEN 400 ELSE 250 END
    ORDER BY doc_id
    """,
    doc=(
        "deterministic per-stratum sampling: multiplicative integer "
        "hash of doc_id -> bucket in [0,1000), per-language keep rate "
        "(downsample over-represented en, upsample zh). Pure integer "
        "arithmetic so any engine reproduces the same sample; a "
        "narrow filter (no shuffle) that composes with the scan at "
        "100 TB. The doc_id % 1000003 pre-fold keeps the product in "
        "int64 for arbitrarily large ids."
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345) % 1000000007
    ) % 1000
    rate = (
        F.when(F.col("lang") == "en", 150)
        .when(F.col("lang") == "zh", 400)
        .otherwise(250)
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .where(bucket < rate)
        
    )


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "profile_columns",
    bench=True,
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM documents"""
        for c in _PROFILE_COLS
    ),
    doc=(
        "data-quality column profile of the documents table: per "
        "column the row/null/exact-distinct counts and min/max (as "
        "strings, for a uniform schema). ONE aggregation pass — Spark "
        "plans the 5 distinct aggregates via a single Expand + "
        "two-phase agg (one shuffle), then the 1-row result explodes "
        "into per-column rows. At 100 TB swap count_distinct for "
        "approx_count_distinct to drop the Expand multiplier; the "
        "validation gate every training-data ingest runs first."
    ),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    row = docs.agg(*aggs)
    entries = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in _PROFILE_COLS
    ]
    return row.select(F.explode(F.array(*entries)).alias("p")).select("p.*")


@query(
    "sample_importance",
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars,
             (((doc_id % 1000003) * 2654435761 + 12345) % 1000000007) % 1000
               AS bucket,
             least(n_chars, 2000) AS thresh
      FROM documents
    )
    SELECT doc_id, n_chars, 2000.0 / thresh AS weight
    FROM s
    WHERE bucket * 2 < thresh
    ORDER BY doc_id
    """,
    doc=(
        "length-proportional importance sampling: keep probability "
        "min(1, n_chars/2000) decided by the same multiplicative "
        "integer hash as sample_stratified (pure integer compare "
        "bucket*2 < min(n_chars,2000) — no float threshold to drift), "
        "emitting the Horvitz-Thompson inverse-probability weight "
        "2000/thresh so downstream token-level statistics stay "
        "unbiased. The standard long-doc upweighting step before "
        "sequence packing; a narrow filter — zero shuffles, composes "
        "with the scan at 100 TB."
    ),
)
def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345) % 1000000007
    ) % 1000
    thresh = F.least(F.col("n_chars"), F.lit(2000))
    return (
        docs.select(
            "doc_id",
            "n_chars",
            (F.lit(2000.0) / thresh).alias("weight"),
        )
        .where(bucket * 2 < thresh)
    )


@query(
    "sample_priority",
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars,
             n_chars * 1000000007
               // ((((doc_id % 1000003) * 2654435761 + 12345) % 1000000007)
                   + 1) AS priority
      FROM documents
    ), topk1 AS (
      SELECT * FROM s ORDER BY priority DESC, doc_id LIMIT 301
    ), tau AS (
      SELECT CASE WHEN count(*) >= 301 THEN min(priority) ELSE 0 END AS tau
      FROM topk1
    ), ranked AS (
      SELECT doc_id, n_chars, priority,
             row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
      FROM topk1
    )
    SELECT r.doc_id, r.n_chars, r.priority,
           CAST(greatest(r.n_chars, t.tau) AS BIGINT) AS est_weight
    FROM ranked r CROSS JOIN tau t
    WHERE r.rn <= 300
    ORDER BY r.doc_id
    """,
    doc=(
        "priority sampling (Duffield-Lund-Thorup, JACM 2007): ONE-PASS "
        "weighted sampling WITHOUT replacement of k=300 documents with "
        "weight n_chars — the subsampling primitive that keeps token-"
        "level corpus statistics nearly unbiased (estimator "
        "max(w, tau), tau = the (k+1)-th priority, 0 when n <= k). "
        "The priority w/u is computed as the EXACT integer floor "
        "w*M DIV (h+1) with u = (h+1)/M from the shared multiplicative "
        "hash (M = 1000000007), so ordering and output are bit-stable "
        "across engines - no float keys, ties broken by doc_id. Plan: "
        "the top-(k+1) cut is TakeOrderedAndProject (map-side partial "
        "top-k per partition, k+1 rows to the driver stage - the "
        "scalable global-top-k physical op); tau and the rank filter "
        "both read the SAME already-cut 301-row frame (two window "
        "functions over one tiny single-partition frame - no second "
        "top-k branch). At 100 TB this is one scan + one O(k) merge."
    ),
)
def sample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    k = 300
    pri = F.expr(
        "n_chars * 1000000007"
        " DIV ((((doc_id % 1000003) * 2654435761 + 12345) % 1000000007) + 1)"
    )
    s = docs.select("doc_id", "n_chars", pri.alias("priority"))
    top = s.orderBy(F.desc("priority"), "doc_id").limit(k + 1)
    # tau (the (k+1)-th priority, 0 when the whole population fits) is
    # read off the SAME ranked 301-row frame as the output rows — one
    # top-k branch, not two, so the corpus is scanned exactly once
    # (a second agg branch on `top` would re-run the global top-k:
    # TakeOrderedAndProject has no exchange for reuse to dedupe)
    w = Window.orderBy(F.desc("priority"), "doc_id")
    everything = Window.partitionBy()
    return (
        top.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "__tau",
            F.max(
                F.when(F.col("rn") == k + 1, F.col("priority")).otherwise(
                    F.lit(0).cast("long")
                )
            ).over(everything),
        )
        .where(F.col("rn") <= k)
        .select(
            "doc_id",
            "n_chars",
            "priority",
            F.greatest(F.col("n_chars"), F.col("__tau"))
            .cast("long")
            .alias("est_weight"),
        )
    )


@query(
    "sample_priority_stratified",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, n_chars,
             n_chars * 1000000007
               // ((((doc_id % 1000003) * 2654435761 + 12345) % 1000000007)
                   + 1) AS priority
      FROM documents
    ), r AS (
      SELECT doc_id, lang, n_chars, priority,
             row_number() OVER (PARTITION BY lang
                                ORDER BY priority DESC, doc_id) AS rk
      FROM s
    )
    SELECT doc_id, lang, n_chars, priority, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 30
    ORDER BY doc_id
    """,
    doc=(
        "per-stratum priority sampling - the balanced weighted "
        "subsample an eval-set builder draws (k=30 docs PER LANGUAGE, "
        "weighted by n_chars, without replacement): the same exact "
        "integer priority w*M DIV (h+1) as sample_priority, cut "
        "per-stratum by rank instead of globally. The grouped top-k "
        "rides WindowGroupLimit (map-side per-partition cut, the "
        "shuffle carries O(strata x k) rows, asserted) - the plan "
        "shape that stays viable when one stratum holds 10^9 docs. "
        "Combines the sampling family's weighted-without-replacement "
        "selection with the stratified family's per-domain balance."
    ),
)
def sample_priority_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pri = F.expr(
        "n_chars * 1000000007"
        " DIV ((((doc_id % 1000003) * 2654435761 + 12345) % 1000000007) + 1)"
    )
    s = docs.select("doc_id", "lang", "n_chars", pri.alias("priority"))
    w = Window.partitionBy("lang").orderBy(F.desc("priority"), "doc_id")
    return (
        s.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 30)
    )


# DSIR hashed-n-gram feature space: bucket count B and the fixed-point
# scale S for the integer likelihood-ratio weights. B=256 keeps the
# bucket-stats frame a literal broadcast at any corpus size; S=1e6
# gives 6 decimal digits of ratio resolution in pure integer math.
_DSIR_B = 256
_DSIR_S = 1_000_000


def _dsir_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) — one row per token, bucketed into the
    hashed feature space by the portable md5-fold digest."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode_outer(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok").isNotNull())
    return toks.select(
        "doc_id", "lang", (dedup.portable_hash60("tok") % _DSIR_B).alias("bucket")
    )


def _dsir_stats(tb: DataFrame) -> DataFrame:
    """256-row bucket census: raw count r_b and target (lang='en')
    count t_b per hashed feature bucket — map-side partial agg, the
    shuffle moves at most B rows per partition."""
    return tb.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("r_b"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_b"),
    )


def dsir_weight_vector(stats_rows: list) -> list[int]:
    """Fixed-point likelihood-ratio weight per bucket, computed from
    collected census rows with Python big-int floor division — the
    SAME integer result as the in-plan DECIMAL(38) DIV expression, so
    a driver-side weight table (for the streaming literal) and the
    distributed weights frame are interchangeable. Buckets absent
    from the census get the add-one-smoothed empty-bucket weight."""
    r = {int(row["bucket"]): int(row["r_b"]) for row in stats_rows}
    t = {int(row["bucket"]): int(row["t_b"]) for row in stats_rows}
    r_tot = sum(r.values())
    t_tot = sum(t.values())
    return [
        ((t.get(b, 0) + 1) * (r_tot + _DSIR_B) * _DSIR_S)
        // ((r.get(b, 0) + 1) * (t_tot + _DSIR_B))
        for b in range(_DSIR_B)
    ]


def _dsir_ctes(src: str = "documents", p: str = "") -> str:
    """DSIR scoring CTE chain over ``src`` (must expose doc_id, lang,
    text); final CTE ``{p}scored`` carries (doc_id, n_tokens, s)."""
    return f"""{p}toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM {src}
    ), {p}tb AS (
      SELECT doc_id, lang,
             list_reduce(list_transform(generate_series(1, 15),
               i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
               (a, b) -> a * 16 + b) % {_DSIR_B} AS bucket
      FROM {p}toks
    ), {p}stats AS (
      SELECT bucket, count(*) AS r_b,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_b
      FROM {p}tb GROUP BY bucket
    ), {p}tot AS (SELECT sum(r_b) AS r_tot, sum(t_b) AS t_tot FROM {p}stats),
    {p}w AS (
      -- add-one-smoothed likelihood ratio per hashed feature bucket,
      -- exact fixed-point: S * [(t_b+1)/(t_tot+B)] / [(r_b+1)/(r_tot+B)]
      SELECT bucket,
             CAST((CAST(t_b + 1 AS HUGEINT) * (t.r_tot + {_DSIR_B}) * {_DSIR_S})
                  // (CAST(r_b + 1 AS HUGEINT) * (t.t_tot + {_DSIR_B})) AS BIGINT)
               AS w_b
      FROM {p}stats, {p}tot t
    ), {p}scored AS (
      SELECT {p}tb.doc_id, count(*) AS n_tokens, sum({p}w.w_b) AS s
      FROM {p}tb JOIN {p}w USING (bucket) GROUP BY {p}tb.doc_id
    )"""


@query(
    "sample_dsir",
    oracle=f"""
    WITH {_dsir_ctes()}
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(s // n_tokens AS BIGINT) AS dsir_score
    FROM scored
    WHERE ((doc_id % 1000003) * 2654435761 + 12345) % 1000000007 % {_DSIR_S}
          * 4 < s // n_tokens
    ORDER BY doc_id
    """,
    doc=(
        "DSIR-style importance resampling (Xie et al. 2023, 'Data "
        "Selection for Language Models via Importance Resampling'): "
        "estimate target (lang='en') and raw unigram distributions "
        "over a hashed feature space of B=256 buckets (the portable "
        "md5-fold digest, so the oracle reproduces buckets exactly), "
        "weight each bucket by the add-one-smoothed likelihood ratio "
        "in fixed-point integer arithmetic (DECIMAL(38) intermediates "
        "- no float drift between engines), score each document by "
        "its per-token mean ratio, and resample with acceptance "
        "probability proportional to the score via the same "
        "multiplicative integer hash as sample_importance. The "
        "canonical paper uses log-ratio sums; the ratio-mean here is "
        "the integer-exact twin (same target-skewed selection, "
        "oracle-verifiable bit-for-bit) - swap the bucket weights to "
        "floor(S*log ratio) at deployment if log-space is wanted. "
        "Plan: the two passes DSIR inherently needs and nothing more - "
        "token scan #1 collapses map-side into the 256-row bucket "
        "census (totals via a global window over the census, NOT a "
        "separate agg branch, so the scan is not recomputed), the "
        "weights re-join token scan #2 as a broadcast, one doc_id "
        "shuffle for the per-doc sum. The importance model itself "
        "never leaves 256 rows, so the whole thing holds at 100 TB; "
        "persisting per-(doc,bucket) counts would make it single-scan "
        "at the cost of caching a docs-by-256 frame."
    ),
)
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return dsir_resample(docs)


def dsir_score_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, dsir_score) over ``docs`` — the reusable
    scoring core of sample_dsir (census, fixed-point weights, per-doc
    mean), shared with the composed curation pipeline."""
    tb = _dsir_tokens(docs)
    stats = _dsir_stats(tb)
    # totals as a global window over the 256-row census — keeps the
    # whole importance model inside ONE branch of the plan (a separate
    # agg branch would recompute the token scan a third time)
    everything = Window.partitionBy()
    w = (
        stats.withColumn("r_tot", F.sum("r_b").over(everything))
        .withColumn("t_tot", F.sum("t_b").over(everything))
        .select(
            "bucket",
            F.expr(
                f"CAST((CAST(t_b + 1 AS DECIMAL(38,0)) * (r_tot + {_DSIR_B})"
                f" * {_DSIR_S}) DIV (CAST(r_b + 1 AS DECIMAL(38,0))"
                f" * (t_tot + {_DSIR_B})) AS BIGINT)"
            ).alias("w_b"),
        )
    )
    scored = (
        tb.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("w_b").alias("s"),
        )
    )
    return scored.select(
        "doc_id", "n_tokens", F.expr("s DIV n_tokens").alias("dsir_score")
    )


def dsir_resample(docs: DataFrame) -> DataFrame:
    """sample_dsir's full semantics over an arbitrary docs frame:
    score then keep with acceptance probability proportional to the
    per-token mean ratio via the shared integer hash."""
    return dsir_score_frame(docs).where(
        F.expr(
            f"((doc_id % 1000003) * 2654435761 + 12345) % 1000000007"
            f" % {_DSIR_S} * 4 < dsir_score"
        )
    )


@query(
    "text_compression_ratio",
    oracle=None,  # no SQL engine exposes zlib; pinned instead by an
    # in-process golden test (tests/test_plans.py) that recompresses
    # every sf0.001 document with the same zlib level and compares
    # exactly — DEFLATE output is deterministic for a fixed
    # level/strategy/library
    doc=(
        "Compression-ratio quality signal (Gopher/RefinedWeb family: "
        "text that compresses too well is repetitive boilerplate, "
        "text that barely compresses is noise/binary): zlib level-6 "
        "DEFLATE over each document's UTF-8 bytes in an Arrow-batched "
        "mapInPandas (stdlib zlib, no per-row Python path), emitting "
        "raw/compressed byte counts and the integer basis-point "
        "ratio. Rows-only in the driver gate (no SQL oracle can run "
        "DEFLATE); the golden test pins the exact integers. Plan: "
        "pure map over the corpus scan — zero shuffles, trivially "
        "100 TB-scalable; at cluster scale this is the same shape as "
        "the multimodal decode stage."
    ),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_raw", IntegerType()),
            StructField("n_zlib", IntegerType()),
            StructField("ratio_bp", LongType()),
        ]
    )

    def comp(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            n_raw = [len(b) for b in raw]
            n_zlib = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_raw": n_raw,
                    "n_zlib": n_zlib,
                    "ratio_bp": [
                        (z * 10000) // r if r else 0
                        for z, r in zip(n_zlib, n_raw)
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(comp, schema)


# Materialized multi-statement form (round-12 verdict #1): the old
# single recursive-CTE formulation spilled past the sandbox disk at
# sf1 because DuckDB inlines the walk/cluster CTEs once per consumer;
# each stage is now CREATEd once and the CC recursion is the bounded
# propagate/jump loop from _cc_label_stmts (loud non-convergence check
# included). Result = the final SELECT, same columns as before.
_PIPE2_ORACLE = f"""
    CREATE OR REPLACE TEMP TABLE pipe2_s1 AS
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
               AS fp
      FROM documents
    )
    SELECT doc_id, lang, text FROM (
      SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
      FROM fp
    ) WHERE rk = 1;
    CREATE OR REPLACE TEMP TABLE pipe2_pairs AS
    WITH {_jaccard_pairs_ctes("pipe2_s1", "j")}
    SELECT doc1, doc2 FROM jpairs;
    CREATE OR REPLACE TEMP TABLE pipe2_edges AS
    SELECT doc1 AS a, doc2 AS b FROM pipe2_pairs
    UNION ALL
    SELECT doc2, doc1 FROM pipe2_pairs;
    {_cc_label_stmts("pipe2_", "SELECT doc_id FROM pipe2_s1")};
    CREATE OR REPLACE TEMP TABLE pipe2_s3 AS
    WITH q AS (
      SELECT doc_id,
             CAST(5000 * least(n, 50) // 50
                  + (3000 * d) // n
                  + (2000 * least(n, 10 * sw)) // n AS BIGINT) AS quality_bp
      FROM (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n,
               CAST(len(list_distinct(
                 regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) AS d,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> lower(x) IN ({_SW_LIST}))) AS BIGINT) AS sw
        FROM pipe2_s1
      ) t
    ),
    s2 AS (
      SELECT doc_id, lang, text, quality_bp FROM (
        SELECT s1.doc_id, s1.lang, s1.text, q.quality_bp,
               row_number() OVER (PARTITION BY c.comp
                 ORDER BY q.quality_bp DESC, s1.doc_id) AS rk
        FROM pipe2_lab c
        JOIN q ON q.doc_id = c.node
        JOIN pipe2_s1 s1 ON s1.doc_id = c.node
      ) t WHERE rk = 1
    )
    SELECT doc_id, lang, text, quality_bp FROM s2
    WHERE quality_bp >= 6000;
    WITH {_dsir_ctes("pipe2_s3", "d")}
    SELECT s3.doc_id, s3.lang, s3.quality_bp,
           CAST(s // n_tokens AS BIGINT) AS dsir_score
    FROM dscored JOIN pipe2_s3 s3 ON s3.doc_id = dscored.doc_id
    WHERE ((dscored.doc_id % 1000003) * 2654435761 + 12345) % 1000000007
          % {_DSIR_S} * 4 < s // n_tokens
    ORDER BY s3.doc_id
    """


@query(
    "pipeline_corpus_curation_v2",
    oracle=_PIPE2_ORACLE,
    doc=(
        "The FULL modern curation pipeline as one composed query - "
        "the v2 of pipeline_corpus_curation with the round-8 stages "
        "in their production order: exact-dedup keep-first "
        "(fingerprint row_number) -> near-dup clustering with "
        "keep-BEST resolution (Jaccard>=0.3 pairs -> connected "
        "components -> highest-quality keeper) -> Gopher-style "
        "integer quality gate >= 6000 -> DSIR importance resampling "
        "over the SURVIVORS (the census is re-estimated on the "
        "cleaned corpus, as the paper prescribes - filtering first "
        "changes the raw distribution). Every stage is a verified "
        "standalone query and the oracle is assembled from the same "
        "parameterized CTE generators the standalone oracles use, so "
        "the composition is oracle-exact end to end. Plan: the "
        "fingerprint shuffle, the posting-list pair stage, O(log^2 n) "
        "label-propagation rounds, one quality projection, and the "
        "two DSIR passes - each scale-audited under its own entry in "
        "SCALING.md."
    ),
)
def pipeline_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .datapipe import quality_bp_frame

    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    fp = docs.select(
        "doc_id", "lang", "text", text.fingerprint("text").alias("fp")
    )
    s1 = (
        fp.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .where(F.col("rk") == 1)
        .drop("rk", "fp")
    )
    quality = quality_bp_frame(s1).select("doc_id", "quality_bp")
    edges = dedup.jaccard_pairs(
        s1, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )
    labels = graph.connected_components(
        edges, "doc1", "doc2", nodes=s1.select("doc_id")
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    s2 = (
        labels.join(quality, "doc_id")
        .join(s1, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("quality_bp"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rk") == 1)
    )
    s3 = s2.where(F.col("quality_bp") >= 6000).select(
        "doc_id", "lang", "text", "quality_bp"
    )
    scored = dsir_score_frame(s3)
    return (
        scored.join(s3.select("doc_id", "lang", "quality_bp"), "doc_id")
        .where(
            F.expr(
                f"((doc_id % 1000003) * 2654435761 + 12345) % 1000000007"
                f" % {_DSIR_S} * 4 < dsir_score"
            )
        )
        .select("doc_id", "lang", "quality_bp", "dsir_score")
    )


@query(
    "mine_hard_negatives",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTES},
    nd AS (
      SELECT doc1 AS a, doc2 AS b FROM pairs
      UNION ALL
      SELECT doc2, doc1 FROM pairs
    ), q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), cand AS (
      SELECT query_id, neighbor_id, cosine_sim FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))), 6)
                 AS cosine_sim,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))), 6)
                   DESC, e.vec_id) AS rk1
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
      ) WHERE rk1 <= 20
    ), filt AS (
      SELECT c.query_id, c.neighbor_id, c.cosine_sim
      FROM cand c LEFT JOIN nd
        ON nd.a = c.query_id AND nd.b = c.neighbor_id
      WHERE nd.a IS NULL
    )
    SELECT query_id, rk, neighbor_id, cosine_sim FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS INT) AS rk
      FROM filt
    ) WHERE rk <= 5
    ORDER BY query_id, rk
    """,
    doc=(
        "Hard-negative mining for contrastive embedding training: for "
        "each query, the most semantically similar corpus items "
        "(brute-force rounded-cosine top-20, the verified ANN "
        "machinery) MINUS actual near-duplicates (Jaccard>=0.3 pairs "
        "with the oracle-mirrored posting cap, both orientations) - "
        "close-but-not-the-same examples, re-ranked to the top 5. "
        "This is the pair-mining step of contrastive pretraining "
        "(e.g. SimCSE/E5-style): negatives must be hard (similar) "
        "but clean (not dups, which would be false negatives). "
        "Composition of two verified stages + one anti-join; the "
        "near-dup side is exactly the dedup index a curation "
        "pipeline already maintains - holds at 100 TB."
    ),
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    cand = similarity.brute_force_top_k(
        emb, emb.where(F.col("vec_id") < 5), k=20, round_to=6
    ).select("query_id", "neighbor_id", "cosine_sim")
    nd = dedup.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )
    ndd = nd.select(F.col("doc1").alias("a"), F.col("doc2").alias("b")).union(
        nd.select(F.col("doc2").alias("a"), F.col("doc1").alias("b"))
    )
    filt = cand.join(
        ndd,
        (cand["query_id"] == ndd["a"]) & (cand["neighbor_id"] == ndd["b"]),
        "left_anti",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        filt.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 5)
        .select("query_id", "rk", "neighbor_id", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Trained quality classifier (perceptron over hashed bag-of-words) — the
# discriminative complement to sample_dsir's generative importance weights:
# GPT-3 (Brown et al. 2020 §A) and CCNet filter CommonCrawl with a linear
# classifier over hashed token features; fastText (Joulin et al. 2016) is
# the canonical architecture. The perceptron variant keeps every update in
# INTEGER arithmetic (no sigmoid/exp), so training is bit-for-bit
# reproducible in the DuckDB oracle with the epochs unrolled as CTEs —
# same pattern as the embedding_kmeans Lloyd-iteration oracle.
_PCT_EPOCHS = 3


def _pct_feats(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket, x, y) — hashed bag-of-words counts per
    document over the shared 256-bucket md5-fold feature space, with
    the ±1 target label (lang='en' is the positive class, matching
    sample_dsir's target distribution)."""
    return (
        _dsir_tokens(docs)
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .withColumn(
            "y", F.when(F.col("lang") == "en", 1).otherwise(-1).cast("long")
        )
    )


def _pct_epoch(feats: DataFrame, w: list[int], b: int) -> tuple[list[int], int]:
    """One full-batch perceptron epoch: margin per doc via a window
    over the cached features (ONE doc_id shuffle), then the gradient
    collapses map-side into ≤256 (bucket, g, yb) rows — the only rows
    that ever reach the driver, the same bounded-collect contract as
    kmeans_update. The bias term rides along by tagging each
    misclassified doc's first feature row (row_number within the same
    window partitioning, so no extra exchange)."""
    wdoc = Window.partitionBy("doc_id")
    rn = F.row_number().over(wdoc.orderBy("bucket"))
    if not any(w) and b == 0:
        # epoch from the zero model: every margin is 0, so every doc is
        # misclassified by definition — the oracle special-cases this
        # epoch as the plain label-weighted sum (w1/b1 CTEs), and so do
        # we: no per-row weight lookup, no margin window, no filter.
        mis = feats.withColumn("rn", rn)
    else:
        warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
        dot = F.sum(
            F.element_at(warr, (F.col("bucket") + 1).cast("int")) * F.col("x")
        ).over(wdoc)
        mis = (
            feats.withColumn("dot", dot)
            .withColumn("rn", rn)
            .where(F.col("y") * (F.lit(int(b)) + F.col("dot")) <= 0)
        )
    rows = (
        mis.groupBy("bucket")
        .agg(
            F.sum(F.col("y") * F.col("x")).alias("g"),
            F.sum(
                F.col("y") * F.when(F.col("rn") == 1, 1).otherwise(0)
            ).alias("yb"),
        )
        .collect()
    )
    g = {int(r["bucket"]): int(r["g"]) for r in rows}
    return (
        [w[i] + g.get(i, 0) for i in range(_DSIR_B)],
        b + sum(int(r["yb"]) for r in rows),
    )


def _pct_feats_cached(docs: DataFrame) -> DataFrame:
    """The compact hashed-features frame, persisted in the layout the
    epoch windows need: partitioned by doc_id and sorted by
    (doc_id, bucket). The cached InMemoryRelation then *carries* that
    partitioning/ordering, so each epoch's two doc_id windows run with
    NO exchange and NO sort (measured r13: the per-epoch job drops
    from exchange+2 sorts+window to a single cache-scan stage), and
    the serve pass's groupBy(doc_id, lang) clusters on a superset of
    doc_id, so it skips its exchange too. One extra doc_id exchange at
    persist time buys 2 fewer per-job passes x (epochs + 1) jobs."""
    return (
        _pct_feats(docs)
        .repartition("doc_id")
        .sortWithinPartitions("doc_id", "bucket")
        .persist()
    )


def pct_train(
    docs: DataFrame, feats: DataFrame | None = None
) -> tuple[list[int], int]:
    """Train the hashed-feature perceptron for _PCT_EPOCHS full-batch
    epochs and return (weights, bias) as plain Python ints — a frozen
    model the streaming twin can embed as a literal. The compact
    hashed-features frame (≤256 rows per doc, no text) is persisted so
    each epoch re-reads the projection, not the raw corpus — at 100 TB
    that persist is the difference between E and 1 corpus scans. Pass
    ``feats`` (from :func:`_pct_feats_cached`) to share the persisted
    projection with the caller's serve pass."""
    if feats is None:
        feats = _pct_feats_cached(docs)
    w, b = [0] * _DSIR_B, 0
    for _ in range(_PCT_EPOCHS):
        w, b = _pct_epoch(feats, w, b)
    return w, b


def _pct_oracle() -> str:
    sql = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ), tb AS (
      SELECT doc_id, lang,
             list_reduce(list_transform(generate_series(1, 15),
               i -> strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1),
               (a, b) -> a * 16 + b) % {_DSIR_B} AS bucket
      FROM toks
    ), feats AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             bucket, count(*) AS x
      FROM tb GROUP BY doc_id, lang, bucket
    ),
    -- epoch 1 from w=0, b=0: margin is 0 for every doc, so every doc
    -- is misclassified and the update is the full label-weighted sum
    w1 AS (
      SELECT bucket, sum(y * x) AS w FROM feats GROUP BY bucket
    ), b1 AS (
      SELECT COALESCE(sum(y), 0) AS b
      FROM (SELECT DISTINCT doc_id, y FROM feats) d
    )"""
    for e in range(2, _PCT_EPOCHS + 1):
        p = e - 1
        sql += f""", m{e} AS (
      SELECT f.doc_id, f.y,
             (SELECT b FROM b{p}) + sum(w{p}.w * f.x) AS dot
      FROM feats f JOIN w{p} USING (bucket)
      GROUP BY f.doc_id, f.y
    ), mis{e} AS (
      SELECT doc_id, y FROM m{e} WHERE y * dot <= 0
    ), w{e} AS (
      SELECT w{p}.bucket, w{p}.w + COALESCE(g.g, 0) AS w
      FROM w{p} LEFT JOIN (
        SELECT f.bucket, sum(f.y * f.x) AS g
        FROM feats f JOIN mis{e} USING (doc_id) GROUP BY f.bucket
      ) g USING (bucket)
    ), b{e} AS (
      SELECT (SELECT b FROM b{p}) + COALESCE(sum(y), 0) AS b FROM mis{e}
    )"""
    ep = _PCT_EPOCHS
    sql += f"""
    SELECT f.doc_id, f.lang,
           CAST((SELECT b FROM b{ep}) + sum(w{ep}.w * f.x) AS BIGINT)
             AS clf_score,
           CAST(CASE WHEN (SELECT b FROM b{ep}) + sum(w{ep}.w * f.x) > 0
                THEN 1 ELSE 0 END AS INT) AS pred_en
    FROM feats f JOIN w{ep} USING (bucket)
    GROUP BY f.doc_id, f.lang
    ORDER BY doc_id
    """
    return sql


@query(
    "quality_perceptron",
    oracle=_pct_oracle(),
    bench=True,
    doc=(
        "Trained quality-classifier filtering - the GPT-3/CCNet "
        "pipeline stage (Brown et al. 2020 SA: a linear classifier "
        "over hashed token features scores every CommonCrawl page; "
        "fastText, Joulin et al. 2016, is the canonical model): a "
        "full-batch perceptron over the shared 256-bucket hashed "
        "bag-of-words, target class lang='en', trained for 3 epochs "
        "and then scoring every document in one pass. The perceptron "
        "keeps training in pure INTEGER arithmetic (no sigmoid), so "
        "the DuckDB oracle replays the whole training run bit-for-bit "
        "with the epochs unrolled as CTEs - the same oracle pattern "
        "as embedding_kmeans. Plan: the hashed-features projection "
        "(<=256 rows/doc, no text) is persisted once; each epoch is "
        "ONE doc_id-window shuffle whose gradient collapses map-side "
        "to <=256 rows before reaching the driver (bounded-collect "
        "contract); the model is 256 longs + a bias regardless of "
        "corpus size, so training cost is E compact scans and the "
        "serve pass is a broadcast of a 256-element literal - holds "
        "at 100 TB. streaming_quality_perceptron serves the SAME "
        "frozen model over the live feed."
    ),
)
def quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    feats = _pct_feats_cached(docs)
    w, b = pct_train(docs, feats=feats)
    warr = F.array(*[F.lit(int(v)).cast("long") for v in w])
    score = F.lit(int(b)).cast("long") + F.sum(
        F.element_at(warr, (F.col("bucket") + 1).cast("int")) * F.col("x")
    )
    return (
        feats.groupBy("doc_id", "lang")
        .agg(score.alias("clf_score"))
        .select(
            "doc_id",
            "lang",
            "clf_score",
            F.when(F.col("clf_score") > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("pred_en"),
        )
    )


# shared CTE prefix: domain census -> waterfill breakpoint -> cap
# (mix_waterfill_budget reports it; streaming_mix_waterfill serves it)
_WATERFILL_CTES = """
    WITH t AS (
      SELECT lang,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
               AS BIGINT) AS toks
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT sum(toks) AS total, count(*) AS n FROM t
    ), b AS (
      SELECT CAST(total * 8 // 10 AS BIGINT) AS budget, n FROM tot
    ), s AS (
      SELECT lang, toks,
             row_number() OVER (ORDER BY toks, lang) AS rk,
             CAST(coalesce(sum(toks) OVER (
               ORDER BY toks, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pfx
      FROM t
    ), reach AS (
      SELECT s.rk, s.pfx FROM s CROSS JOIN b
      WHERE s.pfx + (b.n - s.rk + 1) * s.toks >= b.budget
      ORDER BY s.rk LIMIT 1
    ), cap AS (
      SELECT CAST((b.budget - r.pfx) // (b.n - r.rk + 1) AS BIGINT) AS cap
      FROM reach r CROSS JOIN b
    )"""


def waterfill_rates(docs: DataFrame) -> DataFrame:
    """(lang, toks, cap, kept_tokens, keep_rate_bp) — the waterfill
    census frame shared by the batch report and the streaming serve
    twin. See mix_waterfill_budget for the algorithm contract."""
    t = (
        docs.select("lang", F.size(text.tokens("text")).cast("long").alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("toks"))
    )
    tot = t.agg(
        F.sum("toks").alias("total"), F.count(F.lit(1)).alias("n")
    ).select(F.expr("CAST(total * 8 DIV 10 AS BIGINT)").alias("budget"), "n")
    wo = Window.orderBy("toks", "lang")
    s = (
        t.crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(wo))
        .withColumn(
            "pfx",
            F.coalesce(
                F.sum("toks").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
    )
    reach = (
        s.where(F.expr("pfx + (n - rk + 1) * toks >= budget"))
        .orderBy("rk")
        .limit(1)
        .select(F.expr("CAST((budget - pfx) DIV (n - rk + 1) AS BIGINT)").alias("cap"))
    )
    return (
        s.crossJoin(F.broadcast(reach))
        .select(
            "lang",
            "toks",
            "cap",
            F.least("toks", "cap").alias("kept_tokens"),
            F.expr(
                "CAST(least(toks, cap) * 10000 DIV toks AS BIGINT)"
            ).alias("keep_rate_bp"),
        )
    )


@query(
    "mix_waterfill_budget",
    oracle=_WATERFILL_CTES
    + """
    SELECT s.lang, s.toks, c.cap,
           least(s.toks, c.cap) AS kept_tokens,
           CAST(least(s.toks, c.cap) * 10000 // s.toks AS BIGINT)
             AS keep_rate_bp
    FROM s CROSS JOIN cap c
    ORDER BY s.lang
    """,
    doc=(
        "token-budget waterfilling across domains - how mixture "
        "builders (Pile/Dolma-style) allocate a fixed training budget "
        "over unequal domains: find the water level C such that "
        "sum(min(tokens_d, C)) = budget (here 80% of the corpus), so "
        "small domains keep everything and oversized ones cap at C. "
        "Solved EXACTLY in one pass over the domain census via prefix "
        "sums: rank domains ascending, the first rank where "
        "pfx + (n-rk+1)*toks >= budget pins the breakpoint segment, "
        "C = (budget - pfx) DIV remaining - all integer, bit-stable. "
        "The window runs over the DOMAIN census (rows = #domains, "
        "bounded by the catalog, never by corpus volume); the census "
        "itself is one partial-agg shuffle of the scan; budget, "
        "breakpoint, and C are 1-row broadcasts. The last ascending "
        "domain always satisfies the reach predicate when budget <= "
        "total, so the breakpoint row provably exists."
    ),
)
def mix_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return waterfill_rates(docs)


_LANGS = ["de", "en", "es", "fr", "zh"]


@query(
    "mix_temperature_langs",
    oracle=f"""
    WITH stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS total,
             {", ".join(
                 f"CAST(sum(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS DOUBLE)"
                 f" AS c_{l}" for l in _LANGS)}
      FROM documents
    ), r AS (
      SELECT d.doc_id, d.lang,
             (((d.doc_id % 1000003) * 2654435761 + 12345) % 1000000007)
               % 1000000 AS bucket,
             least(1.0,
                   0.6 * s.total
                     * (CASE d.lang {" ".join(
                           f"WHEN '{l}' THEN sqrt(s.c_{l})" for l in _LANGS)} END)
                     / ({" + ".join(f"sqrt(s.c_{l})" for l in _LANGS)})
                     / (CASE d.lang {" ".join(
                           f"WHEN '{l}' THEN s.c_{l}" for l in _LANGS)} END)
             ) AS rate
      FROM documents d CROSS JOIN stats s
    )
    SELECT doc_id, lang, round(rate, 6) AS keep_rate
    FROM r
    WHERE bucket < floor(rate * 1000000)
    ORDER BY doc_id
    """,
    doc=(
        "temperature-based language mixing (T=2 exponent smoothing, "
        "XLM-R style): per-language keep rates proportional to "
        "sqrt(count)/count, normalized to keep ~60% of the corpus — "
        "upsamples tail languages, downsamples the head. The rates "
        "derive FROM the data in the same job: one scalar-agg row "
        "(conditional counts in a fixed literal order, so the "
        "normalizing sum is bit-identical across engines) broadcast "
        "back over the scan; keep decision is the shared integer "
        "hash vs floor(rate*1e6). Zero driver round-trips; at 100 TB "
        "the stats row is a partial agg + 1-row broadcast."
    ),
)
def mix_temperature_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return temperature_sample(docs, lang_counts(docs))


def lang_counts(docs: DataFrame) -> DataFrame:
    """One row: the document total and the count of each mix language."""
    return docs.agg(
        F.count(F.lit(1)).cast("double").alias("total"),
        *[
            F.sum((F.col("lang") == l).cast("int"))
            .cast("double")
            .alias(f"c_{l}")
            for l in _LANGS
        ],
    )


def temperature_sample(docs: DataFrame, stats: DataFrame) -> DataFrame:
    """The documents kept by the T=2 temperature mix over ``stats``'
    language counts, each with its keep rate."""
    joined = docs.crossJoin(F.broadcast(stats))
    # fixed literal order keeps the float fold identical to the oracle
    ssum = None
    for l in _LANGS:
        term = F.sqrt(F.col(f"c_{l}"))
        ssum = term if ssum is None else ssum + term
    sq_expr = None
    cnt_expr = None
    for l in _LANGS:
        cond = F.col("lang") == l
        s_term = F.sqrt(F.col(f"c_{l}"))
        if sq_expr is None:
            sq_expr = F.when(cond, s_term)
            cnt_expr = F.when(cond, F.col(f"c_{l}"))
        else:
            sq_expr = sq_expr.when(cond, s_term)
            cnt_expr = cnt_expr.when(cond, F.col(f"c_{l}"))
    rate = F.least(
        F.lit(1.0), F.lit(0.6) * F.col("total") * sq_expr / ssum / cnt_expr
    )
    bucket = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345) % 1000000007
    ) % 1000000
    return (
        joined.withColumn("rate", rate)
        .where(bucket < F.floor(F.col("rate") * 1000000))
        .select("doc_id", "lang", F.round("rate", 6).alias("keep_rate"))
    )


@query(
    "text_token_quantiles",
    oracle="""
    WITH s AS (
      SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
      FROM documents
    ), r AS (
      SELECT lang, n,
             row_number() OVER (PARTITION BY lang ORDER BY n, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS cnt
      FROM s
    )
    SELECT lang,
           max(CASE WHEN rk = ceil(cnt * 0.5) THEN n END) AS p50_tokens,
           max(CASE WHEN rk = ceil(cnt * 0.9) THEN n END) AS p90_tokens,
           max(CASE WHEN rk = ceil(cnt * 0.99) THEN n END) AS p99_tokens,
           max(cnt) AS n_docs
    FROM r GROUP BY lang ORDER BY lang
    """,
    doc=(
        "exact per-language token-length quantiles by rank selection "
        "(discrete quantile: value at row ceil(p*n)) — integer output, "
        "so engines agree bit-for-bit where interpolated quantiles "
        "would drift. One shuffle on lang; at 100 TB swap the exact "
        "per-group sort for approx_percentile on the same spine."
    ),
)
def text_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    s = docs.select(
        "lang", "doc_id", text.token_count("text").cast("long").alias("n")
    )
    r = s.select(
        "lang",
        "n",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("n", "doc_id"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
    )

    def _at(p: float) -> F.Column:
        return F.max(F.when(F.col("rk") == F.ceil(F.col("cnt") * p), F.col("n")))

    return (
        r.groupBy("lang")
        .agg(
            _at(0.5).alias("p50_tokens"),
            _at(0.9).alias("p90_tokens"),
            _at(0.99).alias("p99_tokens"),
            F.max("cnt").alias("n_docs"),
        )
        .orderBy("lang")
    )


@query(
    "text_bigram_topk",
    oracle="""
    WITH toks AS (
      SELECT lang, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), bg AS (
      SELECT lang,
             unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    ), c AS (
      SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2
    )
    SELECT lang, bigram, n, rk FROM (
      SELECT lang, bigram, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
      FROM c
    ) WHERE rk <= 5
    ORDER BY lang, rk
    """,
    doc=(
        "top-5 word bigrams per language: explode adjacent token "
        "pairs, partial-aggregating count, rank filter (Spark plans a "
        "WindowGroupLimit so only each partition's top rows reach the "
        "final sort). The n-gram LM / contamination-scan primitive."
    ),
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    )
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    c = (
        # explode_outer + null filter: avoids InferFiltersFromGenerate
        # re-evaluating the bigram expression below the fan-out
        # repartition (see dedup.shingle_table)
        toks.select("lang", F.explode_outer(bigrams).alias("bigram"))
        .where(F.col("bigram").isNotNull())
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    )
    return (
        c.select("lang", "bigram", "n", rk.cast("long").alias("rk"))
        .where(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


@query(
    "text_collocations",
    oracle="""
    WITH toks AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), c1 AS (
      SELECT w, count(*) AS c FROM uni GROUP BY 1
    ), nt AS (
      SELECT count(*) AS n FROM uni
    ), bg AS (
      SELECT unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> struct_pack(a := t[i], b := t[i + 1]))) AS p
      FROM toks
    ), pairs AS (
      SELECT p.a AS word1, p.b AS word2, count(*) AS c12
      FROM bg GROUP BY 1, 2
    ), scored AS (
      SELECT word1, word2, c12, ca.c AS n_w1, cb.c AS n_w2,
             CAST((CAST(c12 - 2 AS HUGEINT) * nt.n * 10000)
                  // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS pmi_fp
      FROM pairs JOIN c1 ca ON word1 = ca.w
                 JOIN c1 cb ON word2 = cb.w
                 CROSS JOIN nt
      WHERE c12 >= 3
    )
    SELECT word1, word2, c12, n_w1, n_w2, pmi_fp
    FROM scored WHERE pmi_fp > 0
    ORDER BY pmi_fp DESC, word1, word2 LIMIT 50
    """,
    doc=(
        "collocation / phrase mining (word2phrase, Mikolov et al. 2013 "
        "SB: score = (c12 - delta) * N / (c1 * c2) promotes adjacent "
        "pairs that co-occur more than chance into single phrase "
        "tokens - the standard vocabulary-prep pass before tokenizer "
        "training): discounted PMI in fixed-point (scale 1e4, "
        "delta=2, min count 3) with DECIMAL(38)/HUGEINT intermediates "
        "so the score is bit-stable at any corpus size. Plan: ONE "
        "token scan feeds both the unigram census and the adjacent-"
        "pair explode (no self-join over positions); the bigram table "
        "joins the unigram counts twice on the word keys (AQE "
        "broadcasts a small vocabulary side); N is a 1-row broadcast; "
        "the top-50 cut is TakeOrderedAndProject. At 100 TB the "
        "unigram/bigram censuses collapse map-side before their "
        "shuffles - counts, never token rows."
    ),
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nt = uni.agg(F.count(F.lit(1)).alias("n"))
    pair_arr = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    pairs = (
        toks.select(F.explode_outer(pair_arr).alias("p"))
        .where(F.col("p").isNotNull())
        .select(F.col("p.a").alias("word1"), F.col("p.b").alias("word2"))
        .groupBy("word1", "word2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= 3)
    )
    scored = (
        pairs.join(
            c1.select(F.col("w").alias("word1"), F.col("c").alias("n_w1")),
            "word1",
        )
        .join(
            c1.select(F.col("w").alias("word2"), F.col("c").alias("n_w2")),
            "word2",
        )
        .crossJoin(F.broadcast(nt))
        .select(
            "word1",
            "word2",
            "c12",
            "n_w1",
            "n_w2",
            F.expr(
                "CAST((CAST(c12 - 2 AS DECIMAL(38,0)) * n * 10000)"
                " DIV (CAST(n_w1 AS DECIMAL(38,0)) * n_w2) AS BIGINT)"
            ).alias("pmi_fp"),
        )
        .where(F.col("pmi_fp") > 0)
    )
    return scored.orderBy(F.desc("pmi_fp"), "word1", "word2").limit(50)


@query(
    "text_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), per_doc AS (
      SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct
      FROM toks
    ), bg AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    ), c AS (
      SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2
    ), agg AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n,
             CAST(sum(c) AS BIGINT) AS n_bigrams
      FROM c GROUP BY 1
    )
    SELECT p.doc_id, p.n_tokens,
           round((p.n_tokens - p.n_distinct) * 1.0 / p.n_tokens, 6)
             AS dup_token_frac,
           CASE WHEN coalesce(a.n_bigrams, 0) > 0
                THEN round(a.top_bigram_n * 1.0 / a.n_bigrams, 6) END
             AS top_bigram_frac,
           ((p.n_tokens - p.n_distinct) * 100 <= 55 * p.n_tokens
            AND coalesce(a.top_bigram_n, 0) * 1000
                <= 50 * coalesce(a.n_bigrams, 0)) AS keep
    FROM per_doc p LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """,
    doc=(
        "Gopher-style repetition quality filter (token basis): "
        "duplicate-token fraction and most-frequent-bigram fraction "
        "per document, keep/drop decided in exact integer arithmetic "
        "(dup <= 0.55, top-bigram <= 0.05). The thresholds are scaled "
        "to the synthetic corpus; real pipelines use the Gopher paper "
        "line/ngram cutoffs. Explode+partial-agg keeps the per-doc "
        "bigram histogram distributed — no per-row array folds."
    ),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # ONE tokenization and NO per-doc join: the generator emits
    # struct<bigram, n_tokens, n_distinct> with the token array bound
    # once per row (text.bind — a separate per-doc stats branch would
    # tokenize the corpus a second time and shuffle for the join).
    # Zero-token or one-token docs emit a single null-bigram row via
    # explode_outer, so every doc survives into the aggregate.
    def with_stats(t):
        bigrams = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(t, i), F.element_at(t, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        stats = lambda b: F.struct(
            b.alias("bigram"),
            F.size(t).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
        )
        return F.when(
            F.size(bigrams) > 0, F.transform(bigrams, stats)
        ).otherwise(F.array(stats(F.lit(None).cast("string"))))

    rows = docs.select(
        "doc_id",
        F.explode(
            text.bind(F.split(F.trim("text"), r"\s+"), with_stats)
        ).alias("p"),
    ).select("doc_id", "p.bigram", "p.n_tokens", "p.n_distinct")
    j = (
        rows.groupBy("doc_id", "bigram")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first("n_tokens").alias("n_tokens"),
            F.first("n_distinct").alias("n_distinct"),
        )
        .groupBy("doc_id")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.first("n_distinct").alias("n_distinct"),
            F.max(F.when(F.col("bigram").isNotNull(), F.col("c")))
            .cast("long")
            .alias("top_bigram_n"),
            F.sum(F.when(F.col("bigram").isNotNull(), F.col("c")))
            .cast("long")
            .alias("n_bigrams"),
        )
    )
    dup = F.col("n_tokens") - F.col("n_distinct")
    return (
        j.select(
            "doc_id",
            "n_tokens",
            F.round(dup.cast("double") / F.col("n_tokens"), 6).alias(
                "dup_token_frac"
            ),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.round(
                    F.col("top_bigram_n").cast("double") / F.col("n_bigrams"), 6
                ),
            ).alias("top_bigram_frac"),
            (
                (dup * 100 <= F.col("n_tokens") * 55)
                & (
                    F.coalesce("top_bigram_n", F.lit(0)) * 1000
                    <= F.coalesce("n_bigrams", F.lit(0)) * 50
                )
            ).alias("keep"),
        )
        
    )


@query(
    "decontam_ngram_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, ng FROM (
        SELECT doc_id, unnest(list_transform(
                 generate_series(1, len(t) - 2),
                 i -> array_to_string(t[i:i+2], ' '))) AS ng
        FROM toks
      )
    ), bench AS (
      SELECT DISTINCT ng FROM g WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM g JOIN bench USING (ng)
      WHERE g.doc_id % 97 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
    doc=(
        "benchmark decontamination: flag training documents sharing "
        "any word n-gram with the held-out benchmark set (docs with "
        "doc_id % 97 == 0 stand in for an eval suite). Real pipelines "
        "use 8-13-grams (GPT-3 appendix C); the tiny synthetic "
        "vocabulary makes trigrams the analog. The benchmark n-gram "
        "set is orders of magnitude smaller than the corpus, so the "
        "join is an explicit broadcast — at 100 TB the scan side "
        "never shuffles."
    ),
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    ngrams = F.when(
        F.size("t") >= 3,
        F.expr(
            "transform(sequence(1, size(t) - 2),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1),"
            " ' ', element_at(t, i + 2)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = (
        toks.select("doc_id", F.explode_outer(ngrams).alias("ng"))
        .where(F.col("ng").isNotNull())
        .distinct()
    )
    bench = g.where(F.col("doc_id") % 97 == 0).select("ng").distinct()
    hits = (
        g.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    scan = docs.select("doc_id").where(F.col("doc_id") % 97 != 0)
    n_hits = F.coalesce("n_hits", F.lit(0)).alias("n_hits")
    return (
        scan.join(hits, "doc_id", "left")
        .select("doc_id", n_hits, (F.coalesce("n_hits", F.lit(0)) >= 1).alias("contaminated"))
        
    )


@query(
    "text_lm_rank_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY 1
    ), rk AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
               AS r
      FROM vocab
    ), d AS (
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(r.r) AS BIGINT) AS rank_sum
      FROM toks t JOIN rk r USING (tok)
      GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           CAST(rank_sum * 10000 // n_tokens AS BIGINT) AS mean_rank_bp,
           rank_sum * 10000 // n_tokens > 170000 AS flag_rare_heavy
    FROM d ORDER BY doc_id
    """,
    doc=(
        "LM-style quality scoring (CCNet's 'perplexity filter' shape): "
        "score each document by the mean corpus-frequency RANK of its "
        "tokens — under Zipf, rank tracks exp(surprisal), so rare-"
        "token-heavy documents score high, like high-perplexity docs "
        "under a unigram LM. Ranks and the mean (integer basis "
        "points, DIV) are exact integers, so the score is bit-stable "
        "across engines — the deterministic stand-in for -log p "
        "scoring, whose float sums diverge by partition order. The "
        "ranked vocab broadcasts (vocabularies are MBs even at 100 TB "
        "corpus scale; if ranking itself outgrows one task, rank by "
        "(count bucket, token) ranges instead)."
    ),
)
def text_lm_rank_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode_outer(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok").isNotNull())
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    rk = vocab.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "tok"))
        .cast("long")
        .alias("r"),
    )
    d = (
        toks.join(F.broadcast(rk), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("r").cast("long").alias("rank_sum"),
        )
    )
    score = F.expr("rank_sum * 10000 DIV n_tokens")
    return d.select(
        "doc_id",
        "n_tokens",
        score.alias("mean_rank_bp"),
        (score > 170000).alias("flag_rare_heavy"),
    )


@query(
    "pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), c AS (
      SELECT lang, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) - n_tokens AS start_offset
      FROM toks
    )
    SELECT lang, doc_id, n_tokens, start_offset,
           start_offset // 512 AS pack_id,
           start_offset % 512 AS pack_offset,
           (start_offset // 512) <> ((start_offset + n_tokens - 1) // 512)
             AS straddles
    FROM c
    ORDER BY lang, doc_id
    """,
    doc=(
        "sequence packing for training (concat-and-chunk): documents "
        "are concatenated per language in doc_id order and cut into "
        "fixed 512-token packs; each document gets its pack id, offset "
        "within the pack, and a straddle flag (real loaders either "
        "split straddlers or pad). One cumulative-sum window per "
        "language partition — packing is embarrassingly parallel "
        "across shards, never a global sequence. All-integer, so "
        "bit-stable across engines."
    ),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = toks.select(
        "lang",
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(w).cast("long") - F.col("n_tokens")).alias(
            "start_offset"
        ),
    )
    pack = F.expr("start_offset DIV 512")
    end_pack = F.expr("(start_offset + n_tokens - 1) DIV 512")
    return c.select(
        "lang",
        "doc_id",
        "n_tokens",
        "start_offset",
        pack.alias("pack_id"),
        (F.col("start_offset") % 512).alias("pack_offset"),
        (pack != end_pack).alias("straddles"),
    )


@query(
    "chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), c AS (
      SELECT doc_id, i AS chunk_id, 1 + i * 24 AS chunk_start,
             least(32, len(t) - (1 + i * 24) + 1) AS n_chunk_tokens,
             array_to_string(t[1 + i * 24 : 1 + i * 24 + 31], ' ')
               AS chunk_text
      FROM toks, LATERAL unnest(generate_series(0,
             CASE WHEN len(t) <= 32 THEN 0
                  ELSE (len(t) - 32 + 23) // 24 END)) AS g(i)
    )
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_start AS INT) AS chunk_start,
           CAST(n_chunk_tokens AS INT) AS n_chunk_tokens, chunk_text
    FROM c
    ORDER BY doc_id, chunk_id
    """,
    doc=(
        "RAG-style document chunking: fixed 32-token windows with "
        "8-token overlap (stride 24), the retrieval-prep transform of "
        "an LLM data pipeline. Everything is integer arithmetic over a "
        "bind-materialized token array; one generator per doc, no "
        "joins, no shuffle before the output sort — a pure map at "
        "100 TB."
    ),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunk, stride = 32, 24
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))

    def chunker(t):
        n = F.size(t)
        # ceil((n - chunk)/stride) via floor-div on positive ints
        extra = F.floor((n - chunk + (stride - 1)) / stride).cast("int")
        n_chunks = F.when(n <= chunk, F.lit(1)).otherwise(1 + extra)
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_id"),
                (1 + i * stride).cast("int").alias("chunk_start"),
                F.least(F.lit(chunk), n - (1 + i * stride) + 1)
                .cast("int")
                .alias("n_chunk_tokens"),
                F.array_join(F.slice(t, 1 + i * stride, chunk), " ").alias(
                    "chunk_text"
                ),
            ),
        )

    return (
        docs.select(
            "doc_id",
            F.explode(
                text.bind(F.split(F.trim("text"), r"\s+"), chunker)
            ).alias("c"),
        )
        .select("doc_id", "c.*")
        
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score
      FROM tf JOIN df USING (tok)
    )
    SELECT doc_id, rk, tok, score FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
    doc=(
        "top-3 characteristic terms per document by integer-exact "
        "tf*1e6/df scoring (rank-equivalent to tf-idf for a fixed "
        "corpus: idf is monotone-decreasing in df and N is constant, "
        "and integer DIV keeps the score bit-stable across engines "
        "where log-based idf float sums would not be). The df table is "
        "vocabulary-sized (MBs even at 100 TB) and broadcasts; the "
        "corpus side never reshuffles for the join."
    ),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode_outer(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).where(F.col("tok").isNotNull())
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_t), "tok").select(
        "doc_id",
        "tok",
        F.expr("tf * 1000000 DIV df").cast("long").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "tok", "score")
        
    )


@query(
    "text_cms_heavy_hitters",
    # the sketch only affects WHICH candidates are verified exactly —
    # CMS never underestimates, so after exact verification the output
    # is precisely the bigrams with true count >= 20 (the verify-the-
    # candidates contract the MinHash-LSH oracle uses)
    oracle="""
    WITH toks AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents
    ), bg AS (
      SELECT array_to_string(t[i:i+1], ' ') AS tok
      FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    )
    SELECT tok, count(*) AS n FROM bg
    GROUP BY tok HAVING count(*) >= 20
    ORDER BY tok
    """,
    doc=(
        "count-min-sketch heavy hitters with exact verification "
        "(beyond-reference 100 TB pattern, operators/sketch.py): "
        "bigram frequencies estimated via depth=4 xxhash64 bucket "
        "aggregates (width-bounded shuffles, broadcast back), "
        "candidates = CMS estimate >= threshold (no false negatives), "
        "then ONE candidate-only exact groupBy — output exactly the "
        "bigrams with true count >= 20, all JVM expressions."
    ),
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_heavy_hitters

    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    stream = (
        toks.select(F.explode_outer(bigrams).alias("tok"))
        .where(F.col("tok").isNotNull())
    )
    return cms_heavy_hitters(
        stream, "tok", min_count=20, depth=4, width=1024
    )


@query(
    "text_token_quantiles_approx",
    oracle=None,  # GK sketch differs per engine; rank-error bound is
    # pinned by tests/test_plans.py::test_token_quantiles_approx_rank_bound
    doc=(
        "the 100 TB scale path of text_token_quantiles made real: "
        "per-language p50/p90/p99 token counts via percentile_approx "
        "(Greenwald-Khanna sketch, accuracy=10000 -> rank error "
        "<= n/10000). Mergeable partial sketches replace the exact "
        "per-group sort — one shuffle of sketch state instead of the "
        "full value stream; the exact twin stays the oracle-backed "
        "correctness anchor."
    ),
)
def text_token_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    s = docs.select(
        "lang", text.token_count("text").cast("long").alias("n")
    )
    return (
        s.groupBy("lang")
        .agg(
            F.percentile_approx(
                "n", [0.5, 0.9, 0.99], 10000
            ).alias("q"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "lang",
            F.col("q")[0].alias("p50_tokens"),
            F.col("q")[1].alias("p90_tokens"),
            F.col("q")[2].alias("p99_tokens"),
            "n_docs",
        )
    )


@query(
    "pipeline_corpus_curation",
    bench=True,
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
               AS fp
      FROM documents
    ), dedup AS (
      SELECT * FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM fp
      ) WHERE rk = 1
    ), q AS (
      SELECT doc_id, lang,
             CAST(5000 * least(n, 50) // 50
                  + (3000 * d) // n
                  + (2000 * least(n, 10 * sw)) // n AS BIGINT) AS quality_bp
      FROM (
        SELECT doc_id, lang,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n,
               CAST(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')))
                 AS BIGINT) AS d,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> lower(x) IN ({_SW_LIST}))) AS BIGINT) AS sw
        FROM dedup
      )
    )
    SELECT doc_id, lang, quality_bp
    FROM q
    WHERE quality_bp >= 6000
      AND (((doc_id % 1000003) * 2654435761 + 12345) % 1000000007) % 1000
            < CASE lang WHEN 'en' THEN 150 WHEN 'zh' THEN 400 ELSE 250 END
    ORDER BY doc_id
    """,
    doc=(
        "the end-to-end corpus-curation gate, composed from the "
        "pipeline's own verified stages: exact-dedup keep-first "
        "(fingerprint row_number, 1 shuffle), Gopher-style integer "
        "quality score >= 6000, then the deterministic per-language "
        "stratified keep (narrow hash filter). One query a reference "
        "user runs to turn a raw crawl into a training corpus; every "
        "stage shares its SQL twin with the standalone query "
        "(text_fingerprint / text_quality_score / sample_stratified) "
        "so the composition is oracle-exact end to end. At 100 TB: "
        "one fingerprint shuffle + map-side everything else."
    ),
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    fp = docs.select(
        "doc_id", "lang", "text", text.fingerprint("text").alias("fp")
    )
    dedup_keep = (
        fp.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("fp").orderBy("doc_id")
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk", "fp")
    )
    toks = dedup_keep.select(
        "doc_id", "lang", text.tokens("text").alias("toks")
    )
    sw_arr = F.array(*[F.lit(s) for s in text.STOPWORDS])
    staged = toks.select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("n"),
        F.size(F.array_distinct(F.transform("toks", lambda t: F.lower(t))))
        .cast("long")
        .alias("d"),
        F.size(F.filter("toks", lambda t: F.array_contains(sw_arr, F.lower(t))))
        .cast("long")
        .alias("sw"),
    )
    scored = staged.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(5000 * least(n, 50) div 50"
            " + (3000 * d) div n"
            " + (2000 * least(n, 10 * sw)) div n AS BIGINT)"
        ).alias("quality_bp"),
    )
    bucket = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345) % 1000000007
    ) % 1000
    rate = (
        F.when(F.col("lang") == "en", 150)
        .when(F.col("lang") == "zh", 400)
        .otherwise(250)
    )
    return scored.where(
        (F.col("quality_bp") >= 6000) & (bucket < rate)
    )


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS BIGINT) AS sum_len,
             CAST(len(list_distinct(list_transform(toks, x -> lower(x))))
                  AS BIGINT) AS n_distinct,
             CAST(len(list_distinct(list_filter(
                    list_transform(toks, x -> lower(x)),
                    x -> x IN ({_SW_LIST})))) AS BIGINT) AS n_sw_distinct
      FROM t
    ), r AS (
      SELECT doc_id, n_words,
             sum_len * 100 // n_words   AS mwl_c,
             n_distinct * 10000 // n_words AS uniq_bp,
             n_sw_distinct
      FROM m
    )
    SELECT doc_id, n_words, mwl_c, uniq_bp, n_sw_distinct,
           CAST(n_words BETWEEN 20 AND 100000 AS INT) AS r_len,
           CAST(mwl_c BETWEEN 300 AND 1000 AS INT)    AS r_mwl,
           CAST(uniq_bp >= 2000 AS INT)               AS r_uniq,
           CAST(n_sw_distinct >= 2 AS INT)            AS r_sw,
           CAST(n_words BETWEEN 20 AND 100000
                AND mwl_c BETWEEN 300 AND 1000
                AND uniq_bp >= 2000
                AND n_sw_distinct >= 2 AS INT)         AS keep
    FROM r ORDER BY doc_id
    """,
    doc=(
        "Gopher-style quality rule bundle (Rae et al. 2021, "
        "arXiv:2112.11446 §A1.1) per document, in EXACT integer "
        "arithmetic: word-count bounds, mean word length in "
        "centi-chars (sum_len*100 DIV n_words, canonical 3-10 chars), "
        "unique-word fraction in basis points, and >=2 distinct "
        "stopwords (the paper's 'stop word' rule); per-rule flags + "
        "the conjunction keep bit, so downstream mixing can weight by "
        "WHICH rule failed (the real pipeline's ablation knob). "
        "Word-count lower bound tuned to the synthetic corpus (20 vs "
        "the paper's 50), like text_repetition_filter. Pure map over "
        "one token split per row - zero shuffles, whole-stage "
        "codegen, trivially 100 TB-safe."
    ),
    bench=True,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules_frame(text.fan_out(load_table(spark, sf_dir, "documents")))


def gopher_rules_frame(docs: DataFrame) -> DataFrame:
    """The Gopher rule projection (shared by the batch query and its
    streaming twin): pure per-row math, no state, no shuffle."""
    sw_arr = F.array(*[F.lit(s) for s in text.STOPWORDS])
    staged = docs.select(
        "doc_id", text.tokens("text").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("sum_len"),
        F.size(
            F.array_distinct(F.transform("toks", lambda t: F.lower(t)))
        ).cast("long").alias("n_distinct"),
        F.size(
            F.array_distinct(
                F.filter(
                    F.transform("toks", lambda t: F.lower(t)),
                    lambda t: F.array_contains(sw_arr, t),
                )
            )
        ).cast("long").alias("n_sw_distinct"),
    )
    r = staged.select(
        "doc_id",
        "n_words",
        F.expr("sum_len * 100 DIV n_words").alias("mwl_c"),
        F.expr("n_distinct * 10000 DIV n_words").alias("uniq_bp"),
        "n_sw_distinct",
    )
    flags = {
        "r_len": "n_words BETWEEN 20 AND 100000",
        "r_mwl": "mwl_c BETWEEN 300 AND 1000",
        "r_uniq": "uniq_bp >= 2000",
        "r_sw": "n_sw_distinct >= 2",
    }
    out = r.select(
        "doc_id", "n_words", "mwl_c", "uniq_bp", "n_sw_distinct",
        *[F.expr(f"CAST({c} AS INT)").alias(n) for n, c in flags.items()],
        F.expr(
            "CAST(" + " AND ".join(flags.values()) + " AS INT)"
        ).alias("keep"),
    )
    return out


@query(
    "text_oov_rate",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            x -> lower(x)) AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tk FROM t
    ), census AS (
      SELECT tk, count(*) AS freq FROM tok GROUP BY tk
    ), vocab AS (
      SELECT tk FROM (
        SELECT tk, row_number() OVER (ORDER BY freq DESC, tk) AS rk
        FROM census
      ) WHERE rk <= 16
    ), per_doc AS (
      SELECT tok.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_oov
      FROM tok LEFT JOIN vocab v ON tok.tk = v.tk
      GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tokens, n_oov,
           n_oov * 10000 // n_tokens AS oov_bp
    FROM per_doc ORDER BY doc_id
    """,
    doc=(
        "out-of-vocabulary rate per document against the corpus's own "
        "top-16 token vocabulary (frequency desc, token asc "
        "tie-break) - the tokenizer-coverage signal a training "
        "pipeline watches when a new crawl slice arrives (rising OOV "
        "= domain shift or junk). Plan: one token-census shuffle "
        "(map-side partial agg absorbs the Zipf head), the vocabulary "
        "rank runs on the Heaps-law-bounded census (single-partition "
        "window over the census, never the corpus), and the vocab "
        "BROADCASTS back onto the exploded token stream (hash join, "
        "no shuffle) before the per-doc re-agg. At 100 TB the census "
        "is the only global structure and it is vocabulary-sized."
    ),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.explode(
            F.transform(text.tokens("text"), lambda t: F.lower(t))
        ).alias("tk"),
    )
    census = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("tk"))
    vocab = (
        census.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 16)
        .select("tk", F.lit(1).alias("__in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id", "n_tokens", "n_oov",
        F.expr("n_oov * 10000 DIV n_tokens").alias("oov_bp"),
    )


_BLOCKLIST = ("slow", "spam", "casino", "scan")
_BL_SQL = ", ".join(f"'{w}'" for w in _BLOCKLIST)


@query(
    "text_blocklist_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            x -> lower(x)) AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN ({_BL_SQL})))
                  AS BIGINT) AS n_hits,
             CAST(len(list_distinct(list_filter(toks,
                    x -> x IN ({_BL_SQL})))) AS BIGINT) AS n_terms
      FROM t
    )
    SELECT doc_id, n_hits, n_terms,
           n_hits * 10000 // n_tokens AS hit_bp,
           CAST(n_hits * 10000 // n_tokens >= 500 AS INT) AS flagged
    FROM m ORDER BY doc_id
    """,
    doc=(
        "blocklist term filter - the word-list toxicity/spam screen "
        "every corpus pipeline runs before model-based scoring: per "
        "document, total blocklist token hits, distinct terms hit, "
        "hit rate in exact integer basis points, and the flag at "
        ">=5% density (a DENSITY cut, not mere presence - one "
        "incidental term never flags a long doc). The term list "
        "ships as an array literal folded per row entirely inside "
        "whole-stage codegen: pure map, zero shuffles, zero joins - "
        "the shape that lets a 100 TB screen run at scan speed. "
        "(Terms chosen to hit the synthetic corpus; production lists "
        "plug into the same literal.)"
    ),
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    bl = F.array(*[F.lit(w) for w in _BLOCKLIST])
    staged = docs.select(
        "doc_id",
        text.bind(
            F.transform(text.tokens("text"), lambda t: F.lower(t)),
            lambda toks: F.struct(
                F.size(toks).cast("long").alias("n_tokens"),
                F.size(
                    F.filter(toks, lambda t: F.array_contains(bl, t))
                ).cast("long").alias("n_hits"),
                F.size(
                    F.array_distinct(
                        F.filter(toks, lambda t: F.array_contains(bl, t))
                    )
                ).cast("long").alias("n_terms"),
            ),
        ).alias("m"),
    )
    return staged.select(
        "doc_id",
        F.col("m.n_hits").alias("n_hits"),
        F.col("m.n_terms").alias("n_terms"),
        F.expr("m.n_hits * 10000 DIV m.n_tokens").alias("hit_bp"),
        F.expr(
            "CAST(m.n_hits * 10000 DIV m.n_tokens >= 500 AS INT)"
        ).alias("flagged"),
    )


@query(
    "corpus_source_gini",
    oracle="""
    WITH census AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
                  AS BIGINT) AS toks
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT toks, row_number() OVER (ORDER BY toks, source) AS i,
             count(*) OVER () AS n,
             sum(toks) OVER () AS total
      FROM census
    )
    SELECT CAST(max(n) AS BIGINT) AS n_sources,
           CAST(max(total) AS BIGINT) AS total_tokens,
           CAST(sum((2 * i - n - 1) * toks) * 10000
                // (max(n) * max(total)) AS BIGINT) AS gini_bp
    FROM ranked
    """,
    doc=(
        "corpus balance audit: EXACT integer Gini coefficient over "
        "per-source token counts (sum((2i-n-1)*x_i) / (n*total) on "
        "the ascending order statistics, in basis points) - the "
        "one-number imbalance signal a mixing stage watches (0 = "
        "perfectly balanced sources, ->10000 = one source dominates); "
        "the same census the waterfilling budget allocator consumes, "
        "reduced to its inequality summary. ONE corpus shuffle into "
        "the source census; the rank and the weighted sum run on the "
        "census (#sources rows). The order-statistic weight is "
        "tie-stable: equal counts permute only among equal x_i, "
        "leaving the sum unchanged."
    ),
)
def corpus_source_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return source_gini_frame(source_token_counts(docs))


def source_token_counts(docs: DataFrame) -> DataFrame:
    """Tokens per source."""
    return docs.groupBy("source").agg(
        F.sum(F.size(text.tokens("text"))).cast("long").alias("toks")
    )


def source_gini_frame(census: DataFrame) -> DataFrame:
    """The Gini coefficient (basis points) of the per-source token
    counts."""
    w = Window.orderBy("toks", "source")
    ranked = census.select(
        "toks",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("toks").over(Window.partitionBy()).alias("total"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_sources"),
        F.max("total").cast("long").alias("total_tokens"),
        F.expr(
            "CAST(sum((2 * i - n - 1) * toks) * 10000"
            " DIV (max(n) * max(total)) AS BIGINT)"
        ).alias("gini_bp"),
    )


from ..operators import langid  # noqa: E402  (model shared with oracles)

# derived-label language set for the mixing consumer below: the five
# model languages plus 'und' (docs where no profile pattern fires),
# in sorted literal order so the float fold is engine-identical
_LANGS_DERIVED = ["de", "en", "es", "fr", "und", "zh"]


@query(
    "lang_id_ngram",
    oracle=f"""
    WITH {langid.oracle_scored_cte(keep_cols="doc_id, lang")}
    SELECT doc_id, lang, pred_lang, CAST(mx AS BIGINT) AS score_bp
    FROM __lid_scored
    ORDER BY doc_id
    """,
    doc=(
        "content-based language identification (Cavnar & Trenkle 1994 "
        "n-gram profiles, the CLD/langid.py family): integer "
        "basis-point function-word scores per language via the exact "
        "length-difference occurrence count, argmax with a fixed "
        "tie-break priority, 'und' when nothing fires — the crawl-"
        "pipeline stage that DERIVES the lang column every other "
        "corpus operator consumes. Pure per-row JVM string "
        "expressions fused into the scan by codegen: no shuffle, no "
        "UDF; at 100 TB a map-only pass. Discrimination on real "
        "multilingual text is pinned by the tests/test_langid.py "
        "golden snippets (the synthetic corpus shares one English-ish "
        "vocabulary across its lang labels, so parity here checks "
        "determinism, not accuracy)."
    ),
    bench=True,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    scored = langid.with_lang_scores(docs.select("doc_id", "lang", "text"))
    return scored.select(
        "doc_id", "lang", "pred_lang", F.col("mx").alias("score_bp")
    )


@query(
    "mix_temperature_langs_derived",
    oracle=f"""
    WITH {langid.oracle_scored_cte(keep_cols="doc_id")},
    d2 AS (
      SELECT doc_id, pred_lang AS lang FROM __lid_scored
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS total,
             {", ".join(
                 f"CAST(sum(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS DOUBLE)"
                 f" AS c_{l}" for l in _LANGS_DERIVED)}
      FROM d2
    ), r AS (
      SELECT d.doc_id, d.lang,
             (((d.doc_id % 1000003) * 2654435761 + 12345) % 1000000007)
               % 1000000 AS bucket,
             least(1.0,
                   0.6 * s.total
                     * (CASE d.lang {" ".join(
                           f"WHEN '{l}' THEN sqrt(s.c_{l})"
                           for l in _LANGS_DERIVED)} END)
                     / ({" + ".join(f"sqrt(s.c_{l})" for l in _LANGS_DERIVED)})
                     / (CASE d.lang {" ".join(
                           f"WHEN '{l}' THEN s.c_{l}"
                           for l in _LANGS_DERIVED)} END)
             ) AS rate
      FROM d2 d CROSS JOIN stats s
    )
    SELECT doc_id, lang, round(rate, 6) AS keep_rate
    FROM r
    WHERE bucket < floor(rate * 1000000)
    ORDER BY doc_id
    """,
    doc=(
        "temperature mixing over DERIVED labels — mix_temperature_langs "
        "wired to the lang_id_ngram scorer instead of the pre-labeled "
        "column (round-9 verdict #3: 'wire one existing consumer'): the "
        "per-doc language is computed from text in the same job (map-"
        "only scorer fused into the scan), the per-language census and "
        "sqrt-temperature keep rates then run over the derived labels "
        "including the 'und' bucket. A row's own lang always has "
        "census count >= 1, so the rate division never sees zero; "
        "absent languages contribute sqrt(0) = 0 to the normalizer in "
        "fixed literal order, keeping the float fold engine-identical."
    ),
)
def mix_temperature_langs_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    labeled = (
        langid.with_lang_scores(docs.select("doc_id", "text"))
        .select("doc_id", F.col("pred_lang").alias("lang"))
    )
    stats = labeled.agg(
        F.count(F.lit(1)).cast("double").alias("total"),
        *[
            F.sum((F.col("lang") == l).cast("int"))
            .cast("double")
            .alias(f"c_{l}")
            for l in _LANGS_DERIVED
        ],
    )
    joined = labeled.crossJoin(F.broadcast(stats))
    ssum = None
    for l in _LANGS_DERIVED:
        term = F.sqrt(F.col(f"c_{l}"))
        ssum = term if ssum is None else ssum + term
    sq_expr = None
    cnt_expr = None
    for l in _LANGS_DERIVED:
        cond = F.col("lang") == l
        s_term = F.sqrt(F.col(f"c_{l}"))
        if sq_expr is None:
            sq_expr = F.when(cond, s_term)
            cnt_expr = F.when(cond, F.col(f"c_{l}"))
        else:
            sq_expr = sq_expr.when(cond, s_term)
            cnt_expr = cnt_expr.when(cond, F.col(f"c_{l}"))
    rate = F.least(
        F.lit(1.0), F.lit(0.6) * F.col("total") * sq_expr / ssum / cnt_expr
    )
    bucket = (
        ((F.col("doc_id") % 1000003) * 2654435761 + 12345) % 1000000007
    ) % 1000000
    return (
        joined.withColumn("rate", rate)
        .where(bucket < F.floor(F.col("rate") * 1000000))
        .select("doc_id", "lang", F.round("rate", 6).alias("keep_rate"))
    )


@query(
    "quality_repetition_rules",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      FROM documents
    ), base AS (
      SELECT doc_id, CAST(len(tk) AS BIGINT) AS n FROM t
    ), g2 AS (
      SELECT doc_id, array_to_string(tk[i : i + 1], ' ') AS gram
      FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS s(i)
      WHERE len(tk) >= 2
    ), top2 AS (
      SELECT doc_id, c AS c2 FROM (
        SELECT doc_id, count(*) AS c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, gram) AS rk
        FROM g2 GROUP BY doc_id, gram
      ) WHERE rk = 1
    ), g3 AS (
      SELECT doc_id, array_to_string(tk[i : i + 2], ' ') AS gram
      FROM t, UNNEST(generate_series(1, len(tk) - 2)) AS s(i)
      WHERE len(tk) >= 3
    ), top3 AS (
      SELECT doc_id, c AS c3 FROM (
        SELECT doc_id, count(*) AS c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY count(*) DESC, gram) AS rk
        FROM g3 GROUP BY doc_id, gram
      ) WHERE rk = 1
    ), g5 AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
             array_to_string(tk[i : i + 4], ' ') AS gram
      FROM t, UNNEST(generate_series(1, len(tk) - 4)) AS s(i)
      WHERE len(tk) >= 5
    ), d5 AS (
      SELECT doc_id, gram FROM g5
      GROUP BY doc_id, gram HAVING count(*) >= 2
    ), cov5 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS cov FROM (
        SELECT DISTINCT g.doc_id, g.p + o.o AS pos
        FROM g5 g JOIN d5 USING (doc_id, gram),
             UNNEST(generate_series(0, 4)) AS o(o)
      ) GROUP BY doc_id
    ), r AS (
      SELECT b.doc_id, b.n AS n_words,
             CAST(coalesce(t2.c2, 0) * 2 * 10000 // b.n AS BIGINT)
               AS top2_frac_bp,
             CAST(coalesce(t3.c3, 0) * 3 * 10000 // b.n AS BIGINT)
               AS top3_frac_bp,
             CAST(coalesce(c5.cov, 0) * 10000 // b.n AS BIGINT)
               AS dup5_frac_bp
      FROM base b
      LEFT JOIN top2 t2 USING (doc_id)
      LEFT JOIN top3 t3 USING (doc_id)
      LEFT JOIN cov5 c5 USING (doc_id)
    )
    SELECT doc_id, n_words, top2_frac_bp, top3_frac_bp, dup5_frac_bp,
           CAST(top2_frac_bp <= 2000 AS INT) AS r_top2,
           CAST(top3_frac_bp <= 1800 AS INT) AS r_top3,
           CAST(dup5_frac_bp <= 1500 AS INT) AS r_dup5,
           CAST(top2_frac_bp <= 2000 AND top3_frac_bp <= 1800
                AND dup5_frac_bp <= 1500 AS INT) AS keep
    FROM r ORDER BY doc_id
    """,
    doc=(
        "Gopher REPETITION rule bundle (Rae et al. 2021 arXiv:2112.11446 "
        "§A1.1, the repetition half that quality_gopher_rules leaves "
        "out): per doc, the token fraction covered by the MOST COMMON "
        "2-gram / 3-gram (occurrences x k over n, most-common ties "
        "broken lexicographically) and the fraction of token POSITIONS "
        "covered by any within-doc duplicated 5-gram (distinct-position "
        "union, so overlapping repeats never double-count) - all in "
        "exact integer basis points (DIV), thresholds 0.20/0.18/0.15 "
        "per the paper's table A1; per-rule pass flags + the keep "
        "conjunction. Plan: the tokenized frame is built once "
        "(persisted - 4 consumers), each gram family shuffles on "
        "(doc_id, gram) with map-side partial aggs, and the three "
        "per-doc summaries join back on doc_id - every key "
        "doc-bounded, no all-pairs stage, scale-safe at 100 TB."
    ),
    bench=True,
)
def quality_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # Hash each token ONCE into two independent 64-bit families and key
    # every gram family by xxhash64 over an O(k) slice of the
    # token-hash arrays — the duplicate_passages pattern: the outputs
    # expose only COUNTS (the lex tie-break on the top gram never
    # reaches the result: ties share the max count), so the gram
    # strings were built (array_join per position, ~k bytes-per-token
    # amplification) only to group on and throw away. Token-sequence
    # equality <=> gram equality (tokens are whitespace-free), the
    # (doc_id, g1, g2) shuffle keys are fixed 16+8 bytes instead of
    # 2..5-token strings, and a count-corrupting collision needs both
    # independent families to collide inside ONE document — the
    # 128-bit class. The persisted frame carries (n, h1, h2), no text.
    toked = docs.select("doc_id", text.tokens("text").alias("tok"))
    staged = toked.select(
        "doc_id",
        F.size("tok").alias("n"),
        F.transform("tok", lambda x: F.xxhash64(x)).alias("h1"),
        F.transform("tok", lambda x: F.xxhash64(F.lit("qr2"), x)).alias(
            "h2"
        ),
    ).persist()

    def gram_keys(k: int):
        return F.when(
            F.col("n") >= k,
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (k - 1)),
                lambda i: F.struct(
                    F.xxhash64(F.slice("h1", i, k)).alias("g1"),
                    F.xxhash64(F.slice("h2", i, k)).alias("g2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<g1:bigint,g2:bigint>>"))

    def top_count(k: int, alias: str) -> DataFrame:
        return (
            staged.select("doc_id", F.explode(gram_keys(k)).alias("g"))
            .groupBy("doc_id", "g.g1", "g.g2")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(F.max("c").alias(alias))
        )

    g5 = staged.select(
        "doc_id", F.posexplode(gram_keys(5)).alias("p", "g")
    )
    cov5 = (
        g5.groupBy("doc_id", "g.g1", "g.g2")
        .agg(F.count(F.lit(1)).alias("c"), F.collect_list("p").alias("ps"))
        .where(F.col("c") >= 2)
        .select("doc_id", F.explode("ps").alias("p"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cov"))
    )

    base = staged.select("doc_id", F.col("n").cast("long").alias("n"))
    r = (
        base.join(top_count(2, "c2"), "doc_id", "left")
        .join(top_count(3, "c3"), "doc_id", "left")
        .join(cov5, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").alias("n_words"),
            F.expr(
                "CAST(coalesce(c2, 0) * 2 * 10000 DIV n AS BIGINT)"
            ).alias("top2_frac_bp"),
            F.expr(
                "CAST(coalesce(c3, 0) * 3 * 10000 DIV n AS BIGINT)"
            ).alias("top3_frac_bp"),
            F.expr(
                "CAST(coalesce(cov, 0) * 10000 DIV n AS BIGINT)"
            ).alias("dup5_frac_bp"),
        )
    )
    flags = {
        "r_top2": "top2_frac_bp <= 2000",
        "r_top3": "top3_frac_bp <= 1800",
        "r_dup5": "dup5_frac_bp <= 1500",
    }
    return r.select(
        "doc_id", "n_words", "top2_frac_bp", "top3_frac_bp", "dup5_frac_bp",
        *[F.expr(f"CAST({c} AS INT)").alias(n) for n, c in flags.items()],
        F.expr(
            "CAST(" + " AND ".join(flags.values()) + " AS INT)"
        ).alias("keep"),
    )


def repetition_rules_stateless(docs: DataFrame) -> DataFrame:
    """Per-row fold variant of quality_repetition_rules for the
    streaming twin: every statistic (most-common 2/3-gram count,
    duplicated-5-gram position coverage) computed INSIDE one row by
    higher-order array folds — no shuffle, no keyed state, append mode.

    Only the top-gram COUNT is needed (fractions never expose the gram
    itself), so the batch plan's lexicographic tie-break has no
    stateless counterpart to replicate. Per-row cost is
    O(distinct-grams x n) inside codegen — the right trade when doc
    length is policy-bounded (the Gopher pipeline itself caps docs at
    100k words); the batch query's (doc_id, gram) shuffle plan remains
    the robust path for unbounded documents. Every gram array is
    routed through text.bind, so it is evaluated once per row, not
    once per lambda reference."""
    from ..operators.text import bind

    def with_toks(toks):
        n = F.size(toks)

        def gram_arr(k: int):
            return F.when(
                n >= k,
                F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.array_join(F.slice(toks, i, k), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))

        def top_cnt(k: int):
            return bind(
                gram_arr(k),
                lambda g: F.coalesce(
                    F.array_max(
                        F.transform(
                            F.array_distinct(g),
                            lambda d: F.size(F.filter(g, lambda x: x == d)),
                        )
                    ),
                    F.lit(0),
                ),
            )

        cov = F.when(
            n >= 5,
            bind(
                gram_arr(5),
                lambda g5: bind(
                    F.transform(
                        g5,
                        lambda g: F.size(F.filter(g5, lambda x: x == g)) >= 2,
                    ),
                    lambda ds: F.size(
                        F.filter(
                            F.sequence(F.lit(0), n - 1),
                            lambda p: F.exists(
                                F.sequence(
                                    F.greatest(p - 4, F.lit(0)),
                                    F.least(p, F.size(g5) - 1),
                                ),
                                lambda i: F.element_at(ds, i + 1),
                            ),
                        )
                    ),
                ),
            ),
        ).otherwise(F.lit(0))
        return F.struct(
            n.cast("long").alias("n"),
            top_cnt(2).cast("long").alias("c2"),
            top_cnt(3).cast("long").alias("c3"),
            cov.cast("long").alias("cov"),
        )

    staged = docs.select(
        "doc_id", bind(text.tokens("text"), with_toks).alias("m")
    )
    r = staged.select(
        "doc_id",
        F.col("m.n").alias("n_words"),
        F.expr("CAST(m.c2 * 2 * 10000 DIV m.n AS BIGINT)").alias(
            "top2_frac_bp"
        ),
        F.expr("CAST(m.c3 * 3 * 10000 DIV m.n AS BIGINT)").alias(
            "top3_frac_bp"
        ),
        F.expr("CAST(m.cov * 10000 DIV m.n AS BIGINT)").alias(
            "dup5_frac_bp"
        ),
    )
    flags = {
        "r_top2": "top2_frac_bp <= 2000",
        "r_top3": "top3_frac_bp <= 1800",
        "r_dup5": "dup5_frac_bp <= 1500",
    }
    return r.select(
        "doc_id", "n_words", "top2_frac_bp", "top3_frac_bp", "dup5_frac_bp",
        *[F.expr(f"CAST({c} AS INT)").alias(nm) for nm, c in flags.items()],
        F.expr(
            "CAST(" + " AND ".join(flags.values()) + " AS INT)"
        ).alias("keep"),
    )


# the CDC chunk construction, shared by chunk_cdc (per-chunk listing)
# and dedup_chunk_level (the storage-savings summary over the census)
_CDC_CHUNK_CTES = """toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ), cuts AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) >= 4 THEN
               list_filter(generate_series(3, len(t) - 1), i ->
                 list_reduce(list_transform(generate_series(1, 15),
                   j -> strpos('0123456789abcdef',
                          substr(md5(array_to_string(t[i-2:i], ' ')),
                                 j, 1)) - 1),
                   (a, b) -> a * 16 + b) % 16 = 0)
             ELSE CAST([] AS BIGINT[]) END AS cut_pos
      FROM toks
    ), bounds AS (
      SELECT doc_id, t,
             [1] || list_transform(cut_pos, c -> c + 1) AS starts,
             cut_pos || [n] AS ends
      FROM cuts
    ), chunks AS (
      SELECT doc_id,
             CAST(j - 1 AS INT) AS chunk_id,
             CAST(starts[j] AS INT) AS chunk_start,
             CAST(ends[j] - starts[j] + 1 AS INT) AS n_chunk_tokens,
             CAST(list_reduce(list_transform(generate_series(1, 15),
               k -> strpos('0123456789abcdef',
                      substr(md5(array_to_string(t[starts[j]:ends[j]], ' ')),
                             k, 1)) - 1),
               (a, b) -> a * 16 + b) AS BIGINT) AS chunk_hash
      FROM bounds, LATERAL unnest(generate_series(1, len(starts))) AS g(j)
    )"""


@query(
    "chunk_cdc",
    oracle=f"""
    WITH {_CDC_CHUNK_CTES}, freq AS (
      SELECT chunk_hash, CAST(count(*) AS BIGINT) AS corpus_freq
      FROM chunks GROUP BY 1
    )
    SELECT c.doc_id, c.chunk_id, c.chunk_start, c.n_chunk_tokens,
           c.chunk_hash, f.corpus_freq
    FROM chunks c JOIN freq f USING (chunk_hash)
    ORDER BY c.doc_id, c.chunk_id
    """,
    doc=(
        "content-defined chunking (FastCDC/rolling-hash family, "
        "window = 3 tokens, expected chunk 16): the storage/dedup "
        "chunking that fixed-stride chunk_documents can never give - "
        "a boundary is declared wherever the 3-token window's "
        "portable md5-fold digest is 0 mod 16, so boundaries depend "
        "only on LOCAL content and an insertion early in a document "
        "shifts no later chunk (fixed-stride re-cuts everything after "
        "the edit; CDC re-cuts one chunk). Each chunk carries its "
        "60-bit content hash and the corpus-wide occurrence count of "
        "that hash - identical passages land in identical chunks at "
        "ANY offset, which is exactly what makes chunk-level dedup "
        "and incremental-crawl storage work. Chunking itself is a "
        "pure map (token array -> cut positions -> chunk structs, "
        "all inside whole-stage codegen via bind-materialized "
        "arrays); the only shuffles are the chunk-hash census and "
        "the census join back - the inverted-index shape of the "
        "dedup family, never all-pairs. At 100 TB the census key "
        "space is content-hash-uniform (no skew) and the map stage "
        "is embarrassingly parallel."
    ),
    bench=True,
)
def chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # persisted: 2 consumers (hash census, census join back)
    return chunk_freq_frame(cdc_chunk_frame(docs).persist())


def chunk_freq_frame(per_chunk: DataFrame) -> DataFrame:
    """Each chunk with its hash's corpus frequency."""
    freq = per_chunk.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("corpus_freq")
    )
    return per_chunk.join(freq, "chunk_hash").select(
        "doc_id",
        "chunk_id",
        "chunk_start",
        "n_chunk_tokens",
        "chunk_hash",
        "corpus_freq",
    )


def cdc_chunk_frame(docs: DataFrame) -> DataFrame:
    """The stateless CDC chunker (doc rows -> one row per chunk),
    shared by chunk_cdc and its streaming twin: a per-row array
    program, streaming-legal in append mode."""
    mod = 16

    def h60(c):
        # the repo-wide portable md5-fold digest (dedup.portable_hash60)
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    def chunks_of(t):
        n = F.size(t)
        cut_expr = F.when(
            n >= 4,
            F.filter(
                F.sequence(F.lit(3), n - 1),
                lambda i: h60(F.array_join(F.slice(t, i - 2, F.lit(3)), " "))
                % mod
                == 0,
            ),
        ).otherwise(F.array().cast("array<int>"))

        def build(cuts):
            starts = F.concat(
                F.array(F.lit(1)), F.transform(cuts, lambda c: c + 1)
            )
            ends = F.concat(cuts, F.array(n))
            return F.transform(
                F.sequence(F.lit(0), F.size(cuts)),
                lambda j: F.struct(
                    j.cast("int").alias("chunk_id"),
                    F.element_at(starts, j + 1)
                    .cast("int")
                    .alias("chunk_start"),
                    (
                        F.element_at(ends, j + 1)
                        - F.element_at(starts, j + 1)
                        + 1
                    )
                    .cast("int")
                    .alias("n_chunk_tokens"),
                    h60(
                        F.array_join(
                            F.slice(
                                t,
                                F.element_at(starts, j + 1),
                                F.element_at(ends, j + 1)
                                - F.element_at(starts, j + 1)
                                + 1,
                            ),
                            " ",
                        )
                    ).alias("chunk_hash"),
                ),
            )

        return text.bind(cut_expr, build)

    return docs.select(
        "doc_id",
        F.explode(
            text.bind(F.split(F.trim("text"), r"\s+"), chunks_of)
        ).alias("c"),
    ).select("doc_id", "c.*")


@query(
    "split_leakage_safe",
    # materialized multi-statement form (round-12 verdict #1): sp is
    # consumed THREE times (census + both sides of the leak audit), so
    # the old recursive-CTE walk was inlined 3x and spilled at sf1;
    # every stage now materializes once and the CC recursion is the
    # bounded propagate/jump loop (loud non-convergence check)
    oracle=f"""
    CREATE OR REPLACE TEMP TABLE sls_pairs AS
    WITH {_JACCARD_PAIRS_CTES}
    SELECT doc1, doc2 FROM pairs;
    CREATE OR REPLACE TEMP TABLE sls_edges AS
    SELECT doc1 AS a, doc2 AS b FROM sls_pairs
    UNION ALL
    SELECT doc2, doc1 FROM sls_pairs;
    {_cc_label_stmts("sls_", "SELECT doc_id FROM documents")};
    CREATE OR REPLACE TEMP TABLE sls_sp AS
    SELECT doc_id, cluster_id,
           CASE WHEN h % 10 <= 7 THEN 'train'
                WHEN h % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT node AS doc_id, comp AS cluster_id,
             list_reduce(list_transform(generate_series(1, 15),
               j -> strpos('0123456789abcdef',
                      substr(md5(CAST(comp AS VARCHAR)), j, 1)) - 1),
               (a, b) -> a * 16 + b) AS h
      FROM sls_lab
    );
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           leaked_pairs
    FROM sls_sp, (
      SELECT CAST(count(*) AS BIGINT) AS leaked_pairs
      FROM sls_pairs p
      JOIN sls_sp a ON a.doc_id = p.doc1
      JOIN sls_sp b ON b.doc_id = p.doc2
      WHERE a.split <> b.split
    ) leak
    GROUP BY split, leaked_pairs
    ORDER BY split
    """,
    doc=(
        "leakage-safe train/valid/test split - the eval-hygiene "
        "operator every LLM data pipeline needs and a naive "
        "hash-split gets WRONG: splitting documents independently "
        "puts near-duplicate pairs on both sides of the train/test "
        "boundary (memorization leaks straight into eval). Here the "
        "split unit is the NEAR-DUP CLUSTER (Jaccard>=0.3 pairs -> "
        "connected components, the verified dedup_cluster_assign "
        "machinery): every member of a cluster inherits the same "
        "80/10/10 bucket from the portable md5-fold of its cluster "
        "id, so near-dups can never straddle splits BY CONSTRUCTION "
        "- and the query audits its own guarantee by counting "
        "cross-split near-dup pairs (leaked_pairs, provably 0, "
        "computed not asserted - the decontamination family's "
        "self-audit style). Cost over cluster assignment: one "
        "map-side hash + a census-sized pair-vs-split join; the "
        "split decision adds ZERO shuffles at 100 TB."
    ),
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    # persisted: CC iterations + the leakage audit both consume edges
    edges = dedup.jaccard_pairs(
        docs, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    ).persist()
    labels = graph.connected_components(
        edges, "doc1", "doc2", nodes=docs.select("doc_id")
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 10
    )
    # persisted: the split census + both sides of the leakage audit
    sp = (
        labels.select(
            F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
        )
        .withColumn(
            "split",
            F.when(h <= 7, F.lit("train"))
            .when(h == 8, F.lit("valid"))
            .otherwise(F.lit("test")),
        )
        .persist()
    )
    leak = (
        edges.join(
            sp.select(F.col("doc_id").alias("doc1"), F.col("split").alias("s1")),
            "doc1",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc2"), F.col("split").alias("s2")),
            "doc2",
        )
        .where(F.col("s1") != F.col("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_pairs"))
    )
    return (
        sp.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
        .select("split", "n_docs", "n_clusters", "leaked_pairs")
    )


@query(
    "dedup_chunk_level",
    oracle=f"""
    WITH {_CDC_CHUNK_CTES}, census AS (
      SELECT chunk_hash,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(max(n_chunk_tokens) AS BIGINT) AS n_tok
      FROM chunks GROUP BY chunk_hash
    )
    SELECT CAST(sum(freq) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_unique_chunks,
           CAST(sum(freq * n_tok) AS BIGINT) AS total_tokens,
           CAST(sum((freq - 1) * n_tok) AS BIGINT) AS dup_tokens,
           CAST(sum((freq - 1) * n_tok) * 10000 // sum(freq * n_tok)
                AS BIGINT) AS savings_bp
    FROM census
    """,
    doc=(
        "chunk-level dedup savings - the summary a CDC-backed corpus "
        "store reads before committing to content-addressed storage "
        "(what fraction of tokens vanishes if every duplicate chunk "
        "is stored once): the CDC chunk census (identical passages "
        "produce identical chunk hashes at ANY offset - chunk_cdc's "
        "defining property) aggregated to total vs duplicated tokens "
        "in exact integer basis points. n_tok is constant per hash "
        "by construction (same content, same length), so max() is "
        "exact, not approximate. One chunk-hash shuffle, a 1-row "
        "reduce after - the census never grows faster than unique "
        "content at 100 TB, which is the entire point of CDC."
    ),
)
def dedup_chunk_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    return chunk_savings_frame(chunk_census(docs))


def chunk_census(docs: DataFrame) -> DataFrame:
    """Per CDC chunk hash: its frequency and token length."""
    return (
        cdc_chunk_frame(docs)
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.max("n_chunk_tokens").cast("long").alias("n_tok"),
        )
    )


def chunk_savings_frame(census: DataFrame) -> DataFrame:
    """Chunk totals and the tokens exact chunk dedup would save."""
    return census.agg(
        F.sum("freq").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
        F.sum(F.col("freq") * F.col("n_tok")).cast("long").alias("total_tokens"),
        F.sum((F.col("freq") - 1) * F.col("n_tok"))
        .cast("long")
        .alias("dup_tokens"),
        F.expr(
            "CAST(sum((freq - 1) * n_tok) * 10000"
            " DIV sum(freq * n_tok) AS BIGINT)"
        ).alias("savings_bp"),
    )


@query(
    "mix_epoch_waterfill",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(sum(len(regexp_split_to_array(trim(text), '\\s+')))
               AS BIGINT) AS toks
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT sum(toks) AS total, count(*) AS n FROM t
    ), b AS (
      SELECT CAST(total * 15 // 10 AS BIGINT) AS budget, n FROM tot
    ), s AS (
      SELECT lang, toks, 4 * toks AS cap4,
             row_number() OVER (ORDER BY toks, lang) AS rk,
             CAST(coalesce(sum(4 * toks) OVER (
               ORDER BY toks, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pfx
      FROM t
    ), reach AS (
      SELECT s.rk, s.pfx FROM s CROSS JOIN b
      WHERE s.pfx + (b.n - s.rk + 1) * s.cap4 >= b.budget
      ORDER BY s.rk LIMIT 1
    ), cap AS (
      SELECT CAST((b.budget - r.pfx) // (b.n - r.rk + 1) AS BIGINT) AS c
      FROM reach r CROSS JOIN b
    )
    SELECT s.lang, s.toks,
           least(s.cap4, c.c) AS allocated_tokens,
           CAST(least(s.cap4, c.c) * 10000 // s.toks AS BIGINT)
             AS epochs_bp
    FROM s CROSS JOIN cap c
    ORDER BY s.lang
    """,
    doc=(
        "epoch-capped waterfilling - data-constrained mixture "
        "allocation (Muennighoff et al. 2023, arXiv:2305.16264: "
        "repeating data beyond ~4 epochs stops helping, so a "
        "domain's usable supply is 4x its tokens): allocate a "
        "budget LARGER than the corpus (150% here) across domains "
        "where each domain caps at 4 epochs - the water level C "
        "solves sum(min(4*toks_d, C)) = budget. Same exact "
        "ascending-prefix integer solve as mix_waterfill_budget "
        "(ranking by toks IS ranking by capacity - the cap is "
        "monotone), emitting per-domain allocated tokens and epochs "
        "in basis points (10000 = one epoch, 40000 = the cap); "
        "small domains repeat up to 4x, oversized ones train once "
        "partially. Window over the domain census; budget, "
        "breakpoint and C are 1-row broadcasts - census-bounded at "
        "100 TB like its sibling."
    ),
)
def mix_epoch_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    t = (
        docs.select(
            "lang", F.size(text.tokens("text")).cast("long").alias("nt")
        )
        .groupBy("lang")
        .agg(F.sum("nt").alias("toks"))
    )
    tot = t.agg(
        F.sum("toks").alias("total"), F.count(F.lit(1)).alias("n")
    ).select(
        F.expr("CAST(total * 15 DIV 10 AS BIGINT)").alias("budget"), "n"
    )
    wo = Window.orderBy("toks", "lang")
    s = (
        t.crossJoin(F.broadcast(tot))
        .withColumn("cap4", 4 * F.col("toks"))
        .withColumn("rk", F.row_number().over(wo))
        .withColumn(
            "pfx",
            F.coalesce(
                F.sum("cap4").over(
                    wo.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("long"),
        )
        .persist()  # 2 consumers: the breakpoint probe + the output
    )
    reach = (
        s.where(
            F.col("pfx") + (F.col("n") - F.col("rk") + 1) * F.col("cap4")
            >= F.col("budget")
        )
        .orderBy("rk")
        .limit(1)
        .select(
            F.expr(
                "CAST((budget - pfx) DIV (n - rk + 1) AS BIGINT)"
            ).alias("c")
        )
    )
    return s.crossJoin(F.broadcast(reach)).select(
        "lang",
        "toks",
        F.least(F.col("cap4"), F.col("c")).alias("allocated_tokens"),
        F.expr(
            "CAST(least(cap4, c) * 10000 DIV toks AS BIGINT)"
        ).alias("epochs_bp"),
    )


_PIPE3_ORACLE = f"""
    WITH RECURSIVE {langid.oracle_scored_cte(src="documents",
                                             keep_cols="doc_id, text")},
    lid AS (
      SELECT doc_id, pred_lang AS lang, text FROM __lid_scored
    ), pfp AS (
      SELECT doc_id, lang, text,
             md5(array_to_string(
                   list_sort(list_distinct(
                     regexp_split_to_array(lower(trim(text)), '\\s+'))), ' '))
               AS fp
      FROM lid
    ), s1 AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM pfp
      ) WHERE rk = 1
    ), gt AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM s1
    ), gm AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS BIGINT) AS sum_len,
             CAST(len(list_distinct(list_transform(toks, x -> lower(x))))
                  AS BIGINT) AS n_distinct,
             CAST(len(list_distinct(list_filter(
                    list_transform(toks, x -> lower(x)),
                    x -> x IN ({_SW_LIST})))) AS BIGINT) AS n_sw_distinct
      FROM gt
    ), gk AS (
      SELECT doc_id FROM gm
      WHERE n_words BETWEEN 20 AND 100000
        AND sum_len * 100 // n_words BETWEEN 300 AND 1000
        AND n_distinct * 10000 // n_words >= 2000
        AND n_sw_distinct >= 2
    ), s2 AS (
      SELECT s1.* FROM s1 JOIN gk USING (doc_id)
    ),
    {_jaccard_pairs_ctes("s2", "j")},
    edges AS (
      SELECT doc1 AS a, doc2 AS b FROM jpairs
      UNION ALL
      SELECT doc2, doc1 FROM jpairs
    ),
    walk(node, comp) AS (
      SELECT doc_id, doc_id FROM s2
      UNION
      SELECT e.b, wk.comp FROM walk wk JOIN edges e ON e.a = wk.node
    ),
    clusters AS (
      SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node
    ),
    q AS (
      SELECT doc_id,
             CAST(5000 * least(n, 50) // 50
                  + (3000 * d) // n
                  + (2000 * least(n, 10 * sw)) // n AS BIGINT) AS quality_bp
      FROM (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n,
               CAST(len(list_distinct(
                 regexp_split_to_array(lower(trim(text)), '\\s+'))) AS BIGINT) AS d,
               CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        x -> lower(x) IN ({_SW_LIST}))) AS BIGINT) AS sw
        FROM s2
      ) t
    ),
    s3 AS (
      SELECT doc_id, lang, quality_bp, cluster_id FROM (
        SELECT s2.doc_id, s2.lang, q.quality_bp, c.cluster_id,
               row_number() OVER (PARTITION BY c.cluster_id
                 ORDER BY q.quality_bp DESC, s2.doc_id) AS rk
        FROM clusters c
        JOIN q ON q.doc_id = c.doc_id
        JOIN s2 ON s2.doc_id = c.doc_id
      ) WHERE rk = 1
    )
    SELECT doc_id, lang, quality_bp,
           CASE WHEN h % 10 <= 7 THEN 'train'
                WHEN h % 10 = 8 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, lang, quality_bp,
             list_reduce(list_transform(generate_series(1, 15),
               j -> strpos('0123456789abcdef',
                      substr(md5(CAST(cluster_id AS VARCHAR)), j, 1)) - 1),
               (a, b) -> a * 16 + b) AS h
      FROM s3
    )
    ORDER BY doc_id
    """


@query(
    "pipeline_corpus_curation_v3",
    oracle=_PIPE3_ORACLE,
    doc=(
        "the round-10 curation pipeline as one composed query - v3 "
        "re-orders v2 into the order a REAL crawl release runs and "
        "swaps in the round-10 stages: (1) content-based language ID "
        "derives the lang column from text (the crawl has no labels "
        "- lang_id_ngram's scorer, map-only), (2) exact-dedup "
        "keep-first (fingerprint row_number), (3) the Gopher rule "
        "bundle gates quality (paper rules, not the heuristic score "
        "- the score survives as the keep-BEST criterion), (4) "
        "near-dup clustering with keep-best resolution (Jaccard "
        "pairs -> connected components -> highest-quality keeper), "
        "(5) leakage-safe 80/10/10 split assignment from the "
        "md5-fold of the cluster id - the final artifact is a "
        "train/valid/test-labeled curated corpus, and because "
        "splits key on CLUSTERS the assignment is stable even if a "
        "near-dup member is later re-admitted. Every stage is a "
        "verified standalone query; the oracle is assembled from "
        "the same parameterized CTE generators "
        "(langid.oracle_scored_cte, _jaccard_pairs_ctes) so the "
        "composition is oracle-exact end to end. Plan cost = lang "
        "scoring fused into the scan + v2's stages + one map-side "
        "hash; nothing new shuffles."
    ),
)
def pipeline_corpus_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .datapipe import quality_bp_frame

    docs = text.fan_out(load_table(spark, sf_dir, "documents"))
    lid = langid.with_lang_scores(docs).select(
        "doc_id", F.col("pred_lang").alias("lang"), "text"
    )
    fp = lid.select(
        "doc_id", "lang", "text", text.fingerprint("text").alias("fp")
    )
    s1 = (
        fp.withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .where(F.col("rk") == 1)
        .drop("rk", "fp")
    )
    gk = (
        gopher_rules_frame(s1)
        .where(F.col("keep") == 1)
        .select("doc_id")
    )
    s2 = s1.join(gk, "doc_id")
    quality = quality_bp_frame(s2).select("doc_id", "quality_bp")
    edges = dedup.jaccard_pairs(
        s2, "text", "doc_id", k=3, threshold=0.3, max_posting_frac=0.01
    )
    labels = graph.connected_components(
        edges, "doc1", "doc2", nodes=s2.select("doc_id")
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
    s3 = (
        labels.join(quality, "doc_id")
        .join(s2.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("quality_bp"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("rk") == 1)
    )
    h = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 10
    )
    return s3.select(
        "doc_id",
        "lang",
        "quality_bp",
        F.when(h <= 7, F.lit("train"))
        .when(h == 8, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
