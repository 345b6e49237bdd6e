"""Text analysis operators for large-scale training-data pipelines.

Beyond-reference surface (SURVEY.md §7 phase 6): tokenizing,
shingling and document fingerprinting over the ``documents`` table —
all pure column expressions (JVM-side, whole-stage-codegen) so they
stream through a 100 TB scan without Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny stopword list for the quality/lang heuristics (deterministic,
# shared with the DuckDB oracles — keep sorted, lowercase)
STOPWORDS = ("a", "and", "in", "is", "of", "the", "to")



def fan_out(df):
    """Spread a narrow scan across the cluster before CPU-heavy
    per-row expressions.

    A small parquet table often arrives as a single input split (or a
    handful of row groups), which serializes the whole shingle/
    tokenize stage onto a few cores. When the optimizer's size
    estimate says the scan cannot fill the cluster's parallelism with
    full partitions, one cheap round-robin shuffle of the raw rows
    buys full fan-out for everything downstream. The decision uses
    driver-side catalyst statistics only — no ``df.rdd`` conversion,
    no job. At 100 TB the estimate is far past the threshold and this
    is a no-op."""
    from ._planstats import estimated_plan_bytes

    if df.isStreaming:
        return df  # micro-batch sizing is the engine's job
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        # unavailable stats (e.g. streaming plan) -> assume big:
        # leave the partitioning alone
        size_bytes = estimated_plan_bytes(df, default=1 << 40)
        max_part = "".join(
            c
            for c in str(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
            )
            if c.isdigit()
        )
        if size_bytes < target * int(max_part or "134217728"):
            return df.repartition(target)
    except Exception:
        pass  # conf unreadable: leave as-is
    return df

def tokens(text: str | Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def fingerprint(text: str | Column) -> Column:
    """Order-insensitive document fingerprint:
    md5 over the sorted distinct lowercase token bag."""
    c = F.col(text) if isinstance(text, str) else text
    bag = F.array_sort(F.array_distinct(F.split(F.lower(F.trim(c)), r"\s+")))
    return F.md5(F.array_join(bag, " "))


def bind(col: Column, f) -> Column:
    """Evaluate ``col`` ONCE per row and hand the materialized value to
    ``f`` as a higher-order-function lambda variable.

    Why this exists: Spark performs no common-subexpression elimination
    inside HOF lambdas, and CollapseProject/ColumnPruning inline a
    staged column into every consumer — worst of all into a Project
    sitting ABOVE a Generate, where the inlined expression is then
    re-evaluated once per GENERATED row (measured: ``select(size(sh),
    explode(sh))`` over the shingle chain ran 30s vs 0.8s at sf0.1).
    Routing the value through a one-element array makes it a
    ``NamedLambdaVariable``: computed once, read many, and opaque to
    projection collapse. The ``element_at(transform(array(e), f), 1)``
    shape is not simplified away by SimplifyExtractValueOps (pinned by
    the plan-shape assertions in tests/test_plans.py::
    test_jaccard_shingle_expression_evaluated_once); if a future
    optimizer learns to inline it, that test fails loudly."""
    return F.element_at(F.transform(F.array(col), f), 1)


def shingles_positional(text: str | Column, k: int = 3) -> Column:
    """All k-token shingles in document order (duplicates kept).

    Formulated as ``zip_with`` over k shifted slices of the token array
    rather than ``transform(sequence(...), i -> slice(toks, i, k))``:
    Spark does no common-subexpression elimination inside
    higher-order-function lambdas, so the index-based form re-evaluates
    the regex ``split`` once per shingle (~n× per row). The slice/zip
    form over a :func:`bind`-materialized token array evaluates the
    split exactly once per row.
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)
        m = n - (k - 1)  # shingle count; slice() clamps, CASE guards m <= 0
        joined = F.slice(toks, 1, m)
        for i in range(1, k):
            joined = F.zip_with(
                joined, F.slice(toks, i + 1, m), lambda x, y: F.concat_ws(" ", x, y)
            )
        empty = F.array().cast("array<string>")
        return F.when(n >= k, joined).otherwise(empty)

    return bind(tokens(text), build)


def shingles(text: str | Column, k: int = 3) -> Column:
    """Distinct k-token shingles ('w1 w2 w3' strings)."""
    return F.array_distinct(shingles_positional(text, k))


# BPE-ish pre-tokenizer: letter runs, single digits (GPT-2 style),
# single non-space symbols. Deliberately lookahead-free so the Java
# (Spark) and RE2 (DuckDB oracle) regex engines agree.
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def winnow_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
):
    """Winnowing document fingerprints (rolling-hash selection, the
    Schleimer/Wilkerson/Aiken scheme): hash every k-shingle in document
    order, slide a ``window``-wide frame over the hash sequence, keep
    the minimum per frame. The selected set is position-robust (local
    edits perturb few fingerprints) and tunably sparse.

    Returns (doc_id, n_fingerprints, min_fp): distinct selected count
    and the global minimum fingerprint. Shaped as posexplode + one
    windowed pass + one aggregation — two shuffles on doc_id, no
    per-row Python; docs shorter than k+window-1 tokens emit nothing
    (no full frame), same as the oracle.
    """
    from pyspark.sql import Window

    # posexplode_outer + null filter: plain posexplode makes
    # InferFiltersFromGenerate re-evaluate the whole shingle expression
    # in a pushed-down size() predicate (see shingle_table in dedup.py)
    rows = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode_outer(shingles_positional(text_col, k)).alias(
                "pos", "shingle"
            ),
        )
        .where(F.col("shingle").isNotNull())
        .select("doc_id", "pos", F.md5("shingle").alias("h"))
    )
    fr = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    winmins = rows.select(
        "doc_id",
        F.min("h").over(fr).alias("win_min"),
        F.count("h").over(fr).alias("cnt"),
    ).where(F.col("cnt") == window)
    return winmins.groupBy("doc_id").agg(
        F.countDistinct("win_min").alias("n_fingerprints"),
        F.min("win_min").alias("min_fp"),
    )
