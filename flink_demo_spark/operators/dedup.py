"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Beyond-reference surface (SURVEY.md §7 phase 6) for training-data
pipelines. Design point: everything is expressed as shuffles on
bounded-cardinality keys (fingerprints, band hashes, shingles) — no
driver-side collection, no O(n²) cross join at any stage, so each
operator scales to 100 TB document sets:

- exact:   hash-groupBy on a normalized fingerprint (1 shuffle)
- jaccard: shingle inverted index self-join (shuffle on shingle,
           then on pair) — candidate space bounded by shared shingles
- minhash: per-doc signature (JVM xxhash64), banded into LSH buckets;
           pairs only form inside buckets
- simhash: 64-bit bit-vote signature; near-dups share signature or
           differ in few bits (joined on rotated band keys)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .text import fan_out, fingerprint, shingles


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of documents with identical normalized token bags.

    Returns (fp, n_docs, min_id) per duplicate group with n_docs > 1.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .where(F.col("n_docs") > 1)
    )


def shingle_table(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per doc.

    ``explode_outer`` + null filter instead of plain ``explode``:
    InferFiltersFromGenerate would add a ``size(shingles(text)) > 0``
    predicate that pushes BELOW the fan-out repartition, evaluating the
    whole shingle expression a second time per row on the narrow
    pre-shuffle scan (measured ~2x the stage cost). The outer variant
    infers nothing; the post-generate null filter is free.
    """
    exploded = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(shingles(text_col, k)).alias("shingle"),
    )
    return exploded.where(F.col("shingle").isNotNull())


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.4,
    max_posting: int | None = None,
    max_posting_frac: float | None = None,
    min_posting_cap: int = 64,
    size_ratio_prune: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by exact k-shingle Jaccard >= threshold.

    Shuffle plan: explode shingles -> groupBy(shingle) collecting the
    sorted doc-id posting list -> generate the C(f,2) pairs per shingle
    in-flight with array lambdas -> count per pair -> join per-doc
    sizes. One pass over the inverted index (the self-join formulation
    evaluates the shingle expansion twice and broadcasts a string-keyed
    table; this is ~2.5× faster and shuffles only (shingle, id) rows).

    Skew guard: a shingle appearing in f docs yields f(f-1)/2 pairs in
    one task, so ultra-frequent (boilerplate) shingles with
    f > ``max_posting`` are dropped from the candidate index — without
    the cap one viral shingle at 100 TB turns into a single-task
    straggler. Dropped shingles no longer contribute to n_common, so
    for pairs sharing a capped shingle the reported Jaccard is a lower
    bound (set sizes n1/n2 stay exact); discriminative shingles are
    unaffected. The number of capped shingles is observable per run via
    the ``jaccard_posting_cap`` observation (metric
    ``dropped_shingles``). The default is ``None`` (exact, uncapped) so
    callers are never silently approximate — scale-facing plans like
    ``dedup_jaccard_pairs`` opt into the cap explicitly.

    A FIXED count does not travel across corpus sizes: the round-8 sf1
    sweep measured that at 10x every near-dup shingle's posting list
    outgrew ``max_posting=64`` and the candidate set emptied (engine
    and oracle agreed — hash-green but blind). ``max_posting_frac``
    expresses the cap as a DOCUMENT-FREQUENCY fraction of the corpus:
    ``cap = max(min_posting_cap, ceil(frac * n_docs))``, computed with
    exact integer arithmetic (``(n*num + den-1) DIV den`` from the
    fraction's exact rational form — no float boundary flips) and a
    1-row broadcast of the corpus count (no driver collect). Viral
    boilerplate is a fraction-of-corpus phenomenon, so the fraction is
    the quantity that stays meaningful from sf0.01 to 100 TB; the
    ``min_posting_cap`` floor keeps tiny corpora exact. Mutually
    exclusive with ``max_posting``.

    Rewrites measured and REJECTED (do not re-burn): round 13 tried
    gram-hash keys (3 variants — struct ``array_distinct`` falls off
    the hash-set fast path) and a size-ratio prune (landed default-OFF
    as ``size_ratio_prune``). Round 14 tried (a) the two-phase
    SELF-JOIN pair count (capped shingle-freq table, semi-filter, then
    posting self-join on shingle with doc1 < doc2 — no posting arrays
    materialized): loses 0/4 interleaved pairs at sf0.1 (min 2.82 vs
    2.13 s) and is CATASTROPHIC at a 10x constant-density replica
    (272 s vs 36 s, 7.5x — the equi-join enumerates f² combinations
    per shingle inside the SMJ where the array formulation emits
    exactly C(f,2)); and (b) dropping ``sort_array`` in favor of
    least/greatest pair emission: wash at sf0.1 (1/4), loses 0/3 at
    10x (min 51.9 vs 36.2 s — branchy struct construction per pair
    costs more than the per-group sort). Stage isolation at sf0.1:
    scan/explode 0.65 s, +posting agg 0.58 s, +pair explode 0.37 s,
    +pair count 0.46 s — no dominant stage. The collect_list
    formulation is the measured optimum across 6 tested variants over
    two rounds.
    """
    if max_posting is not None and max_posting_frac is not None:
        raise ValueError("max_posting and max_posting_frac are mutually exclusive")
    # Each exploded row carries the doc's shingle-set size, so the
    # posting-list pairs already hold (n1, n2) — no size-table joins,
    # ONE scan of the corpus and two shuffles total.
    # The generator emits struct<shingle,n> with the shingle chain
    # bound ONCE per input row: a separate `size(sh)` column would sit
    # in the Project above the Generate and re-run the whole chain per
    # GENERATED row after projection collapse (measured 30s vs 0.8s at
    # sf0.1 — see text.bind). explode_outer + null filter: see
    # shingle_table for why plain explode would add a size()>0
    # predicate that double-evaluates the chain below the fan-out.
    from .text import bind

    sized = bind(
        shingles(text_col, k),
        lambda arr: F.transform(
            arr,
            lambda x: F.struct(x.alias("shingle"), F.size(arr).alias("n")),
        ),
    )
    sh = (
        fan_out(df)
        .select(F.col(id_col).alias("doc_id"), F.explode_outer(sized).alias("p"))
        .where(F.col("p").isNotNull())
        .select("doc_id", F.col("p.n").alias("n"), F.col("p.shingle").alias("shingle"))
    )
    posting = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ids")
    )
    if max_posting is not None:
        posting = posting.observe(
            f"jaccard_posting_cap_{max_posting}",
            F.sum(
                F.when(F.size("ids") > max_posting, 1).otherwise(0)
            ).alias("dropped_shingles"),
        ).where(F.size("ids") <= max_posting)
    elif max_posting_frac is not None:
        from fractions import Fraction

        fr = Fraction(str(max_posting_frac))
        num, den = fr.numerator, fr.denominator
        # cap = max(floor_cap, ceil(frac * n_docs)) in EXACT integer
        # arithmetic; n_docs rides a 1-row broadcast, never a collect.
        n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
        cap = F.greatest(
            F.lit(min_posting_cap).cast("long"),
            F.expr(f"(__n_docs * {num} + {den - 1}) DIV {den}"),
        )
        posting = (
            posting.crossJoin(F.broadcast(n_docs))
            .withColumn("__cap", cap)
            .observe(
                "jaccard_posting_cap_frac",
                F.sum(
                    F.when(F.size("ids") > F.col("__cap"), 1).otherwise(0)
                ).alias("dropped_shingles"),
            )
            .where(F.size("ids") <= F.col("__cap"))
            .drop("__n_docs", "__cap")
        )
    posting = posting.where(F.size("ids") > 1)
    # Optional size-ratio prune at pair GENERATION (the length filter
    # of the set-similarity-join literature, cf. prefix filtering):
    # n_common <= min(n1,n2), so jac <= min(n1,n2)/max(n1,n2) — a pair
    # whose set sizes differ by more than the threshold ratio can NEVER
    # pass the final filter and need not be emitted, counted, or
    # shuffled. The bound is checked in EXACT integer arithmetic from
    # the threshold's rational form (min*den >= num*max keeps; the
    # boundary min/max == t stays in, since jac can equal t there), so
    # pruning is provably result-identical (r13: 256/256 pairs EQUAL
    # at sf0.1 both ways). Default OFF on measurement: at sf0.1 the
    # prune LOSES (interleaved A/B, new wins 1/8 pairs, min 2.79 vs
    # 3.20 s) — the extra F.filter array materialization per posting
    # position costs more than the ~12%-of-pair-rows shuffle saving at
    # this document-length spread (10-100 tokens). Opt in for
    # heavy-tailed corpora where the length spread (and therefore the
    # prune rate) is large enough to pay for itself.
    from fractions import Fraction as _Fr

    _t = _Fr(str(threshold))
    t_num, t_den = _t.numerator, _t.denominator

    def _candidates(x, i):
        tail = F.slice(F.col("ids"), i + 2, F.size(F.col("ids")))
        if not size_ratio_prune or t_num == 0:
            return tail
        return F.filter(
            tail,
            lambda y: F.least(x["n"], y["n"]) * F.lit(t_den)
            >= F.lit(t_num) * F.greatest(x["n"], y["n"]),
        )

    # ids sorted by doc_id -> emit (ids[i], ids[j]) for i < j: doc1 < doc2
    pair = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                _candidates(x, i),
                lambda y: F.struct(
                    x["doc_id"].alias("doc1"),
                    x["n"].alias("n1"),
                    y["doc_id"].alias("doc2"),
                    y["n"].alias("n2"),
                ),
            ),
        )
    )
    common = (
        posting.select(F.explode(pair).alias("p"))
        .select("p.doc1", "p.n1", "p.doc2", "p.n2")
        .groupBy("doc1", "doc2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return common.where(jac >= threshold).select(
        "doc1", "doc2", F.round(jac, 4).alias("jaccard")
    )


# Portable MinHash parameters: one md5 digest per shingle folded to a
# 60-bit int, then num_hashes affine transforms (a*x + b) % P over the
# universal-hash family. Every constant fits the product in int64, so
# ANY engine (Spark, DuckDB, a plain python check) reproduces the
# signatures bit-for-bit — which is what lets the LSH pipeline be
# oracle-verified end-to-end instead of rows-only.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_mh_rng = __import__("random").Random(7)
MINHASH_COEF = [
    (_mh_rng.randrange(1, MINHASH_P), _mh_rng.randrange(0, MINHASH_P))
    for _ in range(64)
]
# polynomial band-bucket combine constants (int64-safe: < 2^31 each)
BAND_M = 1048573
BAND_Q = 2147483629


def portable_hash60(col: str | Column) -> Column:
    """60-bit integer digest both Spark and DuckDB compute identically:
    first 15 hex chars of md5, folded base-16 (big-endian).

    Spark: ``conv(substr(md5(s),1,15),16,10)``; DuckDB:
    ``list_reduce(nibbles, (a,b) -> a*16+b)`` over the same chars.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_table(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """Per-doc MinHash as num_hashes columns h0..h{n-1}:
    min over shingles of ``(a_i * digest(shingle) + b_i) % P``.

    Formulation: explode shingles -> ONE md5 digest per shingle ->
    num_hashes codegen'd affine columns -> groupBy(doc_id).min(...).
    The min() aggregation is partial (map-side combine), so the
    shuffle carries one row per doc — ~10x faster than folding over
    the shingle array per row (which re-evaluates the shingle
    expression per hash after projection collapse) and linear in
    corpus size. The md5-based digest (vs xxhash64 seeds) costs one
    digest per shingle but makes the signature engine-portable, so
    the whole LSH path is DuckDB-oracle-checkable.
    """
    sh = shingle_table(df, text_col, id_col, k).select(
        "doc_id", (portable_hash60("shingle") % MINHASH_P).alias("x")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.col("x") * F.lit(a) + F.lit(b)) % MINHASH_P).alias(f"h{i}")
            for i, (a, b) in enumerate(MINHASH_COEF[:num_hashes])
        ]
    )


def lsh_band_table(sigs: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(doc_id, band, bucket) LSH index rows from a minhash_table
    frame: each band's minhashes fold into one bucket key via a
    polynomial hash, int64-safe and engine-portable (the same
    expression reproduces in the DuckDB oracle)."""
    rows = num_hashes // bands

    def band_bucket(b: int) -> Column:
        acc: Column = F.lit(0).cast("long")
        for r in range(rows):
            acc = (acc * BAND_M + F.col(f"h{b * rows + r}")) % BAND_Q
        return acc

    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_bucket(b).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_signature_expr(
    shingle_arr: Column, num_hashes: int = 16
) -> Column:
    """Per-ROW MinHash signature as one array<long> expression — the
    stateless twin of :func:`minhash_table` for streams, where a
    groupBy(doc) aggregation would need a watermarked stateful stage
    just to reassemble rows that were never split. ONE md5 digest per
    shingle (the digests fold through an array-state lambda carrying
    all ``num_hashes`` running minima, the hilbert_value pattern), so
    per-row cost matches the batch path's per-shingle cost. Empty
    shingle arrays yield the all-identity signature (MINHASH_P in
    every slot) — callers must filter them out to mirror the batch
    path, where such docs simply have no signature row."""
    a_arr = F.array(
        *[F.lit(a).cast("long") for a, _ in MINHASH_COEF[:num_hashes]]
    )
    b_arr = F.array(
        *[F.lit(b).cast("long") for _, b in MINHASH_COEF[:num_hashes]]
    )
    xs = F.transform(shingle_arr, lambda s: portable_hash60(s) % MINHASH_P)
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)
    return F.aggregate(
        xs,
        init,
        lambda acc, x: F.transform(
            acc,
            lambda v, i: F.least(
                v,
                (
                    x * F.element_at(a_arr, (i + 1).cast("int"))
                    + F.element_at(b_arr, (i + 1).cast("int"))
                )
                % MINHASH_P,
            ),
        ),
    )


def lsh_band_entries_expr(sig: Column, num_hashes: int = 16, bands: int = 4) -> Column:
    """Per-row array of (band, bucket) structs from a signature array —
    the stateless twin of :func:`lsh_band_table`, same polynomial fold."""
    rows = num_hashes // bands

    def bucket(b: int) -> Column:
        return F.aggregate(
            F.slice(sig, b * rows + 1, rows),
            F.lit(0).cast("long"),
            lambda acc, h: (acc * BAND_M + h) % BAND_Q,
        )

    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    verify_threshold: float | None = 0.4,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, optionally
    verified with exact shingle Jaccard.

    rows_per_band = num_hashes/bands; docs sharing any band bucket are
    candidates (shuffle keyed on (band, bucket-hash) — bounded
    fan-out, no all-pairs stage).
    """
    assert num_hashes % bands == 0
    sigs = minhash_table(df, text_col, id_col, num_hashes, k)
    banded = lsh_band_table(sigs, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .distinct()
    )
    if verify_threshold is None:
        return cand
    # verify ONLY the candidate pairs (this is the point of LSH: the
    # exact-Jaccard cost is proportional to candidates, not all pairs).
    # Two execution strategies for the verify side, chosen from the
    # optimizer's size estimate like Spark picks join strategies:
    # - small corpus: tokenize the whole corpus on both join branches —
    #   fully parallel with the candidate pipeline, no barrier;
    # - large corpus (the 100 TB shape): persist the candidate set and
    #   broadcast-semi-join the corpus down to candidate docs BEFORE
    #   the shingle expression runs, so verify cost is proportional to
    #   candidates, not corpus. The barrier it introduces is noise at
    #   that scale but dominates at test SFs, hence the gate.
    from ._planstats import estimated_plan_bytes

    # unavailable stats -> assume big (1 TiB): the candidate-
    # proportional path is the safe default at scale
    corpus_bytes = estimated_plan_bytes(df, default=1 << 40)
    large_corpus = corpus_bytes > 1 << 30  # > 1 GiB
    if large_corpus:  # candidate-proportional path
        cand = cand.persist()
        cand_docs = (
            cand.select(F.col("doc1").alias("__cid"))
            .union(cand.select(F.col("doc2").alias("__cid")))
            .distinct()
        )
        verify_src = df.join(
            F.broadcast(cand_docs), df[id_col] == F.col("__cid"), "left_semi"
        )
    else:
        verify_src = df
    sets_ = verify_src.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, k).alias("sh")
    )
    if large_corpus:
        # both verify branches (s1, s2) consume sets_; without a persist
        # each one re-runs the FULL corpus scan + semi-join + shingle
        # expansion, so at scale the second consumer costs a whole extra
        # corpus pass. The cache is candidate-proportional (post
        # semi-join) — bounded like the cand persist above. The small-
        # corpus path stays unpersisted: there sets_ is corpus×~5 bytes
        # of shingle arrays and a 20-pair interleaved A/B at sf0.1
        # measured a wash (12/20 pairs, mins within the host noise band).
        sets_ = sets_.persist()
    s1 = sets_.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = sets_.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    jac = inter / union
    return (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .where(jac >= verify_threshold)
        .select("doc1", "doc2", F.round(jac, 4).alias("jaccard"))
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """SimHash over tokens: each token votes its digest's bit pattern;
    signature bit b is 1 iff positive vote margin.

    Uses the portable 60-bit md5-fold digest (``portable_hash60``), so
    the signature always fits a positive int64 (no sign-bit handling)
    and a DuckDB oracle reproduces it bit-for-bit. Same scale shape as
    minhash_table: explode tokens, ONE digest per token, ``bits``
    partial-aggregated vote sums per doc, then assemble the signature
    from the vote columns (one shuffle row per doc).
    """
    from functools import reduce

    from .text import tokens

    assert bits <= 60  # digest width
    tok_tbl = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(tokens(text_col)).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
        .select("doc_id", portable_hash60("tok").alias("h"))
    )
    votes = tok_tbl.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = reduce(
        lambda acc, b: acc.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0).cast("long"))
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return votes.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Banded block-match (Manku et al., "Detecting Near-Duplicates for
    Web Crawling", WWW'07): split the signature into ``bands`` equal
    bit blocks; a pair within hamming h < bands must agree EXACTLY on
    at least ``bands - h`` blocks (pigeonhole), so joining only inside
    block-equality buckets has perfect recall for h <= bands-1 while
    the shuffle is keyed on (band, block) — no all-pairs stage. The
    final ``bit_count(xor)`` filter removes bucket false positives,
    so the result is EXACTLY the hamming ball, verifiable by a
    brute-force oracle.
    """
    assert max_hamming < bands
    width = bits // bands
    sig = simhash(df, text_col, id_col, bits)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("a.simhash").alias("s1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.where(ham <= max_hamming).select(
        "doc1", "doc2", ham.cast("long").alias("hamming")
    )


# --- Bloom-filter prefilter for incremental (history vs incoming) dedup ---

BLOOM_SEEDS = (0x9E3779B9, 0x85EBCA6B)  # k=2 xxhash64 seeds


def bloom_bitmap(
    df: DataFrame, col: str, m_bits: int = 1 << 16
) -> list[int]:
    """Build a Bloom bitmap over ``col``: k=BLOOM_SEEDS xxhash64
    probes per value, bits OR-merged distributedly (``bit_or`` over
    64-bit words — a partial aggregation, so executors fold their
    partition's bits before the one m/64-row shuffle). Returns the
    bitmap driver-side as m_bits/64 longs (8 KiB at the default m) —
    the same bounded-collect contract as the IVF centroid list; at a
    100 TB history size m up (bits scale with the distinct count) and
    ship via ``sparkContext.broadcast`` instead of a literal.

    Blooms never false-negative, so a downstream exact verification
    of the candidates makes the end-to-end result EXACT — the same
    sketch-prefilter-then-verify contract as cms_heavy_hitters."""
    words = m_bits // 64
    probes = F.array(
        *[F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits)) for s in BLOOM_SEEDS]
    )
    rows = (
        df.select(F.explode(probes).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitmap = [0] * words
    for r in rows:
        bitmap[r["w"]] = r["bits"]
    return bitmap


def bloom_prefilter(
    df: DataFrame, col: str, bitmap: list[int], m_bits: int = 1 << 16
) -> DataFrame:
    """Keep only rows whose ``col`` value hits ALL k Bloom bits — a
    pure column expression against the bitmap literal (no join, no
    shuffle): the Spark runtime-filter idea surfaced as an operator.
    Candidates may contain false positives; follow with an exact
    semi-join to make the result exact."""
    lit_map = F.array(*[F.lit(w) for w in bitmap])
    cond = None
    for s in BLOOM_SEEDS:
        p = F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits))
        word = F.element_at(lit_map, (p / 64).cast("int") + 1)
        # bit position derived from the SAME probe expression as the
        # word index — no re-derivation via SQL text, so backtick-y
        # column names and expression inputs behave identically.
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else cond & hit
    return df.where(cond)


def duplicate_passages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    hashed: bool = False,
    single_scan: bool = False,
    stage_positions: bool | None = None,
) -> DataFrame:
    """Exact-substring passage dedup (the suffix-array family of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): maximal token spans of length >= ``k`` whose
    every k-token window also occurs elsewhere in the corpus (another
    document, or another position of the same document).

    Returns one row per maximal duplicated passage:
    ``(doc_id, pass_start, pass_len)`` with ``pass_start`` the 0-based
    token index and ``pass_len`` the span length in tokens.

    Formulation — k-gram seeds instead of a suffix array. A suffix
    array is a shared-memory structure; the equivalent distributed
    statement is: token position ``p`` of a doc is *covered* iff the
    k-gram starting at ``p`` appears >= 2 times corpus-wide, and
    maximal runs of covered positions are exactly the maximal spans
    whose every window is shared. Any passage of length L >= k
    duplicated verbatim somewhere covers all of its L-k+1 starts, so
    recall is 1.0 for spans >= k; conversely each reported span is a
    union of witnessed k-gram repeats (different windows may be
    witnessed by different partners — the same guarantee the
    merged-interval output of the suffix-array pipeline gives).

    Plan (three shuffles, all on bounded keys):
      1. positions: posexplode of the per-doc k-gram array (one corpus
         scan, fan_out spreads narrow scans);
      2. seed counts: groupBy(gram) count — map-side partial agg keeps
         hot boilerplate grams cheap — filtered to count >= 2, then an
         inner join back on the gram key (AQE skew-join splits hot
         keys);
      3. interval merge: per-doc islands via the pos - row_number trick
         (shuffle on doc_id; per-task state bounded by doc length).

    ``hashed=True`` replaces the gram text by a 128-bit key (two
    independent xxhash64 seeds) before the shuffle — at 100 TB the
    gram-text shuffle bytes dominate (~k bytes-per-token amplification)
    and the collision odds across even 10^12 distinct grams are
    ~n^2/2^129 < 10^-14, so the hashed path is the scale default;
    ``hashed=False`` keeps the comparison exact for the correctness
    gate.

    ``single_scan=True`` swaps step 2 for a count-over-window on the
    gram key: ONE corpus scan and one shuffle instead of two of each
    (measured ~25% faster at sf0.1, identical output). The trade: a
    window partition cannot be skew-split, so a boilerplate gram with
    f occurrences serializes f rows through one task (still O(f) —
    coverage marking never pairs up — but a straggler); the default
    join path lets AQE split hot keys. Pick ``single_scan`` when gram
    frequencies are known-bounded; the default when the corpus may
    contain viral boilerplate.
    """
    from .text import shingles_positional, tokens

    if hashed:
        # Hash each TOKEN once, then key each k-gram by xxhash64 over a
        # slice of the token-hash array — never materializing the
        # O(n_tokens x k)-byte gram strings the exact path builds
        # (measured r13: the gram-string construction was ~half the
        # scan stage; this halves it, and the query pays the scan
        # twice). Two independent token-hash families (h1 plain, h2
        # seeded) keep the 128-bit pair guarantee: a cross-gram
        # collision needs BOTH final hashes (or both per-token hash
        # families) to collide independently — the same odds class as
        # the previous xxhash64(gram)/xxhash64('dp2', gram) pair.
        # Token-sequence equality <=> gram-string equality (tokens are
        # whitespace-free), so grouping is unchanged.
        toked = fan_out(df).select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("tok")
        )
        hashed_toks = toked.select(
            "doc_id",
            F.transform("tok", lambda x: F.xxhash64(x)).alias("h1"),
            F.transform("tok", lambda x: F.xxhash64(F.lit("dp2"), x)).alias(
                "h2"
            ),
            F.size("tok").alias("n"),
        )
        grams = F.when(
            F.col("n") >= k,
            F.transform(
                F.sequence(F.lit(1), F.col("n") - F.lit(k - 1)),
                lambda i: F.struct(
                    F.xxhash64(F.slice("h1", i, k)).alias("g1"),
                    F.xxhash64(F.slice("h2", i, k)).alias("g2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<g1:bigint,g2:bigint>>"))
        pos_gram = (
            hashed_toks.select(
                "doc_id", F.posexplode_outer(grams).alias("pos", "g")
            )
            .where(F.col("g").isNotNull())
            .select(
                "doc_id",
                "pos",
                F.col("g.g1").alias("g1"),
                F.col("g.g2").alias("g2"),
            )
        )
        key = ["g1", "g2"]
    else:
        pos_gram = (
            fan_out(df)
            .select(
                F.col(id_col).alias("doc_id"),
                F.posexplode_outer(shingles_positional(text_col, k)).alias(
                    "pos", "gram"
                ),
            )
            .where(F.col("gram").isNotNull())
        )
        key = ["gram"]

    from pyspark.sql import Window

    if single_scan:
        wg = Window.partitionBy(*key)
        covered = (
            pos_gram.withColumn("n_occ", F.count(F.lit(1)).over(wg))
            .where(F.col("n_occ") >= 2)
            .select("doc_id", "pos")
        )
    else:
        # The join path consumes pos_gram TWICE (seed counts + probe),
        # re-running the whole tokenize/hash/gram chain per consumer —
        # measured ~40% of the query at sf0.1. Stage it iff the
        # positions projection plausibly fits the storage layer: the
        # cached frame is ~5x the input text bytes ((doc_id, pos, g1,
        # g2) per token vs ~6 chars per token), so the gate is on the
        # optimizer's INPUT estimate. Above the threshold (and so at
        # 100 TB, where a ~5x-corpus-size cache would thrash disk
        # while a second scan streams) the plan recomputes, exactly as
        # before. stage_positions=True/False forces either side;
        # spark.flinkDemoSpark.passageDedup.stageInputBytes overrides
        # the threshold (same escape-hatch pattern as _planstats).
        if stage_positions is None:
            from ._planstats import estimated_plan_bytes

            limit = int(
                df.sparkSession.conf.get(
                    "spark.flinkDemoSpark.passageDedup.stageInputBytes",
                    str(1 << 30),
                )
            )
            stage_positions = (
                estimated_plan_bytes(df, default=1 << 60) <= limit
            )
        if stage_positions:
            pos_gram = pos_gram.persist()
        dup = (
            pos_gram.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .where(F.col("n_occ") >= 2)
            .select(*key)
        )
        covered = pos_gram.join(dup, key).select("doc_id", "pos")

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = covered.select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(w)).alias("sid"),
    )
    return islands.groupBy("doc_id", "sid").agg(
        F.min("pos").alias("pass_start"),
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("pass_len"),
    ).select("doc_id", "pass_start", "pass_len")
