"""Reusable composite operators.

Each module implements one operator family the reference exposes but
Spark lacks as a single built-in, composed from declarative DataFrame
primitives (the scale path) with pandas-UDF fallbacks only where
semantics demand:

- ``topn``        row_number Top-N per group (HotItems top-3 idiom)
- ``asof``        as-of / temporal-table join (FOR SYSTEM_TIME AS OF)
- ``sessionize``  gap-based sessionization (session windows, batch)
- ``dedup``       exact + MinHash-LSH + SimHash near-duplicate detection
- ``similarity``  embedding cosine top-k (brute force + LSH-bucketed)
- ``text``        tokens, shingles, fingerprinting, scan fan-out
- ``cep``         NFA pattern matching (CEP / MATCH_RECOGNIZE subset)
"""
