"""Structured Streaming pipelines (SURVEY.md §2.11, phases 2-3).

``runner``:  execute a streaming DataFrame to a memory sink with the
             availableNow trigger and return the bounded result —
             the test harness pattern (reference TestSink.java).
``windows``: event-time windowed aggregations and the interval join,
             shared by the batch queries and their streaming twins.
``stateful``: applyInPandasWithState operators (timeouts, enrichment
             joins, CEP) — phase 3.
"""
