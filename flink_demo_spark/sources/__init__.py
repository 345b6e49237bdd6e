"""Source connectors (SURVEY.md §2.1).

Bounded tables are read by ``catalog.load_table``; other bounded
sources are plain ``spark.read`` / ``spark.createDataFrame`` calls.

``streams``: Structured Streaming sources — file replay of
             pre-stamped event files (the deterministic-test pattern
             the reference builds in ``StreamSourceMock.scala`` /
             ``TestSource.java``), rate-source generators, socket and
             kafka thin wrappers.
"""
