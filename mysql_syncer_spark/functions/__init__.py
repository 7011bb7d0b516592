"""Scalar / vectorized function library (text, dedup, similarity).

The reference has no scalar-function library at all (SURVEY §2.4 note);
everything here is new capability for the Common-Crawl-style payload,
implemented Spark-first: JVM built-ins where expressible, Arrow-batched
pandas or Arrow UDFs otherwise — never row-at-a-time Python (input_hint
mandate; tests/test_vectorized_only.py is the gate).
"""
