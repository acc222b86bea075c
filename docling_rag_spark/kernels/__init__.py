"""Pure-Python deterministic extraction kernels.

These functions are the *specification* of extraction semantics. They are
used both by the single-process oracle (tests/oracle parity) and inside the
Spark ``mapInPandas`` stages — one definition, two execution contexts, so
span-sequence equality holds by construction and the tests verify that the
distributed plumbing (slicing / shuffle / stitching) preserves it.

Everything here is deterministic: no RNG, no wall clock, no external
services (the reference delegates to docling-serve over HTTP,
reference src/ingestion/document.py:60-91; we internalize the parse).
"""
