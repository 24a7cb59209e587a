"""Deterministic per-document kernels.

These are pure Python functions applied *batched* inside pandas/Arrow UDFs
and ``mapInArrow`` passes (see kgspark.pipeline.* and kgspark.ops.*; the
Gopher repetition gate, for one, is ``doc_quality`` behind
``ops.textstats.repetition_signals``).  They are the only Python that
ever touches row content; everything else in the engine is JVM-side
DataFrame operations.
"""
