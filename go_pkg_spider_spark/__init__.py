"""go_pkg_spider_spark — a PySpark-native quality-filter / language-ID /
PII-scrub engine with the capabilities of suosi-inc/go-pkg-spider.

Brand-new Spark-first design (NOT a port): every detection cascade,
scoring function and classification rule from the reference is
re-expressed as declarative DataFrame column expressions (JVM-side,
whole-stage-codegen) or — only where a statistical model is genuinely
required — as a Python UDF over Arrow batches. The per-clip models
(audio decode, the langid n-gram model, the perplexity LM) share one
Arrow UDF, operators/fused.py.

Reference (read-only, studied for semantics): /root/reference
(suosi-inc/go-pkg-spider @ 2024-10-08).
"""

__version__ = "0.1.0"
