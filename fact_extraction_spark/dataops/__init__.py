"""Large-scale training-data pipeline operators (dedup, similarity search,
text quality) — first-class components alongside the KG pipeline, all
DataFrame-first with deterministic, oracle-checkable hashing.
"""
