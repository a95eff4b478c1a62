"""Large-scale training-data pipeline operators (dedup, text analysis,
multimodal plumbing) — first-class engine components beyond the
reference's own operator set."""
