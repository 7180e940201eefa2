"""Relational/dataflow operators (SURVEY.md §2.3-2.6) plus the
training-data extension operators (dedup, similarity, text analysis,
multimodal plumbing). All are pure DataFrame → DataFrame functions."""
