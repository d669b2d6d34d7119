"""Operators: extraction, url-seen dedup, frontier scheduling, dedup
family, similarity search, text quality, training-corpus curation."""
