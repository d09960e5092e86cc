"""Vectorized column functions: shingles, signatures, text stats, layout."""
