"""Vectorized functions: the fused fetch/parse pandas UDF stage."""
